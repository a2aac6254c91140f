package graft.tools

/** Offline plan-audit tool: prints the formatted physical plan of the
  * named `SparkEntry.queries` entries (all of them with no args) so
  * shuffle/broadcast/codegen shapes can be reviewed without editing a
  * spec. `SPARK_GRAFT_SF_DIR` selects the data directory.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_RAW=1: print the executedPlan.toString through
    // Bench.normalizeV1, the normalization the v1 plan fingerprint
    // applies, for diffing when a fingerprint drifts unexpectedly.
    val raw = sys.env.get("SPARK_GRAFT_RAW").contains("1")
    names.foreach { q =>
      println(s"===== $q =====")
      val df = graft.SparkEntry.queries(q)(spark, dir)
      if (raw)
        println(graft.Bench.normalizeV1(
          df.queryExecution.executedPlan.toString))
      else df.explain("formatted")
    }
    spark.stop()
  }
}
