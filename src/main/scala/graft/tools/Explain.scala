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
    names.foreach { q =>
      println(s"===== $q =====")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
