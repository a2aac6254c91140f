package graft.tools

/** Ad-hoc profiling entry: run one registered query N times against a
  * testdata dir, print the wall time of each run (through
  * [[graft.Bench.consume]], so every column of every row is computed)
  * and every driver-tier decision the query makes. Usage:
  *   tools/run_class.sh graft.tools.Probe <sfDir> <queryName> [runs]
  * Its plan: SPARK_GRAFT_SF_DIR=<sfDir> tools/run_class.sh
  * graft.tools.Explain <queryName>.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = (args(0), args(1))
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // every driver-tier decision (site, row count, limit, tier)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.core.DriverTier", org.apache.logging.log4j.Level.INFO)
    val fn = graft.SparkEntry.queries(name)
    (1 to runs).foreach { i =>
      val sec = graft.Bench.consume(fn(spark, sfDir))
      println(f"[probe] $name run $i: $sec%.2f s")
    }
    spark.stop()
  }
}
