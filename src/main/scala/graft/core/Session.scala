package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory (SURVEY §7.1 core/Session).
  *
  * Defaults match the driver contract: UTC session timezone, AQE on,
  * shuffle partitions pinned to the local core count (32 partitions on
  * local[32], NOT the 200 default — at cluster scale this becomes a
  * per-job setting sized to input volume), and the nanos-as-long
  * legacy flag required to scan events.parquet (timestamp[ns]).
  *
  * `spark.sql.extensions` installs [[graft.functions.GraftExtensions]],
  * the engine's only install path for its functions and rules, so
  * every session — including pure-SQL users — has them from
  * construction. Every main builds its session here.
  */
object Session {
  /** Local core count: `SPARK_GRAFT_CPUS`, else the machine's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = cpus): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
