package graft.core

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, classic}
import org.apache.spark.sql.execution.LogicalRDD

/** Release of `localCheckpoint`ed frames. */
object Checkpoint {
  /** Unpersists the RDD behind a `localCheckpoint`ed frame (the first
    * `LogicalRDD` of its plan). Superseded checkpoints are otherwise
    * freed only when the driver GC collects the Dataset and
    * ContextCleaner notices — on a large heap that lag lets an
    * iterative loop pile up dead snapshots in block-manager memory,
    * evicting live cache. Only call on checkpoints no live plan still
    * references: the lineage is truncated, so freed blocks are NOT
    * recomputable.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(false))
}

/** The distributed half of an iterative loop (q66, q68, q69, q71, d8):
  * synchronous rounds, each `step(state, round)` over the last
  * materialized state, in the shape of Shark's iterative computation
  * over cached data.
  *
  * The one snapshot rule: a round is an eager `localCheckpoint` (its
  * stage jobs plus one), REBUILT over the same RDD with the carried
  * statistics dropped. A checkpoint's `LogicalRDD` otherwise carries
  * its origin plan's size estimate, and join estimates multiply child
  * sizes, so in a self-referential loop the estimate compounds every
  * round: after 6 self-join rounds `sizeInBytes` had 158 digits, and
  * by ~20 the next round's stats visitor spends minutes on one BigInt
  * multiplication. The rebuilt leaf reads the default estimate, which
  * keeps per-round planning flat. Rows are counted (one job over the checkpoint) only when a
  * convergence test reads them. Round i−1 is released once round i is
  * materialized and tested; the last round stays cached for the
  * returned frame. `init` is the caller's: Rounds neither materializes
  * nor frees it.
  */
object Rounds {
  /** A materialized round: its frame, and its row count when a
    * convergence test reads it (-1 otherwise). */
  final case class Round(df: DataFrame, rows: Long)

  /** Runs at most `rounds` steps from `init`; `converged(prev, next)`
    * stops the loop at the first round it holds for. Returns the last
    * state (`init` itself when `rounds < 1`).
    */
  def run(init: DataFrame, rounds: Int,
      converged: Option[(Round, Round) => Boolean] = None)
      (step: (DataFrame, Int) => DataFrame): DataFrame = {
    def counted(df: DataFrame): Round =
      Round(df, if (converged.isDefined) df.queryExecution.toRdd.count() else -1L)
    var cur = counted(init)
    var i = 1
    var done = false
    while (i <= rounds && !done) {
      val next = counted(snapshot(step(cur.df, i)))
      done = converged.exists(_(cur, next))
      if (i > 1) Checkpoint.release(cur.df)
      cur = next
      i += 1
    }
    cur.df
  }

  private def snapshot(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    val spark = cp.sparkSession
    GraftSqlBridge.logicalPlan(cp) match {
      case l: LogicalRDD => GraftSqlBridge.ofRows(spark,
        l.copy()(spark.asInstanceOf[classic.SparkSession], None, None))
    }
  }
}
