package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.CmsAggregator

/** Continuous count–min sketch maintenance — the streaming twin of the
  * batch t19 build ([[graft.llm.TextAnalysis.cmsHeavyHitters]]).
  *
  * Each micro-batch aggregates its token stream into ONE
  * Depth×Width grid (map-side partials, the [[CmsAggregator]]
  * contract) and writes it under `sketchPath/batch_id=N/` — a
  * batch-id-keyed overwrite, so a crash-replayed batch recomputes the
  * identical grid and lands on the same directory: the sink is
  * IDEMPOTENT and replays converge byte-identically (the
  * `IngestUpsert` posture, without even a merge step, because grids
  * are immutable per batch).
  *
  * The LIVE sketch is the element-wise SUM of all batch grids —
  * counters are additive, so merge order never matters and the read
  * path ([[readSketch]]) can fold any subset of batches at any time
  * without coordination with the writer. Per-trigger cost is O(batch
  * tokens) + one 4×1024-long write; the sketch answers frequency
  * queries over the whole ingest history in O(Depth) per probe
  * ([[estimates]]) — no vocabulary state anywhere.
  */
object IngestCms {

  /** Starts the sketch-maintenance query over a streaming
    * (doc_id, text) frame.
    */
  def run(docs: DataFrame, sketchPath: String,
      checkpoint: String): StreamingQuery =
    EventStreams.microBatches(docs, checkpoint) { (batch, id) =>
      processBatch(batch, id, sketchPath)
    }

  /** One micro-batch: tokenize, aggregate the grid, overwrite this
    * batch's directory. An empty batch still writes its (all-zero)
    * grid — harmless in the sum, and it keeps "batch N committed"
    * visible in the layout.
    */
  def processBatch(batch: DataFrame, batchId: Long,
      sketchPath: String): Unit = {
    val grid = batch
      .select(explode(graft.llm.TextAnalysis.tokens(lower(col("text"))))
        .as("token"))
      .agg(udaf(CmsAggregator, org.apache.spark.sql.Encoders.STRING)
        .apply(col("token")).as("grid"))
    // the batch_id=N directory name IS the batch id (partition-style
    // discovery surfaces it on read) — writing it as a data column too
    // would make the layout lean on Spark's duplicate-column
    // resolution rule (data schema wins over the inferred partition)
    grid.write.mode(SaveMode.Overwrite)
      .save(s"$sketchPath/batch_id=$batchId")
  }

  /** The merged live grid, folded DISTRIBUTED (posexplode → per-cell
    * sum → re-assemble in cell order) — one 4096-row shuffle however
    * many batches have landed, then collected as the probe literal
    * (Depth×Width longs, the centroid-read precedent).
    */
  def readSketch(spark: SparkSession, sketchPath: String): Array[Long] = {
    val cells = spark.read.parquet(sketchPath)
      .select(posexplode(col("grid")).as(Seq("pos", "c")))
      .groupBy("pos").agg(sum(col("c")).as("c"))
      .orderBy("pos")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val grid = new Array[Long](CmsAggregator.Depth * CmsAggregator.Width)
    cells.foreach { case (pos, c) => grid(pos) = c }
    grid
  }

  /** Frequency estimates for a (token: string) frame against the
    * merged sketch — `min_r grid[r][cell_r(token)]`, the grid riding
    * the plan as a literal; same probe arithmetic as the batch t19.
    */
  def estimates(spark: SparkSession, sketchPath: String,
      tokens: DataFrame): DataFrame = {
    val grid = readSketch(spark, sketchPath)
    val g = typedLit(grid.toSeq)
    val est = (0 until CmsAggregator.Depth).map { r =>
      element_at(g,
        (graft.llm.TextAnalysis.hash60(concat(lit(s"$r:"), col("token")))
          % CmsAggregator.Width + lit(r.toLong * CmsAggregator.Width) + 1)
          .cast("int"))
    }.reduce(least(_, _))
    tokens.select(col("token"), est.as("est"))
  }
}
