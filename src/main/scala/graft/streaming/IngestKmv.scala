package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.KmvAggregator

/** Continuous distinct-cardinality maintenance — the streaming twin of
  * the batch t20 KMV build ([[graft.llm.TextAnalysis.kmvDistinct]]),
  * in the [[IngestCms]] posture.
  *
  * Each micro-batch aggregates its bigram hash stream into ONE k-min
  * array (map-side partials, the [[KmvAggregator]] contract) and
  * writes it under `sketchPath/batch_id=N/` — a batch-id-keyed
  * overwrite, so a crash-replayed batch recomputes the identical
  * array and lands on the same directory: the sink is IDEMPOTENT and
  * replays converge byte-identically.
  *
  * The LIVE sketch is the k smallest DISTINCT values across all batch
  * arrays — each batch array holds the k smallest of its batch, and
  * the global k smallest are each among the k smallest of their own
  * batch, so the union of arrays always CONTAINS the true global
  * k-min set and the fold ([[readSketch]]) is exact. Unlike the CMS
  * grid (additive counters), KMV is a min-set — the merge is
  * distinct-union + truncate, order-free either way. Per-trigger cost
  * is O(batch tokens) + one ≤K-long write; the sketch answers "how
  * many distinct bigrams has this ingest seen, ever" in O(1)
  * ([[estimate]]) with no distinct-value state anywhere.
  */
object IngestKmv {

  /** Starts the sketch-maintenance query over a streaming
    * (doc_id, text) frame.
    */
  def run(docs: DataFrame, sketchPath: String,
      checkpoint: String): StreamingQuery =
    EventStreams.microBatches(docs, checkpoint) { (batch, id) =>
      processBatch(batch, id, sketchPath)
    }

  /** One micro-batch: hash bigrams, aggregate the k-min array,
    * overwrite this batch's directory. An empty batch writes an empty
    * array — a no-op in the fold, but "batch N committed" stays
    * visible in the layout.
    */
  def processBatch(batch: DataFrame, batchId: Long,
      sketchPath: String): Unit = {
    val sk = graft.llm.TextAnalysis.bigramHashesOf(batch)
      .agg(udaf(KmvAggregator, org.apache.spark.sql.Encoders.scalaLong)
        .apply(col("h")).as("sk"))
    sk.write.mode(SaveMode.Overwrite)
      .save(s"$sketchPath/batch_id=$batchId")
  }

  /** The merged live k-min set, folded DISTRIBUTED (explode →
    * distinct → global k smallest) — the ≤K·batches values shuffle,
    * never the element stream — then collected as the ≤K-long probe
    * array (the grid-read precedent).
    */
  def readSketch(spark: SparkSession, sketchPath: String): Array[Long] = {
    spark.read.parquet(sketchPath)
      .select(explode(col("sk")).as("h"))
      .distinct()
      .orderBy("h")
      .limit(KmvAggregator.K)
      .collect().map(_.getLong(0))
  }

  /** Distinct-count estimate over the whole ingest history: the
    * sketch size while not yet full (it IS the distinct set there),
    * else the Bar-Yossef `(K−1)·2^60 / kth` — the same estimator the
    * batch t20 reports.
    */
  def estimate(spark: SparkSession, sketchPath: String): Double = {
    val sk = readSketch(spark, sketchPath)
    if (sk.length < KmvAggregator.K) sk.length.toDouble
    else (KmvAggregator.K - 1).toDouble * math.pow(2, 60) / sk.last
  }
}
