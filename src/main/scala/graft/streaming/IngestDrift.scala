package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.core.Tables

/** Continuous embedding-drift monitoring — the streaming twin of the
  * batch s21 query ([[graft.llm.Similarity.embeddingDrift]]): each
  * micro-batch's per-dimension means are compared against a PERSISTED
  * baseline (the release corpus's means, written once by
  * [[writeBaseline]]), and the per-dim shifts land under
  * `outPath/batch_id=N/` — the alarm feed that catches a swapped
  * encoder checkpoint or a normalization change IN THE INGEST PATH,
  * before bad vectors reach an ANN index (the batch s21 face audits
  * corpus epochs after the fact; this one watches the stream).
  *
  * Scale shape per trigger: `posexplode` widens the batch to
  * batch·dim (epoch, dim, double) rows, map-side-combined to `dim`
  * rows before one exchange; the baseline join is a broadcast of a
  * dim-row table. The sink is a batch-id-keyed overwrite of a
  * dim-row frame, so crash replays recompute the identical shifts
  * and land on the same directory — IDEMPOTENT, the [[IngestCms]]
  * posture. The baseline is deliberately STATIC (a release artifact):
  * a drifting baseline would mask exactly the slow drift the monitor
  * exists to catch; a new release rewrites it.
  */
object IngestDrift {

  /** Per-dim means of a batch: (dim, mean_b, n_b). */
  private def dimMeans(batch: DataFrame): DataFrame =
    batch
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "v")))
      .groupBy((col("pos") + 1).cast(LongType).as("dim"))
      .agg(avg(col("v")).as("mean_b"), count(lit(1)).as("n_b"))

  /** Writes the baseline per-dim mean table from the release corpus's
    * `embeddings` — one row per dimension, read back as a broadcast
    * side at every trigger.
    */
  def writeBaseline(s: SparkSession, dir: String, path: String): Unit =
    dimMeans(Tables.load(s, dir, "embeddings"))
      .select(col("dim"), col("mean_b").as("mean_base"),
        col("n_b").as("n_base"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  def run(vecs: DataFrame, baselinePath: String, outPath: String,
      checkpoint: String): StreamingQuery =
    EventStreams.microBatches(vecs, checkpoint) { (batch, id) =>
      processBatch(batch, id, baselinePath, outPath)
    }

  /** One micro-batch — public so replay idempotence is directly
    * testable. Emits one row per dimension: the batch mean, the
    * baseline mean, and their absolute shift (6-dp rounds, the s21
    * convention).
    */
  def processBatch(batch: DataFrame, id: Long, baselinePath: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    if (batch.isEmpty) return
    dimMeans(batch)
      .join(broadcast(s.read.parquet(baselinePath)), Seq("dim"))
      .select(col("dim"), col("n_b"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("mean_base"), 6).as("mean_base"))
      .withColumn("shift", round(abs(col("mean_b") - col("mean_base")), 6))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/batch_id=$id")
  }
}
