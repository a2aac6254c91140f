package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Multimodal
import graft.llm.Multimodal.MediaRow

/** Continuous perceptual-near-dup media ingest — the streaming twin of
  * the batch [[Multimodal.writePhashIndex]] /
  * [[Multimodal.phashPairsFromIndex]] pair: each micro-batch is
  * CHECKED against everything ingested so far (near-dup flags land
  * under `flagsDir/batch_id=N`), then its banded signatures append
  * into the index, so the next batch's check sees it. Per-trigger cost
  * is one decode+sign pass over the batch plus band-bucket-routed
  * probes and appends — O(batch) regardless of index size.
  *
  * Delivery: flags are an idempotent per-batch overwrite (the
  * IngestCms posture). The check runs BEFORE the append and drops
  * pairs whose STORED side is one of the batch's own ids, so a
  * REPLAYED batch (crash before the checkpoint commit) writes
  * byte-identical flags even though its signatures already sit in the
  * index from the first attempt. The index append itself is
  * at-least-once like IngestAnn/IngestDedup — a replay's duplicate
  * band rows for the same media_id collapse in the pair join's
  * DISTINCT, so check results never change.
  */
object IngestPhash {

  /** Starts the ingest query. `table` must hold a
    * [[Multimodal.writePhashIndex]] layout.
    */
  def run(media: Dataset[MediaRow], table: String, flagsDir: String,
      checkpoint: String): StreamingQuery =
    EventStreams.microBatches(media, checkpoint) { (batch, id) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        val own = batch.select(col("media_id").as("id_old")).distinct()
        Multimodal.phashPairsFromIndex(s, table, batch)
          .join(broadcast(own), Seq("id_old"), "left_anti")
          .write.mode("overwrite").parquet(s"$flagsDir/batch_id=$id")
        Multimodal.appendToPhashIndex(s, batch, table)
      }
    }
}
