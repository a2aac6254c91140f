package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Similarity

/** Continuous ANN-index ingest — the streaming twin of the batch
  * [[graft.llm.Similarity.appendToLshIndex]] flow: an embedding stream
  * lands in the persisted LSH bucket layout per micro-batch, so the
  * search side ([[graft.llm.Similarity.knnLshFromIndex]]) always probes
  * an index that includes everything ingested so far — no rebuild,
  * ever.
  *
  * Scale shape: a batch's bucket assignment is a pure projection
  * (hyperplanes are deterministic constants — no fit, no state), and
  * dynamic partitioning writes only the touched bucket directories:
  * per-trigger cost is O(batch) regardless of index size.
  *
  * Delivery: the sink is one parquet append per batch. A replayed
  * batch (crash before the checkpoint commit) appends its vectors
  * AGAIN — at-least-once, the same posture as the fp-index append in
  * [[IngestDedup]], and harmless in the same way when vec_ids are
  * stable: duplicate rows of the same vector land in the same bucket
  * and can be reclaimed by a `dropDuplicates(vec_id)` compaction pass
  * (or prevented entirely by an upstream [[IngestDedup]]-style
  * accept filter). Search correctness degrades only to duplicate
  * (q_id, vec_id) candidates, which top-k ranking collapses.
  */
object IngestAnn {

  /** Starts the ingest query. `vecs` is a streaming (vec_id, label,
    * embedding) frame; `indexDir` must hold a
    * [[Similarity.buildLshIndexFrom]] layout.
    */
  def run(vecs: DataFrame, indexDir: String,
      checkpoint: String): StreamingQuery =
    EventStreams.microBatches(vecs, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        Similarity.appendToLshIndex(batch.sparkSession, batch, indexDir)
    }
}
