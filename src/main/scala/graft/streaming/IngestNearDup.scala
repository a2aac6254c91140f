package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Dedup

/** Continuous NEAR-dup ingest — the streaming twin of the batch d2/d3
  * pipeline, run against persisted state instead of the corpus: each
  * micro-batch is MinHash-signed, its LSH bands probe the
  * [[Dedup.writeBandIndex]] table for candidates, candidates are
  * verified by exact shingle-set Jaccard against the
  * [[Dedup.writeShingleIndex]] table, and only docs with no verified
  * near-dup (in the index OR earlier in the same batch) are accepted —
  * their bands and hash sets appended so later batches see them.
  * [[IngestDedup]] stops byte-identical re-uploads; this gate stops
  * the lightly-edited ones (boilerplate re-posts, template spam) that
  * dominate crawl dedup at scale.
  *
  * Scale shape per trigger: the batch is shingled ONCE (persisted
  * frame feeds signatures, the verify join, and the index appends);
  * the band probe is an equi-join on band_key against a bucketed
  * layout read in place; the verify join touches only candidate pairs
  * and reads the hset table's buckets for the probed doc_ids. Nothing
  * corpus-sized is scanned, re-shingled, or shuffled — per-trigger
  * cost is O(batch + candidates).
  *
  * Exactly-once posture mirrors [[IngestDedup]] (accepted write FIRST,
  * then index appends; an empty survivor set skips all writes): on a
  * replay after full commit, every replayed doc's own bands are in the
  * index, the probe pairs it with itself (same doc_id), verify sees
  * Jaccard 1.0, the survivor set is empty, and nothing is rewritten —
  * the run CONVERGES. The residual window is the same non-atomic
  * index-append pair documented there; duplicate band/hset rows from
  * replays are harmless to join semantics and are reclaimed by a
  * periodic distinct-rewrite.
  *
  * Within-batch ties: candidate pairs among batch docs are verified
  * with the same threshold and the LARGER doc_id drops (the batch
  * pipeline's min-wins rule). A doc that is itself dropped can still
  * drop its batch near-dups — conservative for a dedup gate (all
  * members of a near-dup clique are near the same content) and what
  * keeps the rule a one-pass filter instead of an iterative CC.
  */
object IngestNearDup {

  /** Verified-Jaccard admission threshold — d3's verify bar. */
  val JaccardMin = 0.8

  def run(docs: DataFrame, bandTable: String, hsetTable: String,
      acceptedPath: String, checkpoint: String): StreamingQuery =
    EventStreams.microBatches(docs, checkpoint) { (batch, id) =>
      processBatch(batch, id, bandTable, hsetTable, acceptedPath)
    }

  /** One micro-batch — public so replay idempotence is directly
    * testable (same contract as [[IngestDedup.processBatch]]).
    */
  def processBatch(batch: DataFrame, id: Long, bandTable: String,
      hsetTable: String, acceptedPath: String): Unit = {
    val s = batch.sparkSession
    val jac = round(
      size(array_intersect(col("ha"), col("hb"))) /
        size(array_union(col("ha"), col("hb"))).cast("double"), 4)
    // one shingling feeds signatures, both verify sides, and the
    // index appends
    graft.core.Scope.run { sc =>
      val hsets = sc.persist(Dedup.hsetsOf(batch))
      val sigs = Dedup.signaturesFromHashed(
        hsets.select(col("doc_id"), explode(col("hset")).as("hv")))
      val bandCols = Seq("doc_id", "band_idx", "band_key")
      val batchBands = Dedup.bandsFrom(sigs).select(bandCols.map(col): _*)
      // cross-batch: band probe → exact-Jaccard verify vs stored hsets
      val crossDup = batchBands
        .join(s.table(bandTable).select(col("band_idx"), col("band_key"),
          col("doc_id").as("old_id")), Seq("band_idx", "band_key"))
        .select("doc_id", "old_id").distinct()
        .join(hsets.select(col("doc_id"), col("hset").as("ha")), Seq("doc_id"))
        .join(s.table(hsetTable).select(col("doc_id").as("old_id"),
          col("hset").as("hb")), Seq("old_id"))
        .filter(jac >= JaccardMin)
        .select("doc_id")
      // within-batch: d2 candidates among the batch sigs, same verify,
      // larger id drops
      val withinDup = Dedup.candidatesFromSigs(sigs)
        .join(hsets.select(col("doc_id").as("doc_a"), col("hset").as("ha")),
          Seq("doc_a"))
        .join(hsets.select(col("doc_id").as("doc_b"), col("hset").as("hb")),
          Seq("doc_b"))
        .filter(jac >= JaccardMin)
        .select(col("doc_b").as("doc_id"))
      val survivors = sc.persist(hsets.select("doc_id")
        .join(crossDup.union(withinDup).distinct(), Seq("doc_id"), "left_anti"))
      if (!survivors.isEmpty) {
        batch.join(survivors, Seq("doc_id"), "left_semi")
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$acceptedPath/batch_id=$id")
        batchBands.join(survivors, Seq("doc_id"), "left_semi")
          .select(bandCols.map(col): _*)
          .write.mode(SaveMode.Append).insertInto(bandTable)
        hsets.join(survivors, Seq("doc_id"), "left_semi")
          .select("doc_id", "hset")
          .write.mode(SaveMode.Append).insertInto(hsetTable)
      }
    }
  }
}
