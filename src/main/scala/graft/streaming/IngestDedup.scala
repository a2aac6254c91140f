package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Dedup

/** Continuous-corpus ingest dedup — the streaming twin of the batch d6
  * flow (`Dedup.incrementalDedup` / `incrementalDedupIndexed`): a
  * document stream is fingerprinted per micro-batch, anti-joined
  * against the persisted fingerprint index ([[graft.llm.Dedup.writeFpIndex]]'s
  * bucketed table), deduped within the batch, and the survivors are
  * written out while their fingerprints are appended to the index — so
  * later micro-batches (and later runs, via the checkpoint) never
  * re-accept a duplicate.
  *
  * Scale shape: identical to d6 — both join sides reduce to
  * (fp, doc_id), the text never shuffles, the index side reads its
  * bucket layout in place, and per-trigger cost is O(batch).
  *
  * Exactly-once reasoning (two sinks can't commit atomically), by
  * crash point and what the REPLAYED batch then sees:
  *  - crash before the accepted write: nothing committed, replay is a
  *    first run;
  *  - crash between the sinks: the index lacks this batch's fps, so
  *    the replay recomputes the IDENTICAL survivor set and overwrites
  *    the same `batch_id=N` directory — no duplicates, no loss; the
  *    index append then lands. This is why accepted goes FIRST: fps
  *    landing first would make the replay's anti-join drop the whole
  *    batch;
  *  - crash after both sinks but before the checkpoint commit: the
  *    replay's anti-join now finds every fp already indexed — the
  *    survivor set is EMPTY, and an unconditional overwrite would
  *    clobber the committed accepted directory with nothing. An empty
  *    survivor set therefore SKIPS both writes (also the right
  *    behavior for a batch of genuine all-duplicates: there is nothing
  *    to write).
  *  Residual window: the index append itself is one non-transactional
  *  job commit; a crash INSIDE it can leave a subset of this batch's
  *  fps visible, and the replay would then accept only the complement.
  *  Closing that needs a transactional table format underneath the
  *  index — documented, not hidden. Duplicate fps from replayed
  *  appends are harmless for anti-join semantics and are reclaimed by
  *  [[compactIndex]].
  */
object IngestDedup {

  /** Starts the ingest query. `docs` is a streaming (doc_id, text)
    * frame; `indexTable` must exist with the [[Dedup.writeFpIndex]]
    * layout (bucketed by fp, `buckets` must match it). Accepted docs
    * land under `acceptedPath/batch_id=N/` (readable as one
    * partitioned parquet table with ingest provenance).
    *
    * `gate` is an optional curation stage applied to each micro-batch
    * BEFORE fingerprinting: rejected docs are dropped without being
    * indexed, so a rejected doc arriving again is simply rejected
    * again. The gate MUST be deterministic and per-row (no cross-batch
    * state) — that is what keeps crash-replays recomputing the
    * identical survivor set, which the exactly-once reasoning above
    * depends on. [[qualityGate]] is the stock choice.
    */
  def run(docs: DataFrame, indexTable: String, acceptedPath: String,
      checkpoint: String, buckets: Int = 8,
      gate: DataFrame => DataFrame = identity): StreamingQuery =
    EventStreams.microBatches(docs, checkpoint) { (batch, id) =>
      processBatch(batch, id, indexTable, acceptedPath, buckets, gate)
    }

  /** Stateless Gopher-rule curation gate for [[run]]: only documents
    * passing the t9 rule battery ([[graft.llm.TextAnalysis.qualityRulesOf]])
    * are admitted to the dedup/index stage — the streaming composition
    * of the batch c1/c8 pipelines' first stage. Deterministic per-row
    * arithmetic, so replays agree (see [[run]]'s gate contract).
    */
  val qualityGate: DataFrame => DataFrame = docs =>
    docs.join(
      graft.llm.TextAnalysis.qualityRulesOf(docs)
        .filter(col("pass") === 1).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** One micro-batch of the ingest flow — public so the replay
    * idempotence the scaladoc claims is directly testable: calling it
    * twice with the same (batch, id) — a crash-replay — must leave the
    * accepted table unchanged and add no new DISTINCT fp.
    */
  def processBatch(batch: DataFrame, id: Long, indexTable: String,
      acceptedPath: String, buckets: Int = 8,
      gate: DataFrame => DataFrame = identity): Unit = {
    val s = batch.sparkSession
    val admitted = gate(batch)
    val w = Window.partitionBy("fp").orderBy("doc_id")
    // one materialization feeds both sinks: the accepted semi-join
    // and the index append must see the SAME survivor set
    graft.core.Scope.run { sc =>
      val fresh = sc.persist(Dedup.fingerprintsOf(admitted)
        .join(s.table(indexTable), Seq("fp"), "left_anti")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("fp")))
      // empty survivor set ⇒ write NOTHING: on a crash-replay whose
      // first attempt fully committed, overwriting would destroy the
      // committed accepted directory (see the crash-point analysis)
      if (!fresh.isEmpty) {
        admitted.join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$acceptedPath/batch_id=$id")
        fresh.select("fp")
          .write.mode(SaveMode.Append).format("parquet")
          .bucketBy(buckets, "fp").sortBy("fp")
          .saveAsTable(indexTable)
      }
    }
  }

  /** Rewrites the fingerprint index as its distinct fps — reclaiming
    * the duplicate rows the at-least-once index append accumulates
    * across crash replays (and the small files a long-running ingest
    * leaves). Run periodically, OFFLINE relative to the ingest query:
    * the rewrite drops and recreates the table, so a concurrent
    * micro-batch could anti-join against a missing table. Exact
    * per-bucket layout is rebuilt by [[graft.ops.Partitioning.writeBucketed]].
    */
  def compactIndex(s: org.apache.spark.sql.SparkSession, indexTable: String,
      buckets: Int = 8): Unit = {
    val distinctFps = s.table(indexTable).distinct()
      // the source table is about to be dropped out from under the
      // plan — materialize first, then rewrite from the snapshot
      .localCheckpoint(true)
    graft.ops.Partitioning.writeBucketed(distinctFps, indexTable, "fp", buckets)
  }
}
