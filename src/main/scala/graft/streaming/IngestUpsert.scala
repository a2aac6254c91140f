package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous keyed upsert — the streaming face of
  * [[graft.ops.Maintenance.upsertByKey]]: a change stream is merged
  * into a keyed parquet table per micro-batch, the greatest
  * `orderCol` version winning on key collision (base row included —
  * a late batch carrying an older version applies as a no-op rather
  * than regressing the state), so the table is always the latest-
  * VERSION view of the stream under any batch delivery order (a CDC
  * apply / materialized upsert sink, the third member of the ingest
  * trio next to [[IngestDedup]] and [[IngestAnn]]).
  *
  * Layout: the table is Hive-partitioned by `__bucket` =
  * pmod(hash(keys), buckets). A micro-batch touches only the buckets
  * its keys hash into — the batch reads exactly those partitions of
  * the base (partition pruning, not a full scan), merges, and
  * dynamic-partition-overwrites exactly those directories. Per-trigger
  * cost is O(batch + touched-bucket data), independent of table size
  * once buckets outnumber the per-batch key spread.
  *
  * Exactly-once reasoning, SIMPLER than IngestDedup's two-sink
  * analysis because the merge is idempotent: replaying a committed
  * batch recomputes the identical merged bucket contents and
  * overwrites them with themselves; a crash that committed only some
  * bucket directories is healed the same way (each replayed bucket
  * converges to the same bytes). The only contract is that the WITHIN-
  * batch winner is deterministic — [[processBatch]] keeps, per key,
  * the row with the greatest `orderCol` (ties to that ordering's
  * last), so replays elect the same winner regardless of partitioning.
  */
object IngestUpsert {

  /** The bucket-routing column — exposed so tests and offline jobs
    * can derive the same layout.
    */
  def bucketOf(keys: Seq[String], buckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(buckets))

  /** Starts the upsert query: `updates` is a streaming frame whose
    * schema is the table's row shape (keys + attributes + `orderCol`).
    */
  def run(updates: DataFrame, tablePath: String, keys: Seq[String],
      orderCol: String, checkpoint: String, buckets: Int = 16)
      : StreamingQuery =
    EventStreams.microBatches(updates, checkpoint) { (batch, _) =>
      processBatch(batch, tablePath, keys, orderCol, buckets)
    }

  /** One micro-batch merge — public so replay idempotence is directly
    * testable: applying the same batch twice must leave the table
    * byte-identical in content.
    */
  def processBatch(batch: DataFrame, tablePath: String, keys: Seq[String],
      orderCol: String, buckets: Int = 16): Unit = {
    val s = batch.sparkSession
    if (batch.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // the bucket count is part of the table's LAYOUT: it is persisted
    // BEFORE the first data commit (so no crash window can leave data
    // with an unrecorded layout), and every later batch reads it back —
    // a caller passing a different `buckets` (restarted job, changed
    // default) would otherwise route keys past their existing rows and
    // leave stale duplicates that no overwrite ever touches. Data
    // with no metadata file is refused rather than guessed at: applying
    // a batch under a wrong bucket count is exactly the silent
    // mis-routing the metadata exists to prevent.
    val metaPath = new org.apache.hadoop.fs.Path(s"$tablePath/_graft_buckets")
    val bootstrap = !hasBucketData(fs, tablePath)
    val effBuckets =
      if (fs.exists(metaPath)) readBucketMeta(fs, metaPath)
      else if (bootstrap) { writeBucketMeta(fs, metaPath, buckets); buckets }
      else throw new IllegalStateException(
        s"$tablePath has data but no _graft_buckets metadata; refusing to " +
          "merge under a guessed bucket count (layout drift risk)")
    // within-batch winner per key: greatest orderCol; remaining
    // columns break orderCol ties so the election is deterministic
    // under replay and any partitioning (fully tied rows are
    // identical, so any of them is the same winner)
    val tieCols = batch.columns
      .filterNot(c => keys.contains(c) || c == orderCol)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc +: tieCols.map(col(_).desc): _*)
    graft.core.Scope.run { sc =>
      val latest = sc.persist(batch
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk")
        .withColumn("__bucket", bucketOf(keys, effBuckets)))
      val touched = latest.select("__bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      // the merge READS the very partitions the write then overwrites:
      // materialize the merged buckets first (eager checkpoint cuts
      // the lineage back to the input files), then write from blocks.
      // The merge ELECTS by greatest (orderCol, tie columns) across
      // base ∪ batch — the same rule as the within-batch election —
      // rather than letting the batch win unconditionally
      // (upsertByKey's MERGE semantics): a LATE batch whose versions
      // are older than the stored state then applies as a no-op
      // instead of regressing it, so the table converges to the
      // one-shot max-orderCol oracle (q60's SQL) under ANY batch
      // delivery order, not just in-order CDC (VERDICT r14 #6).
      // Replay stays idempotent: max is; and fully tied rows are
      // identical, so the tie-break elects the same content.
      val merged =
        if (bootstrap) latest
        else sc.checkpoint(s.read.parquet(tablePath)
          .filter(col("__bucket").isin(touched: _*))
          .unionByName(latest)
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1).drop("__rk"))
      // writer-scoped dynamic overwrite: no session-global conf toggle
      // for a concurrent query sharing the SparkSession to observe
      // mid-write. Dynamic mode also leaves the root-level
      // _graft_buckets file alone (only the written __bucket=
      // directories are replaced).
      // repartition by bucket first (guide §6 small files): the merged
      // frame sits in shuffle-partition-many tasks and partitionBy
      // writes one file per (task, bucket) — up to tasks × buckets
      // tiny files per batch, whose open/commit overhead dominated the
      // apply. One bucket per task = one file per bucket directory,
      // the "one shard ≈ one output file" posture buckets are sized
      // for at scale.
      merged.repartition(effBuckets, col("__bucket"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(tablePath)
    }
  }

  /** True when the table path already holds committed bucket data
    * (a metadata file alone — the crash window between metadata and
    * first data commit — does not count).
    */
  private[streaming] def hasBucketData(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("__bucket="))
  }

  private[streaming] def readBucketMeta(fs: org.apache.hadoop.fs.FileSystem,
      metaPath: org.apache.hadoop.fs.Path): Int = {
    val in = fs.open(metaPath)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      "UTF-8").trim.toInt
    finally in.close()
  }

  private[streaming] def writeBucketMeta(fs: org.apache.hadoop.fs.FileSystem,
      metaPath: org.apache.hadoop.fs.Path, buckets: Int): Unit = {
    val out = fs.create(metaPath, true)
    try out.write(s"$buckets\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's current state without the routing column. */
  def readTable(s: org.apache.spark.sql.SparkSession,
      tablePath: String): DataFrame =
    s.read.parquet(tablePath).drop("__bucket")
}
