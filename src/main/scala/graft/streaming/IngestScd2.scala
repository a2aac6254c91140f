package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous SCD Type-2 maintenance — the incremental twin of
  * [[graft.ops.Maintenance.scdType2]] (which versions a complete
  * change log in one pass): a change stream is applied to a versioned
  * dimension table per micro-batch, CLOSING each affected key's open
  * interval at the batch's first change for that key and APPENDING
  * the batch's new versions chained among themselves. The table is
  * always a valid SCD2 dimension — gapless per-key interval chains
  * with exactly one open (current) version — ready for the as-of
  * joins (q30/q42) that read such dimensions.
  *
  * Layout and write discipline are [[IngestUpsert]]'s: the table is
  * hash-bucket-partitioned on the key (count persisted as table
  * metadata), a batch rewrites only the buckets its keys hash into,
  * and the merge materializes through an eager checkpoint before
  * overwriting the files it read.
  *
  * Replay idempotence (the sink is convergent, not just
  * at-least-once): a version is identified by (key, valid_from) —
  * re-applying a committed batch finds each of its versions already
  * present and deduplicates them (greatest valid_to wins, the closed
  * form), and the close step only fires when the batch's first change
  * is strictly LATER than the open interval's start, so the last
  * version the batch itself opened is not re-closed by its own
  * replay. Contract: per-key timestamps arrive monotonically
  * non-decreasing across batches (the CDC ordering guarantee);
  * late-arriving history belongs in the batch rebuild
  * ([[graft.ops.Maintenance.scdType2]] over the full log).
  */
object IngestScd2 {

  /** Starts the maintenance query: `changes` is a streaming frame of
    * (keys..., ts, attrs...).
    */
  def run(changes: DataFrame, tablePath: String, keys: Seq[String],
      ts: String, checkpoint: String, buckets: Int = 16): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        processBatch(batch.toDF(), tablePath, keys, ts, buckets)
      }
      .start()

  /** One micro-batch apply — public so replay convergence is directly
    * testable.
    */
  def processBatch(batch: DataFrame, tablePath: String, keys: Seq[String],
      ts: String, buckets: Int = 16): Unit = {
    val s = batch.sparkSession
    if (batch.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // same layout-metadata discipline as IngestUpsert: count persisted
    // BEFORE the first data commit; data without metadata is refused
    val metaPath = new org.apache.hadoop.fs.Path(s"$tablePath/_graft_buckets")
    val bootstrap = !IngestUpsert.hasBucketData(fs, tablePath)
    val effBuckets =
      if (fs.exists(metaPath)) IngestUpsert.readBucketMeta(fs, metaPath)
      else if (bootstrap) {
        IngestUpsert.writeBucketMeta(fs, metaPath, buckets); buckets
      } else throw new IllegalStateException(
        s"$tablePath has data but no _graft_buckets metadata; refusing to " +
          "merge under a guessed bucket count (layout drift risk)")
    // the batch's rows become versions chained among themselves (the
    // one-shot scdType2 rule, remaining columns breaking ts ties)
    val tieCols = batch.columns.filterNot(c => keys.contains(c) || c == ts)
    val newVersions = graft.ops.Maintenance
      .scdType2(batch, keys, ts, tieCols)
      .drop(ts)
      .withColumn("__bucket",
        IngestUpsert.bucketOf(keys, effBuckets))
      .persist()
    try {
      val touched = newVersions.select("__bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      // each affected key's FIRST change this batch closes its open row
      val firstChange = newVersions.groupBy(keys.map(col): _*)
        .agg(min(col("valid_from")).as("__new_t0"))
      val merged =
        if (bootstrap) newVersions
        else {
          val tbl = s.read.parquet(tablePath)
            .filter(col("__bucket").isin(touched: _*))
          val rewritten = tbl.join(firstChange, keys, "left")
            .withColumn("valid_to",
              when(col("is_current") === 1 && col("__new_t0").isNotNull &&
                  col("__new_t0") > col("valid_from"), col("__new_t0"))
                .otherwise(col("valid_to")))
            .withColumn("is_current",
              when(col("valid_to").isNotNull, 0).otherwise(col("is_current"))
                .cast("int"))
            .drop("__new_t0")
          // replay convergence: dedup versions by (key, valid_from),
          // the CLOSED form (non-null, greatest valid_to) winning.
          // Open-vs-open ties (both valid_to NULL) happen when a
          // cross-batch change arrives at exactly the open version's
          // valid_from — the contract allows it (non-decreasing, not
          // strictly increasing, per-key timestamps) and the strict
          // close guard deliberately leaves the old row open so a
          // replay can't re-close a version the batch itself opened.
          // The __src tag breaks that tie DETERMINISTICALLY toward the
          // new batch's attributes (same-instant change = in-place
          // replacement); on a pure replay both rows are identical, so
          // the winner is the same content either way.
          val w = Window.partitionBy((keys :+ "valid_from").map(col): _*)
            .orderBy(col("valid_to").desc_nulls_last, col("__src").desc)
          rewritten.withColumn("__src", lit(0))
            .unionByName(newVersions.withColumn("__src", lit(1)))
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") === 1).drop("__rk", "__src")
            .localCheckpoint(true)
        }
      // writer-scoped dynamic overwrite (see IngestUpsert for why);
      // bucket-per-task repartition before the write for the same
      // small-files reason as IngestUpsert (guide §6)
      try merged.repartition(effBuckets, col("__bucket"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(tablePath)
      finally if (!bootstrap) graft.core.Checkpoint.release(merged)
    } finally newVersions.unpersist()
  }

  /** The dimension's rows without the routing column. */
  def readTable(s: org.apache.spark.sql.SparkSession,
      tablePath: String): DataFrame =
    s.read.parquet(tablePath).drop("__bucket")
}
