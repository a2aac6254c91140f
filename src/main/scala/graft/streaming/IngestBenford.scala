package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

/** Continuous Benford first-digit monitoring — the streaming twin of
  * the batch q86 audit ([[graft.queries.Extended.q86Benford]]): each
  * micro-batch of amounts is reduced to its first-significant-digit
  * histogram, compared against the Benford expectation
  * log₁₀(1+1/d), and the per-digit shares + the batch χ² land under
  * `outPath/batch_id=N/` — the alarm feed that catches an upstream
  * generator swap, a currency-unit mixup, or injected synthetic rows
  * IN THE INGEST PATH, before a bad day's data reaches the warehouse
  * (q86 audits the settled table after the fact; this watches the
  * stream). χ² here is a monitoring statistic against a FIXED
  * analytic expectation, so unlike s21's drift baseline there is
  * nothing to persist or re-release.
  *
  * Scale shape per trigger: the digit is one scan-side projection
  * (exact integer cents → leading decimal character, q86's
  * ULP-immune construction), map-side-combined to ≤ 9 rows before
  * one exchange; the expectation is arithmetic, not a join. The sink
  * is a batch-id-keyed overwrite of a ≤ 9-row frame — crash replays
  * recompute identical shares and land on the same directory,
  * IDEMPOTENT (the [[IngestCms]]/[[IngestDrift]] posture).
  */
object IngestBenford {

  /** First-significant-digit histogram of a batch's `amount` column:
    * (digit, n) — q86's exact-cents digit, never floating log₁₀.
    */
  private def digitCounts(batch: DataFrame): DataFrame = {
    val cents = round(col("amount") * 100.0, 0).cast(LongType)
    batch
      .filter(col("amount") > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
  }

  def run(amounts: DataFrame, outPath: String,
      checkpoint: String): StreamingQuery =
    EventStreams.microBatches(amounts, checkpoint) { (batch, id) =>
      processBatch(batch, id, outPath)
    }

  /** One micro-batch — public so replay idempotence is directly
    * testable. Emits one row per observed digit (batch count, share,
    * Benford expectation, χ² contribution; q86's expression trees) —
    * downstream alerting sums the contributions for the batch χ².
    */
  def processBatch(batch: DataFrame, id: Long, outPath: String): Unit = {
    // materialize the ≤ 9-row histogram ONCE and gate on it — a
    // batch.isEmpty pre-check costs an extra Spark job per micro-batch
    // and still lets an all-nonpositive batch through to write an
    // empty batch_id=N directory (ADVICE r12)
    val d0 = digitCounts(batch)
    val hist = d0.collect()
    if (hist.isEmpty) return
    val d = batch.sparkSession.createDataFrame(
      java.util.Arrays.asList(hist: _*), d0.schema)
    val tot = d.agg(sum(col("n")).cast(LongType).as("total"))
    val bp = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    val expn = col("total").cast("double") * bp
    d.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), col("total"),
        round(col("n").cast("double") / col("total").cast("double"), 6)
          .as("share"),
        round(bp, 6).as("benford_p"),
        round((col("n").cast("double") - expn) *
          (col("n").cast("double") - expn) / expn, 6).as("chi2"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/batch_id=$id")
  }
}
