package graft

import org.apache.spark.sql.functions._
import graft.functions.BloomFunctions
import graft.llm.Curation

/** `bloom_might_contain` runtime prefilter: the no-false-negative
  * contract, null parity with join keys, and the c9 plan/result
  * properties (prefilter before the join; output identical to c2).
  */
class BloomSpec extends SparkSpec {

  test("no false negatives: every inserted key probes true") {
    import spark.implicits._
    val keys = (0L until 10000L).map(i => i * 2654435761L)
    val bits = BloomFunctions.buildSerialized(
      keys.toDF("h"), "h", keys.size.toLong, fpp = 0.03)
    val survived = keys.toDF("h")
      .filter(BloomFunctions.bloomMightContain(col("h"), bits))
      .count()
    assert(survived == keys.size.toLong)
  }

  test("a disjoint probe set is mostly rejected (fpp honored loosely)") {
    import spark.implicits._
    val keys = (0L until 10000L).map(i => i * 2654435761L)
    val bits = BloomFunctions.buildSerialized(
      keys.toDF("h"), "h", keys.size.toLong, fpp = 0.01)
    val fps = (1L to 10000L).map(i => -i).toDF("h")
      .filter(BloomFunctions.bloomMightContain(col("h"), bits))
      .count()
    // 1% nominal; assert an order-of-magnitude bound, not the exact rate
    assert(fps < 1000L, s"false-positive count $fps way over nominal")
  }

  test("null hash rows are dropped by the probe, like a join null key") {
    import spark.implicits._
    val bits = BloomFunctions.buildSerialized(
      Seq(1L, 2L).toDF("h"), "h", 2L, fpp = 0.01)
    val rows = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"))
      .toDF("h", "tag")
      .filter(BloomFunctions.bloomMightContain(col("h"), bits))
      .collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("a"))
  }

  test("c9 equals c2: the prefilter never changes the exact result") {
    val c2 = Curation.queries("c2_decontaminate")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val c9 = Curation.queries("c9_decontaminate_bloom")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(c9 == c2)
    assert(c9.nonEmpty, "slice-vs-corpus scan should flag contamination")
  }

  test("c9 plan probes the bloom filter below the gram join") {
    // the public c9 form checkpoints eagerly (cache-release contract),
    // which hides its plan behind a Scan ExistingRDD — assert on the
    // lazy plan the checkpoint materializes
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = Curation.decontaminateBloomPlan(docs,
        docs.filter(col("doc_id") % 7 === 0), 8, 5L,
        excludeSelf = true, fpp = 0.01, persist = identity)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"))
    // the probe must sit on the corpus scan side as a Filter, not be
    // computed post-join
    val joinAt = plan.indexOf("Join")
    val probeAt = plan.indexOf("bloom_might_contain")
    assert(joinAt >= 0 && probeAt > joinAt,
      "probe should appear under (printed after) the join operator")
  }
}
