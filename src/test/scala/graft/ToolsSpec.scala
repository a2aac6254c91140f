package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._

/** Coverage for the measurement tooling: `Bench.run` and its plan
  * fingerprint normalization, and the ScaleSoak corpus builder (the
  * sf1 scaling-curve input).
  */
class ToolsSpec extends SparkSpec {

  test("Bench.run: one median and one fingerprint per selected query, " +
      "ANN recall with its floor, and exactly the documented keys") {
    def cwdState = new java.io.File(".").listFiles()
      .filter(_.getName.startsWith("BENCH_"))
      .map(f => f.getName -> f.lastModified).toMap
    val before = cwdState
    val selected = Set("q1_filter_project", "s6_knn_lsh")
    val (detailLine, summaryLine) =
      Bench.run(spark, sfDir, Some(selected.mkString("^(", "|", ")$")), 1)
    val mapper = new ObjectMapper()
    val detail = mapper.readTree(detailLine)
    val summary = mapper.readTree(summaryLine)
    def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet
    assert(keys(summary) == Set("metric", "value", "unit", "bench_schema",
      "sf", "warmup_sec", "queries"))
    assert(keys(detail) == Set("fp_method", "sf", "plans_changed",
      "plans_changed_base", "recall", "recall_floors", "recall_failures",
      "failed", "filtered_recall_sweep", "plans"))
    assert(keys(detail.get("failed")).isEmpty)
    assert(keys(summary.get("queries")) == selected)
    assert(keys(detail.get("plans")) == selected)
    for (q <- selected) {
      assert(summary.get("queries").get(q).asDouble > 0, q)
      assert(detail.get("plans").get(q).asText.matches("[0-9a-f]{12}"), q)
    }
    assert(keys(detail.get("recall")) == Set("s6_knn_lsh"))
    val recall = detail.get("recall").get("s6_knn_lsh").asDouble
    assert(recall >= 0.0 && recall <= 1.0)
    assert(detail.get("recall_floors").get("s6_knn_lsh").asDouble == 0.85)
    // a filtered run skips the selectivity sweep and writes no file
    assert(keys(detail.get("filtered_recall_sweep")).isEmpty)
    assert(cwdState == before)
    assert(!spark.sparkContext.isStopped)
  }

  test("ScaleSoak.buildCorpus: factor-exact row counts, distinct keys, " +
      "perturbed replicas, nulls preserved") {
    val out = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val factor = 3
    graft.tools.ScaleSoak.buildCorpus(spark, sfDir, out, factor)
    val base = graft.core.Tables.load(spark, sfDir, "documents")
    val soak = graft.core.Tables.load(spark, out, "documents")
    val nBase = base.count()
    assert(soak.count() == factor * nBase)
    // every replica is a distinct doc to the dedup paths: ids unique,
    // non-null texts unique per replica (the " r<i>" tag)
    assert(soak.select("doc_id").distinct().count() == factor * nBase)
    val nNullBase = base.filter(col("text").isNull).count()
    assert(soak.filter(col("text").isNull).count() == factor * nNullBase,
      "null-text population must scale with the factor (concat propagates)")
    val distinctTexts = soak.filter(col("text").isNotNull)
      .select("text").distinct().count()
    assert(distinctTexts == factor * base.filter(col("text").isNotNull)
      .select("text").distinct().count(),
      "each replica's texts must be distinct from every other replica's")
    // events: users scale with the factor
    val ev = graft.core.Tables.load(spark, out, "events")
    val evBase = graft.core.Tables.load(spark, sfDir, "events")
    assert(ev.count() == factor * evBase.count())
    assert(ev.select("user_id").distinct().count() ==
      factor * evBase.select("user_id").distinct().count())
    // customer: q79's input scales with distinct names
    val c = graft.core.Tables.load(spark, out, "customer")
    val cBase = graft.core.Tables.load(spark, sfDir, "customer")
    assert(c.count() == factor * cBase.count())
    assert(c.select("c_name").distinct().count() ==
      factor * cBase.select("c_name").distinct().count())
    // embeddings (r14): the ANN soak needs factor-x DISTINCT points in
    // unit-cosine space — ids unique, replica 0 byte-identical to the
    // base, and every replica vector direction-perturbed (a pure
    // rescale would vanish under normalization)
    val emb = graft.core.Tables.load(spark, out, "embeddings")
    val embBase = graft.core.Tables.load(spark, sfDir, "embeddings")
    val nEmbBase = embBase.count()
    assert(emb.count() == factor * nEmbBase)
    assert(emb.select("vec_id").distinct().count() == factor * nEmbBase)
    val rep0 = emb.filter(col("vec_id") < nEmbBase)
      .select(col("vec_id"), col("embedding"))
    assert(rep0.exceptAll(embBase.select(col("vec_id"), col("embedding")))
      .count() == 0, "replica 0 must be the original vectors")
    // a replica's unit direction differs from its source: compare the
    // cosine of (base vec, replica-1 vec) — strictly below 1 for all
    import org.apache.spark.sql.functions.{sqrt => sqrtC}
    val dotUdfFree = {
      val a = embBase.select(col("vec_id").as("k"),
        col("embedding").cast("array<double>").as("va"))
      val b = emb.filter(col("vec_id") >= nEmbBase &&
          col("vec_id") < 2 * nEmbBase)
        .select((col("vec_id") - nEmbBase).as("k"),
          col("embedding").cast("array<double>").as("vb"))
      a.join(b, "k").select(
        (graft.llm.Similarity.dot(col("va"), col("vb")) /
          (sqrtC(graft.llm.Similarity.dot(col("va"), col("va"))) *
            sqrtC(graft.llm.Similarity.dot(col("vb"), col("vb")))))
          .as("cos"))
    }
    val maxCos = dotUdfFree.agg(org.apache.spark.sql.functions.max("cos"))
      .head().getDouble(0)
    assert(maxCos < 1.0 - 1e-9,
      s"replica vectors must change direction, max cos = $maxCos")
  }

  test("plan fingerprints ignore per-JVM object identities") {
    // t19–t22's typed aggregators print their object identity, which
    // differs in every JVM; the fingerprint must strip it
    val a = "ObjectHashAggregate(keys=[], functions=[graft.functions.CmsAggregator$@1aa21319#12])"
    val b = "ObjectHashAggregate(keys=[], functions=[graft.functions.CmsAggregator$@6e4ac3f5#40])"
    assert(Bench.normalize(a) == Bench.normalize(b))
    assert(Bench.normalize(a) != Bench.normalize(a.replace("Cms", "Hll")))
  }
}
