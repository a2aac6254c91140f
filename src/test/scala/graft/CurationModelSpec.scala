package graft

import graft.llm.Curation

/** c12 model-gated quality filter: the classifier must actually learn
  * the target-domain structure (metric floors, not hashes — an LBFGS
  * fit is float-order-sensitive, which is why c12 is registered
  * rows-only), and the gated curation variant must stay inside the
  * ungated pipeline's output.
  */
class CurationModelSpec extends SparkSpec {

  private def scored() = Curation.qualityClassifierScores(spark, sfDir)
    .collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))

  test("c12: distilled gate reproduces the quality decision — accuracy and AUC floors") {
    val rows = scored()
    assert(rows.length == 500)
    val bothClasses = rows.map(_._2).toSet
    assert(bothClasses == Set(0, 1), s"label degenerate: $bothClasses")
    val acc = rows.count(r => r._4 == r._2).toDouble / rows.length
    assert(acc >= 0.85, s"model accuracy $acc below floor")
    // rank-based AUC over the probability scores: P(score(pos) >
    // score(neg)) with half-credit ties
    val pos = rows.filter(_._2 == 1).map(_._3)
    val neg = rows.filter(_._2 == 0).map(_._3)
    val auc = pos.iterator.map(p =>
      neg.count(p > _) + 0.5 * neg.count(p == _)).sum / (pos.length.toDouble * neg.length)
    assert(auc >= 0.9, s"model AUC $auc below floor")
    info(f"c12 accuracy $acc%.3f auc $auc%.3f (${pos.length} pass / ${neg.length} fail)")
  }

  test("c12: refit reproduces the metric within tolerance") {
    val a1 = { val r = scored(); r.count(x => x._4 == x._2).toDouble / r.length }
    val a2 = { val r = scored(); r.count(x => x._4 == x._2).toDouble / r.length }
    assert(math.abs(a1 - a2) <= 0.02, s"refit accuracy drifted: $a1 vs $a2")
  }

  test("model-gated curation admits only model-passed docs and gates for real") {
    val passed = scored().filter(_._4 == 1).map(_._1).toSet
    val gated = Curation.curateModelGated(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val full = Curation.curate(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(gated.nonEmpty)
    // every admitted doc cleared the model gate (a strict subset-of-
    // full claim would be wrong: the fp-dedup window may elect a
    // different representative when a cluster's min doc_id is gated
    // out — the gate composes BEFORE dedup, as in a real release)
    assert(gated.subsetOf(passed),
      s"gated output leaked ${gated.diff(passed).take(5)} past the model gate")
    // the gate does real work: non-target-domain docs the base
    // pipeline keeps are excluded
    assert(gated.size < full.size, s"gate admitted everything (${full.size})")
  }

  test("c14: importance weights rank the target language above the rest " +
      "on average, and separate cleanly on a synthetic two-vocab corpus") {
    import org.apache.spark.sql.functions._
    // real corpus: en docs must average higher importance than non-en
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val byLang = graft.llm.Curation.dsirWeights(spark, sfDir)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en").agg(avg("imp"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false) + 0.3,
      s"en mean ${byLang(true)} not above rest ${byLang(false)}")
    // synthetic: disjoint vocabularies — every target doc must outrank
    // every raw-only doc
    import spark.implicits._
    val synth = ((0 until 20).map(i =>
        (i.toLong, "en", s"alpha beta gamma delta tok$i")) ++
      (20 until 40).map(i =>
        (i.toLong, "de", s"zeta eta theta iota tok$i"))).toDF(
      "doc_id", "lang", "text")
    val imps = graft.llm.Curation.dsirWeightsOf(synth, lit("en"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val minTgt = (0 until 20).map(i => imps(i.toLong)).min
    val maxOther = (20 until 40).map(i => imps(i.toLong)).max
    assert(minTgt > maxOther,
      s"target min $minTgt does not clear non-target max $maxOther")
  }

  test("c15: the selection is the exact greedy prefix of the importance " +
      "ranking under the token budget") {
    val wts = graft.llm.Curation.dsirWeights(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ranked = wts.sortBy { case (id, _, imp) => (-imp, id) }
    var cum = 0L
    val expect = ranked.takeWhile { case (_, n, _) =>
      cum += n; cum <= graft.llm.Curation.DsirBudget
    }.map(_._1).toSet
    val got = graft.llm.Curation.dsirSelect(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(got == expect, s"got ${got.size} expect ${expect.size}")
    assert(got.nonEmpty && got.size < wts.length,
      "budget cut degenerate (empty or everything)")
  }

  test("persisted DSIR model: dsirScoreFromModel equals the inline c14 " +
      "weights and the loaded plan has no ratio-estimation stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    Curation.writeDsirModel(spark, sfDir, dir)
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val fromIdx = Curation.dsirScoreFromModel(spark, dir, docs)
    val inline = Curation.dsirWeights(spark, sfDir)
    val a = fromIdx.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = inline.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a == b)
    // the loaded plan reads the stored ratio table — no target-language
    // comparison (the estimation stage's fingerprint) anywhere in it.
    // Validated against the INLINE plan first so a renderer change can
    // never make the absence check vacuous.
    val marker = " = en"
    assert(inline.queryExecution.optimizedPlan.toString().contains(marker),
      "marker no longer matches the inline plan's renderer")
    val plan = fromIdx.queryExecution.optimizedPlan.toString()
    assert(!plan.contains(marker),
      s"ratio estimation present in loaded plan:\n$plan")
    // a batch the model never saw still scores: unseen buckets take
    // the persisted smoothed default, so imp is always non-null
    import spark.implicits._
    val novel = Seq((999999L, "en", "zzqx1 zzqx2 zzqx3"))
      .toDF("doc_id", "lang", "text")
    val got = Curation.dsirScoreFromModel(spark, dir, novel).collect()
    assert(got.length == 1 && got(0).getLong(1) == 3L && !got(0).isNullAt(2))
  }

  test("c16 waterfill: allocations exhaust the budget, respect " +
      "availability, and equalize capped sources") {
    import org.apache.spark.sql.functions._
    val rows = graft.llm.Curation.mixWaterfill(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val totalV = rows.map(_._2).sum.toDouble
    val b = totalV * graft.llm.Curation.WaterfillFrac
    // never allocate more than available
    rows.foreach { case (s, v, a) => assert(a <= v + 1e-6, s"$s: $a > $v") }
    // the budget binds here (frac < 1), so allocations sum to B
    assert(math.abs(rows.map(_._3).sum - b) < 1e-3,
      s"allocated ${rows.map(_._3).sum} vs budget $b")
    // capped sources (a < v) all sit at one waterline
    val capped = rows.filter { case (_, v, a) => a < v - 1e-6 }.map(_._3)
    assert(capped.nonEmpty, "budget never engaged — fixture drifted")
    assert(capped.max - capped.min < 1e-6,
      s"capped sources not equalized: ${capped.min} vs ${capped.max}")
    // uncapped sources are exactly the ones below the waterline
    val line = capped.min
    rows.foreach { case (s, v, a) =>
      if (v < line) assert(a == v.toDouble, s"$s under line but cut")
    }
  }

  test("c16 waterfill: hand-computed fixture, including the no-cut case") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wf").toString
    // volumes 2, 4, 10 tokens; B = 0.6·16 = 9.6
    // ranks: lvl1 = 9.6/3 = 3.2 > 2 (take all); lvl2 = 7.6/2 = 3.8 ≤ 4
    // → waterline 3.8: a = (2, 3.8, 3.8)
    Seq(
      (1L, "a b", "s1"), (2L, "a b c d", "s2"),
      (3L, "a b c d e f g h i j", "s3"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.llm.Curation.mixWaterfill(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map("s1" -> ((2L, 2.0)), "s2" -> ((4L, 3.8)),
      "s3" -> ((10L, 3.8))), got.toString)
  }
}
