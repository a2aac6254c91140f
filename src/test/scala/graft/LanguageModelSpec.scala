package graft

import org.apache.spark.sql.functions._
import graft.llm.LanguageModel

/** Specs for the round-10 additions: the CCNet-style LM quality family
  * (t17/t18/c13), the s13 Johnson–Lindenstrauss ANN tier, and the q63
  * oriented triangle count. The CORRECTNESS rows gate cross-engine
  * value equality; these tests pin the semantics against independent
  * sequential reimplementations (a Scala stupid-backoff scorer, a JL
  * two-stage replay, an O(n³) closed-wedge enumerator).
  */
class LanguageModelSpec extends SparkSpec {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def hash60(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("t18: Spark per-doc LM scores equal a sequential Scala " +
      "stupid-backoff scorer (split, prune, backoff chain, counts)") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase
        .split("\\s+").toSeq).toMap
    val train = docs.filter { case (id, _) =>
      hash60(s"lm:$id") % 10 < 8 }
    val ntot = train.valuesIterator.map(_.size.toLong).sum
    val uni = train.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= LanguageModel.MinCount).toMap
    val big = train.values.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= LanguageModel.MinCount).toMap

    val expected = docs.map { case (id, t) =>
      val lps = t.zipWithIndex.map { case (w, i) =>
        val prev = if (i > 0) Some(t(i - 1)) else None
        val bi = prev.flatMap(p => big.get((p, w)))
        (bi, uni.get(w)) match {
          case (Some(cb), _) =>
            math.log(cb.toDouble / uni(prev.get))
          case (None, Some(cu)) if i == 0 => math.log(cu.toDouble / ntot)
          case (None, None) if i == 0     => -math.log(ntot.toDouble)
          case (None, Some(cu)) =>
            math.log(LanguageModel.Backoff) + math.log(cu.toDouble / ntot)
          case (None, None) =>
            math.log(LanguageModel.Backoff) - math.log(ntot.toDouble)
        }
      }
      val nBackoff = t.zipWithIndex.count { case (w, i) =>
        i > 0 && !big.contains((t(i - 1), w)) }
      val nOov = t.count(w => !uni.contains(w))
      id -> ((t.size.toLong, nBackoff.toLong, nOov.toLong,
        round4(lps.sum / t.size)))
    }

    val got = LanguageModel.perplexity(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (n, bo, oov, lp)) =>
      val (gn, gbo, goov, glp) = got(id)
      assert(gn == n && gbo == bo && goov == oov,
        s"doc $id counts: got ($gn,$gbo,$goov) want ($n,$bo,$oov)")
      assert(math.abs(glp - lp) < 1.01e-4,
        s"doc $id avg_logp: got $glp want $lp")
    }
  }

  test("t17: model invariants — pruned counts, denominator dominance, " +
      "non-positive conditional log-probs") {
    val m = LanguageModel.lmBigrams(spark, sfDir).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val (cb, cp, lp) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(cb >= LanguageModel.MinCount)
      assert(cp >= cb, s"c_prev $cp < c_bigram $cb for ${r.getString(0)}")
      assert(lp <= 0.0)
    }
  }

  test("c13: bucket partition is exhaustive and keep == (bucket != tail)") {
    val rows = LanguageModel.perplexityFilter(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lp, b, k) = (r.getDouble(1), r.getString(2), r.getLong(3))
      val want =
        if (lp >= LanguageModel.HeadCut) "head"
        else if (lp < LanguageModel.TailCut) "tail"
        else "middle"
      assert(b == want, s"doc ${r.getLong(0)} bucket $b want $want")
      assert(k == (if (b != "tail") 1L else 0L))
    }
  }

  test("s13: two-stage JL search equals a sequential Scala replay " +
      "(literal projections, rounded-estimate cutoff, exact rerank)") {
    import graft.llm.Similarity
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val rv = vecs.view.mapValues(v =>
      Similarity.jlPlanes.map(p => dotD(v, p)).toArray).toMap
    val rn = rv.view.mapValues(r => math.sqrt(dotD(r, r))).toMap
    val nrm = vecs.view.mapValues(v => math.sqrt(dotD(v, v))).toMap
    val topC = math.max(3,
      math.ceil(vecs.size * Similarity.JlRerankFraction).toInt)
    val expected = vecs.keys.filter(_ < 20).toSeq.sorted.flatMap { q =>
      val cand = vecs.keys.filter(_ != q).toSeq
        .map(e => (round6(dotD(rv(e), rv(q)) / (rn(e) * rn(q))), e))
        .sortBy { case (est, id) => (-est, id) }.take(topC).map(_._2)
      cand.map(e =>
          (round6(dotD(vecs(q), vecs(e)) / (nrm(q) * nrm(e))), e))
        .sortBy { case (sim, id) => (-sim, id) }.take(3).zipWithIndex
        .map { case ((sim, e), i) => (q, e, sim, (i + 1).toLong) }
    }.toSet
    val got = Similarity.knnJl(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("persisted LM model: scoreFromModel equals the inline t18 scoring " +
      "and the loaded plan contains no training aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lm").toString
    LanguageModel.writeModel(spark, sfDir, dir)
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val fromIdx = LanguageModel.scoreFromModel(spark, dir, docs)
    val inline = LanguageModel.perplexity(spark, sfDir)
    val a = fromIdx.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = inline.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a == b)
    // the loaded plan reads the stored tables — no train-split filter
    // stage. The marker is validated against the INLINE plan first so
    // a renderer change can never make the absence check vacuous.
    val marker = "md5_60(concat(lm:"
    assert(inline.queryExecution.optimizedPlan.toString().contains(marker),
      "marker no longer matches the inline plan's renderer")
    val plan = fromIdx.queryExecution.optimizedPlan.toString()
    assert(!plan.contains(marker),
      s"training split present in loaded plan:\n$plan")
  }

  private def apssBrute(docs: Map[Long, Seq[String]], thr: Double)
      : Map[(Long, Long), Double] = {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = docs.size
    val tf = docs.view.mapValues(
      _.groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val w = tf.view.mapValues(_.map { case (t, c) =>
      t -> c * (math.log((n + 1.0) / (df(t) + 1.0)) + 1.0) }).toMap
    val nm = w.view.mapValues(v => math.sqrt(v.values.map(x => x * x).sum))
    val ids = docs.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      (a, b) = (ids(i), ids(j))
      dp = w(a).keysIterator.filter(w(b).contains)
        .map(t => w(a)(t) * w(b)(t)).sum
      c = round6(dp / (nm(a) * nm(b)))
      if c >= thr
    } yield (a, b) -> c).toMap
  }

  test("d15: APSS join equals brute-force all-pairs cosine on the corpus") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq).toMap
    val want = apssBrute(docs, graft.llm.Dedup.ApssThreshold)
    val got = graft.llm.Dedup.apssCosine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- want.keySet).take(5)}")
    want.foreach { case (k, c) =>
      assert(math.abs(got(k) - c) < 1.01e-6, s"pair $k: ${got(k)} vs $c") }
  }

  test("d15: prefix filter prunes candidates on a Zipfian corpus while " +
      "staying exact") {
    import spark.implicits._
    // 200 docs: each carries 30 distinct stop terms from a 50-term
    // high-df pool (low idf, tf 1 -> small unit weight -> unindexed
    // tail) plus 10 rare terms (high idf -> indexed prefix); 5 planted
    // near-dup pairs share their rare terms. Candidates must collapse
    // to rare-term co-occurrences, not the stop-term cross product.
    val rnd = new scala.util.Random(15L)
    val docs: Seq[(Long, Seq[String])] = (0 until 200).map { i =>
      val stops = rnd.shuffle((0 until 50).toList).take(30)
        .map(k => s"stop$k")
      val rare =
        if (i >= 190) Seq.tabulate(10)(k => s"rare${(i - 190) / 2}_$k")
        else Seq.tabulate(10)(k => s"rare${i}_$k")
      i.toLong -> (stops ++ rare)
    }
    val df = docs.toDF("doc_id", "t")
    val state = graft.llm.Dedup.apssState(df)
    val nPrefixOnly = graft.llm.Dedup.apssCandidates(state,
      prune = false).count()
    val nCand = graft.llm.Dedup.apssCandidates(state).count()
    assert(nCand < 200L * 199 / 2 / 10,
      s"candidate filters barely pruned: $nCand candidates")
    // the positional + size bounds must shrink the set the prefix
    // filter alone admits (the stop-term co-indexed stragglers)
    assert(nCand < nPrefixOnly,
      s"bounds pruned nothing: $nCand vs prefix-only $nPrefixOnly")
    // this fixture's 1 000+ term vocabulary forces the sparse regime,
    // so apssCosineOf exercises the pruned Bayardo plan end-to-end
    val got = graft.llm.Dedup.apssCosineOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = apssBrute(docs.toMap, graft.llm.Dedup.ApssThreshold)
    assert(got.keySet == want.keySet)
    assert(want.keySet.size >= 5, "planted near-dup pairs missing")
  }

  test("d15: dense and sparse regimes agree pairwise and with brute " +
      "force on the tiny-vocab corpus") {
    val docsDf = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    val vocab = docsDf.select(explode(col("t"))).distinct().count().toInt
    assert(vocab <= graft.llm.Dedup.ApssDenseVocabMax,
      "fixture drifted: corpus vocab no longer exercises the dense regime")
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dense = asMap(graft.llm.Dedup.apssDenseOf(docsDf, vocab))
    val sparse = asMap(graft.llm.Dedup.apssSparseOf(docsDf))
    assert(dense.keySet == sparse.keySet,
      s"regime disagreement: denseOnly=${(dense.keySet -- sparse.keySet).take(5)} " +
        s"sparseOnly=${(sparse.keySet -- dense.keySet).take(5)}")
    dense.foreach { case (k, c) =>
      assert(math.abs(sparse(k) - c) < 1.01e-6, s"pair $k: $c vs ${sparse(k)}") }
  }

  test("d16 beats d15 in its declared regime: huge flat-weight " +
      "dictionary, weak Bayardo pruning — measured wall-time, equal " +
      "output") {
    import spark.implicits._
    // 800 docs × 150 tokens drawn uniformly from a 2 500-term vocab:
    // per-term df ≈ 48, idf (and so unit weights) nearly flat, so the
    // Bayardo prefix keeps most of every doc and the posting join
    // degenerates toward Σ df² ≈ 5.8M pair-term rows — while d16's
    // cost (per-doc signatures + banded bit-op candidates) grows
    // linearly in corpus size. Five planted near-dup pairs give a
    // non-empty output to compare. This is the corner the d16
    // Scaladoc claims; the measurement below replaces the
    // argument-by-comment (VERDICT r11 #6).
    val rnd = new scala.util.Random(16L)
    val docs: Seq[(Long, Seq[String])] = (0 until 800).map { i =>
      val toks =
        if (i >= 790) Seq.tabulate(150)(k => s"w${(i - 790) / 2}_$k")
        else Seq.fill(150)(s"w${rnd.nextInt(2500)}")
      i.toLong -> toks
    }
    val df = docs.toDF("doc_id", "t").localCheckpoint(true)
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def timed(f: => Map[(Long, Long), Double]): (Double, Map[(Long, Long), Double]) = {
      // best of 2: the first run carries codegen/JIT noise either way
      val r1t0 = System.nanoTime(); val r1 = f
      val dt1 = (System.nanoTime() - r1t0) / 1e9
      val r2t0 = System.nanoTime(); val r2 = f
      val dt2 = (System.nanoTime() - r2t0) / 1e9
      assert(r1 == r2)
      (math.min(dt1, dt2), r1)
    }
    val (tSparse, exact) = timed(asMap(graft.llm.Dedup.apssSparseOf(df)))
    val (tSketch, approx) = timed(asMap(graft.llm.Dedup.apssApproxOf(df)))
    assert(exact.keySet.size >= 5, "planted near-dup pairs missing")
    // equal output: the sketch run must find every exact pair here
    // (the planted pairs are near-identical, far above the threshold)
    assert(approx == exact,
      s"output differs: ${(exact.keySet -- approx.keySet).take(3)} / " +
        s"${(approx.keySet -- exact.keySet).take(3)}")
    info(f"d15-sparse $tSparse%.2f s vs d16-sketch $tSketch%.2f s " +
      f"on 800 docs × 2 500-term flat vocab")
    assert(tSketch < tSparse,
      f"d16 ($tSketch%.2f s) did not beat d15 ($tSparse%.2f s) in its own regime")
  }

  test("d16: sketch-prefiltered APSS — measured recall above the 0.9 " +
      "floor, candidate space genuinely shrunk, every reported pair " +
      "exact") {
    val docsDf = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = asMap(graft.llm.Dedup.apssSparseOf(docsDf))
    val approx = asMap(graft.llm.Dedup.apssApproxOf(docsDf))
    assert(exact.nonEmpty, "fixture has no qualifying pairs")
    // no false positives — the verify stage is the exact one
    assert((approx.keySet -- exact.keySet).isEmpty,
      s"non-exact pairs reported: ${(approx.keySet -- exact.keySet).take(5)}")
    approx.foreach { case (k, c) => assert(c == exact(k), s"$k: $c") }
    // MEASURED recall with a floor (the s11 discipline)
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.9, s"sketch recall $recall below floor " +
      s"(${approx.size}/${exact.size})")
    // and the sketch cut must actually prune the pair space
    val n = docsDf.count()
    val nCand = graft.llm.Dedup.apssSketchCandidates(
      graft.llm.Dedup.apssState(docsDf)).count()
    val allPairs = n * (n - 1) / 2
    assert(nCand < allPairs / 2,
      s"sketch cut barely pruned: $nCand of $allPairs pairs admitted")
    info(s"d16 recall=$recall over ${exact.size} exact pairs, " +
      s"candidates $nCand/$allPairs")
  }

  test("d15: persisted APSS index replays the sparse join with no " +
      "recompute in the plan") {
    val table = "apss_idx_spec"
    graft.llm.Dedup.writeApssIndex(spark, sfDir, table)
    val fromIdx = graft.llm.Dedup.apssFromIndex(spark, table)
    val docsDf = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    val inline = graft.llm.Dedup.apssSparseOf(docsDf)
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(asMap(fromIdx) == asMap(inline))
    // no tokenization / df / window recompute: the indexed plan reads
    // the bucketed state table only
    val plan = fromIdx.queryExecution.optimizedPlan.toString()
    assert(!plan.toLowerCase.contains("window"),
      s"indexed APSS plan recomputes the prefix window:\n$plan")
    assert(!plan.contains("explode"),
      s"indexed APSS plan re-tokenizes:\n$plan")
    // the APPROXIMATE tier runs from the same stored state — no
    // second index, same pairs as the inline d16
    val approxIdx = asMap(graft.llm.Dedup.apssApproxFromIndex(spark, table))
    val approxInline = asMap(graft.llm.Dedup.apssApproxOf(docsDf))
    assert(approxIdx == approxInline,
      s"indexed d16 diverged: ${(approxIdx.keySet -- approxInline.keySet).take(3)}")
  }

  test("q65 core: q-gram prefix blocking loses no pair — equals brute " +
      "levenshtein join on a mutation fixture (incl. short strings)") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val rnd = new scala.util.Random(65L)
    val alphabet = "abcdefgh"
    def randStr(n: Int) =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (0 until edits).foreach { _ =>
        val i = rnd.nextInt(math.max(cur.length, 1))
        rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => // substitute
            cur = cur.updated(i, alphabet(rnd.nextInt(alphabet.length)))
          case 1 => // insert
            cur = cur.take(i) + alphabet(rnd.nextInt(alphabet.length)) +
              cur.drop(i)
          case _ if cur.length > 1 => cur = cur.take(i) + cur.drop(i + 1)
          case _ => ()
        }
      }
      cur
    }
    // bases of mixed length (incl. < 6 for the short-string fallback),
    // each with 0-3-edit mutants — plenty of pairs at every distance
    val bases = (0 until 40).map(_ => randStr(3 + rnd.nextInt(10)))
    val names = (bases ++ bases.flatMap(b =>
      (1 to 3).map(e => mutate(b, e)))).distinct
    val got = graft.queries.Extended.fuzzyPairsOf(names.toDF("nm"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val want = (for {
      i <- names.indices; j <- (i + 1) until names.size
      (a, b) = if (names(i) < names(j)) (names(i), names(j))
               else (names(j), names(i))
      if math.abs(a.length - b.length) <= 2
      d = lev(a, b) if d <= 2
    } yield (a, b) -> d.toLong).toMap
    assert(got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- want.keySet).take(5)}")
    assert(want.size >= 30, s"fixture degenerate: ${want.size} pairs")
  }

  test("q63 core: oriented wedge-close triangle counts equal brute-force " +
      "enumeration on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(63L)
    val n = 40
    val edges = (for {
      u <- 0 until n; v <- (u + 1) until n
      if rnd.nextDouble() < 0.15
    } yield (u.toLong, v.toLong)).toSeq
    val eset = edges.toSet
    val brute = scala.collection.mutable.Map.empty[Long, Long]
    for {
      (u, v) <- edges; w <- (v + 1) to (n - 1).toLong
      if eset.contains((u, w)) && eset.contains((v, w))
    } { Seq(u, v, w).foreach(x => brute(x) = brute.getOrElse(x, 0L) + 1) }
    val got = graft.queries.Extended.trianglesOf(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute.toMap, s"got $got want $brute")
    assert(brute.values.sum >= 3, "fixture degenerate: too few triangles")
    // tier equality (CC-cutover discipline): the distributed wedge
    // join, forced via a -1 cutover, counts identically to the driver
    // tier the fixture takes above
    val dist = graft.queries.Extended.trianglesOf(edges.toDF("u", "v"),
        driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == got)
  }

  test("q66 core: fixed-round peel equals brute-force k-core fixpoint " +
      "on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(66L)
    val n = 60
    val edges = (for {
      u <- 0 until n; v <- (u + 1) until n
      if rnd.nextDouble() < 0.06
    } yield (u.toLong, v.toLong)).toSeq
    // brute peel to fixpoint, counting the rounds it needs
    var es = edges.toSet
    var rounds = 0
    var done = false
    while (!done) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val next = es.filter(e => deg(e._1) >= 3 && deg(e._2) >= 3)
      rounds += 1
      done = next == es
      es = next
    }
    assert(rounds <= 12, s"fixture needs $rounds rounds, raise iters")
    val want = es.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = graft.queries.Extended.kcoreOf(edges.toDF("u", "v"), 3, 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got ${got.size} nodes want ${want.size}")
    // tier equality: the distributed peel rounds (forced via a -1
    // cutover) equal the driver tier the fixture takes above
    val dist = graft.queries.Extended.kcoreOf(edges.toDF("u", "v"), 3, 12,
        driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == got)
    assert(want.nonEmpty && want.size < n,
      s"fixture degenerate: core has ${want.size} of $n nodes")
  }

  test("q68 core: fixed-depth BFS levels equal brute-force shortest hops " +
      "on a seeded random digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(68L)
    val n = 50
    val edges = (for {
      u <- 0 until n; v <- 0 until n
      if u != v && rnd.nextDouble() < 0.04
    } yield (u.toLong, v.toLong)).toSeq
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seeds = Seq(0L, 17L, 34L)
    // brute BFS to depth 4
    var lvl = seeds.map(_ -> 0L).toMap
    for (i <- 1 to 4) {
      val front = lvl.collect { case (nd, l) if l == i - 1 => nd }
      val nxt = front.flatMap(adj.getOrElse(_, Nil)).toSet -- lvl.keySet
      lvl = lvl ++ nxt.map(_ -> i.toLong)
    }
    val got = graft.queries.Extended.bfsLevelsOf(
        edges.toDF("src", "dst"), seeds.toDF("node"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lvl, s"got ${got.size} want ${lvl.size}")
    assert(lvl.values.exists(_ == 4L) || lvl.values.exists(_ == 3L),
      "fixture degenerate: BFS saturates too early")
    // tier equality: distributed rounds (forced via -1 cutover) equal
    // the driver BFS the fixture takes above
    val dist = graft.queries.Extended.bfsLevelsOf(
        edges.toDF("src", "dst"), seeds.toDF("node"), 4,
        driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == got)
  }

  test("q69 core: bounded-round Bellman-Ford equals brute-force min-cost " +
      "over <=k-edge paths on a seeded weighted digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(69L)
    val n = 40
    val edges = (for {
      u <- 0 until n; v <- 0 until n
      if u != v && rnd.nextDouble() < 0.15
    } yield (u.toLong, v.toLong, (rnd.nextInt(9) + 1).toLong)).toSeq
    val adj = edges.groupBy(_._1)
      .map { case (k, es) => k -> es.map(e => (e._2, e._3)) }
    val seeds = Seq(0L, 13L, 26L)
    // brute: k rounds of relaxation over the full distance map
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val relaxed = dist.toSeq.flatMap { case (u, d) =>
        adj.getOrElse(u, Nil).map { case (v, w) => v -> (d + w) }
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, ds) => k -> ds.map(_._2).min }
    }
    val got = graft.queries.Extended.ssspOf(
        edges.toDF("src", "dst", "w"), seeds.toDF("node"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist, s"got ${got.size} want ${dist.size}")
    // tier equality: distributed Bellman-Ford rounds (forced via -1
    // cutover) equal the driver tier the fixture takes above
    val distTier = graft.queries.Extended.ssspOf(
        edges.toDF("src", "dst", "w"), seeds.toDF("node"), 4,
        driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distTier == got)
    // non-degenerate: some node must be strictly cheaper via a longer
    // path than its first-reached distance (weights actually matter)
    var hop1 = seeds.map(_ -> 0L).toMap
    val r1 = hop1.toSeq.flatMap { case (u, d) =>
      adj.getOrElse(u, Nil).map { case (v, w) => v -> (d + w) } }
    hop1 = (hop1.toSeq ++ r1).groupBy(_._1)
      .map { case (k, ds) => k -> ds.map(_._2).min }
    assert(dist.exists { case (nd, d) => hop1.get(nd).exists(_ > d) },
      "fixture degenerate: no multi-edge path ever improved a distance")
  }

  test("q54 core: driver-tier PageRank equals the distributed rounds " +
      "on a seeded symmetric graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(54L)
    val n = 50
    val half = (for {
      u <- 0 until n; v <- (u + 1) until n
      if rnd.nextDouble() < 0.08
    } yield (u.toLong, v.toLong)).toSeq
    val edges = (half ++ half.map(e => (e._2, e._1))).toDF("src", "dst")
    def rows(cut: Long) = graft.queries.Extended
      .pageRankOf(edges, iters = 3, driverMaxEdges = cut)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val driver = rows(Long.MaxValue)
    val dist = rows(-1L)
    // identical node set; ranks equal within 1e-6 per node (ADVICE
    // r15: exact equality on the rounded 6-dp grid is flaky — a rank
    // landing within ~1e-13 of a 5e-7 boundary can round differently
    // under a partitioning change; the tolerance compares the same
    // quantity without that cliff)
    assert(driver.keySet == dist.keySet,
      s"driver ${driver.size} vs dist ${dist.size}")
    driver.foreach { case (nd, p) =>
      assert(math.abs(p - dist(nd)) <= 1e-6, s"node $nd: $p vs ${dist(nd)}")
    }
    assert(driver.values.exists(p => math.abs(p - 0.15) > 1e-6),
      "fixture degenerate: every rank at the teleport floor")
  }

  test("q67: histogram quantile estimate is within one bin width of the " +
      "exact rank value, for every group and quantile") {
    val li = graft.core.Tables.load(spark, sfDir, "lineitem")
    val b = li.agg(org.apache.spark.sql.functions.min("l_extendedprice"),
      org.apache.spark.sql.functions.max("l_extendedprice")).head()
    val w = (b.getDouble(1) - b.getDouble(0)) /
      graft.queries.Extended.HistBins
    val rows = graft.queries.Extended.q67HistQuantiles(spark, sfDir)
      .collect()
    assert(rows.length == 9, s"3 groups x 3 quantiles, got ${rows.length}")
    rows.foreach { r =>
      val (est, exact) = (r.getDouble(3), r.getDouble(4))
      // the true rank-r value lies inside the bin the estimate
      // interpolates in, so the error cannot exceed the bin width
      assert(math.abs(est - exact) <= w + 1e-9,
        s"${r.getString(0)}/${r.getString(1)}: est $est exact $exact w $w")
    }
  }

  test("q66: round 8 is the fixpoint on the test graph (round 9 changes " +
      "nothing)") {
    val e = graft.queries.Extended.copurchaseEdges(spark, sfDir)
    def rows(it: Int) = graft.queries.Extended.kcoreOf(e, 2, it)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r8 = rows(8)
    assert(r8 == rows(9), "peel not converged after 8 rounds")
    assert(r8.nonEmpty, "2-core empty at test SF")
  }
}
