package graft

import org.apache.spark.sql.functions._
import graft.functions.TopKFunctions
import graft.llm.Similarity

/** `topk_by` bounded-heap aggregate: semantics (ties, nulls, short
  * groups, merge commutativity) and the plan property that justifies
  * its existence — partial aggregation instead of a full pair-set
  * window sort.
  */
class TopKSpec extends SparkSpec {

  private def topkOf(rows: Seq[(Long, java.lang.Double, java.lang.Long)],
      k: Int): Map[Long, Seq[(Double, Long)]] = {
    import spark.implicits._
    rows.toDF("g", "ord", "id")
      .groupBy("g")
      .agg(TopKFunctions.topkBy(col("ord"), col("id"), lit(k)).as("tk"))
      .collect()
      .map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getDouble(0), p.getLong(1)))
      }.toMap
  }

  test("topk_by keeps the k largest, sorted desc(ord) asc(id)") {
    val got = topkOf(Seq(
      (1L, 0.5, 10L), (1L, 0.9, 11L), (1L, 0.1, 12L), (1L, 0.7, 13L),
      (2L, 0.2, 20L)), k = 2)
    assert(got(1L) == Seq((0.9, 11L), (0.7, 13L)))
    assert(got(2L) == Seq((0.2, 20L)))
  }

  test("topk_by breaks ord ties toward the smallest id") {
    val got = topkOf(Seq(
      (1L, 0.5, 30L), (1L, 0.5, 10L), (1L, 0.5, 20L), (1L, 0.4, 1L)),
      k = 3)
    assert(got(1L) == Seq((0.5, 10L), (0.5, 20L), (0.5, 30L)))
  }

  test("topk_by ignores null ord/id rows; short groups yield short arrays") {
    val got = topkOf(Seq(
      (1L, null, 10L), (1L, 0.3, null), (1L, 0.2, 11L)), k = 5)
    assert(got(1L) == Seq((0.2, 11L)))
  }

  test("topk_by orders NaN greatest, matching Spark's double sort") {
    // a NaN ord (e.g. cosine of a zero-norm embedding) must rank above
    // every finite value — the row_number window form the aggregate
    // mirrors (s1/q26) uses Spark's sort, which places NaN last under
    // desc... meaning greatest; the heap must agree or s9 diverges
    import spark.implicits._
    val rows = Seq(
      (1L, Double.NaN, 10L), (1L, 0.9, 11L), (1L, 0.8, 12L), (1L, 0.7, 13L))
    val got = topkOf(rows.map { case (g, o, i) =>
      (g, java.lang.Double.valueOf(o), java.lang.Long.valueOf(i)) }, k = 2)
    assert(got(1L).map(_._2) == Seq(10L, 11L))
    assert(got(1L).head._1.isNaN)
    // and the window form elects the same two ids
    val win = rows.toDF("g", "ord", "id")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("ord").desc, col("id"))))
      .filter(col("rk") <= 2).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(win == Set(10L, 11L))
  }

  test("heap result is partitioning-independent (merge commutativity)") {
    // 1000 pairs with colliding ords across many partitions: any
    // merge order must elect the same winners as a global sort
    import spark.implicits._
    val rows = (0L until 1000L).map(i => (i % 7, (i % 13).toDouble, i))
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3))
        .sortBy { case (o, i) => (-o, i) }.take(4)
    }
    Seq(1, 3, 17).foreach { parts =>
      val got = rows.toDF("g", "ord", "id")
        .repartition(parts, col("id"))
        .groupBy("g")
        .agg(TopKFunctions.topkBy(col("ord"), col("id"), lit(4)).as("tk"))
        .collect()
        .map { r =>
          r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(p => (p.getDouble(0), p.getLong(1))).toSeq
        }.toMap
      expected.foreach { case (g, want) =>
        assert(got(g) == want, s"group $g at $parts partitions")
      }
    }
  }

  test("s9 equals s1: heap ranking matches the window ranking exactly") {
    val s1 = Similarity.queries("s1_knn_brute")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val s9 = Similarity.queries("s9_knn_topk")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(s9 == s1)
  }

  test("s9 plan partial-aggregates; no window sort of the pair set") {
    val plan = Similarity.queries("s9_knn_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial stage — map-side the heap truncates to k per group
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial_topk_by"))
    assert(!plan.contains("Window"), "pair set must not be window-sorted")
  }

  test("s14: fusion is the exact reciprocal-rank sum of both lists, " +
      "nontrivial on the test corpus, and heap-ranked on the vector side") {
    val df = Similarity.queries("s14_hybrid_rrf")(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Long]),
      Option(r.get(2)).map(_.asInstanceOf[Long]), r.getDouble(3)))
    assert(rows.length == 20)
    // rrf recomputes exactly from the two ranks
    rows.foreach { case (id, rt, rv, rrf) =>
      val want = rt.map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0) +
        rv.map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0)
      assert(math.abs(rrf - want) < 1e-6, s"doc $id: $rrf vs $want")
    }
    // ordered desc with doc_id tiebreak, and the fusion is nontrivial:
    // docs from both retrievers AND a both-lists doc appear in the top
    val sorted = rows.sortBy { case (id, _, _, rrf) => (-rrf, id) }
    assert(rows.toSeq == sorted.toSeq, "not ordered by (rrf desc, doc_id)")
    assert(rows.exists(r => r._2.isDefined && r._3.isEmpty))
    assert(rows.exists(r => r._2.isEmpty && r._3.isDefined))
    assert(rows.exists(r => r._2.isDefined && r._3.isDefined),
      "no doc retrieved by both sides — fixture degenerate")
    // the corpus-sized vector ranking runs through the bounded heap,
    // never a corpus window (the only Window is over the <=50-row
    // BM25 frame)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_by"))
  }

  test("s17: the engine's chained selection equals a driver-side greedy " +
      "MMR replay, and diversity genuinely reorders relevance") {
    import graft.core.Tables
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.load(spark, sfDir, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q = vecs(0L)
    val cands = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, r6(cos(q, v))) }
      .sortBy { case (id, s) => (-s, id) }.take(Similarity.MmrCandidates)
    var selected = Vector.empty[(Long, Long, Double, Double)] // step,id,qsim,mmr
    for (step <- 1 to Similarity.MmrK) {
      val rem = cands.filterNot(c => selected.exists(_._2 == c._1))
      val scored = rem.map { case (id, qs) =>
        val ms =
          if (selected.isEmpty) 0.0
          else selected.map(s => r6(cos(vecs(id), vecs(s._2)))).max
        val mmr =
          if (selected.isEmpty) r6(qs * Similarity.MmrLambda)
          else r6(qs * Similarity.MmrLambda - ms * Similarity.MmrLambdaC)
        (id, qs, mmr)
      }
      val pick = scored.minBy { case (id, _, m) => (-m, id) }
      selected :+= ((step.toLong, pick._1, pick._2, pick._3))
    }
    val got = Similarity.mmrDiversify(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toVector
    assert(got == selected)
    // the diversity term does real work: the MMR picks differ from the
    // plain relevance top-k (else the fixture can't detect regressions)
    val topk = cands.take(Similarity.MmrK).map(_._1).toSet
    assert(got.map(_._2).toSet != topk,
      "MMR selection degenerate: identical to relevance top-k")
  }
}
