package graft

import org.apache.spark.sql.functions._
import graft.queries.Extended

/** q74–q77 + t23: the statistical-analytics extensions. Each query is
  * oracle-hashed at the driver gate; these specs pin the parts a SQL
  * replay can't — brute-force equivalence on adversarial fixtures,
  * determinism under re-partitioning, and closed-form ground truth.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // -- q74 skyline ----------------------------------------------------------

  /** Brute-force dominance over a collected fixture. */
  private def bruteSkyline(pts: Seq[(Long, Double, Int)]): Set[Long] =
    pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) =>
        qx <= x && qy <= y && (qx < x || qy < y)
      }
    }.map(_._1).toSet

  test("q74: bucketed sweep equals brute-force dominance on a seeded " +
      "random fixture, duplicates and corner ties included") {
    val rnd = new scala.util.Random(74)
    val base = (0 until 300).map(i =>
      (i.toLong, (rnd.nextInt(500) / 100.0) * 100 + 900, rnd.nextInt(40) + 1))
    // duplicate points (both must survive if on the frontier) and an
    // exact corner tie on each axis
    val pts = base ++ Seq((1000L, base.head._2, base.head._3),
      (1001L, 900.0, 50), (1002L, 5000.0, 1))
    val df = pts.toDF("p_partkey", "p_retailprice", "p_size")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sky").toString
    df.write.mode("overwrite").parquet(s"$tmp/part.parquet")
    val got = Extended.q74Skyline(spark, tmp).collect()
      .map(_.getLong(0)).toSet
    assert(got == bruteSkyline(pts))
  }

  test("q74: property — bucketed sweep equals brute dominance on random " +
      "point sets of every shape (ties, duplicates, collinear runs)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // coarse value grids force heavy ties; sizes span empty → hundreds
    val ptsGen = for {
      n <- Gen.choose(0, 250)
      pts <- Gen.listOfN(n, for {
        x <- Gen.choose(0, 12)
        y <- Gen.choose(0, 12)
      } yield (x * 25.0 + 900, y + 1))
    } yield pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val prop = Prop.forAll(ptsGen) { pts =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_skyp").toString
      pts.toDF("p_partkey", "p_retailprice", "p_size")
        .write.mode("overwrite").parquet(s"$tmp/part.parquet")
      val got = Extended.q74Skyline(spark, tmp).collect()
        .map(_.getLong(0)).toSet
      got == bruteSkyline(pts)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("q74: result on the real table is a true antichain that dominates " +
      "every non-member") {
    val all = graft.core.Tables.load(spark, sfDir, "part")
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val sky = Extended.q74Skyline(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(sky == bruteSkyline(all))
  }

  // -- q75 Kolmogorov–Smirnov ----------------------------------------------

  test("q75: KS statistic matches the hand-computed value on a crafted " +
      "two-sample fixture") {
    // A = {1,2,3,4}, B = {3,4,5,6}: ECDFs diverge most at v=2 (2/4 vs 0)
    val rows =
      Seq(1, 2, 3, 4).map(v => (v * 1.0, "O")) ++
        Seq(3, 4, 5, 6).map(v => (v * 1.0, "F"))
    val df = rows.zipWithIndex.map { case ((v, st), i) =>
      (i.toLong, i.toLong, st, v,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ks").toString
    df.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val r = Extended.q75KsTest(spark, tmp).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 4L && r(0).getLong(1) == 4L)
    assert(r(0).getDouble(2) == 0.5)
  }

  test("q75: identical samples give D = 0") {
    val rows = (1 to 6).flatMap(v => Seq((v * 1.0, "O"), (v * 1.0, "F")))
    val df = rows.zipWithIndex.map { case ((v, st), i) =>
      (i.toLong, i.toLong, st, v,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ks0").toString
    df.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    assert(Extended.q75KsTest(spark, tmp).collect()(0).getDouble(2) == 0.0)
  }

  // -- q76 weighted sampling ------------------------------------------------

  test("q76: the top-k is the exact driver-side replay of the A-ES keys, " +
      "and repeated runs agree") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        greatest(length(col("text")).cast("long"), lit(1L)).as("w"),
        (graft.llm.TextAnalysis.hash60(concat(lit("q76:"),
          col("doc_id").cast("string"))) % 1000000 + 1).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = docs.map { case (id, w, m) =>
      val key = BigDecimal(math.log(m / 1000001.0) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, w, key)
    }.sortBy { case (id, _, k) => (-k, id) }.take(50).toSeq
    val got = Extended.q76WeightedSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect)
    val again = Extended.q76WeightedSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(again == got)
  }

  test("q76: heavier docs are systematically favored — mean weight of the " +
      "sample exceeds the corpus mean") {
    val sampleMean = Extended.q76WeightedSample(spark, sfDir)
      .agg(avg("w")).collect()(0).getDouble(0)
    val corpusMean = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .agg(avg(greatest(length(col("text")).cast("long"), lit(1L))))
      .collect()(0).getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  // -- q77 grouped OLS -------------------------------------------------------

  test("q77: slope/intercept match the closed form on a crafted exact-fit " +
      "fixture and a known noisy one") {
    // group 1: y = 2x + 3 exactly; group 2: three points with a known
    // hand-computed fit (x,y) = (1,1),(2,3),(3,2) → slope 0.5, icpt 1.0
    val rows = Seq(
      (1L, 1.0, 5.0), (1L, 2.0, 7.0), (1L, 3.0, 9.0), (1L, 4.0, 11.0),
      (2L, 1.0, 1.0), (2L, 2.0, 3.0), (2L, 3.0, 2.0))
    val df = rows.zipWithIndex.map { case ((g, x, y), i) =>
      (i.toLong, i.toLong, g, i + 1, x, y, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ols").toString
    df.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = Extended.q77GroupedOls(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2.0, 3.0)))
    assert(got(2L) == ((0.5, 1.0)))
  }

  test("q77: degenerate groups (single row, zero-variance x) are excluded") {
    val rows = Seq((1L, 5.0, 2.0),
      (2L, 4.0, 1.0), (2L, 4.0, 9.0),
      (3L, 1.0, 1.0), (3L, 2.0, 2.0))
    val df = rows.zipWithIndex.map { case ((g, x, y), i) =>
      (i.toLong, i.toLong, g, i + 1, x, y, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ols2").toString
    df.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = Extended.q77GroupedOls(spark, tmp).collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(3L))
  }

  // -- q78 expectations -------------------------------------------------------

  test("q78: injected violations are counted exactly, one row per rule, " +
      "NULL predicate counts as a violation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_exp").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // orders: one non-positive price, one bad status, one NULL status
    // (violation), one duplicated key
    Seq((1L, 1L, "O", 10.0), (2L, 1L, "X", 20.0), (3L, 1L, null, -5.0),
      (4L, 1L, "F", 30.0), (4L, 1L, "P", 40.0))
      .map { case (k, c, st, p) => (k, c, st, p, ts, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    // documents: one short, one bad lang, one inconsistent n_chars
    Seq((1L, "x" * 60, "en", "web", 60L), (2L, "short", "en", "web", 5L),
      (3L, "y" * 55, "xx", "web", 55L), (4L, "z" * 50, "de", "web", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // lineitem: two orphans out of three rows
    Seq((1L, 99L), (98L, 1L), (99L, 1L)).map { case (ok, pk) =>
      (ok, pk, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = Extended.q78Expectations(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "orders.totalprice_positive" -> ((5L, 1L)),
      "orders.status_domain" -> ((5L, 2L)), // 'X' and NULL
      "orders.orderkey_unique" -> ((5L, 1L)),
      "documents.text_min_50" -> ((4L, 1L)),
      "documents.lang_domain" -> ((4L, 1L)),
      "documents.nchars_consistent" -> ((4L, 1L)),
      "lineitem.orderkey_fk" -> ((3L, 2L))))
  }

  test("q78: the shipped tables pass every integrity rule; the length " +
      "expectation does real work") {
    val got = Extended.q78Expectations(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("orders.orderkey_unique") == 0L)
    assert(got("lineitem.orderkey_fk") == 0L)
    assert(got("documents.lang_domain") == 0L)
    assert(got("documents.text_min_50") > 0L,
      "expected at least one short doc in the synthetic corpus")
  }

  // -- q81 TWAP -----------------------------------------------------------------

  test("q81: time-weighted average matches the hand-computed integral; " +
      "single-event and zero-span users are excluded") {
    def ev(id: Long, user: Long, sec: Int, v: Double) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d"),
        user, "click", v, "{}")
    // user 1: v=1 for 10s then v=3 for 30s → (10 + 90) / 40 = 2.5; the
    // last event's value never enters (no following segment)
    val rows = Seq(
      ev(1L, 1L, 0, 1.0), ev(2L, 1L, 10, 3.0), ev(3L, 1L, 40, 99.0),
      ev(4L, 2L, 5, 7.0), // single event — no segment
      ev(5L, 3L, 8, 1.0), ev(6L, 3L, 8, 2.0)) // zero span
    val df = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft_twap").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Extended.q81Twap(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got == Map(1L -> ((2L, 40L, 2.5))))
  }

  // -- t24 tokenizer fertility -------------------------------------------------

  test("t24: per-language ratios recompute exactly from the t16 per-doc " +
      "counts, and fertility is non-degenerate across languages") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perDoc = graft.llm.TextAnalysis.bpeTokenCounts(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.replaceAll("\\s+", "").length.toLong))
    val expect = docs.filter(d => perDoc.contains(d._1)).groupBy(_._2)
      .map { case (lang, g) =>
        val (w, b) = (g.map(d => perDoc(d._1)._1).sum,
          g.map(d => perDoc(d._1)._2).sum)
        val nc = g.map(_._3).sum
        lang -> ((g.length.toLong, w, b, nc,
          r6(b.toDouble / w), r6(nc.toDouble / b)))
      }
    val got = graft.llm.TextAnalysis.bpeFertility(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(got == expect)
    // the audit does real work: languages don't all share one ratio
    assert(got.values.map(_._5).toSet.size > 1,
      "fertility identical across languages — fixture degenerate")
  }

  // -- q79 entity resolution --------------------------------------------------

  test("q79: typo clusters resolve transitively to the min id, blocking " +
      "respects nations, and clean singletons stay their own entity") {
    // chain: smith → smyth → smythe (no direct smith↔smythe edge,
    // distance 2 — only the transitive closure links them); jon/john
    // (insertion); same name in ANOTHER nation must NOT merge
    val rows = Seq(
      (10L, "smith", 1), (11L, "smyth", 1), (12L, "smythe", 1),
      (20L, "jon", 2), (21L, "john", 2),
      (30L, "smith", 3), // same name, different nation — no merge
      (40L, "zu", 1)) // singleton
    val df = rows.toDF("id", "nm", "nat")
    val got = Extended.entityResolutionOf(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L) == ((10L, 3L)) && got(11L) == ((10L, 3L)) &&
      got(12L) == ((10L, 3L)), s"typo chain: $got")
    assert(got(20L) == ((20L, 2L)) && got(21L) == ((20L, 2L)))
    assert(got(30L) == ((30L, 1L)), "cross-nation merge leaked")
    assert(got(40L) == ((40L, 1L)))
  }

  test("q79: the variant blocking is complete — engine pairs equal the " +
      "brute lev<=1 pairs on the real table") {
    val c = graft.core.Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_nationkey").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // brute entity ids via union-find over the same match rule
    val parent = scala.collection.mutable.Map(c.map(x => x._1 -> x._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for {
      (ia, na, ta) <- c; (ib, nb, tb) <- c
      if ia < ib && ta == tb && lev(na, nb) <= 1
    } {
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = c.map(x => x._1 -> find(x._1)).toMap
    val got = Extended.q79EntityResolution(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(expect.values.toSet.size < c.length,
      "fixture degenerate: no multi-member entity on the real table")
  }

  // -- t23 PMI ---------------------------------------------------------------

  test("t23: a pure collocation scores its analytic PMI, a mixed-context " +
      "pair scores lower, and sub-floor pairs are dropped") {
    // 'xx yy' only ever co-occur; 'aa' splits between 'bb' and 'cc',
    // halving its pairs' PMI; 'zz ww' appears once (below the floor)
    val docs =
      (0 until 12).map(i => (i.toLong, "en", "xx yy")) ++
        (12 until 24).map(i => (i.toLong, "en", "aa bb")) ++
        (24 until 36).map(i => (i.toLong, "en", "aa cc")) ++
        Seq((36L, "en", "zz ww"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_pmi").toString
    docs.toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val got = graft.llm.TextAnalysis.pmiCollocations(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val n = 74.0 // 37 two-token docs
    def pmi6(cxy: Long, cx: Long, cy: Long): Double =
      BigDecimal(math.log(n * cxy / (cx.toDouble * cy)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("xx", "yy")) == ((12L, pmi6(12, 12, 12))))
    assert(got(("aa", "bb")) == ((12L, pmi6(12, 24, 12))))
    assert(got(("xx", "yy"))._2 > got(("aa", "bb"))._2)
    assert(!got.contains(("zz", "ww")))
  }

  test("q82 two-pass rank twin reproduces q80's window family " +
      "row-for-row, with no corpus-sized window partition") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .map(r => r.toSeq.toList).toSet
    assert(rows("q82_rank_twopass") == rows("q80_rank_family"))
    // the scale claim: every Window in q82's plan partitions by
    // (status, bin) or runs over the B-row offsets table — the plan
    // must never window-partition by o_orderstatus alone
    val p = graft.queries.Extended.q82RankTwoPass(spark, sfDir)
      .queryExecution.executedPlan.toString
    val windowSpecs = p.linesIterator
      .filter(l => l.contains("Window") && l.contains("partition"))
      .toSeq
    assert(windowSpecs.forall(l =>
      l.contains("bin") || !l.contains("o_totalprice")),
      s"corpus-sized window partition leaked back:\n${windowSpecs.mkString("\n")}")
  }
}
