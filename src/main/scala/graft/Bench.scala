package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Suite timing: one median per query plus the plan fingerprint and
  * ANN recall of each run, as two JSON lines (detail, then summary).
  *
  * Usage: Bench [queryRegex]. `SPARK_GRAFT_SF_DIR` selects the data
  * directory and `SPARK_GRAFT_BENCH_RUNS` the runs per query. An
  * unfiltered run writes `BENCH_DETAIL.json` (the detail line) and
  * `BENCH_SELF.json` (both lines) in the working directory and diffs
  * its fingerprints against the `BENCH_DETAIL.json` found there.
  */
object Bench {
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("file:[^\\],\\s)]+", "file:")
    // DSL higher-order functions name their variables from a
    // JVM-global counter ("lambda x_5"), so a HOF query's plan text
    // depends on how many lambdas earlier queries created
    .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_")
    // JVM lambda object identity (mapPartitions closures print as
    // "Lambda$2589/0x7fe0...@6e4ac3f5") — fresh per JVM by nature
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+(@[0-9a-f]+)?", "Lambda\\$")
    // Scala object identity (t19–t22's typed aggregators print as
    // "CmsAggregator$@1aa21319") — also fresh per JVM
    .replaceAll("\\$@[0-9a-f]+", "\\$@")
    .replaceAll("QueryStage \\d+", "QueryStage") // stage ids are volatile

  /** Per-query isolation, OUTSIDE any timed region. A query's scratch
    * persists and temp dirs are released by its own `core.Scope`; what
    * is left is the state a lazy result still reads (the
    * localCheckpoint blocks of d8, c8, s4, …), otherwise reclaimed only
    * when driver GC lets ContextCleaner notice. In a long suite those
    * dead blocks pile up and inflate everything that runs after them,
    * so unpersist every leftover persistent RDD and nudge GC.
    */
  def releaseState(spark: SparkSession): Unit = {
    // covers explicit persists, localCheckpoints, AND materialized
    // CacheManager entries — all register their RDD here
    val stray = spark.sparkContext.getPersistentRDDs.values
    val hadState = stray.nonEmpty
    spark.catalog.clearCache()
    stray.foreach(r => try r.unpersist(blocking = true)
      catch { case _: Throwable => () })
    // GC only when something was actually released — most queries
    // leave nothing, and ~4 forced GCs per query would otherwise
    // dominate the suite's wall-clock without changing any timing
    if (hadState) System.gc()
  }

  /** Builds `query` and runs it into the `noop` sink, which computes
    * every column of every row; returns the wall seconds of both. A
    * `count()` lets the optimizer prune columns, and with them joins
    * that only feed those columns (q54's final `deg ⋈ contribs`). The
    * one consume rule of Bench, ScaleSoak and Probe; a query that
    * throws is not timed.
    */
  def consume(query: => DataFrame): Double = {
    val t0 = System.nanoTime()
    query.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Times the queries whose names match `selected` (every query when
    * None), `runs` runs each, and returns (detail, summary) JSON lines.
    * A query that throws gets no median: its name and message go under
    * the detail line's `failed` key. Reads `BENCH_DETAIL.json` from the
    * working directory as the fingerprint baseline; writes no file.
    */
  def run(spark: SparkSession, sfDir: String, selected: Option[String],
      runs: Int): (String, String) = {
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // absorb session warmup (codegen, scheduler, parquet footer reads)
    // so the first timed query isn't charged for it
    val warmupSec = timed(spark.range(1000000L).selectExpr("sum(id)").collect())
    graft.core.Tables.all.foreach(t =>
      try graft.core.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () })
    val queries = selected match {
      case Some(re) => SparkEntry.queries.filter(_._1.matches(re))
      case None     => SparkEntry.queries
    }
    def md5_12(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // plan fingerprint: md5 of the FINAL physical plan AFTER this
    // QueryExecution actually ran, with the AdaptiveSparkPlanExec
    // wrapper unwrapped — so a runtime AQE re-plan (a demoted
    // broadcast, a skew split) flips the fingerprint. Runs outside the
    // timed region.
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val fps = scala.collection.mutable.Map[String, String]()
    // Suite order: light families (q/t/s/m) first, then the d and c
    // heavies — the queries that checkpoint, replay CDC sinks, or run
    // multi-minute joins age the JVM (code cache, GC debris) in ways
    // releaseState can't fully undo, and round-10 showed ~1.4× drift
    // across the LIGHT queries that happened to run after them.
    // Alphabetical within a family keeps per-family round-over-round
    // comparability.
    def familyRank(n: String): Int =
      if (n.startsWith("d")) 1 else if (n.startsWith("c")) 2 else 0
    val failed = scala.collection.mutable.Map[String, String]()
    val results = queries.toSeq
      .sortBy { case (name, _) => (familyRank(name), name) }
      .flatMap { case (name, fn) =>
      releaseState(spark)
      // blocks a run left behind never bill the next
      val timesRaw = try (1 to runs).map { _ =>
        try consume(fn(spark, sfDir)) finally releaseState(spark)
      } catch { case e: Throwable =>
        failed(name) = String.valueOf(e).take(400)
        Seq.empty
      }
      // A filtered run in a fresh JVM is JIT/codegen-cold for its
      // first runs (r12: c8's 5-run whole-sample median landed on a
      // half-compiled run, 11.0 s vs 5.9 s in-suite), so with >= 5
      // runs it records the median of the last 3 chronological runs —
      // the standard warm-measurement window. An unfiltered suite is
      // already warm: discarding its first runs would silently change
      // the estimator.
      val times =
        (if (selected.nonEmpty && runs >= 5) timesRaw.takeRight(3)
         else timesRaw).sorted
      try {
        val qe = fn(spark, sfDir).queryExecution
        // execute THIS QueryExecution (count() would plan a separate
        // one) so AQE finalizes the plan we hash
        qe.toRdd.foreachPartition(_ => ())
        fps(name) = md5_12(normalize(unwrap(qe.executedPlan).toString))
      } catch { case _: Throwable => fps(name) = "error" }
      releaseState(spark)
      times.lift(times.size / 2).map(name -> _)
    }.toMap
    // ANN quality, machine-tracked like timing and plans. Truth is
    // chosen per query for a MEANINGFUL number: s4 (KMeans IVF) and s6
    // (hyperplane LSH) recall against the exact brute-force top-k —
    // these measure the index's bucketing quality (low on this
    // synthetic corpus by documented design: it is near-random in
    // cosine, see Similarity.knnIvfKmeans). s7 (int8 ADC) measures
    // QUANTIZATION fidelity, so its truth is s2 — the identical
    // cell-probed search at fp32 — not global brute (vs brute it would
    // just re-measure the cell blocking s2 already embodies).
    // s4's queries-map face is its envelope VERDICT row (r13) — the
    // recall gate needs the raw ANN pairs, so it reads the operator
    // directly; every other ANN query's registered face IS its pairs.
    val annPairFns: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "s4_knn_ivf_kmeans" ->
        ((s: SparkSession, d: String) => graft.llm.Similarity.knnIvfKmeans(s, d)))
    def pairs(name: String): Set[(Long, Long)] =
      annPairFns.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annTruth = Map(
      "s4_knn_ivf_kmeans" -> (5, "s1_knn_brute"),
      "s6_knn_lsh" -> (3, "s1_knn_brute"),
      // s13 reranks the JL-sketch top-10% exactly — 0.80 measured at
      // sf0.1, i.e. s6's recall band at 2/3 of its candidate budget
      "s13_knn_jl" -> (3, "s1_knn_brute"),
      "s7_knn_int8" -> (3, "s2_knn_ivf"),
      // s10 ranks the WHOLE corpus from 96-bit codes then reranks the
      // ADC top-50 exactly — recall is a real quality claim (0.91
      // measured at sf0.1), floored below
      "s10_knn_pq" -> (5, "s1_knn_brute"),
      // s11 composes coarse probing with residual PQ + exact refine;
      // r13's 2-way multiple assignment (Similarity.IvfPqAssign)
      // removes the single-assign probe ceiling, so recall trades
      // only against the IvfPqRerank refine budget — floor raised
      // 0.6 → 0.8 (VERDICT r12 ask #3)
      "s11_knn_ivfpq" -> (5, "s1_knn_brute"))
    // machine-checked quality gate: an ANN query whose recall slides
    // below its declared floor is FLAGGED in the artifact (and pinned
    // harder, on the fixture corpus, in LlmSpec) — correctness hashes
    // can't see answer quality, so the bench artifact must
    val recallFloors = Map(
      "s4_knn_ivf_kmeans" -> 0.9,
      // r14: the 128-bit signature reads 0.967 at sf0.1 — floor raised
      // past the 0.85 bar the other ANN tiers clear (VERDICT r13 #4)
      "s6_knn_lsh" -> 0.85,
      // r15: 56-dim JL sketch at a 0.12 budget reads 0.950 at sf0.1
      // (was 0.883 at 48d/0.10) — floor raised to the family bar
      "s13_knn_jl" -> 0.85,
      "s7_knn_int8" -> 0.95,
      "s10_knn_pq" -> 0.8,
      "s11_knn_ivfpq" -> 0.8)
    val anns = queries.keySet.intersect(annTruth.keySet)
    val recalls: Map[String, Double] =
      if (anns.isEmpty) Map.empty
      else try {
        val brute = SparkEntry.queries("s1_knn_brute")(spark, sfDir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
        anns.toSeq.sorted.map { name =>
          val (k, truthQ) = annTruth(name)
          val t =
            if (truthQ == "s1_knn_brute")
              brute.filter(_._3 <= k).map(x => (x._1, x._2)).toSet
            else pairs(truthQ)
          val got = pairs(name)
          releaseState(spark)
          name -> (math.round(t.intersect(got).size.toDouble / t.size * 1000) / 1000.0)
        }.toMap
      } catch { case _: Throwable => Map.empty }
    // Filtered-ANN recall vs predicate selectivity (VERDICT r13 ask
    // #8): the s22 gated query pins ONE selectivity (the label
    // predicate); this sweeps 1% → 50% so a recall cliff under
    // selective predicates is visible in the artifact. Keys are the
    // selectivities, values mean recall@3 of the s20 discipline
    // against exact-within-subset truth.
    val filteredSweep: Map[String, Double] =
      if (selected.nonEmpty || !queries.contains("s20_knn_filtered_lsh"))
        Map.empty // filtered runs never re-run the sweep
      else try {
        Seq(100, 20, 10, 4, 2).map { m =>
          val r = graft.llm.Similarity.filteredRecallAt(spark, sfDir, m)
          releaseState(spark)
          ("%.2f".format(1.0 / m)) -> r
        }.toMap
      } catch { case _: Throwable => Map.empty }
    // fingerprint drift gate: diff against the `plans` of the
    // BENCH_DETAIL.json sidecar in the working directory.
    // Fingerprints depend on data scale (AQE decisions, repartition
    // counts embed in plan text), so a baseline from a DIFFERENT sf
    // would flag every query as drifted. The sidecar declares its sf;
    // a mismatched one is ignored rather than diffed against.
    def canonSf(raw: String): String =
      raw.trim.replaceAll(".*sf", "").replaceAll("[/\"]+$", "")
    val detailPrev: Map[String, String] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("BENCH_DETAIL.json"))
        val baseSf = "\"sf\"\\s*:\\s*\"?([^\",}]+)".r.findFirstMatchIn(txt)
          .map(m => canonSf(m.group(1)))
        val plansObj = "\"plans\":\\{([^}]*)\\}".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
        if (!baseSf.contains(canonSf(sfDir))) Map.empty
        else "\"([a-zA-Z0-9_]+)\":\"([0-9a-f]{12}|error)\"".r
          .findAllMatchIn(plansObj).map(m => m.group(1) -> m.group(2)).toMap
      } catch { case _: Throwable => Map.empty }
    val changed = fps.keySet.toSeq.sorted.filter { n =>
      detailPrev.get(n).exists(_ != fps(n))
    }
    def jmap(m: Map[String, String], quote: Boolean): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + (if (quote) "\"" + v + "\"" else v)
      }.mkString("{", ",", "}")
    def jlist(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def f3(d: Double): String = "%.3f".format(d)
    val recallFailures = recalls.toSeq.sorted.collect {
      case (n, r) if recallFloors.get(n).exists(r < _) => n }
    if (recallFailures.nonEmpty)
      System.err.println(s"[bench] RECALL FLOOR FAILURES: " +
        recallFailures.map(n => s"$n=${recalls(n)}<${recallFloors(n)}")
          .mkString(", "))
    def nums(m: Map[String, Double]): String =
      jmap(m.map { case (k, v) => k -> v.toString }, quote = false)
    val base = if (detailPrev.nonEmpty) "BENCH_DETAIL.json" else "none"
    val detail =
      s"""{"fp_method":"aqe-final-v2","sf":"$sfDir",""" +
        s""""plans_changed":${jlist(changed)},"plans_changed_base":"$base",""" +
        s""""recall":${nums(recalls)},""" +
        s""""recall_floors":${nums(recallFloors.filter(f => anns.contains(f._1)))},""" +
        s""""recall_failures":${jlist(recallFailures)},""" +
        s""""failed":${jmap(failed.toMap.map { case (k, v) => k -> json.writeValueAsString(v) }, quote = false)},""" +
        s""""filtered_recall_sweep":${nums(filteredSweep)},""" +
        s""""plans":${jmap(fps.toMap, quote = true)}}"""
    val qs = jmap(results.map { case (k, v) => k -> f3(v) }, quote = false)
    val summary =
      s"""{"metric":"total","value":${f3(results.values.sum)},"unit":"sec",""" +
        s""""bench_schema":"v4-in-suite-median","sf":"$sfDir",""" +
        s""""warmup_sec":${f3(warmupSec)},"queries":$qs}"""
    (detail, summary)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Session.cpus
    val spark = graft.core.Session.builder(s"local[$cpus]", cpus)
      // Plan-fingerprint stability: simpleString TRUNCATES long
      // metadata (DataFilters, PushedFilters) at 100 chars, and the
      // truncation point depends on how many DIGITS the plan's
      // expression ids carry — ids grow with the number of queries
      // the JVM has planned, so the same query fingerprinted after
      // 100 suite queries hashed differently than fingerprinted
      // alone (#1234 vs #123456 shifts where "..." lands BEFORE the
      // id normalization strips them). Untruncated metadata + id
      // stripping makes the hash a pure function of the plan.
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.sql.debug.maxToStringFields", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // median of 3 runs per query: a single load spike on the box can't
    // distort the round-over-round comparison
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional arg: regex over query names, for a standalone number of
    // a few queries in a fresh JVM (no arg = the full suite)
    val (detail, summary) = run(spark, sfDir, args.headOption, runs)
    // Only an UNFILTERED run may replace the sidecars: a regex-filtered
    // probe would shrink the committed baseline to its few queries.
    // BENCH_SELF.json holds both lines, so the record survives however
    // much of stdout a caller keeps.
    if (args.isEmpty)
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_DETAIL.json"), detail + "\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_SELF.json"),
          s"""{"summary":$summary,"detail":$detail}""" + "\n")
      } catch { case _: Throwable => () }
    // the detail line (plans are ~3 KB alone) prints FIRST, the ONE
    // summary line prints LAST, for readers that keep only a tail
    println(detail)
    println(summary)
    spark.stop()
  }
}
