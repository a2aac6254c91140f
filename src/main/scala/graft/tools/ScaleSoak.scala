package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Session, Tables}

/** sf1 scaling soak (VERDICT r12 ask #8): turns the "plans you'd want
  * at 100×" argument from plan-shape pins into a MEASURED scaling
  * curve for the heavy family. The driver ships no sf1 testdata, so
  * the soak corpus is derived from sf0.1 by `factor`-way replication
  * with deterministic perturbation:
  *
  *  - `documents`: replica i offsets doc_id by i·stride and appends
  *    " r<i>" to the text (replica 0 is the original) — every replica
  *    is a DISTINCT document to the fingerprint/shingle/LSH paths, so
  *    dedup work scales ~linearly instead of collapsing to (or
  *    exploding on) 10 exact copies of everything. Null-text docs
  *    stay null (concat propagates), preserving that edge population.
  *  - `events`: replica i offsets event_id and user_id — 10× the
  *    users, same per-user stream shape, which is how an event log
  *    actually grows.
  *  - `customer` (q79's input): replica i offsets c_custkey and tags
  *    c_name with " r<i>" — distinct names, so the deletion-variant
  *    blocking does 10× the real work instead of rescanning copies.
  *  - every other table copies through verbatim (the heavy six don't
  *    read them; the copy keeps `Tables.all` warmup working).
  *
  * This corpus exists ONLY for the scaling measurement — correctness
  * stays gated on the shipped testdata. Output, relative to the
  * working directory: soak parquet under target/ plus
  * `BENCH_SF1.json` with per-query sf0.1 vs soak medians and the
  * observed scaling factor (data is `factor`× — a healthy plan lands
  * ≈ factor, a super-linear blowup lands far above).
  *
  * Usage: ScaleSoak [baseDir] [outDir] [factor] [queryRegex]
  */
object ScaleSoak {

  /** The queries the verdict named for the soak: the r12 heavy six
    * plus (r13 ask #6) the ANN family (s4/s6/s10/s11 over the
    * replicated embeddings) and the event family (q57/q91/q92 over
    * the replicated log).
    */
  val DefaultHeavy = Seq("c8_curate_full", "c19_attrition",
    "d9_dedup_apply", "d16_apss_sketch", "q79_entity_resolution",
    "q61_cdc_scd2",
    "s4_knn_ivf_kmeans", "s6_knn_lsh", "s10_knn_pq", "s11_knn_ivfpq",
    "q57_funnel", "q91_funnel_timing", "q92_transitions",
    // r15 (VERDICT r14 #5): the decontamination/curation tail that
    // was sentinel-flagged and clean-substituted in r14 — the whole
    // flagged family now has a measured scale factor
    "c9_decontaminate_bloom", "d14_split_leakfree", "d12_dup_spans")

  def buildCorpus(s: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val reps = s.range(factor.toLong).select(col("id").as("rep"))
    val docs = Tables.load(s, baseDir, "documents")
    val docStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    docs.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("rep") * docStride)
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"), col("rep"))))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val ev = Tables.load(s, baseDir, "events")
    val evStride = ev.agg(max(col("event_id"))).head().getLong(0) + 1L
    val userStride = ev.agg(max(col("user_id"))).head().getLong(0) + 1L
    ev.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * evStride)
      .withColumn("user_id", col("user_id") + col("rep") * userStride)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // embeddings: replica i offsets vec_id and nudges every replica
    // vector by a DIRECTION-CHANGING deterministic perturbation
    // (alternating-sign epsilon, scaled by rep) — replicas are
    // distinct points in unit-cosine space, so the ANN soak ranks a
    // genuinely `factor`×-denser corpus instead of re-ranking exact
    // copies (a pure rescale would be invisible to the normalized
    // paths). Queries stay vec_id < 20 (replica 0 = original), so
    // query count is fixed while the corpus grows — the production
    // shape of an index scaling up.
    val embT = Tables.load(s, baseDir, "embeddings")
    val embStride = embT.agg(max(col("vec_id"))).head().getLong(0) + 1L
    embT.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("rep") * embStride)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x.cast("double") +
            when(i % 2 === 0, 1.0).otherwise(-1.0)
              * col("rep").cast("double") * lit(0.003)).cast("float")))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val cust = Tables.load(s, baseDir, "customer")
    val custStride = cust.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    cust.crossJoin(reps)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * custStride)
      .withColumn("c_name",
        when(col("rep") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit(" r"), col("rep"))))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    Tables.all.filterNot(
      Set("documents", "events", "customer", "embeddings")).foreach { t =>
      Tables.load(s, baseDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/soak_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val regex = if (args.length > 3) args(3)
      else DefaultHeavy.mkString("^(", "|", ")$")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    buildCorpus(spark, baseDir, outDir, factor)

    def timeQuery(fn: (SparkSession, String) => DataFrame, dir: String,
        runs: Int): Seq[Double] =
      (1 to runs).map { _ =>
        graft.Bench.releaseState(spark)
        try graft.Bench.consume(fn(spark, dir))
        finally graft.Bench.releaseState(spark)
      }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    val selected = graft.SparkEntry.queries
      .filter(_._1.matches(regex)).toSeq.sortBy(_._1)
    val rows = selected.map { case (name, fn) =>
      // SYMMETRIC estimator on both sides (ADVICE r13): median of 3
      // for base AND soak — the old base-median vs soak-min asymmetry
      // systematically lowered the reported scale factor, the
      // direction that flattered the headline. The soak side's
      // codegen-cold first run falls out of its median naturally;
      // both run lists are emitted so min/median are both readable.
      val baseRuns = timeQuery(fn, baseDir, 3)
      val base = med(baseRuns)
      val soakRuns = timeQuery(fn, outDir, 3)
      val soak = med(soakRuns)
      val scale = if (base > 0) soak / base else Double.NaN
      System.err.println(
        f"[soak] $name base=$base%.2fs soak=$soak%.2fs (runs " +
          soakRuns.map(r => f"$r%.2f").mkString("[", ",", "]") +
          f") scale=$scale%.2f of ${factor}x data")
      (name, base, baseRuns, soak, soakRuns, scale)
    }
    def f3(d: Double): String = "%.3f".format(d)
    val rowJson: Map[String, String] =
      rows.map { case (n, b, bruns, sk, runs2, sc) =>
        // per-row factor: merged artifacts can carry rows measured
        // under different run configurations, so provenance must ride
        // on the row, not only the (current-run) header. "-noop": timed
        // by Bench.consume; rows tagged without it were timed by count()
        n -> (s""""base_sec":${f3(b)},"soak_sec":${f3(sk)},""" +
          s""""base_runs":[${bruns.map(f3).mkString(",")}],""" +
          s""""soak_runs":[${runs2.map(f3).mkString(",")}],""" +
          s""""estimator":"median-of-3-both-sides-noop",""" +
          s""""factor":$factor,"scale":${f3(sc)}""")
      }.toMap
    // A FILTERED run merges its rows into the existing artifact (in
    // the working directory) instead of shrinking it to the selected
    // queries (a regex probe used to clobber the committed full-set
    // file); the write is try-wrapped so a failed write can't kill the
    // stdout line that carries the same JSON.
    val artifactPath = java.nio.file.Paths.get("BENCH_SF1.json")
    val prevRows: Map[String, String] =
      try {
        val txt = java.nio.file.Files.readString(artifactPath)
        // tolerate pretty-printed files ("name": { ... } with spaces)
        "\"([a-zA-Z0-9_]+)\"\\s*:\\s*(\\{[^{}]*\\})".r.findAllMatchIn(txt)
          .map(m => m.group(1) ->
            m.group(2).stripPrefix("{").stripSuffix("}").trim)
          .toMap
      } catch { case _: Throwable => Map.empty }
    // Merge hygiene (ADVICE r14): rows whose query no longer exists
    // in SparkEntry (renamed/removed) drop on a FULL run (a filtered
    // probe keeps them — it can't know the full set was renamed).
    val fullRun = args.length <= 3
    val prevKept = (prevRows -- Seq("queries"))
      .filter { case (n, _) =>
        !fullRun || graft.SparkEntry.queries.contains(n) }
    val merged = prevKept ++ rowJson
    val json =
      s"""{"base_sf":"$baseDir","soak_factor":$factor,""" +
        s""""soak_dir":"$outDir","cpus":$cpus,"queries":{""" +
        merged.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":{$v}""" }.mkString(",") + "}}"
    try java.nio.file.Files.writeString(artifactPath, json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[soak] artifact write failed: ${e.getMessage}") }
    println(json)
    spark.stop()
  }
}
