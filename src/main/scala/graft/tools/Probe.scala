package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc profiling entry: run one registered query N times against a
  * testdata dir, print count + wall time per run and every driver-tier
  * decision the query makes. Usage:
  *   tools/run_class.sh graft.tools.Probe <sfDir> <queryName> [runs]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = (args(0), args(1))
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // every driver-tier decision (site, row count, limit, tier)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.core.DriverTier", org.apache.logging.log4j.Level.INFO)
    // internal probe targets beyond the public query map
    def state(s: SparkSession, d: String) = {
      graft.llm.Dedup.apssState(graft.core.Tables.load(s, d, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.lower(
              org.apache.spark.sql.functions.trim(
                org.apache.spark.sql.functions.col("text"))), "\\s+").as("t")))
    }
    val extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      // c1 stage split (r16): the scored projection alone vs +filter
      "c1_scored" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        graft.llm.Dedup.spreadIfNarrow(
            graft.core.Tables.load(s, d, "documents"))
          .select(col("doc_id"), col("lang"),
            split(trim(col("text")), "\\s+").as("t"),
            md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
              .as("fp"))
      }),
      "d16_state" -> (state _),
      "d16_candidates" -> ((s, d) =>
        graft.llm.Dedup.apssSketchCandidates(state(s, d))),
      "d16_raw" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        val rv = graft.llm.Dedup.apssSketchVectors(state(s, d))
        rv.select(col("doc_id"), posexplode(col("bks")))
          .toDF("doc_id", "band_idx", "band_key")
          .groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("m"))
          .agg(sum(col("m") * (col("m") - 1) / 2).as("raw_pairs"),
            max(col("m")).as("max_bucket"))
      }),
      "d16_groups" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        val g = graft.llm.Dedup.apssSketchVectors(state(s, d))
          .groupBy("bks").agg(count(lit(1)).as("m"))
        g.groupBy("m").agg(count(lit(1)).as("n_groups"),
          (count(lit(1)) * col("m") * (col("m") - 1) / 2).as("intra_pairs"))
          .orderBy(desc("m"))
      }),
      // d8 edge-generation split: the three near-dup detectors feeding
      // dedupEdgesOf, individually timeable (r15 optimization round)
      "d8_edges_minhash" -> ((s, d) =>
        graft.llm.Dedup.minhashCandidatesFrom(
          graft.llm.Dedup.shingleSets(s, d))),
      "d8_edges_simhash" -> ((s, d) =>
        graft.llm.Dedup.simhashPairs(s, d)),
      "d8_edges_chargram" -> ((s, d) =>
        graft.llm.Dedup.candidatesFromSigs(
          graft.llm.Dedup.signaturesFromHashed(
            graft.llm.Dedup.charShingleHashes(s, d),
            graft.llm.Dedup.CharSampleMod))),
      "d8_edges_all" -> ((s, d) =>
        graft.llm.Dedup.dedupEdgesOf(
          graft.core.Tables.load(s, d, "documents"))),
      // graph-family edge-construction split (r15): how much of each
      // iterative graph query is the relational edge build
      // d11 candidate stage alone (r16): prefix-filter candidates over
      // the persisted shingle table, without the verify joins
      "d11_candidates" -> ((s, d) => {
        val sh = graft.llm.Dedup.shingleSets(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.llm.Dedup.setSimCandidatesOf(sh, 0.8)
      }),
      // q63 tier adjudication (r16, VERDICT r15 #1/#2): same query,
      // forced driver tier vs forced distributed wedge join
      "q63_driver" -> ((s, d) => graft.queries.Extended.trianglesOf(
        graft.queries.Extended.copurchaseEdges(s, d),
        driverMaxEdges = Long.MaxValue)),
      "q63_dist" -> ((s, d) => graft.queries.Extended.trianglesOf(
        graft.queries.Extended.copurchaseEdges(s, d),
        driverMaxEdges = -1L)),
      "q63_edges" -> ((s, d) =>
        graft.queries.Extended.copurchaseEdges(s, d)),
      "q54_edges" -> ((s, d) => graft.queries.Extended.tradeEdges(s, d)),
      "q71_edges" -> ((s, d) =>
        graft.queries.Extended.tradeEdges(s, d, minQty = Some(45))),
      // c8 stage-boundary timing: prints per-stage wall time through
      // the same eager-checkpoint boundary curateFull uses
      "c8_stages" -> ((s, d) => {
        var prev: Option[org.apache.spark.sql.DataFrame] = None
        var last = System.nanoTime()
        val out = graft.llm.Curation.curateFullStaged(s, d, 2000L,
          (name, df) => {
            val cp = df.localCheckpoint(true)
            prev.foreach(graft.core.Checkpoint.release)
            prev = Some(cp)
            val now = System.nanoTime()
            System.err.println(
              f"[c8stage] $name: ${(now - last) / 1e9}%.2f s")
            last = now
            cp
          })
        val n = out.count()
        System.err.println(
          f"[c8stage] e_pack: ${(System.nanoTime() - last) / 1e9}%.2f s ($n rows)")
        out
      }))
    val fn = extra.getOrElse(name, graft.SparkEntry.queries(name))
    // PROBE_NOOP=1: time through the noop sink (guide §1.4 — computes
    // every column of every row, so projection-only subplans are not
    // pruned away like count() would)
    val noop = sys.env.get("PROBE_NOOP").contains("1")
    // PROBE_EXPLAIN=1: print the formatted plan once before timing —
    // for probe-only targets the Explain tool can't reach
    if (sys.env.get("PROBE_EXPLAIN").contains("1"))
      fn(spark, sfDir).explain("formatted")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = if (noop) {
        df.write.format("noop").mode("overwrite").save(); -1L
      } else df.count()
      println(f"[probe] $name run $i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (n >= 0 && n <= 20) df.show(20, false)
    }
    spark.stop()
  }
}
