package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.core.{Checkpoint, DriverTier, Rounds, Tables}
import TextAnalysis.hash60

/** Deduplication operators (SURVEY §4.3 north-star) over `documents`:
  * exact (hash group-by), MinHash+LSH candidate generation, exact
  * n-gram-Jaccard verification of candidates, and SimHash signatures.
  *
  * 100 TB design notes:
  *  - Exact dedup groups on a 128-bit content hash, never on the full
  *    text — the shuffle carries 32 bytes + doc_id per row instead of
  *    the document body.
  *  - MinHash/LSH is the scale path for near-dedup: signatures are
  *    computed scan-side (one pass, array lambdas inside codegen'd
  *    projections), then docs shuffle ONCE keyed by (band, band
  *    signature); candidate pairs form only inside equal-signature
  *    buckets — never an O(n²) cross join. Skewed buckets (boilerplate
  *    docs) are the known hazard; cap or salt oversized buckets before
  *    the pair join in production.
  *  - Jaccard verification joins shingle sets only for LSH candidates,
  *    so its cost is O(candidates), not O(n²).
  *
  * Cross-engine determinism: pure 64-bit integer arithmetic seeded by
  * the md5-derived [[TextAnalysis.hash60]]; products stay < 2^60 so
  * Spark and DuckDB (which errors on BIGINT overflow) compute the same
  * values.
  */
object Dedup {

  /** Modulus for the minhash permutation family: 2^31 - 1 (prime). */
  val M: Long = 2147483647L
  val NumHashes = 32
  val BandSize  = 4
  val NumBands: Int = NumHashes / BandSize

  /** Skew guard for the pair enumerators: buckets larger than this
    * (boilerplate/templated text) are star-linked — every member pairs
    * with the bucket's min doc_id only — instead of all-pairs
    * enumerated. Per-bucket work drops from O(B²) to O(B) while the
    * duplicate cluster stays connected (union-find over star edges
    * reaches every member), which is what dedup consumes the pairs
    * for. Buckets at or under the cap still enumerate exact pairs for
    * Jaccard verification.
    */
  val MaxBucket = 1000

  /** Mod-p sampling factor for char-gram signatures (d7). */
  val CharSampleMod = 4

  private def hashA(k: Int): Long = 12582917L * k + 7L
  private def hashB(k: Int): Long = 15485863L * k + 11L

  // -- d1: exact dedup -----------------------------------------------------
  /** Groups of byte-identical texts: content hash, representative
    * (min doc_id), and multiplicity.
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))

  // -- shared shingle machinery -------------------------------------------
  /** Spread a narrow scan across cores — but ONLY when the frame's
    * actual split count is below the session's parallelism (the
    * single-file test corpus). The hashing/shingling downstream is
    * CPU-bound, so a 1-split input would otherwise run serial; on a
    * real corpus (splits ≥ cores — always, at 100 TB) this is a
    * structural no-op and the text column never enters an exchange.
    * The split probe plans the frame without running a job. PlanSpec
    * pins both directions: the exchange appears for a 1-split input
    * and is ABSENT for an already-parallel one.
    */
  private[graft] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Distinct word-3-gram shingles per doc; docs under 3 tokens use the
    * whole trimmed text as their single shingle.
    */
  def shingleSetsOf(docs: DataFrame): DataFrame = {
    // Shingles come from the native word_ngrams kernel: one virtual
    // call per doc, dedupe inside, everything in codegen. (The earlier
    // HOF forms: per-element element_at re-runs the regex split per
    // token — CollapseProject inlines it — and even the zip-slices
    // transform pays an interpreted lambda per shingle.)
    val t = split(col("txt"), "\\s+")
    val n = size(t)
    spreadIfNarrow(docs)
      .select(col("doc_id"), trim(col("text")).as("txt"))
      .select(col("doc_id"),
        when(n >= 3, graft.functions.TextFunctions.wordNgrams(t, 3))
          .otherwise(array(col("txt"))).as("shingles"))
  }

  def shingleSets(s: SparkSession, dir: String): DataFrame =
    shingleSetsOf(Tables.load(s, dir, "documents"))

  /** MinHash signature: sig[k] = min over shingles of
    * (hashA(k) * (h60(shingle) mod M) + hashB(k)) mod M, k < 32.
    *
    * Computed as explode(shingle hashes) → groupBy(doc) with 32
    * codegen'd `min()` aggregates — the partial (map-side) aggregation
    * collapses each doc's shingles before any shuffle, and the whole
    * permutation arithmetic runs inside WholeStageCodegen. (The
    * higher-order `transform`/`array_min` form evaluates a boxed
    * lambda per shingle per hash — 32× slower at sf0.1.)
    */
  /** `sampleMod > 1` enables Broder-style mod-p shingle sampling:
    * only shingles with hv % p == 0 contribute to the signature. The
    * filter sits AFTER the one md5 but BEFORE the 32 permutations and
    * the shuffle, so permutation CPU and exchange volume drop ×p.
    * Hash-based selection is shift-invariant (unlike position
    * striding), so two near-dup docs keep the same sampled subset —
    * the standard density fix for char-n-gram shingling, whose
    * shingle count is per-character, not per-word.
    */
  def signaturesFrom(shingles: DataFrame, sampleMod: Int = 1): DataFrame = {
    signaturesFromHashed(
      shingles
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .select(col("doc_id"), (hash60(col("sh")) % M).as("hv")),
      sampleMod)
  }

  /** Signature aggregation over pre-hashed (doc_id, hv) rows. */
  def signaturesFromHashed(hashed: DataFrame, sampleMod: Int = 1): DataFrame = {
    val sampled =
      if (sampleMod > 1) hashed.filter(col("hv") % sampleMod === 0) else hashed
    val mins = (0 until NumHashes).map(k =>
      min((col("hv") * hashA(k) + hashB(k)) % M).as(s"m$k"))
    sampled.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  def signatures(s: SparkSession, dir: String): DataFrame =
    signaturesFrom(shingleSets(s, dir))

  /** Hashed character-5-gram shingles over case/whitespace-normalized
    * text, pre-exploded to (doc_id, hv) — the cross-lingual variant of
    * [[shingleSets]]: word shingles break on unsegmented scripts and
    * agglutinative morphology; char n-grams don't care.
    *
    * Built explode-first so the whole stage is codegen: a higher-order
    * `transform` lambda building a ~n_chars shingle array per doc is
    * interpreted per element (boxed call + UTF8String per position —
    * the dominant cost at char density), while explode(sequence) +
    * dynamic-position substring + md5_60 all stay inside
    * WholeStageCodegen. No array_distinct: MinHash of a multiset
    * equals MinHash of its set (min is idempotent to duplicates).
    * Docs under k chars get i = 1 only → the whole text, matching the
    * word form's fallback.
    */
  def charShingleHashesOf(docs: DataFrame, k: Int = 5): DataFrame = {
    spreadIfNarrow(docs)
      .select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("txt"))
      .select(col("doc_id"), col("txt"),
        explode(sequence(lit(1),
          greatest(char_length(col("txt")) - (k - 1), lit(1)))).as("i"))
      .select(col("doc_id"),
        (hash60(expr(s"substring(txt, i, $k)")) % M).as("hv"))
  }

  def charShingleHashes(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    charShingleHashesOf(Tables.load(s, dir, "documents"), k)

  /** LSH bands: (doc_id, band_idx, band_key) with band_key the
    * comma-joined 4-slice of the signature.
    */
  def bandsFrom(sigs: DataFrame): DataFrame = {
    val keys = (0 until NumBands).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws(",", (0 until BandSize).map(j => col(s"m${b * BandSize + j}")): _*)
          .as("band_key"))
    }
    sigs
      .select(col("doc_id"), explode(array(keys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
  }

  def bands(s: SparkSession, dir: String): DataFrame =
    bandsFrom(signaturesFrom(shingleSets(s, dir)))

  /** Enumerates within-bucket pairs from bucketed sorted doc lists,
    * with the [[MaxBucket]] skew guard: buckets over the cap keep only
    * the `pos == 0` anchor row, i.e. star edges (min doc_id, other) —
    * O(B) output per oversized bucket instead of O(B²).
    */
  /** `dedupe = false` skips the final distinct: a consumer that
    * re-dedups anyway (the CC edge union canonicalizes + distincts,
    * and union-find is duplicate-insensitive) should not pay an extra
    * exchange + two aggregate phases per detector (guide §2.4).
    */
  private def bucketPairs(buckets: DataFrame, maxBucket: Int,
      dedupe: Boolean = true): DataFrame = {
    val pairs = buckets
      .filter(size(col("ds")) > 1)
      .select(col("ds"), posexplode(col("ds")))
      .filter(size(col("ds")) <= maxBucket || col("pos") === 0)
      .select(col("pos"), col("col").as("doc_a"),
        explode(slice(col("ds"), col("pos") + 2, size(col("ds")))).as("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    if (dedupe) pairs.distinct() else pairs
  }

  // -- d2: MinHash LSH candidates -----------------------------------------
  /** Candidate near-dup pairs: docs sharing any (band, signature)
    * bucket. One shuffle keyed by the bucket; pairs enumerated from
    * each bucket's sorted doc list (a self-join would re-execute the
    * whole signature pipeline for both sides). Buckets over
    * `maxBucket` (boilerplate skew) are star-linked to their min
    * doc_id instead of all-pairs enumerated — see [[MaxBucket]].
    */
  def minhashCandidatesFrom(shingles: DataFrame,
      maxBucket: Int = MaxBucket, sampleMod: Int = 1,
      dedupe: Boolean = true): DataFrame =
    candidatesFromSigs(signaturesFrom(shingles, sampleMod), maxBucket,
      dedupe)

  def candidatesFromSigs(sigs: DataFrame,
      maxBucket: Int = MaxBucket, dedupe: Boolean = true): DataFrame =
    bucketPairs(
      bandsFrom(sigs)
        .groupBy("band_idx", "band_key")
        .agg(array_sort(collect_list(col("doc_id"))).as("ds")),
      maxBucket, dedupe)

  def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    minhashCandidatesFrom(shingleSets(s, dir))

  // -- d3: exact Jaccard verification of LSH candidates -------------------
  /** LSH candidates filtered by true shingle-set Jaccard >= 0.8 —
    * the verify stage of the standard near-dedup pipeline.
    *
    * The shingle subtree feeds the plan three times (signature
    * pipeline + both sides of the verify join), so it is persisted:
    * documents are scanned and shingled once, not three times —
    * at corpus scale that's the difference between one pass over the
    * text and three. (Spark's CacheManager dedupes by canonicalized
    * plan, so repeated calls share one cache entry.)
    */
  def jaccardVerify(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Eager: localCheckpoint materializes the (small, O(candidates))
    // verified-pair result so the corpus-sized shingle cache can be
    // RELEASED before returning — a library caller must not keep
    // paying pinned executor memory after the query completes. The
    // superseded checkpoint RDD is reclaimed by ContextCleaner when
    // the returned frame is garbage collected.
    try minhashCandidatesFrom(sh)
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa.shingles"), col("sb.shingles")))
          / size(array_union(col("sa.shingles"), col("sb.shingles"))).cast("double"),
          4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .localCheckpoint(true)
    finally sh.unpersist()
  }

  /** d18 — LSH health report: one row quantifying how well d2's
    * banding is tuned — candidate count, how many survive d3's exact
    * Jaccard ≥ 0.8 verify, the precision, and the mean candidate
    * Jaccard. This is the dedup family's evaluation harness (the s18
    * posture applied to MinHash instead of ANN): precision collapsing
    * says the band/row split drifted below the similarity threshold's
    * s-curve knee and the verify tier is eating wasted exact-Jaccard
    * work; a release pipeline tracks this number next to the recall
    * keys in BENCH_DETAIL. Same plan shape as d3 (candidates +
    * candidate-keyed shingle joins), reduced to a fixed-width
    * aggregate; the mean accumulates the 4-dp-rounded Jaccards in
    * DECIMAL so it is aggregation-order-proof.
    */
  def lshPrecision(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try minhashCandidatesFrom(sh)
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        round(size(array_intersect(col("sa.shingles"), col("sb.shingles")))
          / size(array_union(col("sa.shingles"), col("sb.shingles")))
            .cast("double"), 4).as("jaccard"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L))
          .cast(org.apache.spark.sql.types.LongType).as("n_verified"),
        sum(col("jaccard").cast("decimal(14,4)")).as("dj"),
        count(lit(1)).as("nc2"))
      .select(col("n_candidates"), col("n_verified"),
        round(col("dj").cast("double") / col("nc2").cast("double"), 6)
          .as("mean_jaccard"),
        round(col("n_verified").cast("double") /
          col("n_candidates").cast("double"), 6).as("precision"))
      .localCheckpoint(true)
    finally sh.unpersist()
  }

  /** d19 — cross-source redundancy map: d3's verified near-dup pairs
    * rolled up by the UNORDERED source pair — which feeds duplicate
    * each other, and how tightly. The map is what a curation owner
    * reads before c3/c21 mixing: a hot (crawlA, crawlB) cell means one
    * of them is largely a re-crawl and its weight is double-counting;
    * a hot diagonal cell means within-source boilerplate d9 will
    * collapse anyway. Cost is d3 plus two id-keyed joins of the
    * |sources|-wide doc→source projection (text never re-read) and a
    * ≤|sources|²-row aggregate; the mean Jaccard accumulates
    * DECIMAL-fixed (order-proof).
    */
  def crossSourceRedundancy(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    jaccardVerify(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jaccard").cast("decimal(14,4)")).as("dj"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        round(col("dj").cast("double") / col("n_pairs").cast("double"), 6)
          .as("mean_jaccard"))
  }

  /** Persists the corpus's hashed shingle SETS as a table bucketed by
    * doc_id — the artifact that removes d3's one remaining scale
    * liability (exact verify re-reads and re-shingles the text).
    * Stored per doc: the sorted distinct 60-bit shingle hashes (the
    * same `hash60 % M` domain the signatures minimize over), ~8 bytes
    * per shingle instead of the shingle string. Written once per
    * corpus build; see [[jaccardVerifyIndexed]] for the read side.
    */
  def writeShingleIndex(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit =
    writeShingleIndexOf(Tables.load(s, dir, "documents"), table, buckets)

  def writeShingleIndexOf(docs: DataFrame, table: String,
      buckets: Int = 8): Unit =
    graft.ops.Partitioning.writeBucketed(hsetsOf(docs), table, "doc_id",
      buckets)

  /** Per-doc sorted distinct 60-bit shingle hashes — the
    * [[writeShingleIndex]] row shape (doc_id, hset), factored out so
    * the streaming near-dup gate computes its batch side through the
    * exact code path the persisted index was built with.
    */
  def hsetsOf(docs: DataFrame): DataFrame = {
    shingleSetsOf(docs).select(col("doc_id"),
      array_sort(array_distinct(
        transform(col("shingles"), sh => hash60(sh) % M))).as("hset"))
  }

  /** Incremental twin of [[writeShingleIndex]]: a batch's hash sets
    * append into the bucketed layout via `insertInto` (which routes
    * rows through the table's existing bucket spec) — O(batch) work,
    * no index rebuild. At-least-once posture: replayed appends leave
    * duplicate (doc_id, hset) rows, harmless to the verify join's
    * semantics and reclaimed by a periodic distinct-rewrite, exactly
    * like [[IngestDedup.compactIndex]]'s contract.
    */
  def appendToShingleIndex(s: SparkSession, batch: DataFrame,
      table: String): Unit =
    hsetsOf(batch).write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto(table)

  /** Persists the d2 LSH BAND table — (band_idx, band_key, doc_id)
    * bucketed by band_key — the probe side of near-dup candidate
    * generation: an incoming batch's bands equi-join this layout in
    * place (bucket-pruned, no corpus re-shingling), exactly how d2
    * buckets candidates in the batch pipeline. Together with the
    * shingle index (the verify side) this is the full persisted state
    * of the standard MinHash near-dedup, so a streaming gate
    * ([[graft.streaming.IngestNearDup]]) runs candidate → verify →
    * admit at O(batch) cost per trigger.
    */
  def writeBandIndex(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit =
    writeBandIndexOf(Tables.load(s, dir, "documents"), table, buckets)

  def writeBandIndexOf(docs: DataFrame, table: String,
      buckets: Int = 8): Unit =
    graft.ops.Partitioning.writeBucketed(
      bandsFrom(signaturesFrom(shingleSetsOf(docs))),
      table, "band_key", buckets)

  /** O(batch) append into [[writeBandIndex]]'s layout (same
    * at-least-once / compaction contract as [[appendToShingleIndex]]).
    */
  def appendToBandIndex(s: SparkSession, batch: DataFrame,
      table: String): Unit =
    bandsFrom(signaturesFrom(shingleSetsOf(batch)))
      .select("doc_id", "band_idx", "band_key")
      .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(table)

  /** The full d3 pipeline (LSH candidates + exact Jaccard verify) run
    * ENTIRELY from the [[writeShingleIndex]] artifact — the text is
    * never read, and shingling never re-executed:
    *
    *  - signatures re-derive from the stored hashes with NO exchange:
    *    the bucketed scan already clusters by doc_id, explode preserves
    *    it, so the 32-min aggregate is map-side only;
    *  - exact Jaccard is |∩|/|∪| over the stored sorted hash sets —
    *    identical to the string-set Jaccard up to 60-bit collisions
    *    (per-pair collision odds ~|set|²/2⁶⁰);
    *  - both corpus-sized verify joins read the bucket layout in
    *    place; only the O(candidates) pair stream shuffles.
    *
    * This makes the exact path viable at 100 TB, not just the d10
    * sketch path — the remaining cost is inherent (candidate pairs ×
    * set intersection), not redundant text I/O. PartitioningSpec pins
    * result equality with [[jaccardVerify]] and the no-text plan.
    */
  def jaccardVerifyIndexed(s: SparkSession, table: String,
      threshold: Double = 0.8, maxBucket: Int = MaxBucket): DataFrame = {
    val sh = s.table(table)
    val cands = candidatesFromSigs(
      signaturesFromHashed(
        sh.select(col("doc_id"), explode(col("hset")).as("hv"))),
      maxBucket)
    cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa.hset"), col("sb.hset")))
          / size(array_union(col("sa.hset"), col("sb.hset"))).cast("double"),
          4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -- d10: sketch-based Jaccard estimation ---------------------------------
  /** Estimated Jaccard for every LSH candidate pair from signature
    * agreement alone: est = |{k : sig_a[k] = sig_b[k]}| / 32 (the
    * MinHash estimator — each permutation's minima collide with
    * probability exactly J).
    *
    * This is the verify stage a 100 TB pipeline actually runs: d3's
    * exact verify re-joins the corpus-sized SHINGLE SETS (a second full
    * pass over the text), while this joins the 32-long signature table
    * — ~256 bytes/doc, already materialized by candidate generation —
    * against the O(candidates) pair list. Text is read once, ever.
    * The ±1/32 quantization is the standard sketch-accuracy trade; d3
    * remains the exact path where the corpus is small enough to re-scan.
    */
  def jaccardEstimate(s: SparkSession, dir: String): DataFrame = {
    // one materialization feeds candidate generation AND both join
    // sides — without it the signature pipeline (scan+shingle+hash)
    // would execute three times. The O(candidates) result is then
    // checkpointed eagerly so the corpus-sized signature cache can be
    // RELEASED before returning (same hygiene as [[jaccardVerify]]).
    val sigs = signatures(s, dir).localCheckpoint(true)
    val matches = (0 until NumHashes).map(k =>
      when(col(s"sa.m$k") === col(s"sb.m$k"), 1).otherwise(0))
      .reduce(_ + _)
    try candidatesFromSigs(sigs)
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(matches.cast("double") / NumHashes, 4).as("jaccard_est"))
      .localCheckpoint(true)
    finally Checkpoint.release(sigs)
  }

  // -- d4: SimHash ---------------------------------------------------------
  /** 32-bit SimHash over term-frequency-weighted token hashes:
    * bit j is set iff sum over tokens of ±1 (sign of hash bit j) is
    * positive. Single scan + one groupBy(doc_id) with 32 conditional
    * sums — partial aggregation makes the shuffle O(docs), and the
    * whole map side stays in codegen.
    */
  def simhashOf(docs: DataFrame): DataFrame = {
    val toks = spreadIfNarrow(docs)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), hash60(col("tok")).as("hv"))
    val sums = (0 until 32).map(j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$j"))
    toks.groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.load(s, dir, "documents"))

  // -- d5: SimHash near-dup pairs ------------------------------------------
  /** Near-dup pairs by SimHash hamming distance <= 3, found without an
    * O(n²) compare: the 32-bit signature splits into 4 8-bit bands; by
    * pigeonhole any pair within hamming 3 shares at least one exact
    * band, so candidates come from equal-(band, byte) buckets — one
    * shuffle keyed by the band byte — then the exact hamming filter
    * (bit_count of xor) keeps true matches.
    */
  def simhashPairsOf(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = MaxBucket, dedupe: Boolean = true): DataFrame = {
    val sh = simhashOf(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 8).bitwiseAND(255)): _*)))
      .toDF("doc_id", "simhash", "band_idx", "band_byte")
    banded
      .groupBy("band_idx", "band_byte")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("ds"), posexplode(col("ds")))
      // same star-link skew guard as minhash: oversized (255 band
      // bytes are few) buckets keep only the min-doc anchor row
      .filter(size(col("ds")) <= maxBucket || col("pos") === 0)
      .select(col("col.doc_id").as("doc_a"), col("col.simhash").as("sig_a"),
        explode(slice(col("ds"), col("pos") + 2, size(col("ds")))).as("o"))
      .select(col("doc_a"), col("o.doc_id").as("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("o.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // dedupe = false for CC consumers — see [[bucketPairs]]
      .transform(df => if (dedupe) df.distinct() else df)
  }

  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 3,
      maxBucket: Int = MaxBucket): DataFrame =
    simhashPairsOf(Tables.load(s, dir, "documents"), maxHamming, maxBucket)

  // -- d6: incremental (ingest-time) dedup --------------------------------
  /** New-batch vs known-corpus dedup — the flow an accumulating
    * training corpus actually runs per ingest: canonical-fingerprint
    * anti-join against everything already stored, then within-batch
    * dedup keeping the smallest doc_id. Here the "new batch" is the
    * deterministic 20% slice doc_id % 5 = 4.
    *
    * Scale shape: both join sides reduce to (fp, doc_id) — the text
    * never shuffles. At 100 TB the known side is the persisted
    * fingerprint index, bucketed by fp at write time, so the anti-join
    * is zero-exchange on the corpus side and the per-ingest cost is
    * O(batch), not O(corpus) — that flow is [[writeFpIndex]] +
    * [[incrementalDedupIndexed]]; this in-query form recomputes the
    * known side only so the d6 oracle stays a pure SQL expression.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = canonicalFps(s, dir)
    dedupBatchAgainst(docs.filter(col("doc_id") % 5 === 4),
      docs.filter(col("doc_id") % 5 =!= 4))
  }

  /** Canonical (doc_id, fp) fingerprints over any (doc_id, text)
    * relation: md5 of whitespace-normalized lowercase text. Null texts
    * hash to a null fp; Spark's left_anti KEEPS null-key rows while
    * SQL NOT IN drops them (and empties entirely if any known fp is
    * null) — filter nulls on BOTH engines so the semantics agree by
    * construction. Shared by the batch d6 forms and the streaming
    * ingest flow so every ingest surface keys on the same fp.
    */
  def fingerprintsOf(docs: DataFrame): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    docs.select(col("doc_id"), md5(norm).as("fp"))
      .filter(col("fp").isNotNull)
  }

  private def canonicalFps(s: SparkSession, dir: String): DataFrame =
    fingerprintsOf(Tables.load(s, dir, "documents"))

  /** Shared d6 tail: fresh batch anti-joined against the known fps,
    * then within-batch dedup keeping the smallest doc_id. The window
    * re-clusters by fp, which the anti-join's output partitioning
    * already satisfies — one shuffle total on the batch side.
    */
  private def dedupBatchAgainst(fresh: DataFrame, known: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("fp").orderBy("doc_id")
    fresh.join(known.select("fp"), Seq("fp"), "left_anti")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("fp"))
  }

  /** Materializes the known-corpus fingerprint index as a table
    * BUCKETED by fp — the persisted layout the d6 scaladoc's 100 TB
    * posture presumes. Written once (or appended per accepted batch);
    * every later ingest reads it back with its bucket structure as
    * the join partitioning, so the corpus side of the anti-join needs
    * ZERO exchange — see [[incrementalDedupIndexed]].
    */
  def writeFpIndex(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit =
    graft.ops.Partitioning.writeBucketed(
      canonicalFps(s, dir).filter(col("doc_id") % 5 =!= 4).select("fp"),
      table, "fp", buckets)

  /** d6 against the persisted index from [[writeFpIndex]] instead of
    * an in-query recompute: same rows, but the corpus side is a
    * bucketed scan — the only shuffle in the plan is the fresh batch
    * being routed to the index's buckets, so per-ingest cost is
    * O(batch) with the corpus never rehashed, reshuffled, or even
    * rescanned beyond the fp column. PartitioningSpec pins both the
    * plan shape and result equality with [[incrementalDedup]].
    */
  def incrementalDedupIndexed(s: SparkSession, dir: String,
      table: String): DataFrame =
    dedupBatchAgainst(canonicalFps(s, dir).filter(col("doc_id") % 5 === 4),
      s.table(table))

  // -- d11: exact set-similarity join (prefix filtering) -------------------
  /** ALL pairs with shingle-set Jaccard >= `t`, found EXACTLY — the
    * deterministic-threshold complement to the MinHash family: LSH
    * (d2/d7) trades recall for speed probabilistically (a pair near
    * the threshold can miss every band), while prefix filtering
    * (AllPairs/PPJoin lineage — Bayardo et al., WWW'07) guarantees
    * completeness. The pigeonhole: under ANY global token order, a
    * set keeping only its first |s| - ceil(t·|s|) + 1 tokens (its
    * "prefix") must expose at least one token of every qualifying
    * pair's intersection — so candidates come from an EQUI-join on
    * prefix tokens, and the exact Jaccard verify keeps truth.
    *
    * Scale shape: three keyed shuffles build the candidate set
    * (global token frequencies; per-doc rank window; prefix-token
    * equi-join) — all on (hash, id) longs, never text. Ordering
    * tokens rarest-first is what makes the equi-join's buckets small:
    * a prefix token is by construction one of its doc's RAREST
    * tokens, so join groups are the frequency distribution's thin
    * tail, not its boilerplate head (the LSH family needs an explicit
    * star-link guard for exactly the skew this ordering avoids; an
    * exact join could not use one — dropping a bucket would drop
    * pairs). The length filter t·|a| <= |b| <= |a|/t prunes pairs no
    * Jaccard could qualify. Verification joins the O(candidates)
    * pair list back to the shingle sets, d3-style.
    *
    * Skew benchmark (DedupSkewSpec, 600 docs sharing a 60-token
    * boilerplate prefix over 20-token unique tails): the MinHash
    * band buckets flood on the shared content — 142,078 candidates,
    * all false — while this join's prefix keys land in the tails:
    * exactly the 20 true pairs, ~7000× fewer candidates, and faster
    * wall-clock (2.6 s vs 3.2 s at local[4]) despite exactness. The
    * structural caveat: the prefix is the (1-t)·|s| RAREST tokens, so
    * the avoidance holds while a doc's unique content exceeds that
    * length — boilerplate above ~t of the doc pushes common tokens
    * into the prefix and the flood returns (the spec pins both sides
    * of that boundary).
    */
  /** The prefix-filter candidate stage of [[setSimJoinOf]] over a
    * shingle-set frame — package-visible so the skew benchmark spec
    * can count candidates against the MinHash family's on the same
    * corpus.
    */
  private[graft] def setSimCandidatesOf(sh: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct hashed tokens per doc (shingle sets are already
    // distinct; hashing cannot split tokens, only — astronomically
    // rarely — merge them, which would only ADD a candidate pair for
    // the string-set verify to reject)
    val toks = sh
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), (hash60(col("sh")) % M).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("f"))
    // consistent global order: rarest first, hash as tiebreak
    val rankW = Window.partitionBy("doc_id").orderBy(col("f"), col("tok"))
    // NOT materialized (r16, measured): the self-join below reads the
    // prefix pipeline twice, but the duplicate subtrees run
    // CONCURRENTLY on idle cores at this scale, while an eager
    // checkpoint serializes the stages — fresh-JVM median 3.00 s
    // lazy vs 3.57 s checkpointed at sf0.1/local[32]
    val prefix = toks.join(freq, "tok")
      .withColumn("pos", row_number().over(rankW))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("pos") <= col("n") - ceil(col("n") * t) + 1)
      .select(col("tok"), col("doc_id"), col("n"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * t <= col("a.n") && col("a.n") * t <= col("b.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def setSimJoinOf(docs: DataFrame, t: Double = 0.8): DataFrame = {
    val sh = shingleSetsOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = setSimCandidatesOf(sh, t)
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa.shingles"), col("sb.shingles")))
          / size(array_union(col("sa.shingles"), col("sb.shingles")))
            .cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  def setSimJoin(s: SparkSession, dir: String): DataFrame =
    setSimJoinOf(Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text")))

  // -- d17: exact token-set containment join -------------------------------
  /** d17 — set-containment resolution over distinct-token
    * vocabularies (the set-containment join of the SSJoin literature,
    * e.g. Mamoulis VLDB'03): for every document whose token set is a
    * SUBSET of at least one other document's, the number of such
    * containers and the smallest container id. This is the
    * subsumption case Jaccard near-dup misses by construction — a
    * small doc swallowed whole by a much larger one has low Jaccard
    * (|A|/|B|) however complete the overlap.
    *
    * EXACT with single-key blocking: if A ⊆ B then B carries every
    * token of A — in particular A's globally RAREST token — so
    * pairing A only against the posting list of its rarest token
    * loses nothing, and candidate fanout is bounded by that token's
    * document frequency instead of |corpus| (the prefix-filter
    * argument collapsed to a length-1 prefix; Xiao et al.'s ordering
    * by ascending df is what makes the prefix rare). The rarest-token
    * election is a groupBy-min over (doc, token-hash, df) structs —
    * no window. Shuffles carry (long, long) rows; the full hashed
    * token arrays join in only for the O(candidates) subset verify,
    * and candidates are prefiltered first on narrow (size, 64-bit
    * signature) metadata — `sigA & ~sigB ≠ 0` PROVES non-containment
    * (every token of a subset sets a bit its container also sets), so
    * the signature drop is exact-safe at any scale and kills most of
    * the candidate stream before any array ships.
    *
    * REGIME-AWARE like d15: rarest-token blocking presumes a large
    * dictionary. On a tiny dictionary (≤ [[ContainDenseVocabMax]]
    * distinct tokens — the synthetic corpus, enum-like columns) every
    * token is common, the rarest posting list approaches |corpus|,
    * and the posting plan degenerates to ~n²/64 candidates that each
    * pay an array verify. But a dictionary that fits one machine word
    * makes containment pure 64-bit SET ALGEBRA: assign each vocab
    * token a bit, OR each doc's bits into one long, and A ⊆ B ⟺
    * `maskA & ~maskB = 0` — exact (one bit per distinct token, no
    * collisions), no posting lists, no arrays, one codegen long-op
    * per ordered pair. The regime probe is one O(1)-result aggregate
    * (a deployment reads it from catalog stats).
    *
    * Known hazard at 100 TB in the sparse regime: a head token that
    * is some doc's rarest (small-vocab shards) concentrates its
    * posting list — the [[MaxBucket]] cap/salt treatment applies to
    * the posting join.
    */
  def containmentJoin(s: SparkSession, dir: String): DataFrame =
    containmentJoinOf(spreadIfNarrow(Tables.load(s, dir, "documents")))

  /** Dictionaries at or under this size run containment as exact
    * single-long bitset algebra (see [[containmentJoin]]).
    */
  val ContainDenseVocabMax = 64L

  /** [[containmentJoin]] over an arbitrary (doc_id, text) frame — the
    * spec entry point for hand-built fixtures.
    */
  def containmentJoinOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_distinct(transform(
          TextAnalysis.tokens(lower(col("text"))), t => xxhash64(t)))
          .as("hs"))
      .withColumn("n", size(col("hs")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.select(explode(col("hs")).as("h"))
      .agg(countDistinct(col("h"))).head().getLong(0)
    val out = (if (vocab <= ContainDenseVocabMax) containDense(toks)
               else containSparse(toks))
      .localCheckpoint(true)
    toks.unpersist()
    out
  }

  /** Dense regime: exact bitset containment over a ≤ 64-token
    * dictionary. The vocab table is ≤ 64 rows (its window sort is on
    * pruning metadata, not data); the pair test is one AND-NOT per
    * ordered pair, broadcast like the d16 sketch join.
    */
  private[graft] def containDense(toks: DataFrame): DataFrame = {
    val w = Window.orderBy("h")
    val vocab = toks.select(explode(col("hs")).as("h")).distinct()
      .withColumn("bit", (row_number().over(w) - 1))
    val masks = toks.select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(vocab), "h")
      .groupBy("doc_id")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("m"))
    val cores = toks.sparkSession.sparkContext.defaultParallelism
    masks.select(col("doc_id").as("id_a"), col("m").as("ma"))
      .repartition(cores)
      .join(broadcast(masks.select(col("doc_id").as("id_b"),
          col("m").as("mb"))),
        col("id_a") =!= col("id_b") && expr("(ma & ~mb) = 0"))
      .groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_containers"),
        min(col("id_b")).as("min_container"))
  }

  /** Sparse regime: rarest-token blocking, then the (size, signature)
    * prefilter on narrow metadata, then the array subset verify on
    * what survives.
    */
  private[graft] def containSparse(toks: DataFrame): DataFrame = {
    val posts = toks.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = posts.groupBy("h").agg(count(lit(1)).as("df"))
    val rare = posts.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(min(struct(col("df"), col("h"))).as("m"))
      .select(col("doc_id").as("id_a"), col("m.h").as("rh"))
    val cand = rare.join(
        posts.select(col("doc_id").as("id_b"), col("h")),
        col("rh") === col("h") && col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    val meta = toks.select(col("doc_id"), col("n"),
      expr("aggregate(hs, CAST(0 AS BIGINT), (acc, x) -> " +
        "acc | shiftleft(CAST(1 AS BIGINT), CAST(pmod(x, 64) AS INT)))")
        .as("sig"))
    val survivors = cand
      .join(meta.select(col("doc_id").as("id_a"), col("n").as("na"),
        col("sig").as("sa")), "id_a")
      .join(meta.select(col("doc_id").as("id_b"), col("n").as("nb"),
        col("sig").as("sb")), "id_b")
      .filter(col("na") <= col("nb") && expr("(sa & ~sb) = 0"))
      .select("id_a", "id_b")
    survivors
      .join(toks.select(col("doc_id").as("id_a"), col("hs").as("hs_a")),
        "id_a")
      .join(toks.select(col("doc_id").as("id_b"), col("hs").as("hs_b")),
        "id_b")
      .filter(size(array_except(col("hs_a"), col("hs_b"))) === 0)
      .groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_containers"),
        min(col("id_b")).as("min_container"))
  }

  // -- d8: dedup cluster resolution ----------------------------------------
  /** Connected components over a symmetric-closed candidate edge list:
    * returns (id, cluster_id) with cluster_id = the component's min id.
    * This is the consumer the [[MaxBucket]] star-link guard presumes —
    * star edges keep an oversized bucket connected, and the component
    * min is exactly the doc a union-find would elect.
    *
    * Two tiers, cut over by [[graft.core.DriverTier]] on the RAW
    * (src, dst) row count of the checkpointed input — duplicates and
    * self-loops included, so a duplicate-laden candidate stream can
    * take the distributed tier while its canonical edge set is small:
    *  - [[graft.core.DriverTier.CcDriverMaxEdges]] or fewer rows: ONE
    *    collect + a path-compressed min-rooted union-find on the
    *    driver, which yields the exact labels large-star/small-star
    *    converges to. Union-find is duplicate- and self-loop-
    *    insensitive (a repeated union is a no-op), so the raw pairs ARE
    *    the canonical input and the node set falls out of the same
    *    collect. The
    *    candidate graph is near-dup pairs, orders of magnitude
    *    smaller than the corpus, and the label table it yields is
    *    broadcast-sized by the same argument — this is the
    *    broadcast-join tradeoff applied to graph contraction.
    *  - larger graphs: alternating large-star/small-star (Kiveris,
    *    Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    *    Components in MapReduce and Beyond", SoCC 2014). Each round
    *    restructures the EDGE SET — large-star rewires every node's
    *    larger neighbors to its neighborhood minimum, small-star the
    *    smaller ones — so shortcut edges accumulate in the graph
    *    itself and the component minimum spreads multiplicatively:
    *    O(log² n) rounds guaranteed, 2–6 observed. (The previous
    *    min-label propagation with pointer jumping compressed only
    *    the LABEL forest: on graphs whose local minima form long
    *    chains — sequential entity-name ladders — the min still
    *    crawled one region per pass, O(diameter) edge joins, and hit
    *    the iteration cap unconverged at sf0.1; the 300-node-path and
    *    tier-equality fixtures pin the fix.)
    *
    * Scale shape: the vertex set is only docs that appear in some
    * candidate pair — orders of magnitude smaller than the corpus —
    * and each round shuffles (hi, lo) longs only. The rounds run
    * through [[graft.core.Rounds]]. Convergence: the round's row count
    * screens for an unchanged edge set; only a count match pays the
    * exact `except`.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      driverMaxEdges: Long = DriverTier.CcDriverMaxEdges): DataFrame = {
    // materialize the upstream edge pipeline ONCE: both derivations
    // below (node list, canonical edge set) would otherwise recompute
    // the full candidate-generation lineage — for the dedup graph
    // that's two complete LSH passes over the corpus
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    // gating on the RAW count spares the driver arm the node-list
    // checkpoint, round 0 and a second collect
    DriverTier.run(e, driverMaxEdges, "connectedComponents") { pairs =>
      Checkpoint.release(e)
      val parent = new java.util.HashMap[Long, Long](pairs.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (c != r) { val p = parent.getOrDefault(c, c); parent.put(c, r); c = p }
        r
      }
      // insertion-ordered node set: output order stays deterministic
      val nodeSet = new java.util.LinkedHashSet[Long](pairs.length * 2)
      pairs.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        nodeSet.add(a); nodeSet.add(b)
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodeSet.size)
      nodeSet.forEach(id => out += ((id, find(id))))
      val spark = e.sparkSession
      import spark.implicits._
      out.toSeq.toDF("doc_id", "cluster_id")
    } { _ =>
      // checkpoint the node list too: it survives to the final labeling
      // join, and re-derives with fresh attribute ids (same-attribute
      // unions trip Catalyst's constraint rewriting)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct()
        .localCheckpoint(true)
      // round 0: the canonical edge set, filled by the first count
      val e0 = e.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("hi"),
          least(col("src"), col("dst")).as("lo"))
        .distinct()
        .localCheckpoint(false)
      // fixpoint = the round returned the input edge set: count-equal
      // + empty one-sided difference ⇒ set equality for distinct sets
      val last = Rounds.run(e0, maxIter, Some((prev, next) =>
          next.rows == prev.rows && next.df.except(prev.df).isEmpty)) { (edgeSet, _) =>
        // LARGE-STAR: every node connects its strictly-larger neighbors
        // to the minimum of its closed neighborhood. The symmetric edge
        // list is two projections of the materialized round, so the
        // whole round plans as ONE query: no intermediate
        // materialization, no per-stage distinct (min-aggregation is
        // duplicate-insensitive; only the round output dedupes). New
        // edges (v, m) with v > u ≥ m are canonical by construction.
        val sym = edgeSet.select(col("hi").as("u"), col("lo").as("v"))
          .union(edgeSet.select(col("lo").as("u"), col("hi").as("v")))
        val lsMin = sym.groupBy("u").agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        val ls = sym.join(lsMin, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
        // SMALL-STAR: every node connects its smaller neighbors AND
        // itself to the minimum of those — edges are already directed
        // large→small (hi, lo), so the neighborhood is one groupBy(hi).
        val ssMin = ls.groupBy("hi").agg(min(col("lo")).as("m"))
        ls.join(ssMin, "hi")
          .select(explode(array(
            struct(col("hi").as("a"), col("m").as("b")),
            struct(col("lo").as("a"), col("m").as("b")))).as("p"))
          .select(col("p.a").as("hi"), col("p.b").as("lo"))
          .filter(col("hi") =!= col("lo"))
          .distinct()
      }
      // terminal state: per component, a star centered at the minimum id
      // — every non-center node has exactly the edge (node, center). The
      // groupBy(min) is belt-and-braces for a maxIter cutoff; centers
      // label themselves via the left-join fallback. MATERIALIZED once:
      // callers re-read the cluster table from several downstream plan
      // sites, and without this the labeling join would re-execute per
      // action.
      val labels = nodes
        .join(last.groupBy(col("hi").as("id")).agg(min(col("lo")).as("lbl")),
          Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("lbl"), col("id")).as("cluster_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      labels.count()
      val out = labels.sparkSession.createDataFrame(labels.rdd, labels.schema)
      // everything the loop touched is dead now that the label table is
      // cached: the raw-edge/node checkpoints and the rounds' first and
      // last edge sets
      Seq(e, nodes, e0, last).foreach(Checkpoint.release)
      out
    }
  }

  /** The three-detector candidate edge list over an arbitrary corpus
    * frame — the composed pipeline's dedup input.
    */
  def dedupEdgesOf(docs: DataFrame): DataFrame =
    // dedupe = false on all three detectors: the only consumers are
    // connected components (union-find / the canonical-distinct round 0 —
    // both duplicate-insensitive), so the three per-detector distinct
    // exchanges were pure overhead (guide §2.4 "a distinct on data
    // that is already unique" — here, on data about to be re-deduped)
    minhashCandidatesFrom(shingleSetsOf(docs), dedupe = false)
      .union(simhashPairsOf(docs, dedupe = false)
        .select(col("doc_a"), col("doc_b")))
      .union(candidatesFromSigs(
        signaturesFromHashed(charShingleHashesOf(docs), CharSampleMod),
        dedupe = false))

  /** The dedup family's terminal artifact: candidate pairs from ALL
    * THREE near-dup detectors (d2 word MinHash ∪ d5 SimHash ∪ d7
    * char-gram MinHash) resolved into duplicate clusters, with a
    * keep/drop flag — keep the component's min doc_id, drop the rest.
    * The d7 edges are what make the resolution cross-lingual: a CJK
    * near-dup pair produces no word-shingle or token-hash overlap
    * (both see one giant "word"), so without them it would survive
    * [[dedupApply]]. Docs in no candidate pair are implicitly kept
    * (they'd be |corpus| singleton rows; the keep/drop list only needs
    * the docs dedup touches).
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    connectedComponents(dedupEdgesOf(Tables.load(s, dir, "documents")))
      .withColumn("keep",
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0))
  }

  /** d14 — leakage-free train/val/test assignment: every document is
    * routed to a split by a hash of its near-dup CLUSTER id (d8's
    * connected components; untouched docs are their own cluster), so
    * a near-duplicate pair can never straddle splits. Splitting by
    * doc_id hash — the naive reproducible split — leaks: a test doc's
    * near-duplicate sits in train and the eval overstates
    * generalization (the contamination Lee et al. 2022 measure).
    * Buckets of 10 on the c7 hash-bucket scheme under a `split:`
    * salt — 8/1/1 train/val/test, deterministic across engines,
    * partitionings and reruns.
    *
    * Scale shape: d8's cost plus one broadcast-or-hash left join of
    * the cluster table (near-dup fraction of the corpus) and a
    * scan-side hash projection; text is never read past d8's own
    * shingling.
    *
    * Fixture note: the synthetic corpus is adversarially dense —
    * ~88% of docs sit in a handful of near-dup mega-clusters — so the
    * realized split mix follows a few cluster-level coin flips rather
    * than the 8/1/1 expectation (LlmSpec pins the mix on the
    * SINGLETON population, where the law of large numbers applies,
    * and the co-routing invariant on everything). A production corpus
    * deduplicates BEFORE splitting; this operator exists for the
    * near-dups that survive any threshold.
    */
  def splitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(s, dir).select(col("doc_id"), col("cluster_id"))
    val h = graft.llm.TextAnalysis.hash60(concat(lit("split:"),
      col("cluster_id").cast("string"))) % 10
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(h < 8, "train").when(h === 8, "val").otherwise("test")
          .as("split"))
  }

  /** Applies the d8 keep/drop list: the deduplicated corpus itself —
    * documents minus every non-representative member of a duplicate
    * cluster — which is what a training run actually reads (the
    * reference's cleaning stage likewise ends by writing the cleaned
    * table, `Scripts/1_cs_777_cleaning_data.py:102`). Projects
    * metadata only; the text column never enters the anti-join.
    *
    * Scale shape: the drop side is only the clustered docs' ids
    * (near-dup fraction of the corpus, orders of magnitude smaller) —
    * AQE broadcasts it when small and falls back to a hash-partitioned
    * anti-join keyed on doc_id when it isn't.
    */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    val drops = dedupClusters(s, dir)
      .filter(col("keep") === 0).select(col("doc_id"))
    Tables.load(s, dir, "documents")
      .join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
  }

  // -- persisted near-dup cluster index ------------------------------------
  /** Materializes the d8 cluster table — (doc_id, cluster_id, keep) —
    * BUCKETED by doc_id, the [[writeFpIndex]] pattern applied to the
    * single most reused artifact of a corpus release. The connected-
    * components resolution (shingling, three LSH passes, pointer
    * jumping) runs ONCE at release time; every downstream consumer —
    * dedup apply, leakage-free splitting, per-cluster stats, sample
    * audits — becomes a cheap join against this table instead of an
    * inline recompute (d9/d14 each re-ran the full d8 pipeline, ~4-5 s
    * at sf0.1 and the whole corpus re-shingled at 100 TB). Bucketing
    * on doc_id means a consumer that also bucket-stores its corpus by
    * doc_id joins with zero exchange on either side.
    */
  def writeClusterIndex(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit =
    graft.ops.Partitioning.writeBucketed(
      dedupClusters(s, dir), table, "doc_id", buckets)

  /** [[dedupApply]] against the persisted cluster index: same rows,
    * but the drop list is a bucketed scan of the (tiny) cluster table
    * with a one-column filter — no shingling, no LSH, no iteration
    * anywhere in the plan (PartitioningSpec pins both the result
    * equality and the absence of the CC machinery).
    */
  def dedupApplyIndexed(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val drops = s.table(table).filter(col("keep") === 0).select("doc_id")
    Tables.load(s, dir, "documents")
      .join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
  }

  /** [[splitLeakfree]] against the persisted cluster index: the
    * assignment is one left join of the corpus ids against the stored
    * cluster table plus a scan-side hash — the form a release pipeline
    * actually runs (split decisions must be reproducible across the
    * many jobs that consume them, which the stored table guarantees
    * even if the detector family's thresholds later change).
    */
  def splitLeakfreeIndexed(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val cl = s.table(table).select(col("doc_id"), col("cluster_id"))
    val h = graft.llm.TextAnalysis.hash60(concat(lit("split:"),
      col("cluster_id").cast("string"))) % 10
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(h < 8, "train").when(h === 8, "val").otherwise("test")
          .as("split"))
  }

  // -- d12: duplicated n-gram span detection -------------------------------
  /** Span-gram width: a duplicated run must repeat at least this many
    * consecutive tokens to register (the published substring-dedup
    * setting is ~50 BPE tokens; 8 words suits the short test corpus —
    * the plan is width-independent).
    */
  val SpanGram = 8

  /** d12 — substring-level duplicate SPAN detection (the Lee et al.
    * 2022 "Deduplicating Training Data Makes Language Models Better"
    * operation, re-expressed relationally): find every maximal token
    * range that repeats anywhere in the corpus — across documents or
    * within one — so curation can CUT the repeated span instead of
    * dropping whole near-duplicate documents (d2/d11 work at document
    * granularity; this is the finer tier below them).
    *
    * Three stages, all narrow-keyed:
    *  1. positioned [[SpanGram]]-gram inventory — grams are hashed to
    *     60-bit longs IN the scan projection, so the shuffle carries
    *     (hash, doc_id, pos) longs, never text;
    *  2. repeated grams = hash groups with ≥ 2 occurrences (map-side
    *     partial count, then an equi-join back — AQE broadcasts the
    *     repeated-gram side when the corpus is mostly clean);
    *  3. per-document island merge: positions whose gram ranges
    *     [pos, pos+K-1] overlap or touch collapse into one maximal
    *     span via a lag/cumsum window keyed by doc_id — millions of
    *     small groups, the skew-free window shape (d11's precedent).
    */
  /** The tokenized documents frame d12/d13 operate on: docs long
    * enough to hold one [[SpanGram]]-gram. Round 9 dropped an
    * unconditional repartition here (it shuffled the text column in
    * EVERY plan, cost measured at the time as d12 0.9 → 1.65 s at
    * sf0.1 and drifting to ~3 s under round-10 suite pressure);
    * [[spreadIfNarrow]] now restores the test-scale parallelism while
    * keeping the discipline — the spread only exists when the input
    * has fewer splits than cores, a regime a 100 TB corpus is never
    * in, so the scaled plan still carries no text exchange.
    */
  private def spanToks(s: SparkSession, dir: String): DataFrame =
    spreadIfNarrow(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= SpanGram)

  /** Maximal duplicated-gram islands over a (doc_id, t) token frame —
    * the shared core of d12 (report) and d13 (apply): positioned gram
    * inventory → corpus-repeated grams → per-doc lag/cumsum merge.
    * Returns (doc_id, span_start, span_end, n_dup_grams); spans within
    * a doc are disjoint by construction (islands merge any ranges that
    * overlap or touch).
    */
  private[llm] def dupSpanIslands(toks: DataFrame): DataFrame = {
    val grams = toks
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("t")) - (SpanGram - 1)),
        p => array_join(slice(col("t"), p, lit(SpanGram)), " "))))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        graft.llm.TextAnalysis.hash60(col("col")).as("g"))
    val repeated = grams.groupBy("g")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select("g")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(repeated, "g")
      .select("doc_id", "pos")
      .withColumn("ns",
        when(col("pos") - lag("pos", 1).over(w) <= SpanGram, 0).otherwise(1))
      .withColumn("island", sum("ns")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (SpanGram - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .drop("island")
  }

  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    dupSpanIslands(spanToks(s, dir))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_dup_grams"))
  }

  /** d13 — span-level dedup APPLIED: the corpus with every duplicated
    * span cut except its first occurrence (the d9 analogue one
    * granularity down — d9 drops whole duplicate documents, d13 cuts
    * repeated runs out of otherwise-unique ones, which is how
    * substring dedup actually ships training data). "First" is by
    * span CONTENT: spans are hashed on their token text and the
    * minimal (doc_id, span_start) occurrence of each distinct content
    * survives; within-doc repeats keep their first copy too. Spans
    * whose duplicated run extends differently in different documents
    * hash differently and both survive — exact-span semantics,
    * documented, deterministic.
    *
    * Scale shape on top of [[dupSpanIslands]]: span content is cut by
    * a doc_id equi-join of the (small) span list against the token
    * frame; only AFFECTED documents — those actually holding a cut —
    * explode to (pos, token) rows for the rebuild, the rest pass
    * through untouched, so the expensive path is proportional to the
    * duplicated fraction, not the corpus. The keep/cut election
    * windows over span-content hash — tiny groups (occurrences of one
    * repeated run), no skew.
    */
  def spanDedupApply(s: SparkSession, dir: String): DataFrame = {
    val toks = spanToks(s, dir)
    val spans = dupSpanIslands(toks).drop("n_dup_grams")
    val content = spans.join(toks, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_end"),
        hash60(array_join(slice(col("t"), col("span_start") + 1,
          col("span_end") - col("span_start") + 1), " ")).as("sh"))
    val wKeep = Window.partitionBy("sh").orderBy("doc_id", "span_start")
    // cuts is referenced three ways (affected-doc election, the
    // position anti-join, and through it the rebuild) — materialize
    // the small span list once instead of recomputing the whole
    // gram/island/content pipeline per reference (the d8/c8
    // eager-checkpoint pattern; blocks are released by the bench's
    // inter-query state sweep)
    val cuts = content
      .withColumn("rn", row_number().over(wKeep))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("span_start"), col("span_end"))
      .localCheckpoint()
    val affected = cuts.select("doc_id").distinct()
    val posToks = toks.join(affected, "doc_id")
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        col("col").as("tok"))
    val kept = posToks.as("p").join(cuts.as("c"),
        col("p.doc_id") === col("c.doc_id") &&
          col("p.pos") >= col("c.span_start") &&
          col("p.pos") <= col("c.span_end"),
        "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), trim(col("text")).as("txt"))
      .join(toks.select(col("doc_id"),
        size(col("t")).cast(LongType).as("n_toks")), Seq("doc_id"), "left")
      .join(affected.withColumn("aff", lit(1)), Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("aff").isNull, col("txt"))
          .otherwise(coalesce(col("kept_text"), lit(""))).as("clean_text"),
        when(col("aff").isNull, lit(0L))
          .otherwise(col("n_toks") - coalesce(col("n_kept"), lit(0L)))
          .cast(LongType).as("n_cut_tokens"))
  }

  // -- d15: all-pairs TF-IDF cosine similarity join ------------------------
  /** d15 cosine threshold on the ROUNDED (6 dp) cosine. */
  val ApssThreshold = 0.85

  /** The output contract keeps pairs by `round(cos, 6) >= t`, which
    * admits true cosines from t − 5e-7 upward — so every PRUNING bound
    * below compares against this band-widened effective threshold,
    * never t itself: a pair whose true cosine sits in the rounding
    * band can never be silently dropped by candidate generation.
    * (The extra 5e-7 of slack also keeps the bounds strict, so the
    * old "exactly cos = t on the bound's equality case" corner is
    * covered too, not just measure-zero.)
    */
  private[llm] val ApssTauEff: Double = ApssThreshold - 1e-6
  private val ApssTau2 = (ApssTauEff / 2) * (ApssTauEff / 2)

  /** Regime boundary: dictionaries at or under this size run the
    * DENSE physical plan (docs become dense unit vectors; pairs dot
    * through the codegen'd [[graft.functions.VecDot]] kernel).
    */
  val ApssDenseVocabMax = 256

  /** Dense-regime corpus cap: beyond this many docs the dense pair
    * join's broadcast side stops fitting and the sparse plan runs
    * instead (see the regime note on [[apssCosineOf]]).
    */
  val ApssDenseDocsMax = 200000L

  /** d15 — exact all-pairs similarity search (APSS) over TF-IDF
    * weighted document vectors: every doc pair with rounded cosine ≥
    * [[ApssThreshold]], the WEIGHTED sibling of d11's set-similarity
    * join (the Bayardo et al., WWW'07 problem).
    *
    * The operator is output-defined (its oracle is the brute-force
    * all-shared-terms join), which frees the physical plan to pick a
    * REGIME from one driver-side statistic each — dictionary size and
    * corpus size — the way a cost-based planner would:
    *
    *  - DENSE (vocab ≤ [[ApssDenseVocabMax]], docs ≤
    *    [[ApssDenseDocsMax]]): a tiny dictionary means posting lists
    *    are each a large fraction of the corpus, so the posting-join's
    *    Σ df² fanout degenerates toward |docs|² ROWS THROUGH A SHUFFLE
    *    — strictly worse than just evaluating |docs|²/2 fused dot
    *    products. Docs collapse to dense unit vectors over the ranked
    *    dictionary and a broadcast pair join evaluates one codegen'd
    *    [[graft.functions.VecDot]] per pair: no per-term shuffle at
    *    all. (On the sf0.1 corpus — 31-term dictionary, 5 000 docs —
    *    this is ~20× the posting-join plan.)
    *  - SPARSE (everything else — the real-corpus Zipfian shape):
    *    Bayardo-style candidate generation over a prefix index, with
    *    three EXACT pruning bounds (below), then verification only on
    *    surviving candidates.
    *
    * Sparse-regime pruning (all exact, all against [[ApssTauEff]]):
    *
    *  1. PREFIX: terms order by the GLOBAL (df asc, th) sequence, so
    *     each doc's indexed set is a contiguous prefix of its own
    *     terms in a SHARED order, with the unindexed tail the doc's
    *     highest-df (lowest-idf) terms. The tail keeps L2 norm ≤
    *     τ/2: a pair sharing no co-indexed term has dot ≤ ‖tail_a‖ +
    *     ‖tail_b‖ ≤ τ by Cauchy–Schwarz, so the co-indexed equi-join
    *     finds every qualifying pair — and the df² join fanout comes
    *     from the distribution's thin tail, never the stop-term head.
    *  2. POSITIONAL (needs the shared global order): for a candidate
    *     pair, its first shared term t0 is necessarily co-indexed
    *     (both prefixes are contiguous in the same order), and dot ≤
    *     sfx_a(t0)·sfx_b(t0) where sfx is the doc's suffix norm from
    *     t0 on. Suffix norms shrink along the order, so the bound at
    *     t0 is exactly `max` over joined terms of sfx_a·sfx_b — the
    *     candidate aggregate computes it in place of a bare DISTINCT
    *     and discards pairs whose bound can't reach τ before the
    *     verify join ever sees them.
    *  3. SIZE/MAXWEIGHT (Bayardo's size filter in unit-weight form):
    *     dot ≤ min(L1(u_a)·max(u_b), L1(u_b)·max(u_a)) from two
    *     per-doc scalars that ride the candidate join.
    *
    * Scale shape: term keys are md5-60 longs (no text in any
    * shuffle); the verify stage is candidate-keyed — two hash joins,
    * no window. The cumulative-norm prefix decision runs in a per-doc
    * ordered window, summed in the same sequence by any engine, so
    * the index set is deterministic cross-engine. At 100 TB the
    * sparse regime is the one that occurs (real dictionaries are
    * millions of terms); the dense regime exists because a
    * degenerate-small dictionary silently turns the posting join into
    * the worst plan available — and when BOTH n and the output are
    * genuinely quadratic, no exact engine escapes O(n²): the ANN tier
    * (s1–s13) is the production fallback. The regime probe itself is
    * two O(1)-result aggregates; a deployment would read both numbers
    * from catalog statistics or the persisted [[writeApssIndex]]
    * layout instead of scanning.
    */
  def apssCosine(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    apssCosineOf(docs)
  }

  /** Shared spine of both regimes: the per-(doc, term) TF-IDF state
    * over an arbitrary (doc_id, t: array&lt;string&gt;) frame —
    * `(doc_id, th, df, w, u, nm, l1u, mxu, sfx)` where `sfx` is the
    * global-order suffix norm for INDEXED rows and null for tail
    * rows. One extra window pass over the weights; everything any
    * APSS stage needs, which is also exactly what
    * [[writeApssIndex]] persists.
    */
  private[graft] def apssState(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).cast(LongType).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(col("t")).as("term"))
      .select(col("doc_id"),
        graft.llm.TextAnalysis.hash60(col("term")).as("th"))
      .groupBy("doc_id", "th").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("th").agg(count(lit(1)).as("df"))
    val wts = tf.join(dfq, "th").crossJoin(broadcast(n))
      .select(col("doc_id"), col("th"), col("df"),
        (col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0))
          .as("w"))
    val docStats = wts.groupBy("doc_id").agg(
      sqrt(sum(col("w") * col("w"))).as("nm"),
      (sum(col("w")) / sqrt(sum(col("w") * col("w")))).as("l1u"),
      (max(col("w")) / sqrt(sum(col("w") * col("w")))).as("mxu"))
    // one window pass in the GLOBAL (df asc, th) order: cumulative
    // unit-norm mass, from which both the index membership decision
    // and the positional filter's suffix norm fall out
    val wIdx = Window.partitionBy("doc_id").orderBy(col("df"), col("th"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wts.join(docStats, "doc_id")
      .withColumn("u", col("w") / col("nm"))
      .withColumn("sfx2",
        lit(1.0) - (sum(col("u") * col("u")).over(wIdx)
          - col("u") * col("u")))
      .select(col("doc_id"), col("th"), col("df"), col("w"), col("u"),
        col("nm"), col("l1u"), col("mxu"),
        when(col("sfx2") > ApssTau2, sqrt(col("sfx2"))).as("sfx"))
  }

  /** Sparse-regime candidate pairs from an [[apssState]]-shaped frame.
    * `prune = false` keeps only the prefix filter (the round-10 form)
    * — exposed so the spec can measure how much the positional and
    * size bounds shrink the candidate set on top of it.
    */
  private[graft] def apssCandidates(state: DataFrame,
      prune: Boolean = true): DataFrame = {
    val idx = state.filter(col("sfx").isNotNull)
      .select(col("doc_id"), col("th"), col("sfx"))
    val byPair = idx.as("a").join(idx.as("b"),
        col("a.th") === col("b.th") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        (col("a.sfx") * col("b.sfx")).as("pb"))
      .groupBy("da", "db").agg(max(col("pb")).as("ub_pos"))
    if (!prune) byPair.select("da", "db")
    else {
      val stats = state.groupBy("doc_id")
        .agg(first(col("l1u")).as("l1u"), first(col("mxu")).as("mxu"))
      byPair
        .join(stats.select(col("doc_id").as("da"),
          col("l1u").as("l1a"), col("mxu").as("mxa")), Seq("da"))
        .join(stats.select(col("doc_id").as("db"),
          col("l1u").as("l1b"), col("mxu").as("mxb")), Seq("db"))
        .filter(least(col("ub_pos"),
          col("l1a") * col("mxb"), col("l1b") * col("mxa")) >= ApssTauEff)
        .select("da", "db")
    }
  }

  /** Exact verification of candidate pairs against an
    * [[apssState]]-shaped frame — the only stage that touches raw
    * weights, and it touches them candidate-keyed.
    */
  private def apssVerify(state: DataFrame, cand: DataFrame): DataFrame = {
    val wts = state.select(col("doc_id"), col("th"), col("w"))
    val nrm = state.groupBy("doc_id").agg(first(col("nm")).as("nm"))
    val dots = cand
      .join(wts.select(col("doc_id").as("da"), col("th"), col("w").as("wa")),
        Seq("da"))
      .join(wts.select(col("doc_id").as("db"), col("th"), col("w").as("wb")),
        Seq("db", "th"))
      .groupBy("da", "db").agg(sum(col("wa") * col("wb")).as("dp"))
    dots
      .join(nrm.select(col("doc_id").as("da"), col("nm").as("na")), Seq("da"))
      .join(nrm.select(col("doc_id").as("db"), col("nm").as("nb")), Seq("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(col("dp") / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= ApssThreshold)
  }

  /** The sparse (Bayardo) plan end-to-end — also the verify tail of
    * [[apssFromIndex]].
    */
  private[graft] def apssSparseOf(docs: DataFrame): DataFrame = {
    // persisted (r16): the state frame feeds the candidate self-join
    // (both sides), the pruning stats, both verify weight joins, and
    // both norm joins — SIX plan references that each re-derived the
    // whole tokenize/tf/df/window pipeline. Eager-checkpoint the
    // O(pairs) result so the corpus-sized cache releases on return
    // (the jaccardVerify hygiene).
    val state = apssState(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try apssVerify(state, apssCandidates(state)).localCheckpoint(true)
    finally state.unpersist()
  }

  /** The dense plan: docs as dense unit vectors over the ranked
    * dictionary (`vocab` entries — bounded by [[ApssDenseVocabMax]],
    * so the ranking window's single partition is O(vocab)), then a
    * broadcast pair join evaluating one fused [[VecDot]] per pair.
    * Unit vectors make the dot the cosine directly; rank order fixes
    * the summation sequence.
    */
  private[graft] def apssDenseOf(docs: DataFrame, vocab: Int): DataFrame = {
    val n = docs.agg(count(lit(1)).cast(LongType).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(col("t")).as("term"))
      .select(col("doc_id"),
        graft.llm.TextAnalysis.hash60(col("term")).as("th"))
      .groupBy("doc_id", "th").agg(count(lit(1)).as("tf"))
    val ranked = tf.groupBy("th").agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(Window.orderBy("th")) - 1)
    val wts = tf.join(broadcast(ranked), "th").crossJoin(broadcast(n))
      .select(col("doc_id"), col("rk"),
        (col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0))
          .as("w"))
    // materialized ONCE (r16): the pair join reads this frame on BOTH
    // sides (stream + broadcast build), and without the checkpoint the
    // whole tf/df/vector pipeline executed twice — the plan carried
    // two complete copies of the upstream subtree. n·vocab doubles:
    // bounded by the dense-regime caps, trivially checkpoint-sized.
    val vecs = wts.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("rk"), col("w")))).as("m"),
        sqrt(sum(col("w") * col("w"))).as("nm"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(vocab - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0)) / col("nm"))
          .as("v"))
      .localCheckpoint(true)
    val dot = graft.functions.VectorFunctions.vecDot(col("va"), col("vb"))
    // the left rows are few but each drives |docs| dot evaluations —
    // pin an explicit partition count so AQE's small-shuffle coalesce
    // can't serialize the O(n²) pair loop onto one core
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    vecs.select(col("doc_id").as("da"), col("v").as("va"))
      .repartition(cores)
      .join(broadcast(vecs.select(col("doc_id").as("db"), col("v").as("vb"))),
        col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(dot, 6).as("cos_sim"))
      .filter(col("cos_sim") >= ApssThreshold)
  }

  /** Regime dispatch over an arbitrary (doc_id, t) frame — see
    * [[apssCosine]] for the regime rationale.
    */
  private[graft] def apssCosineOf(docs: DataFrame): DataFrame = {
    // ONE O(1)-result probe pass: doc count and dictionary size as two
    // distinct-aggregates over the same exploded scan (explode_outer
    // keeps token-less docs in the doc count; their null terms drop
    // out of the vocab count). A deployment reads both numbers from
    // catalog stats or the persisted index; exact counts keep the
    // regime decision deterministic for the oracle gate.
    val probe = docs
      .select(col("doc_id"), explode_outer(col("t")).as("term"))
      .agg(countDistinct(col("doc_id")).as("docs"),
        countDistinct(graft.llm.TextAnalysis.hash60(col("term")))
          .as("vocab"))
      .head()
    val (nDocs, vocab) = (probe.getLong(0), probe.getLong(1))
    if (vocab <= ApssDenseVocabMax && nDocs <= ApssDenseDocsMax)
      apssDenseOf(docs, vocab.toInt)
    else apssSparseOf(docs)
  }

  /** Persists the full [[apssState]] frame as a table BUCKETED by th
    * — the [[writeFpIndex]] posture for the similarity join: the
    * candidate self-join reads both sides from the SAME buckets, so
    * the most expensive shuffle in the sparse plan (indexed postings
    * keyed by term) is pre-paid at write time, and re-running the
    * join (new threshold sweep, incremental batch probing the index)
    * never recomputes tf/df/norm/window state.
    */
  def writeApssIndex(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    graft.ops.Partitioning.writeBucketed(apssState(docs), table, "th",
      buckets)
  }

  /** d15's sparse plan replayed from the persisted [[writeApssIndex]]
    * table: candidate generation + verify only — no tokenization, no
    * df aggregation, no window. LanguageModelSpec pins result
    * equality with the inline sparse plan and the absence of any
    * Window node in this plan.
    */
  def apssFromIndex(s: SparkSession, table: String): DataFrame = {
    val state = s.table(table)
    apssVerify(state, apssCandidates(state))
  }

  /** d16's approximate join replayed from the SAME persisted APSS
    * state table — the index stores exactly the (doc, term, u, w, nm)
    * rows both the signature aggregation and the verify consume, so
    * the approximate tier needs no index of its own (CLI
    * `apss-sketch-join`). Spec-pinned ≡ the inline d16.
    */
  def apssApproxFromIndex(s: SparkSession, table: String): DataFrame = {
    val state = s.table(table).localCheckpoint(true)
    val cand = apssSketchCandidates(state)
    val vocab = state.agg(countDistinct(col("th"))).head().getLong(0)
    if (vocab <= ApssDenseVocabMax) apssVerifyDense(state, vocab.toInt, cand)
    else apssVerify(state, cand)
  }

  // -- d16: signature-prefiltered approximate APSS --------------------------
  /** Sign-hamming admission cut over all [[ApssSignBits]] projections:
    * a pair with true cosine c disagrees per bit with probability
    * θ/π = acos(c)/π, so at the 0.85 threshold the expected hamming is
    * 112 × 0.177 ≈ 19.8 with σ ≈ 4.0 — 28 is the +2σ bound, admitting
    * a threshold pair with ~98% probability while a c = 0.6 pair
    * (E[h] ≈ 32.7) passes only ~13% of the time. 112 one-bit
    * estimators beat the old 32-real-dim dot on BOTH axes (tighter
    * admission variance AND a pure bit-ops candidate stage — two
    * XOR+popcounts per pair, no sketch-table joins); LanguageModelSpec
    * measures the realized recall against the exact join and pins a
    * 0.9 floor.
    */
  val ApssSketchMaxHamming = 28

  /** Sign-LSH banding for d16's candidate stage: [[ApssSignBits]]
    * Rademacher sign bits per doc (SimHash bits of the TF-IDF unit
    * vector), split into [[ApssSketchBands]] bands of
    * [[ApssSketchBandBits]] bits; candidates are pairs sharing any
    * exact band — the d5 pigeonhole, sized for the cosine regime
    * instead of hamming≤3. At the 0.85 threshold a pair's per-bit
    * agreement is q = 1 − θ/π ≈ 0.82 nominal (≈0.81 measured on the
    * fixture's threshold-hugging pairs), so a 16-band × 7-bit scheme
    * captures 1 − (1 − q⁷)¹⁶ ≈ 0.98 of borderline pairs (more for
    * anything cleanly above the threshold), while an unrelated pair
    * lands in a shared bucket with ≤ 16/128 ≈ 12% probability. At
    * larger n, grow the band width (bits ∝ log n keeps bucket
    * occupancy flat) and the band count with it — both are knobs
    * here, not new code. (14×8 over the same 112 projections measured
    * recall 0.937 at sf0.001 — correct but needlessly close to the
    * 0.9 floor; 7-bit bands trade ~2× candidate admission for the
    * recall margin.)
    */
  val ApssSketchBands = 16
  val ApssSketchBandBits = 7
  val ApssSignBits = ApssSketchBands * ApssSketchBandBits // 112

  /** d16 — APPROXIMATE all-pairs cosine: the at-scale fallback for the
    * regime where d15's exact pruning is structurally weak (a
    * homogeneous corpus whose pairs mostly share indexed terms — the
    * sparse plan's candidate join then degenerates toward all pairs).
    * Each doc's TF-IDF unit vector reduces to [[ApssSignBits]]
    * Rademacher SIGN BITS (SimHash bits: sign of Σ_t u_t·s_j(t), the
    * signed-sum aggregate d4 uses) computed scan-side in one groupBy
    * and packed into two longs. Candidates come from sign-LSH buckets
    * over those bits (see [[ApssSketchBands]]) — one shuffle keyed by
    * (band, byte), never a pair enumeration — each candidate pair
    * must clear the hamming cut [[ApssSketchMaxHamming]] (two
    * XOR+popcounts), and the exact verify computes true cosines on
    * the survivors (dense K-dot when the dictionary is bounded, d15's
    * posting join otherwise) — every REPORTED pair is exact; only
    * recall is probabilistic.
    *
    * Scale shape: the sparse→bits collapse is the point — at a
    * million-term dictionary the posting join shuffles Σ df² rows,
    * while the signature stage moves 3 longs per doc per band and
    * admits pairs with two popcounts. Signs are hash-derived and
    * every comparison integer or rounded, so the whole chain is
    * deterministic and the oracle replays it exactly.
    *
    * Bench framing: on the TEST corpus d16 remains slower than d15 —
    * expected, because the 31-term dictionary puts d15 in its dense
    * regime where exact pairs cost one 31-dot each, while the corpus'
    * cosine-homogeneity (≥ 1/5 of ALL pairs clear the admission
    * envelope) forces d16 to verify millions of candidates. d16's
    * winning regime (huge dictionary + weak Bayardo pruning) is
    * pinned by measurement in LanguageModelSpec.
    */
  def apssApprox(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    apssApproxOf(docs)
  }

  /** The per-doc signature frame: (doc_id, plo, phi) — the
    * [[ApssSignBits]] Rademacher sign bits of the TF-IDF unit vector,
    * PACKED 56-per-long (bits 0..55 in `plo`, 56..111 in `phi`; bit j
    * is the sign of Σ_t u_t·s_j(t)). Projections come from bits 0..55
    * of the term's md5-60 key `th` plus bits 0..55 of a second family
    * `th2 = hash60(string(th))` — replayable in DuckDB from the same
    * decimal rendering. Three longs per doc is the WHOLE index: bands,
    * dedup, and the hamming cut below are all bit arithmetic on it.
    */
  private[graft] def apssSketchVectors(state: DataFrame): DataFrame = {
    val signed = state
      .select(col("doc_id"), col("th"), col("u"))
      .withColumn("th2",
        graft.llm.TextAnalysis.hash60(col("th").cast("string")))
    def signSum(src: Column, j: Int, name: String) =
      sum(when(shiftright(src, j).bitwiseAND(1) === 1, col("u"))
        .otherwise(-col("u"))).as(name)
    val allSums = (0 until 56).map(j => signSum(col("th"), j, s"s$j")) ++
      (0 until 56).map(j => signSum(col("th2"), j, s"s${j + 56}"))
    def packed(lo: Int): Column = (lo until lo + 56).map(j =>
      when(col(s"s$j") > 0, lit(1L << (j - lo))).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    signed.groupBy("doc_id").agg(allSums.head, allSums.tail: _*)
      .select(col("doc_id"), packed(0).as("plo"), packed(56).as("phi"))
      .localCheckpoint(true)
  }

  /** Candidate pairs from the sign-LSH buckets: the SET is exactly
    * "pairs sharing ≥ 1 of the [[ApssSketchBands]] 7-bit bands, with
    * sign-hamming ≤ [[ApssSketchMaxHamming]]" — the oracle's DISTINCT
    * band self-join replays it verbatim. Emission discipline, sized
    * for a cosine-homogeneous corpus whose in-bucket pair space runs
    * to 10⁷ rows per 5 000 docs:
    *  - bucket rows carry 3 longs per doc (id + packed signature);
    *  - a pair sharing several bands is emitted ONCE, from the FIRST
    *    band whose 7-bit XOR slice is zero (LSH dedup-at-source — no
    *    distinct shuffle anywhere);
    *  - the admission cut is two XOR+popcounts per pair, fused into
    *    the same codegen stage — no joins, no arrays;
    *  - anchors respread before the explosion so AQE's coalesce of
    *    the byte-tiny bucket exchange can't serialize the pair loop.
    */
  private[graft] def apssSketchCandidates(state: DataFrame): DataFrame = {
    val sv = apssSketchVectors(state)
    def bandKey(src: Column, b: Int): Column =
      shiftright(src, 7 * b).bitwiseAND(127)
    val bandKeys = (0 until 8).map(b => bandKey(col("plo"), b)) ++
      (0 until 8).map(b => bandKey(col("phi"), b))
    val banded = sv
      .select(col("doc_id"), col("plo"), col("phi"),
        posexplode(array(bandKeys: _*)))
      .toDF("doc_id", "plo", "phi", "band_idx", "band_key")
    val xl = col("ploa").bitwiseXOR(col("plob"))
    val xh = col("phia").bitwiseXOR(col("phib"))
    val firstShared = (0 until ApssSketchBands).foldRight(lit(-1)) {
      case (b, rest) =>
        val slice =
          if (b < 8) shiftright(xl, 7 * b).bitwiseAND(127)
          else shiftright(xh, 7 * (b - 8)).bitwiseAND(127)
        when(slice === 0, lit(b)).otherwise(rest)
    }
    banded
      .groupBy("band_idx", "band_key")
      .agg(array_sort(collect_list(
        struct(col("doc_id"), col("plo"), col("phi")))).as("ds"))
      .filter(size(col("ds")) > 1)
      // respread the BUCKET rows (one array each — megabytes), not the
      // exploded anchors (which would re-ship every bucket array once
      // per member): an explicit-count repartition that AQE's
      // small-shuffle coalesce leaves alone, so the 10⁷-pair explosion
      // below runs wide
      .repartition(state.sparkSession.sparkContext.defaultParallelism)
      .select(col("band_idx"), col("ds"), posexplode(col("ds")))
      .select(col("band_idx"), col("col.doc_id").as("da"),
        col("col.plo").as("ploa"), col("col.phi").as("phia"),
        explode(slice(col("ds"), col("pos") + 2, size(col("ds")))).as("o"))
      .select(col("band_idx"), col("da"), col("ploa"), col("phia"),
        col("o.doc_id").as("db"), col("o.plo").as("plob"),
        col("o.phi").as("phib"))
      .filter(firstShared === col("band_idx") &&
        (bit_count(xl) + bit_count(xh)) <= ApssSketchMaxHamming)
      .select("da", "db")
  }

  /** Per-pair exact verify through DENSE unit vectors — the d15 dense
    * regime's representation applied to a candidate list instead of
    * the full pair loop: one fused [[graft.functions.VectorFunctions
    * .vecDot]] per pair against two broadcast vector tables, no
    * posting join. Correct (and fast) only when the dictionary is
    * bounded; the caller dispatches on the same
    * [[ApssDenseVocabMax]] probe d15 uses. Rounding parity with the
    * oracle's SUM(wa·wb) is the d15-dense precedent: unit weights and
    * the 6-dp round make the comparison tie-stable.
    */
  private def apssVerifyDense(state: DataFrame, vocab: Int,
      cand: DataFrame): DataFrame = {
    val ranked = state.groupBy("th").agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(Window.orderBy("th")) - 1)
    // materialized ONCE (r16): both candidate-keyed broadcast joins
    // below read this frame — same double-evaluation fix as apssDenseOf
    val vecs = state
      .join(broadcast(ranked.select(col("th"), col("rk"))), "th")
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("rk"), col("u"))))
        .as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(vocab - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("v"))
      .localCheckpoint(true)
    val dot = graft.functions.VectorFunctions.vecDot(col("va"), col("vb"))
    cand
      .join(broadcast(vecs.select(col("doc_id").as("da"), col("v").as("va"))),
        "da")
      .join(broadcast(vecs.select(col("doc_id").as("db"), col("v").as("vb"))),
        "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(dot, 6).as("cos_sim"))
      .filter(col("cos_sim") >= ApssThreshold)
  }

  /** The subset of [[apssState]] d16 actually consumes: per-(doc,
    * term) weight/unit-weight/norm — NO indexed-prefix window, no
    * l1u/mxu pruning stats (those exist for d15's positional/size
    * bounds; the sketch admission replaces them here). Same tf/df/
    * weight arithmetic, so the verify's cosines are bit-identical.
    * Dropping the window removes a per-doc sort pass from d16 (r16).
    */
  private def apssStateLight(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).cast(LongType).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(col("t")).as("term"))
      .select(col("doc_id"),
        graft.llm.TextAnalysis.hash60(col("term")).as("th"))
      .groupBy("doc_id", "th").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("th").agg(count(lit(1)).as("df"))
    val wts = tf.join(dfq, "th").crossJoin(broadcast(n))
      .select(col("doc_id"), col("th"),
        (col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0))
          .as("w"))
    val docStats = wts.groupBy("doc_id").agg(
      sqrt(sum(col("w") * col("w"))).as("nm"))
    wts.join(docStats, "doc_id")
      .select(col("doc_id"), col("th"), col("w"),
        (col("w") / col("nm")).as("u"), col("nm"))
  }

  private[graft] def apssApproxOf(docs: DataFrame): DataFrame = {
    // the state feeds the sketch aggregation AND both verify sides —
    // materialize it once ((doc, term) fixed-width rows)
    val state = apssStateLight(docs).localCheckpoint(true)
    val cand = apssSketchCandidates(state)
    // same regime probe as d15: a bounded dictionary admits the dense
    // verify (one K-dot per candidate, no posting join) — on a
    // cosine-homogeneous corpus the admitted set runs to ~n²/5 pairs
    // and the posting-join verify was half of d16's wall time
    val vocab = state.agg(countDistinct(col("th"))).head().getLong(0)
    if (vocab <= ApssDenseVocabMax) apssVerifyDense(state, vocab.toInt, cand)
    else apssVerify(state, cand)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d15_apss_cosine" -> apssCosine _,
    "d16_apss_sketch" -> apssApprox _,
    "d17_containment" -> containmentJoin _,
    "d12_dup_spans"   -> dupSpans _,
    "d13_span_cut"    -> spanDedupApply _,
    "d1_exact_dedup"  -> exactDedup _,
    "d8_dedup_clusters" -> dedupClusters _,
    "d9_dedup_apply"  -> dedupApply _,
    "d14_split_leakfree" -> splitLeakfree _,
    "d2_minhash_lsh"  -> minhashCandidates _,
    "d18_lsh_precision" -> lshPrecision _,
    "d19_source_redundancy" -> crossSourceRedundancy _,
    "d3_jaccard_verify" -> jaccardVerify _,
    "d11_setsim_join" -> setSimJoin _,
    "d10_jaccard_est" -> jaccardEstimate _,
    "d4_simhash"      -> simhash _,
    "d5_simhash_pairs" -> ((s: SparkSession, dir: String) => simhashPairs(s, dir)),
    "d6_incremental"  -> incrementalDedup _,
    // d7: the same MinHash+LSH machinery over char-5-gram shingles —
    // the cross-lingual near-dup path. Shingle density is per-char
    // (~10× the word form), so mod-4 sampling keeps the permutation
    // and shuffle cost at the word-shingle level.
    "d7_chargram_lsh" -> ((s: SparkSession, dir: String) =>
      candidatesFromSigs(
        signaturesFromHashed(charShingleHashes(s, dir), CharSampleMod))))

  /** Shared oracle CTEs (DuckDB lists are 1-based; generate_series is
    * inclusive — shingle i spans t[i..i+2] for i in 1..len-2, matching
    * the 0-based Spark sequence).
    */
  private[llm] def shingleCteFrom(src: String = "documents",
      p: String = "") =
    s"""${p}toks AS (SELECT doc_id, trim(text) AS txt,
       |  string_split_regex(trim(text), '\\s+') AS t FROM $src),
       |${p}sh AS (SELECT doc_id,
       |  CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
       |    generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |  ELSE [txt] END AS shingles FROM ${p}toks)""".stripMargin

  private val shingleCte = shingleCteFrom()

  /** Char-5-gram variant of the shingle CTE (d7). DuckDB `length()`
    * counts CHARACTERS (like Spark's `char_length`); `strlen` counts
    * bytes and would diverge on any multi-byte text — exactly the
    * cross-lingual corpus this operator exists for. `p` prefixes the
    * CTE names so the chain can share a WITH clause with the word
    * chain (both define `toks`/`sh`) in the d8/d9 oracles.
    */
  private[llm] def charShingleCte(p: String = "",
      src: String = "documents") =
    s"""${p}toks AS (SELECT doc_id,
       |  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS txt FROM $src),
       |${p}sh AS (SELECT doc_id,
       |  CASE WHEN length(txt) >= 5 THEN list_distinct(list_transform(
       |    generate_series(1, length(txt) - 4),
       |    i -> substr(txt, CAST(i AS INTEGER), 5)))
       |  ELSE [txt] END AS shingles FROM ${p}toks)""".stripMargin

  private[llm] def sigCteFrom(shCte: String, sampleMod: Int = 1,
      p: String = "") =
    s"""$shCte,
       |${p}hs AS (SELECT doc_id, list_filter(list_transform(shingles,
       |  x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647),
       |  v -> v % $sampleMod = 0) AS hv
       |  FROM ${p}sh),
       |${p}sig AS (SELECT doc_id, k,
       |  list_min(list_transform(hv,
       |    v -> (v * (12582917 * k + 7) + (15485863 * k + 11)) % 2147483647)) AS mh
       |  FROM ${p}hs CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS k)
       |  WHERE len(hv) > 0),
       |${p}band AS (SELECT doc_id, k // 4 AS band_idx,
       |  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS band_key
       |  FROM ${p}sig GROUP BY doc_id, k // 4),
       |${p}bsz AS (SELECT band_idx, band_key, COUNT(*) AS n, MIN(doc_id) AS rep
       |  FROM ${p}band GROUP BY band_idx, band_key),
       |${p}cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM ${p}band x JOIN ${p}band y ON x.band_idx = y.band_idx
       |    AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |  JOIN ${p}bsz ON ${p}bsz.band_idx = x.band_idx AND ${p}bsz.band_key = x.band_key
       |  WHERE ${p}bsz.n <= $MaxBucket OR x.doc_id = ${p}bsz.rep)""".stripMargin

  private val sigCte = sigCteFrom(shingleCte)

  /** d7's char-gram candidate chain with `cg`-prefixed names, for the
    * d8/d9 WITH clauses.
    */
  private val cgCandCte =
    sigCteFrom(charShingleCte("cg"), CharSampleMod, "cg")

  /** d5's SimHash candidate chain with `sim`-prefixed CTE names so it
    * can share a WITH clause with [[sigCte]] (both define `sh`/`bsz`).
    */
  private[llm] def simCandCteFrom(src: String = "documents") =
    s"""simtk AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM $src),
      |simh AS (SELECT doc_id,
      |  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM simtk),
      |simbsum AS (SELECT doc_id, j,
      |  SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM simh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
      |  GROUP BY doc_id, j),
      |simsh AS (SELECT doc_id,
      |  SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
      |  FROM simbsum GROUP BY doc_id),
      |simbanded AS (SELECT doc_id, simhash, b AS band_idx,
      |  (simhash >> (b * 8)) & 255 AS band_byte
      |  FROM simsh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
      |simbsz AS (SELECT band_idx, band_byte, COUNT(*) AS n, MIN(doc_id) AS rep
      |  FROM simbanded GROUP BY band_idx, band_byte),
      |simcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM simbanded x JOIN simbanded y
      |    ON x.band_idx = y.band_idx AND x.band_byte = y.band_byte
      |    AND x.doc_id < y.doc_id
      |  JOIN simbsz ON simbsz.band_idx = x.band_idx AND simbsz.band_byte = x.band_byte
      |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
      |    AND (simbsz.n <= 1000 OR x.doc_id = simbsz.rep))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // d15: the OUTPUT-DEFINED brute force — all shared-term pairs,
    // summed and thresholded on the 6-dp rounded cosine. The Spark
    // side is free to pick any exact physical regime (dense vector
    // pair join or pruned Bayardo posting join); both must land on
    // this definitionally-complete pair set, which is precisely what
    // makes the pruning bounds' exactness oracle-visible.
    // d17: brute-force containment (no blocking — output-defined, so
    // Spark's rarest-token pruning must lose nothing to hash-match)
    "d17_containment" ->
      """WITH t AS (SELECT doc_id,
        |  list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b
        |    ON a.doc_id <> b.doc_id AND len(a.s) <= len(b.s)
        |  WHERE len(list_filter(a.s, x -> list_contains(b.s, x))) = len(a.s))
        |SELECT id_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_containers,
        |  MIN(id_b) AS min_container
        |FROM p GROUP BY 1""".stripMargin,
    "d15_apss_cosine" ->
      s"""WITH docs AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
         |tf AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS th,
         |    CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS term FROM docs)
         |  GROUP BY 1, 2),
         |dfq AS (SELECT th, CAST(COUNT(*) AS BIGINT) AS df FROM tf
         |  GROUP BY 1),
         |wts AS (SELECT t.doc_id, t.th,
         |    t.tf * (ln((n.n + 1.0) / (k.df + 1.0)) + 1.0) AS w
         |  FROM tf t JOIN dfq k USING (th) CROSS JOIN n),
         |nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nm FROM wts
         |  GROUP BY 1),
         |dots AS (SELECT x.doc_id AS da, y.doc_id AS db,
         |    SUM(x.w * y.w) AS dp
         |  FROM wts x JOIN wts y ON y.th = x.th AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b,
         |  round(dp / (p.nm * q.nm), 6) AS cos_sim
         |FROM dots
         |JOIN nrm p ON p.doc_id = da
         |JOIN nrm q ON q.doc_id = db
         |WHERE round(dp / (p.nm * q.nm), 6) >= $ApssThreshold""".stripMargin,
    // d16: the full signature chain replayed — signed-sum sign bits
    // from the same md5-60 families (th bits 0..55 then th2 bits
    // 0..55, the Spark packing order), the 16×7 sign-LSH bands, the
    // hamming admission cut, exact verify on survivors. Sign ties are
    // impossible in practice (a weighted sum landing on exactly 0.0
    // bit-identically in both engines), and every later comparison is
    // integer or 6-dp-rounded, so the candidate set reproduces exactly
    "d16_apss_sketch" -> {
      val sgList = ((0 until 56).map(j =>
        s"SUM(u * CASE WHEN (th >> $j) & 1 = 1 THEN 1.0 ELSE -1.0 END)") ++
        (0 until 56).map(j =>
          s"SUM(u * CASE WHEN (th2 >> $j) & 1 = 1 THEN 1.0 ELSE -1.0 END)"))
        .mkString("[", ",\n    ", "]")
      val bandKeyExpr = (0 until ApssSketchBandBits).map(i =>
        s"bits[$ApssSketchBandBits * g.b + ${i + 1}] * ${1L << i}")
        .mkString(" + ")
      s"""WITH docs AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
         |tf AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS th,
         |    CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS term FROM docs)
         |  GROUP BY 1, 2),
         |dfq AS (SELECT th, CAST(COUNT(*) AS BIGINT) AS df FROM tf
         |  GROUP BY 1),
         |wts AS (SELECT t.doc_id, t.th,
         |    t.tf * (ln((n.n + 1.0) / (k.df + 1.0)) + 1.0) AS w
         |  FROM tf t JOIN dfq k USING (th) CROSS JOIN n),
         |nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nm FROM wts
         |  GROUP BY 1),
         |uw AS (SELECT w.doc_id, w.th,
         |    CAST(('0x' || substr(md5(CAST(w.th AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS th2,
         |    w.w, w.w / r.nm AS u
         |  FROM wts w JOIN nrm r USING (doc_id)),
         |sg AS (SELECT doc_id, $sgList AS sums FROM uw GROUP BY doc_id),
         |rb AS (SELECT doc_id, list_transform(sums,
         |      v -> CASE WHEN v > 0 THEN 1 ELSE 0 END) AS bits
         |  FROM sg),
         |bnd AS (SELECT doc_id, bits, g.b AS band_idx,
         |    $bandKeyExpr AS band_key
         |  FROM rb CROSS JOIN
         |    (SELECT unnest(generate_series(0, ${ApssSketchBands - 1})) AS b)
         |    AS g),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bnd a JOIN bnd b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id
         |  WHERE len(list_filter(range($ApssSignBits),
         |      i -> a.bits[i + 1] <> b.bits[i + 1]))
         |    <= $ApssSketchMaxHamming),
         |dots AS (SELECT c.da, c.db, SUM(x.w * y.w) AS dp
         |  FROM cand c
         |  JOIN wts x ON x.doc_id = c.da
         |  JOIN wts y ON y.doc_id = c.db AND y.th = x.th
         |  GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b,
         |  round(dp / (p.nm * q.nm), 6) AS cos_sim
         |FROM dots
         |JOIN nrm p ON p.doc_id = da
         |JOIN nrm q ON q.doc_id = db
         |WHERE round(dp / (p.nm * q.nm), 6) >= $ApssThreshold""".stripMargin
    },
    // d12: positioned grams via the lockstep double-unnest (the s5
    // precedent); the same md5-prefix hash, lag/cumsum island merge.
    // DuckDB's lag() over the first row yields NULL, and NULL <= 8 is
    // NULL → the ELSE arm, matching Spark's when().otherwise(1).
    "d12_dup_spans" ->
      s"""WITH toks AS (SELECT doc_id,
         |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
         |tk AS (SELECT doc_id, list_transform(
         |    generate_series(1, len(t) - ${SpanGram - 1}),
         |    i -> array_to_string(t[i:i+${SpanGram - 1}], ' ')) AS gs
         |  FROM toks WHERE len(t) >= $SpanGram),
         |grams AS (SELECT doc_id,
         |  CAST(unnest(generate_series(1, len(gs))) - 1 AS BIGINT) AS pos,
         |  CAST('0x' || substr(md5(unnest(gs)), 1, 15) AS BIGINT) AS g
         |  FROM tk),
         |rep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         |mk AS (SELECT doc_id, pos FROM grams JOIN rep USING (g)),
         |sp AS (SELECT doc_id, pos,
         |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |    <= $SpanGram THEN 0 ELSE 1 END AS ns FROM mk),
         |isl AS (SELECT doc_id, pos,
         |  SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS island FROM sp)
         |SELECT doc_id,
         |  min(pos) AS span_start,
         |  max(pos) + ${SpanGram - 1} AS span_end,
         |  max(pos) + ${SpanGram - 1} - min(pos) + 1 AS span_tokens,
         |  COUNT(*) AS n_dup_grams
         |FROM isl GROUP BY doc_id, island""".stripMargin,
    // d13: d12's span CTEs, then content-hash election (first
    // occurrence by (doc_id, span_start) survives), position-level cut
    // via NOT EXISTS over the cut ranges, and an ordered string_agg
    // rebuild. A doc whose kept set is empty rebuilds as '' (the
    // coalesce), matching the Spark side.
    "d13_span_cut" ->
      s"""WITH toks0 AS (SELECT doc_id,
         |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
         |tk0 AS (SELECT doc_id, t FROM toks0 WHERE len(t) >= $SpanGram),
         |gsrc AS (SELECT doc_id, list_transform(
         |    generate_series(1, len(t) - ${SpanGram - 1}),
         |    i -> array_to_string(t[i:i+${SpanGram - 1}], ' ')) AS gs
         |  FROM tk0),
         |grams AS (SELECT doc_id,
         |  CAST(unnest(generate_series(1, len(gs))) - 1 AS BIGINT) AS pos,
         |  CAST('0x' || substr(md5(unnest(gs)), 1, 15) AS BIGINT) AS g
         |  FROM gsrc),
         |rep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         |mk AS (SELECT doc_id, pos FROM grams JOIN rep USING (g)),
         |sp AS (SELECT doc_id, pos,
         |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |    <= $SpanGram THEN 0 ELSE 1 END AS ns FROM mk),
         |isl AS (SELECT doc_id, pos,
         |  SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS island FROM sp),
         |spans AS (SELECT doc_id, min(pos) AS span_start,
         |  max(pos) + ${SpanGram - 1} AS span_end
         |  FROM isl GROUP BY doc_id, island),
         |content AS (SELECT s.doc_id, s.span_start, s.span_end,
         |  CAST('0x' || substr(md5(array_to_string(list_slice(t.t,
         |    CAST(s.span_start + 1 AS INTEGER),
         |    CAST(s.span_end + 1 AS INTEGER)), ' ')), 1, 15) AS BIGINT) AS sh
         |  FROM spans s JOIN tk0 t ON t.doc_id = s.doc_id),
         |cuts AS (SELECT doc_id, span_start, span_end FROM (
         |  SELECT doc_id, span_start, span_end, ROW_NUMBER() OVER (
         |    PARTITION BY sh ORDER BY doc_id, span_start) AS rn
         |  FROM content) WHERE rn > 1),
         |aff AS (SELECT DISTINCT doc_id FROM cuts),
         |ptk AS (SELECT t.doc_id,
         |  CAST(unnest(generate_series(1, len(t.t))) - 1 AS BIGINT) AS p,
         |  unnest(t.t) AS tok
         |  FROM tk0 t JOIN aff USING (doc_id)),
         |kept AS (SELECT doc_id, p, tok FROM ptk WHERE NOT EXISTS (
         |  SELECT 1 FROM cuts c WHERE c.doc_id = ptk.doc_id
         |    AND ptk.p BETWEEN c.span_start AND c.span_end)),
         |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS kept_text,
         |  COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN a.doc_id IS NULL THEN trim(d.text)
         |       ELSE coalesce(r.kept_text, '') END AS clean_text,
         |  CAST(CASE WHEN a.doc_id IS NULL THEN 0
         |       ELSE len(t.t) - coalesce(r.n_kept, 0) END AS BIGINT)
         |    AS n_cut_tokens
         |FROM documents d
         |LEFT JOIN tk0 t ON t.doc_id = d.doc_id
         |LEFT JOIN aff a ON a.doc_id = d.doc_id
         |LEFT JOIN reb r ON r.doc_id = d.doc_id""".stripMargin,
    // d8: connected components as a recursive reachability closure —
    // r(node, reach) enumerates every node reachable from `node` over
    // the symmetric edge set (self-edge seeds include singletons), so
    // min(reach) is the component minimum. Quadratic in component
    // size, which is fine for an oracle (components are near-dup
    // clusters, i.e. small); the Spark side is the scalable path.
    "d8_dedup_clusters" ->
      s"""WITH RECURSIVE $sigCte,
         |${simCandCteFrom()},
         |$cgCandCte,
         |e AS (SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |  UNION SELECT doc_a, doc_b FROM simcand
         |  UNION SELECT doc_b, doc_a FROM simcand
         |  UNION SELECT doc_a, doc_b FROM cgcand
         |  UNION SELECT doc_b, doc_a FROM cgcand),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |r AS (SELECT id AS node, id AS reach FROM nodes
         |  UNION
         |  SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a)
         |SELECT node AS doc_id, min(reach) AS cluster_id,
         |  CAST(CASE WHEN node = min(reach) THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM r GROUP BY node""".stripMargin,
    // d14: d8's reachability closure once more, every document joined
    // to its cluster (its own id when untouched), split by the c7
    // md5-prefix hash of the CLUSTER id — near-dups co-routed
    "d14_split_leakfree" ->
      s"""WITH RECURSIVE $sigCte,
         |${simCandCteFrom()},
         |$cgCandCte,
         |e AS (SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |  UNION SELECT doc_a, doc_b FROM simcand
         |  UNION SELECT doc_b, doc_a FROM simcand
         |  UNION SELECT doc_a, doc_b FROM cgcand
         |  UNION SELECT doc_b, doc_a FROM cgcand),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |r AS (SELECT id AS node, id AS reach FROM nodes
         |  UNION
         |  SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         |cl AS (SELECT node AS doc_id, min(reach) AS cluster_id
         |  FROM r GROUP BY node),
         |asg AS (SELECT d.doc_id,
         |  coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |  CAST(('0x' || substr(md5('split:' || cluster_id), 1, 15))
         |    AS BIGINT) % 10 AS h
         |  FROM asg)""".stripMargin,
    // d9: d8's reachability closure, then the complement — documents
    // whose id is NOT a dropped (non-minimum) cluster member
    "d9_dedup_apply" ->
      s"""WITH RECURSIVE $sigCte,
         |${simCandCteFrom()},
         |$cgCandCte,
         |e AS (SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |  UNION SELECT doc_a, doc_b FROM simcand
         |  UNION SELECT doc_b, doc_a FROM simcand
         |  UNION SELECT doc_a, doc_b FROM cgcand
         |  UNION SELECT doc_b, doc_a FROM cgcand),
         |cnodes AS (SELECT DISTINCT a AS id FROM e),
         |r AS (SELECT id AS node, id AS reach FROM cnodes
         |  UNION
         |  SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         |drops AS (SELECT node FROM r GROUP BY node HAVING node <> min(reach))
         |SELECT doc_id, source, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM drops)""".stripMargin,
    "d7_chargram_lsh" ->
      s"WITH ${sigCteFrom(charShingleCte(), CharSampleMod)} SELECT doc_a, doc_b FROM cand",
    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "d6_incremental" ->
      """WITH d AS (SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |known AS (SELECT fp FROM d WHERE doc_id % 5 <> 4),
        |fresh AS (SELECT * FROM d WHERE doc_id % 5 = 4)
        |SELECT doc_id, fp FROM (
        |  SELECT doc_id, fp,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        |  FROM fresh WHERE fp NOT IN (SELECT fp FROM known))
        |WHERE rk = 1""".stripMargin,
    "d2_minhash_lsh" -> s"WITH $sigCte SELECT doc_a, doc_b FROM cand",
    // d10: the sig CTE already carries (doc_id, k, mh) in long form —
    // the estimator is one agreement count per candidate pair
    "d10_jaccard_est" ->
      s"""WITH $sigCte
         |SELECT doc_a, doc_b,
         |  round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 32.0, 4)
         |    AS jaccard_est
         |FROM cand
         |JOIN sig a ON a.doc_id = doc_a
         |JOIN sig b ON b.doc_id = doc_b AND b.k = a.k
         |GROUP BY doc_a, doc_b""".stripMargin,
    // d19: d3's verified pairs + the doc→source projection, rolled up
    // by the unordered source pair; DECIMAL-fixed mean Jaccard
    "d19_source_redundancy" ->
      s"""WITH $sigCte,
         |v AS (SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |  round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
         |    / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4)
         |    AS jaccard
         |  FROM cand JOIN sh sa ON doc_a = sa.doc_id
         |            JOIN sh sb ON doc_b = sb.doc_id)
         |  WHERE jaccard >= 0.8),
         |sp AS (SELECT least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b, jaccard
         |  FROM v JOIN documents da ON v.doc_a = da.doc_id
         |         JOIN documents db ON v.doc_b = db.doc_id)
         |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  round(CAST(SUM(CAST(jaccard AS DECIMAL(14,4))) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE), 6) AS mean_jaccard
         |FROM sp GROUP BY source_a, source_b""".stripMargin,
    // d18: d3's candidate-Jaccard chain collapsed to the tuning
    // report; DECIMAL-fixed mean, mirrored ratio expressions
    "d18_lsh_precision" ->
      s"""WITH $sigCte,
         |j AS (SELECT round(len(list_intersect(sa.shingles, sb.shingles))
         |    * 1.0 / len(list_distinct(list_concat(sa.shingles,
         |      sb.shingles))), 4) AS jaccard
         |  FROM cand JOIN sh sa ON doc_a = sa.doc_id
         |            JOIN sh sb ON doc_b = sb.doc_id)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |  CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_verified,
         |  round(CAST(SUM(CAST(jaccard AS DECIMAL(14,4))) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE), 6) AS mean_jaccard,
         |  round(CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END)
         |      AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE), 6) AS precision
         |FROM j""".stripMargin,
    "d3_jaccard_verify" ->
      s"""WITH $sigCte
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |  round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
         |    / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
         |  FROM cand JOIN sh sa ON doc_a = sa.doc_id
         |            JOIN sh sb ON doc_b = sb.doc_id)
         |WHERE jaccard >= 0.8""".stripMargin,
    // d11: brute-force ground truth — EVERY doc pair's exact Jaccard
    // (the oracle can afford O(n²) at sf0.01; completeness of the
    // prefix-filter candidate set is exactly what the hash match
    // proves, since a missed pair would be a missing row)
    "d11_setsim_join" ->
      s"""WITH ${shingleCteFrom(
             "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")}
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.shingles, b.shingles)) * 1.0
         |    / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
         |    AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8""".stripMargin,
    "d5_simhash_pairs" ->
      """WITH tk AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM tk),
        |bsum AS (SELECT doc_id, j,
        |  SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
        |  GROUP BY doc_id, j),
        |sh AS (SELECT doc_id,
        |  SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
        |  FROM bsum GROUP BY doc_id),
        |banded AS (SELECT doc_id, simhash, b AS band_idx,
        |  (simhash >> (b * 8)) & 255 AS band_byte
        |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
        |bsz AS (SELECT band_idx, band_byte, COUNT(*) AS n, MIN(doc_id) AS rep
        |  FROM banded GROUP BY band_idx, band_byte)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  bit_count(xor(x.simhash, y.simhash)) AS hamming
        |FROM banded x JOIN banded y
        |  ON x.band_idx = y.band_idx AND x.band_byte = y.band_byte
        |  AND x.doc_id < y.doc_id
        |JOIN bsz ON bsz.band_idx = x.band_idx AND bsz.band_byte = x.band_byte
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        |  AND (bsz.n <= 1000 OR x.doc_id = bsz.rep)""".stripMargin,
    "d4_simhash" ->
      """WITH tk AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM tk),
        |b AS (SELECT doc_id, j,
        |  SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
        |  GROUP BY doc_id, j)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |FROM b GROUP BY doc_id""".stripMargin)
}
