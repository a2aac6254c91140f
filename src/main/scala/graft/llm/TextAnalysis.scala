package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.core.{Checkpoint, DriverTier, Tables}

/** Text-analysis operators for a large-scale training-data pipeline
  * (SURVEY §4.3 north-star): token stats, quality scoring, language ID,
  * document fingerprinting — all over the `documents` table.
  *
  * Everything here is a narrow projection over a single scan: no
  * shuffle, no UDF — built-in `functions._` plus the native codegen
  * kernels (count_in_set, char_ngrams, md5_60), so the hot loops stay
  * inside whole-stage codegen and scale linearly with input splits at
  * 100 TB. (Interpreted higher-order lambdas survive only where the
  * element count is per-line or the fold is inherently sequential —
  * t9's bullet check, t4's rolling hash.)
  *
  * Cross-engine determinism: every hash is derived from `md5()` hex
  * output (identical in Spark and DuckDB); every double is produced by
  * the same left-to-right arithmetic then rounded, so the DuckDB
  * oracle matches bit-for-bit at the compared precision.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text (no empties: text is trimmed first). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Portable 60-bit hash: first 15 hex digits of md5 as a BIGINT.
    * Same value in DuckDB via `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`.
    *
    * Backed by the native [[graft.functions.Md5Prefix60]] codegen
    * Expression (digest bytes → long, no hex-string intermediate) —
    * the hot path of every MinHash/SimHash query. `md5_60` resolves
    * in any session built by [[graft.core.Session]], which installs
    * [[graft.functions.GraftExtensions]].
    */
  def hash60(c: Column): Column =
    call_function(graft.functions.HashFunctions.fnName, c)

  /** BPE-ish pre-tokenizer: letter runs, digit runs, and single
    * non-space symbols — the shape a byte-pair encoder's pre-split
    * produces. Same regex runs in DuckDB's regexp_extract_all.
    */
  val bpeish = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  // -- t1: token statistics ------------------------------------------------
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), tk.as("t"), trim(col("text")).as("txt"))
      .select(
        col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("t"))).cast(LongType).as("n_distinct"),
        size(regexp_extract_all(col("txt"), lit(bpeish), lit(0)))
          .cast(LongType).as("n_bpe_tokens"),
        // sum of token lengths == chars left after removing ALL
        // whitespace (tokens partition the non-space chars), so the
        // mean needs no per-token lambda: higher-order aggregate/
        // transform evaluate interpreted per element, while
        // regexp_replace + char_length stay in whole-stage codegen
        round(char_length(regexp_replace(col("txt"), "\\s+", ""))
          .cast("double") / size(col("t")), 4)
          .as("avg_token_len"))
  }

  // -- t2: quality scoring -------------------------------------------------
  /** Heuristic doc-quality score in [0,1]: lexical diversity
    * (distinct/total tokens) blended with closeness of the stopword
    * ratio to a natural-text target of 0.4. Deterministic arithmetic
    * only — no RNG, no model.
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")

  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), tk.as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        // native count_in_set kernel: one hash probe per token inside
        // codegen, vs an interpreted filter lambda × linear
        // array_contains scan per token
        round(graft.functions.SetFunctions.countInSet(col("t"), stopwords)
          / size(col("t")).cast("double"), 4).as("stop_ratio"),
        round(size(array_distinct(col("t"))) / size(col("t")).cast("double"), 4)
          .as("diversity"))
      .withColumn("quality",
        round(lit(0.6) * col("diversity")
          + lit(0.4) * (lit(1.0) - abs(col("stop_ratio") - lit(0.4))), 4))
  }

  // -- t9: rule-based quality filtering (Gopher-style) ---------------------
  /** The published heuristic rule battery (Rae et al. 2021, "Scaling
    * Language Models" §A1.1 — public): mean word length in [3, 10],
    * bullet-led line fraction ≤ 0.9, #-symbol-to-word ratio ≤ 0.1,
    * ellipsis-to-word ratio ≤ 0.3, duplicate-line fraction ≤ 0.3.
    * Emits each metric plus the composite pass flag, so downstream
    * curation can re-weight individual rules without re-scanning.
    * One narrow projection, no shuffle — string counts via
    * length-difference (no regex), line metrics via split + HOFs.
    */
  /** The five t9 rule metrics as named columns over a frame carrying
    * `text`, tokenized `t`, and newline-split `lines` — exposed so the
    * composed pipeline (c8 stage A) can compute them in the SAME scan
    * projection as the curation signals instead of re-reading and
    * re-tokenizing the corpus.
    */
  private[llm] def ruleMetricCols(): Seq[Column] = {
    val nWords = size(col("t")).cast("double")
    val hashes = (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
      .cast("double")
    val ellipses = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("double")
    val bulletLed = size(filter(col("lines"), l =>
      ltrim(l).startsWith("-") || ltrim(l).startsWith("*") ||
        ltrim(l).startsWith("•")))
    Seq(
      // same codegen identity as t1: Σ len(word) = chars after
      // stripping all whitespace — no interpreted per-token lambda
      round(char_length(regexp_replace(col("text"), "\\s+", ""))
        .cast("double") / nWords, 4).as("mean_word_len"),
      round(bulletLed / size(col("lines")).cast("double"), 4)
        .as("bullet_frac"),
      round(hashes / nWords, 4).as("hash_ratio"),
      round(ellipses / nWords, 4).as("ellipsis_ratio"),
      round(lit(1.0) - size(array_distinct(col("lines")))
        / size(col("lines")).cast("double"), 4).as("dup_line_frac"))
  }

  /** The t9 composite pass flag over [[ruleMetricCols]]'s outputs. */
  private[llm] def rulePassCol: Column =
    (col("mean_word_len").between(3.0, 10.0) &&
      col("bullet_frac") <= 0.9 && col("hash_ratio") <= 0.1 &&
      col("ellipsis_ratio") <= 0.3 && col("dup_line_frac") <= 0.3)
      .cast("int")

  def qualityRulesOf(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    docs
      .select(col("doc_id"), col("text"), tk.as("t"),
        split(col("text"), "\n").as("lines"))
      .select(col("doc_id") +: ruleMetricCols(): _*)
      .withColumn("pass", rulePassCol)
  }

  def qualityRules(s: SparkSession, dir: String): DataFrame =
    qualityRulesOf(Tables.load(s, dir, "documents"))

  // -- t10: n-gram repetition signals --------------------------------------
  /** The Gopher repetition rules t9 leaves out (Rae et al. 2021 §A1.1,
    * token-count variant): per doc and gram size n ∈ {2, 3}, the share
    * of grams claimed by the single most frequent gram (`top_share` —
    * templated/boilerplate text scores high) and the fraction of gram
    * occurrences whose gram appears more than once (`dup_frac`).
    * Output is long-format (one row per doc × n) so downstream
    * filtering can threshold each gram size independently.
    *
    * Scale shape: gram enumeration is explode(sequence) + element_at —
    * all codegen, no interpreted lambda — and both aggregations are
    * partial-agg group-bys keyed by doc (the (doc, n, gram) count
    * collapses map-side before its shuffle). Docs with fewer than n
    * tokens have no n-grams and contribute no row for that n, by
    * construction. The word_ngrams kernel is NOT used here: it dedupes
    * shingles internally (right for MinHash), while repetition
    * counting needs the multiset.
    */
  def repetitionStatsOf(docs: DataFrame): DataFrame = {
    // Scan-side kernel form (r16): the per-doc repetition moments come
    // from ONE gram_rep_stats pass per (doc, n) — no corpus-sized
    // (doc, n, gram) explode, no gram strings through an exchange, no
    // keyed aggregations at all (guide §2.3/§2.4; the old two-level
    // aggregate shuffled every gram occurrence). Same outputs to the
    // digit: n_grams = Σc, top_share = round(max c / Σc, 4), dup_frac
    // = round(Σ{c>1} c / Σc, 4); docs shorter than n still contribute
    // no row (the size filter mirrors the explode form's behavior).
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), col("t"),
        explode(array(lit(2), lit(3))).as("n"))
      .filter(size(col("t")) >= col("n"))
      .select(col("doc_id"), col("n"),
        when(col("n") === 2,
          graft.functions.TextFunctions.gramRepStats(col("t"), 2))
        .otherwise(
          graft.functions.TextFunctions.gramRepStats(col("t"), 3))
          .as("st"))
      .select(col("doc_id"), col("n"),
        col("st.n_grams").as("n_grams"),
        round(col("st.top_c").cast("double") / col("st.n_grams"), 4)
          .as("top_share"),
        round(col("st.dup_c").cast("double") / col("st.n_grams"), 4)
          .as("dup_frac"))
  }

  def repetitionStats(s: SparkSession, dir: String): DataFrame =
    repetitionStatsOf(Tables.load(s, dir, "documents"))

  // -- t3: language ID -----------------------------------------------------
  /** Marker-token language ID (n-gram-free heuristic): score each
    * language by |tokens ∩ markers| and take the arg-max, ties broken
    * by the fixed language order below. On real corpora the marker
    * lists would be the top-k function words per language.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "zu"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "ren2", "you3", "wo3"))

  def langId(s: SparkSession, dir: String): DataFrame = {
    val tk = array_distinct(tokens(col("text")))
    val scored = Tables.load(s, dir, "documents")
      .select(col("doc_id"), tk.as("t"))
      .select(col("doc_id") +: langMarkers.map { case (l, ms) =>
        size(array_intersect(col("t"), array(ms.map(lit): _*)))
          .cast(LongType).as(s"s_$l")
      }: _*)
    val best = langMarkers.map(m => col(s"s_${m._1}")).reduce(greatest(_, _))
    val pred = langMarkers.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // foldRight builds when-chains back-to-front; first match in
    // langMarkers order wins, matching the oracle's CASE order.
    scored.select(col("doc_id"), pred.as("pred_lang"))
  }

  // -- t5: char-n-gram language ID ----------------------------------------
  /** Character-bigram language ID: score each language by how many of
    * its profile bigrams appear among the document's distinct char
    * bigrams; arg-max with the same fixed-order tie-break as [[langId]].
    * (On real corpora the profiles are the top-k bigrams per language
    * from a labeled sample.)
    */
  val ngramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("ch", "ei", "de", "en", "ie", "er"),
    "en" -> Seq("th", "he", "in", "er", "an", "re"),
    "es" -> Seq("de", "la", "os", "en", "ar", "el"),
    "fr" -> Seq("le", "es", "de", "on", "ou", "nt"),
    "zh" -> Seq("zh", "sh", "ng", "xi", "qi", "ao"))

  def langIdNgram(s: SparkSession, dir: String): DataFrame = {
    // native char_ngrams kernel: one codegen loop per doc — the SQL
    // lambda form it replaces interpreted one call per CHARACTER of
    // the corpus, the densest element count of any text path
    val grams = graft.functions.TextFunctions.charNgrams(col("txt"), 2)
    val scored = Tables.load(s, dir, "documents")
      .select(col("doc_id"), lower(trim(col("text"))).as("txt"))
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id") +: ngramProfiles.map { case (l, ps) =>
        size(array_intersect(col("g"), array(ps.map(lit): _*)))
          .cast(LongType).as(s"s_$l")
      }: _*)
    val best = ngramProfiles.map(p => col(s"s_${p._1}")).reduce(greatest(_, _))
    val pred = ngramProfiles.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.select(col("doc_id"), pred.as("pred_lang"))
  }

  // -- t4: fingerprint -----------------------------------------------------
  /** Canonical-form fingerprint: lowercase, collapse runs of
    * whitespace, md5 → 128-bit hex + 60-bit long. The long form is
    * what a 100 TB dedup shuffle would key on (8 bytes vs 32).
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    // Karp-Rabin rolling hash folded over per-token hashes
    // (base 31 mod 2^31-1) — the incremental form a streaming
    // fingerprinter maintains; here the whole-document value.
    val roll = aggregate(
      transform(tokens(col("text")), t => hash60(t)),
      lit(0L), (acc, h) => (acc * 31L + h) % 2147483647L)
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      md5(norm).as("fp"),
      hash60(norm).as("fp60"),
      roll.as("fp_roll"))
  }

  // -- t6: PII-style redaction --------------------------------------------
  /** Training-pipeline redaction pass: emails → <EMAIL>, URLs → <URL>,
    * 6+-digit runs → <NUM> (ids/phones), with a per-doc redaction
    * count. Order matters (emails before URLs would otherwise leave
    * the mailto-ish user@host inside URLs untouched — URLs first).
    * Pure narrow projection; the same PCRE-ish patterns run in DuckDB.
    */
  val urlRe = "https?://[^\\s]+"
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val numRe = "[0-9]{6,}"

  def redact(s: SparkSession, dir: String): DataFrame = {
    val t0 = col("text")
    val t1 = regexp_replace(t0, urlRe, "<URL>")
    val t2 = regexp_replace(t1, emailRe, "<EMAIL>")
    val t3 = regexp_replace(t2, numRe, "<NUM>")
    val hits = size(regexp_extract_all(t0, lit(urlRe), lit(0))) +
      size(regexp_extract_all(regexp_replace(t0, urlRe, " "), lit(emailRe), lit(0))) +
      size(regexp_extract_all(
        regexp_replace(regexp_replace(t0, urlRe, " "), emailRe, " "),
        lit(numRe), lit(0)))
    Tables.load(s, dir, "documents").select(
      col("doc_id"), t3.as("redacted"), hits.cast(LongType).as("n_redactions"))
  }

  // -- t7: corpus vocabulary ----------------------------------------------
  /** Vocabulary builder: term frequency (total occurrences) and
    * document frequency per lowercase token, top 100 by df. The
    * explode is the one genuinely shuffle-heavy text op — partial
    * aggregation collapses each partition's counts to its distinct
    * tokens before the exchange, so the shuffle is O(vocab) per
    * partition, not O(corpus tokens). Ties broken by token for a
    * deterministic cut.
    */
  def vocabulary(s: SparkSession, dir: String, topK: Int = 100): DataFrame =
    Tables.load(s, dir, "documents")
      // lowercase the STRING once, then split: identical tokens, and
      // the per-token lower() lambda (interpreted per element) is gone
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(desc("df"), desc("tf"), col("token"))
      .limit(topK)

  // -- t19: count-min sketch heavy hitters ---------------------------------
  /** t19 — token frequencies from a [[graft.functions.CmsAggregator]]
    * count–min sketch, probed for the t7 vocabulary and compared with
    * the exact counts: `est`, `overcount = est − tf` (≥ 0 always — the
    * CMS no-false-negative contract), and an `is_hh` flag marking
    * tokens above 1% of total occurrences (the classic heavy-hitter
    * cut, in exact integer arithmetic `est·100 ≥ N`).
    *
    * Scale shape: the sketch build is ONE narrow pass over the token
    * stream with map-side partial grids — the shuffle carries a
    * 4×1024-counter grid per partition, not the vocabulary; the probe
    * is a broadcast of the one-row sketch against the (small) query
    * set. At 100 TB this is how you get per-token frequency signals
    * without the t7 group-by's vocabulary-sized shuffle — here the
    * exact counts ride along precisely so the sketch's error is
    * VISIBLE and oracle-checked (DuckDB replays the grid cell-for-
    * cell from the same md5-60 row hashes).
    */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsAggregator
    val occ = Tables.load(s, dir, "documents")
      .select(explode(tokens(lower(col("text")))).as("token"))
    val sk = occ.select(
      udaf(CmsAggregator, org.apache.spark.sql.Encoders.STRING)
        .apply(col("token")).as("sketch"))
    val tot = occ.agg(count(lit(1)).as("n"))
    val est = (0 until CmsAggregator.Depth).map { r =>
      element_at(col("sketch"),
        (hash60(concat(lit(s"$r:"), col("token"))) % CmsAggregator.Width
          + lit(r.toLong * CmsAggregator.Width) + 1).cast("int"))
    }.reduce(least(_, _))
    vocabulary(s, dir)
      .crossJoin(broadcast(sk)).crossJoin(broadcast(tot))
      .select(col("token"), col("tf"), col("df"), est.as("est"), col("n"))
      .select(col("token"), col("tf"), col("df"), col("est"),
        (col("est") - col("tf")).as("overcount"),
        (col("est") * 100 >= col("n")).cast(LongType).as("is_hh"))
  }

  // -- t20/t21: KMV distinct sketch ----------------------------------------

  /** Consecutive-token bigrams of a document stream, hashed to the
    * portable 60-bit space — the shared input of the KMV queries.
    * `zip_with(slice(t,1,n-1), slice(t,2,n-1), concat)` builds the
    * pairs inside one projection (no posexplode self-join), so the
    * bigram stream is a narrow map over the scan.
    */
  private def bigramHashes(s: SparkSession, dir: String): DataFrame = {
    bigramHashesOf(Tables.load(s, dir, "documents"))
  }

  /** The same sharded bigram hash stream over an arbitrary (doc_id,
    * text) frame — the streaming KMV twin feeds micro-batches through
    * this so batch and continuous sketches see identical elements.
    */
  private[graft] def bigramHashesOf(docs: DataFrame): DataFrame =
    docs
      .select((col("doc_id") % 4).cast(LongType).as("shard"),
        tokens(lower(col("text"))).as("t"))
      .select(col("shard"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .select(col("shard"), hash60(col("bg")).as("h"))

  /** KMV distinct estimate from a sketch column: the sketch size while
    * it is not yet full (the sketch IS the distinct set there), else
    * the Bar-Yossef `(K−1)·2^60 / kth` estimator. Unrounded — callers
    * round at output precision.
    */
  private def kmvEst(sk: Column): Column = {
    val k = graft.functions.KmvAggregator.K
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) /
        element_at(sk, k).cast("double"))
  }

  /** t20 — distinct bigram counts per corpus shard (and the rollup
    * total) from a [[graft.functions.KmvAggregator]] k-minimum-values
    * sketch, with the exact `count_distinct` riding along so the
    * sketch error is VISIBLE and oracle-checked.
    *
    * Scale shape: one narrow pass over the token stream with map-side
    * partial sketches — the shuffle carries one ≤K-long array per
    * partition and group, never the bigram stream; the rollup total
    * is the same aggregation one level up, so the union row
    * exercises the sketch MERGE path end to end. At 100 TB this is
    * per-slice cardinality profiling without `count_distinct`'s
    * value-keyed shuffle (kept here precisely to expose the error).
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvAggregator
    val agg = udaf(KmvAggregator, org.apache.spark.sql.Encoders.scalaLong)
    bigramHashes(s, dir)
      .rollup(col("shard"))
      .agg(agg(col("h")).as("sk"), count_distinct(col("h")).as("n_exact"))
      .select(coalesce(col("shard"), lit(-1L)).as("shard"), col("n_exact"),
        size(col("sk")).cast(LongType).as("n_sk"),
        round(kmvEst(col("sk")), 2).as("est"))
      .orderBy("shard")
  }

  /** t21 — distinct-set ALGEBRA on KMV sketches (Beyer et al. 2007
    * AKMV): sketches of shard 0, shard 1, and their union; the
    * intersection estimate `K∩/|L| · est(A∪B)` where `K∩` counts
    * union k-mins present in BOTH side sketches; the Jaccard estimate
    * `K∩/|L|`. Exact counterparts ride along for the error contract.
    * This is what HLL cannot do: one O(K) synopsis per slice answers
    * union, intersection, and overlap questions between ANY pair of
    * slices after the fact — no second pass over the data.
    *
    * Scale shape: three sketch aggregations over one scan (each a
    * map-side partial), then pure array algebra on three 1-row frames
    * — `array_intersect` over ≤K-long arrays, broadcast everywhere.
    */
  def kmvSetOps(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvAggregator
    val agg = udaf(KmvAggregator, org.apache.spark.sql.Encoders.scalaLong)
    val hh = bigramHashes(s, dir).filter(col("shard") < 2)
    val ska = hh.filter(col("shard") === 0)
      .agg(agg(col("h")).as("ska"), count_distinct(col("h")).as("n_a"))
    val skb = hh.filter(col("shard") === 1)
      .agg(agg(col("h")).as("skb"), count_distinct(col("h")).as("n_b"))
    val sku = hh.agg(agg(col("h")).as("sku"),
      count_distinct(col("h")).as("n_union"))
    val ni = hh.select(col("shard"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("sides"))
      .filter(col("sides") === 2)
      .agg(count(lit(1)).as("n_intersect"))
    val kInt = size(array_intersect(array_intersect(col("sku"), col("ska")),
      col("skb"))).cast("double")
    val estU = kmvEst(col("sku"))
    sku.crossJoin(broadcast(ska)).crossJoin(broadcast(skb))
      .crossJoin(broadcast(ni))
      .select(col("n_a"), col("n_b"), col("n_union"),
        coalesce(col("n_intersect"), lit(0L)).as("n_intersect"),
        round(kmvEst(col("ska")), 2).as("est_a"),
        round(kmvEst(col("skb")), 2).as("est_b"),
        round(estU, 2).as("est_union"),
        round(kInt / size(col("sku")).cast("double") * estU, 2)
          .as("est_intersect"),
        round(kInt / size(col("sku")).cast("double"), 4).as("jaccard_est"))
  }

  // -- t22: HyperLogLog distinct sketch ------------------------------------

  /** t22 — distinct bigram counts per corpus shard (and the rollup
    * total) from a [[graft.functions.HllAggregator]] HyperLogLog
    * sketch, the fixed-memory sibling of t20's KMV: 512 one-byte
    * registers per sketch instead of 256 longs, at the price of set
    * algebra (HLL registers only merge by max — union and cardinality
    * are the whole query surface; t21's intersection/Jaccard stay
    * KMV-only). The exact `count_distinct` rides along so the sketch
    * error is VISIBLE and oracle-checked.
    *
    * Scale shape: identical to t20 — one narrow pass with map-side
    * partial sketches, the shuffle carrying one 512-byte array per
    * partition and group; the rollup row exercises the register-max
    * MERGE path. Cross-engine determinism is arranged by computing the
    * harmonic denominator Σ_j 2^−M_j as the EXACT integer
    * Σ_j 2^(52−M_j) (each term a power of two ≤ 2^52; the 512-term
    * sum < 2^61 fits a long), divided out once — no float-summation
    * order anywhere, so DuckDB replays the estimate bit-for-bit from
    * `h % 512` and `52 − length(bin(h // 512))`.
    */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllAggregator
    val agg = udaf(HllAggregator, org.apache.spark.sql.Encoders.scalaLong)
    val m = HllAggregator.M
    val sInt = expr("aggregate(sk, CAST(0 AS BIGINT), (acc, x) -> " +
      "acc + shiftleft(CAST(1 AS BIGINT), 52 - CAST(x AS INT)))")
    val v = size(filter(col("sk"),
      (x: Column) => x === 0)).cast("double")
    val raw = lit(HllConst) / sInt.cast("double")
    val est = when(v > 0 && raw <= lit(2.5 * m),
        lit(m.toDouble) * log(lit(m.toDouble) / v))
      .otherwise(raw)
    bigramHashes(s, dir)
      .rollup(col("shard"))
      .agg(agg(col("h")).as("sk"), count_distinct(col("h")).as("n_exact"))
      .select(coalesce(col("shard"), lit(-1L)).as("shard"), col("n_exact"),
        v.cast(LongType).as("v_zero"), round(est, 2).as("est"))
      .orderBy("shard")
  }

  /** `alpha_m · m² · 2^52` — the numerator over the integer harmonic
    * sum; one shared double literal in both engines.
    */
  private val HllConst: Double = {
    val m = graft.functions.HllAggregator.M
    graft.functions.HllAggregator.Alpha * m.toDouble * m * math.pow(2, 52)
  }

  // -- t14: vocabulary coverage / OOV rate ---------------------------------
  /** t14 — per-document out-of-vocabulary rate against the [[vocabulary]]
    * top-k: the standard tokenizer-coverage QA metric (a doc whose
    * tokens mostly miss the vocabulary is noise, wrong-language, or
    * evidence the vocabulary is too small — and the aggregate OOV
    * distribution sizes the vocab itself).
    *
    * Scale shape: the vocabulary is a top-k aggregate (|vocab| rows,
    * explicitly broadcast), so coverage is one exploded-token scan
    * with a broadcast left join and a per-doc partial-agg count —
    * no corpus-keyed shuffle beyond the per-doc aggregation.
    */
  def oovRate(s: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val vocab = broadcast(
      vocabulary(s, dir, topK).select(col("token"), lit(1).as("in_vocab")))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .join(vocab, Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov") / col("n_tokens").cast("double"), 4))
  }

  // -- t8: per-document TF-IDF keywords ------------------------------------
  /** Top-`topK` characteristic terms per document by TF-IDF (smoothed
    * idf = ln((N+1)/(df+1)) + 1, the scikit-learn convention). ONE
    * scan: the (doc, term) counts aggregate once (map-side partial
    * before the exchange), then document frequency is an unordered
    * COUNT window over those same rows partitioned by term — a
    * re-key of the 100-bytes-per-row tf stream instead of a second
    * scan + explode + aggregation chain feeding a join (which is what
    * a tf ⋈ df formulation plans as, since the tf subtree appears
    * twice and Spark recomputes shared lineage). The corpus size
    * joins in as a broadcast one-row aggregate, never a driver-side
    * collect. The ranking window orders by the ROUNDED score with a
    * term tiebreak, so the top-k cut is deterministic across engines
    * and partition counts.
    */
  def tfidf(s: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    // string-level lower before split (see vocabulary): same tokens,
    // no interpreted per-token lambda
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
    val tf = docs
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val wDf = Window.partitionBy("term")
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk").cast(LongType).as("rk"))
  }

  // -- t11: BM25 relevance scoring -----------------------------------------
  /** Okapi BM25 parameters (the universal defaults) and the fixed
    * probe query over the synthetic corpus's vocabulary.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("query", "stream", "merge")

  /** Top-`topK` documents by Okapi BM25 against [[Bm25Query]] — the
    * standard retrieval scorer (tf saturation + length normalization),
    * which a training-data pipeline uses for quality-targeted
    * selection and retrieval-based mixing; idf is the Lucene-smoothed
    * ln((N - df + 0.5)/(df + 0.5) + 1) so scores stay positive.
    *
    * Scale shape: the IN-list filter on query terms cuts the exploded
    * token stream to matching rows BEFORE any aggregation, so the
    * (doc, term) tf groupBy shuffles only docs that can score; df and
    * corpus stats (N, avgdl) are one-row/|Q|-row broadcast aggregates;
    * the final cut is orderBy+limit, which plans as
    * TakeOrderedAndProject — a per-partition O(k) heap + driver merge,
    * never a global sort. Ranking orders by the ROUNDED score with a
    * doc_id tiebreak, so the top-k cut is deterministic cross-engine.
    */
  def bm25(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
    val dl = docs.select(col("doc_id"), size(col("t")).cast("double").as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(col("t")).as("term"))
      .filter(col("term").isInCollection(Bm25Query))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("t"))).as("avgdl"))
    bm25Score(tf, dl, stats, topK)
  }

  /** The BM25 scoring tail over prepared (doc, term, tf) / (doc, dl) /
    * one-row-stats inputs — shared verbatim by the inline t11 and the
    * [[bm25FromIndex]] persisted-index twin, so both produce identical
    * arithmetic (and therefore identical rounded scores and cuts).
    */
  private def bm25Score(tf: DataFrame, dl: DataFrame, stats: DataFrame,
      topK: Int): DataFrame = {
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = col("tf") * (Bm25K1 + 1.0) /
      (col("tf") + lit(Bm25K1) *
        (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(idf * norm), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(topK)
  }

  /** PERSISTS the full BM25 retrieval index: complete (doc_id, term,
    * tf) postings BUCKETED BY TERM (an IN-list of query terms prunes
    * to the matching buckets — the inverted-index access path), per-doc
    * lengths bucketed by doc_id (the score join's key), and the one-row
    * corpus stats. The t11 inline form filters the token stream to ONE
    * query's terms before aggregating — right for a single query, but a
    * retrieval service pays the corpus scan per query; this index pays
    * it once per release, and every query after is bucket-pruned
    * posting reads + a doc-keyed join. [[bm25FromIndex]] is spec-pinned
    * equal to t11.
    */
  def writeBm25Index(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit = {
    val docs = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
    graft.ops.Partitioning.writeBucketed(
      docs.select(col("doc_id"), explode(col("t")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")),
      s"${table}_postings", "term", buckets)
    graft.ops.Partitioning.writeBucketed(
      docs.select(col("doc_id"), size(col("t")).cast("double").as("dl")),
      s"${table}_doclen", "doc_id", buckets)
    graft.ops.Partitioning.dropManaged(s, s"${table}_stats")
    // stored as ADDITIVE components (count, length sum) rather than
    // the average itself, so an ingest batch can fold in with two
    // additions — and since doc lengths are integer-valued, the sum is
    // exact in double under ANY accumulation order, keeping the
    // derived avgdl (and therefore the scores) bit-identical to the
    // inline t11's avg()
    docs.agg(count(lit(1)).cast("double").as("n_docs"),
        sum(size(col("t")).cast("double")).as("sum_dl"))
      .write.mode("overwrite").saveAsTable(s"${table}_stats")
  }

  /** Folds an ingest batch into a persisted BM25 index: postings and
    * doc lengths INSERT into the bucketed tables (re-bucketed on
    * write, so bucket pruning keeps working across the old and new
    * files), and the stats row adds the batch's (count, length-sum)
    * components — O(batch) work, the corpus never rescanned. The spec
    * pins append-then-search ≡ index-built-from-everything.
    *
    * Contract: a batch must not re-carry doc_ids already indexed
    * (postings would double); dedup ingest (d6) runs upstream.
    */
  def appendToBm25Index(s: SparkSession, batch: DataFrame,
      table: String): Unit = {
    val docs = batch.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
    docs.select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .select("doc_id", "term", "tf")
      .write.mode(SaveMode.Append).insertInto(s"${table}_postings")
    docs.select(col("doc_id"), size(col("t")).cast("double").as("dl"))
      .write.mode(SaveMode.Append).insertInto(s"${table}_doclen")
    val old = s.table(s"${table}_stats")
      .head()
    val add = docs.agg(count(lit(1)).cast("double"),
      sum(size(col("t")).cast("double"))).head()
    val merged = Seq((old.getDouble(0) + add.getDouble(0),
      old.getDouble(1) + add.getDouble(1)))
    graft.ops.Partitioning.dropManaged(s, s"${table}_stats")
    import s.implicits._
    merged.toDF("n_docs", "sum_dl")
      .write.mode("overwrite").saveAsTable(s"${table}_stats")
  }

  /** t11 from the PERSISTED inverted index: no tokenization, no
    * explode, no corpus text scan in the plan — the query's terms
    * prune the postings table to their buckets, df is aggregated over
    * just those postings, and the score join reads the stored doc
    * lengths. Per-query cost is O(matching postings), the posture a
    * retrieval endpoint needs.
    */
  def bm25FromIndex(s: SparkSession, table: String,
      topK: Int = 20): DataFrame =
    bm25Score(
      s.table(s"${table}_postings")
        .filter(col("term").isInCollection(Bm25Query)),
      s.table(s"${table}_doclen"),
      s.table(s"${table}_stats")
        .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl")),
      topK)

  // -- t12: sliding-window chunking ----------------------------------------
  /** Chunk window size (characters). Character-based windows keep the
    * operator tokenizer-independent; a token-budget variant is the same
    * plan with `tokens()` + `slice` in place of `substr` (t1 measures
    * token counts for exactly that sizing decision).
    */
  val ChunkChars = 200
  /** Stride between chunk starts; `ChunkChars - ChunkStride` characters
    * of overlap carry context across chunk boundaries.
    */
  val ChunkStride = 150

  /** t12 — sliding-window document chunking, the context-window prep
    * step of a training pipeline: every document becomes ⌈len/stride⌉
    * overlapping chunks of up to [[ChunkChars]] characters starting
    * every [[ChunkStride]].
    *
    * Scale shape: one narrow projection per document — `sequence`
    * enumerates chunk offsets (len/stride ints per doc, bounded by the
    * doc itself), `explode` fans them out, `substr` cuts each chunk.
    * No shuffle, no UDF; output rows inherit the scan's partitioning,
    * so at 100 TB this is a map-only pass whose output is written
    * partition-local. Offsets and lengths ride along so a downstream
    * tokenizer can re-slice the source text without re-chunking.
    */
  def chunkDocs(s: SparkSession, dir: String): DataFrame = {
    val txt = trim(col("text"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), txt.as("txt"), char_length(txt).as("len"))
      .filter(col("len") >= 1)
      .select(col("doc_id"), col("txt"),
        explode(sequence(lit(0), col("len") - 1, lit(ChunkStride))).as("off"))
      .select(
        col("doc_id"),
        (col("off") / ChunkStride).cast(LongType).as("chunk_idx"),
        col("off").cast(LongType).as("chunk_start"),
        col("txt").substr(col("off") + 1, lit(ChunkChars)).as("chunk_text"))
      .withColumn("chunk_len", char_length(col("chunk_text")).cast(LongType))
  }

  /** Token budget per chunk for [[chunkDocsTokens]]. */
  val ChunkTokens = 40
  /** Token stride between chunk starts (10-token overlap). */
  val TokenStride = 30

  /** t13 — the token-budget sibling of [[chunkDocs]]: windows advance
    * in TOKENS, so every chunk respects a model's context budget
    * exactly instead of approximating it through characters (chunks
    * never split a token, the failure mode of char windows). Same
    * shuffle-free map-only plan — `tokens()` + `slice` replace
    * `substr`, as the t12 scaladoc promises.
    */
  def chunkDocsTokens(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), tk.as("t"), size(tk).as("n"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n") - 1, lit(TokenStride))).as("off"))
      .select(
        col("doc_id"),
        (col("off") / TokenStride).cast(LongType).as("chunk_idx"),
        col("off").cast(LongType).as("tok_start"),
        array_join(slice(col("t"), col("off") + 1, lit(ChunkTokens)), " ")
          .as("chunk_text"),
        size(slice(col("t"), col("off") + 1, lit(ChunkTokens)))
          .cast(LongType).as("n_chunk_tokens"))
  }

  // -- t15/t16: BPE-style tokenizer training -------------------------------

  /** Merges the deterministic BPE trainer learns (fixed count for
    * cross-engine reproducibility; real vocab sizes just raise it).
    */
  val BpeMergeCount = 10

  /** The spaced-symbol encoding BPE operates on: every character of a
    * word becomes a space-delimited symbol with leading and trailing
    * guards — "low" ↦ " l o w ". A merge of (a, b) is then the string
    * rewrite " a b " → " ab ", applied TWICE per step because adjacent
    * matches share a delimiter (" a b a b " leaves the second pair
    * unmatched on the first pass; the merged left neighbor restores
    * the guard for the second). The double-pass leftmost rewrite is
    * the DEFINED merge semantics: both engines implement
    * non-overlapping leftmost string replace identically, which is
    * what makes the whole training loop hash-reproducible in SQL. It
    * agrees with the classic per-word left fold everywhere except
    * runs of one symbol repeated ≥ 4 times — a corner where published
    * BPE implementations already differ among themselves.
    */
  private def bpeSpaced(c: Column): Column =
    concat(lit(" "), regexp_replace(c, "(.)", "$1 "))

  private def bpeApplyMerge(w: Column, a: String, b: String): Column = {
    val pat = lit(s" $a $b ")
    val rep = lit(s" $a$b ")
    replace(replace(w, pat, rep), pat, rep)
  }

  /** (w, cnt) word-frequency table in spaced form — the classic BPE
    * training state (Sennrich et al. 2016): the corpus collapses to
    * its distinct lowercased words ONCE, and every merge iteration
    * runs over this small table, never the corpus again. At 100 TB the
    * vocab is millions of rows where the corpus is billions — this
    * collapse is what makes iterative tokenizer training tractable.
    */
  def bpeWordTable(s: SparkSession, dir: String): DataFrame =
    bpeWordTableOf(Tables.load(s, dir, "documents"))

  def bpeWordTableOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(bpeSpaced(col("word")).as("w"), col("cnt"))

  /** Weighted adjacent-pair counts over a spaced word table — the
    * per-iteration aggregate of BPE training. One shuffle on (a, b);
    * single-symbol words drop out (no pairs).
    */
  private[llm] def bpePairCounts(words: DataFrame): DataFrame =
    words.select(col("cnt"), split(trim(col("w")), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("n"))

  case class BpeMerge(step: Int, lhs: String, rhs: String, merged: String,
      n: Long)

  /** Trains [[BpeMergeCount]] merges: each pass takes the argmax pair
    * (count desc, then lexicographic — fully deterministic) and
    * rewrites the word table. The d8 iterative discipline: every pass
    * materializes through an eager `localCheckpoint` so plan size
    * stays O(1) per iteration, and superseded snapshots release their
    * blocks immediately. The per-pass driver feedback is ONE row (the
    * chosen pair) — the merge table itself, K rows total, is trainer
    * OUTPUT, not data movement.
    */
  def trainBpe(s: SparkSession, dir: String,
      k: Int = BpeMergeCount): Seq[BpeMerge] =
    trainBpeFrom(bpeWordTable(s, dir), k)

  /** The [[trainBpe]] core over an arbitrary (w, cnt) word table. A
    * table of at most [[graft.core.DriverTier.BpeDriverMaxVocab]] rows
    * trains on the driver; larger ones run the distributed merge loop.
    */
  def trainBpeFrom(wordsIn: DataFrame, k: Int,
      driverMaxVocab: Long = DriverTier.BpeDriverMaxVocab): Seq[BpeMerge] = {
    val words0 = wordsIn.localCheckpoint(true)
    // the driver arm replicates the distributed loop's exact semantics
    // over the collected (w, cnt) rows —
    //  * pair counts: adjacent symbols of split(trim(w), " "),
    //    weighted by cnt (bpePairCounts);
    //  * argmax: greatest n, ties by (a, b) ascending in UTF-8 byte
    //    order (Spark string ORDER BY is binary over UTF-8 — Java
    //    String.compareTo is UTF-16 and diverges on supplementary
    //    characters, so compare encoded bytes);
    //  * rewrite: literal " a b " → " ab " applied twice —
    //    String.replace is the same leftmost non-overlapping
    //    all-occurrence replace as Spark's replace().
    DriverTier.run(words0, driverMaxVocab, "trainBpeFrom") { rows =>
      Checkpoint.release(words0)
      def utf8Lt(x: String, y: String): Boolean = {
        val (xb, yb) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
        val n = math.min(xb.length, yb.length)
        var i = 0
        while (i < n) {
          val c = (xb(i) & 0xff) - (yb(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        xb.length < yb.length
      }
      val ws = rows.map(_.getString(0))
      val cnts = rows.map(_.getLong(1))
      val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
      var step = 1
      var exhausted = false
      while (step <= k && !exhausted) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        var r = 0
        while (r < ws.length) {
          val t = ws(r).trim.split(" ")
          var i = 0
          while (i < t.length - 1) {
            val key = (t(i), t(i + 1))
            counts.update(key, counts.getOrElse(key, 0L) + cnts(r))
            i += 1
          }
          r += 1
        }
        if (counts.isEmpty) exhausted = true
        else {
          val ((a, b), n) = counts.reduceLeft { (x, y) =>
            if (y._2 > x._2 ||
              (y._2 == x._2 && (utf8Lt(y._1._1, x._1._1) ||
                (y._1._1 == x._1._1 && utf8Lt(y._1._2, x._1._2))))) y
            else x
          }
          out += BpeMerge(step, a, b, a + b, n)
          val (pat, rep) = (s" $a $b ", s" $a$b ")
          r = 0
          while (r < ws.length) {
            ws(r) = ws(r).replace(pat, rep).replace(pat, rep)
            r += 1
          }
          step += 1
        }
      }
      out.toSeq
    } { _ =>
      var words = words0
      val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
      var step = 1
      var exhausted = false
      while (step <= k && !exhausted) {
        val top = bpePairCounts(words)
          .orderBy(desc("n"), col("a"), col("b")).limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, n) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          out += BpeMerge(step, a, b, a + b, n)
          val next = words
            .select(bpeApplyMerge(col("w"), a, b).as("w"), col("cnt"))
            .localCheckpoint(true)
          Checkpoint.release(words)
          words = next
          step += 1
        }
      }
      Checkpoint.release(words)
      out.toSeq
    }
  }

  /** t15 — the learned merge table, oracle-gated: the DuckDB oracle
    * replays the full training loop (unrolled K-stage CTE chain: pair
    * counts → deterministic argmax → double-replace rewrite) and must
    * land on the identical K merges with identical counts.
    */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainBpe(s, dir).toDF()
  }

  /** t16 — the trained tokenizer APPLIED: per-doc word and BPE-token
    * counts under the learned merges (the t13 whitespace-token budget,
    * upgraded to learned subword units). The K merges fold into one
    * scan-side chain of codegen string rewrites per word — no join, no
    * shuffle before the final per-doc aggregate; a production-size
    * merge list would instead apply once per DISTINCT word and join,
    * the [[bpeWordTable]] collapse reused at scoring time.
    */
  def bpeTokenCounts(s: SparkSession, dir: String): DataFrame = {
    val merges = trainBpe(s, dir)
    val applied = merges.foldLeft(bpeSpaced(col("word")))((acc, m) =>
      bpeApplyMerge(acc, m.lhs, m.rhs))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"),
        size(split(trim(applied), " ")).cast(LongType).as("ns"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_bpe"))
  }

  /** Persists the learned merge table — the tokenizer's model
    * artifact (K rows: step, lhs, rhs, merged, n). The
    * [[graft.llm.LanguageModel.writeModel]] posture applied to the
    * tokenizer: train ONCE per corpus release, then every scoring
    * batch reads the stored merges instead of re-running the K-pass
    * training loop.
    */
  def writeBpeModel(s: SparkSession, dir: String, modelPath: String): Unit =
    bpeMerges(s, dir).write.mode("overwrite").parquet(modelPath)

  /** Per-doc word/BPE-token counts from a PERSISTED merge table — the
    * production-shaped apply: merges fold once per DISTINCT word (the
    * [[bpeWordTableOf]] collapse reused at scoring time — at 100 TB
    * the distinct vocabulary is millions of rows where the corpus
    * word stream is trillions), and the per-word token count joins
    * back to the doc-word stream on the word key. The merge list
    * itself is a K-row driver read — trainer OUTPUT bounded by the
    * vocab budget, the centroid-read precedent, never corpus data.
    * Spec-pinned equal to the inline t16 ([[bpeTokenCounts]]); no
    * training stage in this plan.
    */
  def bpeCountsFromModel(s: SparkSession, modelPath: String,
      docs: DataFrame): DataFrame = {
    val merges = s.read.parquet(modelPath)
      .select("step", "lhs", "rhs").collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    val applied = merges.foldLeft(bpeSpaced(col("word")))((acc, m) =>
      bpeApplyMerge(acc, m._1, m._2))
    val dw = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    val vocabNs = dw.select("word").distinct()
      .select(col("word"),
        size(split(trim(applied), " ")).cast(LongType).as("ns"))
    dw.join(vocabNs, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_bpe"))
  }

  // -- t23: PMI collocations -----------------------------------------------

  /** t23 — collocation mining: adjacent word pairs seen ≥
    * [[PmiMinCount]] times ranked by pointwise mutual information
    * `ln(n·c_xy / (c_x·c_y))` — the classic measure of "these words
    * co-occur more than their frequencies predict" (multi-word
    * expressions, named entities) a tokenizer-vocabulary or
    * phrase-table build runs corpus-wide.
    *
    * Scale shape: one token scan feeds both the unigram and the
    * (index-exploded) bigram count — fixed-width (word, count) rows
    * shuffle, never documents. The bigram table prunes on the count
    * floor BEFORE joining unigram counts, so the joins carry only the
    * ≥[[PmiMinCount]] survivors (AQE broadcasts them when small). All
    * counts are exact longs; c·n and c_x·c_y stay < 2^53 up to ~10¹³
    * tokens per side, past which the products move to double with no
    * change in ranking.
    */
  def pmiCollocations(s: SparkSession, dir: String): DataFrame = {
    // null text contributes size(t) = -1 under legacy sizeOfNull and
    // would skew the corpus total n against the oracle's NULL-skipping
    // SUM — filter like every other documents scan
    val docs = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(split(lower(trim(col("text"))), "\\s+").as("t"))
    val uni = docs.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val n = docs.agg(sum(size(col("t"))).cast(LongType).as("n"))
    docs.filter(size(col("t")) >= 2)
      .select(col("t"), explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(element_at(col("t"), col("i") - 1).as("w1"),
        element_at(col("t"), col("i")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c"),
        round(log((col("c") * col("n")).cast("double") /
          (col("c1") * col("c2")).cast("double")), 6).as("pmi"))
  }

  /** Bigram count floor for t23 — rare pairs have unstable PMI. */
  val PmiMinCount = 5L

  // -- t24: tokenizer fertility by language ---------------------------------

  /** t24 — tokenizer fertility per language: BPE tokens per
    * whitespace word (`fertility`) and characters per BPE token
    * (`chars_per_token`) under the t15-trained merges, grouped by the
    * document language — the standard tokenizer-equity audit (a
    * tokenizer trained on one language's corpus fragments the others;
    * fertility is how that shows up in training cost and context use).
    *
    * Scale shape: rides t16's per-doc counts (merges fold over the
    * DISTINCT word table, counts join back to the word stream), plus
    * one map-side character count per doc; the final aggregate is
    * |languages| fixed-width rows. All sums are exact longs; each
    * ratio is one division rounded at output.
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val perDoc = bpeTokenCounts(s, dir)
    val langs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))
          .cast(LongType).as("nc"))
    perDoc.join(langs, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast(LongType).as("n_words"),
        sum(col("n_bpe")).cast(LongType).as("n_bpe"),
        sum(col("nc")).cast(LongType).as("n_chars"),
        round(sum(col("n_bpe")).cast("double") /
          sum(col("n_words")).cast("double"), 6).as("fertility"),
        round(sum(col("nc")).cast("double") /
          sum(col("n_bpe")).cast("double"), 6).as("chars_per_token"))
  }

  // -- t25: Zipf rank-frequency slope ----------------------------------------

  /** Top-rank cut for the t25 regression. */
  val ZipfTopR = 100

  /** t25 — Zipf-law audit: ln(frequency) regressed on ln(rank) over
    * the top-[[ZipfTopR]] corpus terms. Natural language lands near
    * slope −1 (Zipf 1949); templated or synthetic corpora flatten or
    * steepen — a one-row corpus-health signal release pipelines track
    * next to t1/t2.
    *
    * Determinism: ranks and frequencies are exact integers; each ln
    * rounds to 9 dp and FIXES to DECIMAL before the regression sums,
    * so the five sums are exact under any aggregation order (the
    * q77/q81 discipline), and the closed form's divisions run once in
    * doubles at output. The ranking window sorts ≤ [[ZipfTopR]] rows.
    */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(desc("tf"), col("token"))
    val xy = Tables.load(s, dir, "documents")
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), col("token")).limit(ZipfTopR)
      .withColumn("rk", row_number().over(w))
      .select(
        round(log(col("rk").cast("double")), 9).cast("decimal(14,9)")
          .as("x"),
        round(log(col("tf").cast("double")), 9).cast("decimal(14,9)")
          .as("y"))
    val agg = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
    agg.select(col("n"), round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  // -- t28: term burstiness (variance-to-mean dispersion) --------------------

  /** Rank cut for the t28 burstiness audit. */
  val BurstTopR = 50

  /** t28 — burstiness of the top-[[BurstTopR]] corpus terms: the
    * variance-to-mean ratio (VMR) of each term's per-document count,
    * zeros included. Function words spread evenly (VMR ≈ 1, Poisson);
    * topical terms clump into few documents (VMR ≫ 1) — the
    * Church–Gale dispersion signal that separates "common because
    * it's everywhere" from "common because three documents spam it",
    * which tf alone (t7) cannot see. Zero-count documents enter
    * through algebra, not a dense join: with m = tf/N,
    * VMR = (Σc²/N − m²)/m needs only the per-doc counts that exist
    * plus the corpus doc count (broadcast 1-row). Everything before
    * the final per-term doubles is an exact long.
    */
  def burstiness(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
    val n = docs.agg(count(lit(1)).cast(LongType).as("n_docs"))
    val top = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("token")
      .agg(sum(col("c")).cast(LongType).as("tf"),
        count(lit(1)).cast(LongType).as("df"),
        sum(col("c") * col("c")).cast(LongType).as("sc2"))
      .orderBy(desc("tf"), col("token")).limit(BurstTopR)
    val m = col("tf").cast("double") / col("n_docs").cast("double")
    top.crossJoin(broadcast(n))
      .select(col("token"), col("tf"), col("df"),
        round((col("sc2").cast("double") / col("n_docs").cast("double") -
          m * m) / m, 6).as("vmr"))
  }

  // -- t26: Heaps'-law vocabulary-growth audit per source --------------------

  /** t26 — Heaps'-law fit per source: ln(distinct types) regressed on
    * ln(total tokens) across a source's documents. Natural text grows
    * vocabulary as V ≈ K·nᵝ with β ≈ 0.4–0.6 (Heaps 1978); a template
    * mill or a decompression bug flattens β toward 0 (same few types
    * no matter how long the doc) or pushes it to 1 (every token novel
    * — binary junk tokenized as words). The per-source (β, ln K) pair
    * is the vocabulary-side companion to t25's corpus-wide Zipf slope.
    *
    * Determinism: both regression inputs are ln of exact per-doc
    * integer counts, rounded to 9 dp and FIXED to DECIMAL before the
    * sums (the t25/q77 discipline), so the five per-source sums are
    * aggregation-order-proof; the closed form runs once per source in
    * doubles. Shape: one scan, per-doc map-side counting (no shuffle
    * until the |sources|-row aggregate).
    */
  def heapsLaw(s: SparkSession, dir: String): DataFrame = {
    val tok = tokens(lower(col("text")))
    val xy = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"),
        round(log(size(tok).cast("double")), 9).cast("decimal(14,9)")
          .as("x"),
        round(log(size(array_distinct(tok)).cast("double")), 9)
          .cast("decimal(14,9)").as("y"))
    val agg = xy.groupBy("source").agg(count(lit(1)).as("n_docs"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    val den = col("n_docs") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n_docs") * col("sxy") - col("sx") * col("sy")) / den
    agg.filter(den =!= 0.0)
      .select(col("source"), col("n_docs"),
        round(slope, 6).as("heaps_beta"),
        round((col("sy") - slope * col("sx")) / col("n_docs"), 6)
          .as("ln_k"))
  }

  // -- t27: per-source Jensen–Shannon divergence vs the corpus ---------------

  /** t27 — per-source unigram Jensen–Shannon divergence against the
    * whole-corpus distribution: the mixture-drift audit (which source
    * no longer looks like the corpus it feeds?) that c3's volume
    * weights and c16's waterfill consume as a health check. JSD is
    * symmetric and bounded by ln 2, so one number per source is
    * comparable across rounds and corpora.
    *
    * The sparse identity keeps it one join, not a dense cross: with
    * p the source distribution, q the corpus one and m = (p+q)/2,
    * terms with p(t) = 0 collapse to q(t)·ln 2, so
    * JSD = ½·Σ_{t∈src}[p·ln(p/m) + q·ln(q/m)] + ½·ln 2·(1 − Σ_{t∈src} q).
    * Everything flows from exact (source, token) and corpus token
    * counts; each per-token double term rounds to 12 dp and fixes to
    * DECIMAL before the per-source sum (aggregation-order-proof, the
    * t25 discipline), and the assembly arithmetic runs once per
    * source. Shape: one tokenized scan → (source, token) counts →
    * broadcast-joined corpus counts (|vocab| rows) → |sources|-row
    * aggregate.
    */
  def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(tokens(lower(col("text")))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cst"))
    val ns = st.groupBy("source").agg(sum(col("cst")).as("ns"))
    val ct = st.groupBy("token").agg(sum(col("cst")).as("ct"))
    val n = ct.agg(sum(col("ct")).cast(LongType).as("n"))
    val p = col("cst").cast("double") / col("ns").cast("double")
    val q = col("ct").cast("double") / col("n").cast("double")
    val mm = (p + q) / 2.0
    val terms = st.join(ns, "source").join(ct, "token")
      .crossJoin(broadcast(n))
      .select(col("source"),
        round(p * log(p / mm) + q * log(q / mm), 12)
          .cast("decimal(24,12)").as("term"),
        round(q, 12).cast("decimal(24,12)").as("qmass"))
    terms.groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(col("term")).cast("double").as("tsum"),
        sum(col("qmass")).cast("double").as("qsum"))
      .select(col("source"), col("n_types"),
        round((col("tsum") +
          (lit(1.0) - col("qsum")) * log(lit(2.0))) / 2.0, 6).as("jsd"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t28_burstiness" -> burstiness _,
    "t27_js_divergence" -> jsDivergence _,
    "t26_heaps" -> heapsLaw _,
    "t25_zipf" -> zipfSlope _,
    "t24_fertility" -> bpeFertility _,
    "t23_pmi" -> pmiCollocations _,
    "t15_bpe_merges" -> bpeMerges _,
    "t16_bpe_tokens" -> bpeTokenCounts _,
    "t8_tfidf"       -> ((s: SparkSession, dir: String) => tfidf(s, dir)),
    "t12_chunk"      -> chunkDocs _,
    "t13_chunk_tokens" -> chunkDocsTokens _,
    "t14_oov"        -> ((s: SparkSession, dir: String) => oovRate(s, dir)),
    "t11_bm25"       -> ((s: SparkSession, dir: String) => bm25(s, dir)),
    "t1_token_stats" -> tokenStats _,
    "t2_quality"     -> qualityScore _,
    "t3_lang_id"     -> langId _,
    "t4_fingerprint" -> fingerprint _,
    "t5_lang_ngram"  -> langIdNgram _,
    "t6_redact"      -> redact _,
    "t7_vocab"       -> ((s: SparkSession, dir: String) => vocabulary(s, dir)),
    "t9_quality_rules" -> qualityRules _,
    "t10_repetition"   -> repetitionStats _,
    "t19_cms_heavy"    -> cmsHeavyHitters _,
    "t20_kmv_distinct" -> kmvDistinct _,
    "t21_kmv_setops"   -> kmvSetOps _,
    "t22_hll_distinct" -> hllDistinct _)

  private val swList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private val KmvK = graft.functions.KmvAggregator.K

  /** Shared t20/t21 oracle prefix: the sharded bigram hash stream.
    * `t[:-2]` is all-but-last and `t[2:]` all-but-first (both length
    * n−1, verified — list_zip would NULL-pad a length mismatch), so
    * the zip is exactly the engine's slice/zip_with projection.
    */
  private val kmvBigramCte =
    """WITH toks AS (SELECT doc_id % 4 AS shard,
      |    string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (SELECT shard, unnest(list_zip(t[:-2], t[2:])) AS z FROM toks),
      |hh AS (SELECT shard,
      |    CAST(('0x' || substr(md5(z[1] || ' ' || z[2]), 1, 15)) AS BIGINT)
      |      AS h
      |  FROM bg)""".stripMargin

  /** t10's oracle over an arbitrary source relation — reused by the
    * composed-pipeline oracle (c8), whose first stage filters on the
    * published repetition thresholds.
    */
  private[llm] def repetitionOracle(src: String = "documents"): String =
    s"""WITH toks AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS t FROM $src),
       |g AS (
       |  SELECT doc_id, 2 AS n, t,
       |    unnest(generate_series(1, len(t) - 1)) AS i
       |  FROM toks WHERE len(t) >= 2
       |  UNION ALL
       |  SELECT doc_id, 3 AS n, t,
       |    unnest(generate_series(1, len(t) - 2)) AS i
       |  FROM toks WHERE len(t) >= 3),
       |grams AS (SELECT doc_id, n,
       |  CASE WHEN n = 2 THEN t[i] || ' ' || t[i+1]
       |       ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS gram
       |  FROM g),
       |c AS (SELECT doc_id, n, gram, COUNT(*) AS c
       |  FROM grams GROUP BY 1, 2, 3)
       |SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS n_grams,
       |  round(MAX(c) * 1.0 / SUM(c), 4) AS top_share,
       |  round(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), 4)
       |    AS dup_frac
       |FROM c GROUP BY 1, 2""".stripMargin

  /** t9's oracle over an arbitrary source relation — reused by the
    * composed-pipeline oracle (c8), whose first stage filters on the
    * rule battery.
    */
  private[llm] def rulesOracle(src: String = "documents"): String =
    s"""SELECT doc_id, mean_word_len, bullet_frac, hash_ratio,
       |  ellipsis_ratio, dup_line_frac,
       |  CAST(mean_word_len BETWEEN 3.0 AND 10.0 AND bullet_frac <= 0.9
       |    AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.3
       |    AND dup_line_frac <= 0.3 AS INTEGER) AS pass
       |FROM (SELECT doc_id,
       |  round(list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE)))
       |    / len(t), 4) AS mean_word_len,
       |  round(len(list_filter(lines, l -> starts_with(ltrim(l), '-')
       |    OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•')))
       |    * 1.0 / len(lines), 4) AS bullet_frac,
       |  round((length(text) - length(replace(text, '#', ''))) * 1.0 / len(t), 4)
       |    AS hash_ratio,
       |  round(((length(text) - length(replace(text, '...', ''))) / 3)
       |    * 1.0 / len(t), 4) AS ellipsis_ratio,
       |  round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines), 4)
       |    AS dup_line_frac
       |  FROM (SELECT doc_id, text,
       |          string_split_regex(trim(text), '\\s+') AS t,
       |          string_split(text, chr(10)) AS lines
       |        FROM $src))""".stripMargin

  /** The unrolled K-stage BPE training chain as DuckDB CTEs — w0 (the
    * spaced word-frequency table) through wK, with per-stage pair
    * counts p_i and deterministic argmax m_i. Shared by the t15 and
    * t16 oracles; the SQL is generated, the semantics are
    * [[trainBpe]]'s verbatim (same spaced encoding, same double-
    * replace rewrite, same count-desc/lexicographic tie order).
    */
  private def bpeChainCte(k: Int): String = {
    val sb = new StringBuilder
    sb ++=
      """w0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS w,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1)""".stripMargin
    for (i <- 1 to k) {
      val prev = i - 1
      sb ++= s""",
        |p$i AS (SELECT t[i] AS a, t[i+1] AS b, SUM(cnt) AS n
        |  FROM (SELECT cnt, string_split(trim(w), ' ') AS t,
        |          unnest(generate_series(1, len(string_split(trim(w), ' ')) - 1)) AS i
        |        FROM w$prev)
        |  GROUP BY 1, 2),
        |m$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
        |w$i AS (SELECT replace(replace(t.w, ' '||m.a||' '||m.b||' ', ' '||m.a||m.b||' '),
        |    ' '||m.a||' '||m.b||' ', ' '||m.a||m.b||' ') AS w, t.cnt
        |  FROM w$prev t, m$i m)""".stripMargin
    }
    sb.toString
  }

  val oracleSql: Map[String, String] = Map(
    // t28: exact long count moments, zeros entering through the
    // algebra; one mirrored double expression per term
    "t28_burstiness" ->
      s"""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents WHERE text IS NOT NULL),
         |pc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
         |      '\\s+')) AS token FROM documents WHERE text IS NOT NULL)
         |  GROUP BY doc_id, token),
         |top AS (SELECT token, CAST(SUM(c) AS BIGINT) AS tf,
         |    CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST(SUM(c * c) AS BIGINT) AS sc2
         |  FROM pc GROUP BY token
         |  ORDER BY tf DESC, token LIMIT $BurstTopR)
         |SELECT token, tf, df,
         |  round((CAST(sc2 AS DOUBLE) / CAST(n_docs AS DOUBLE) -
         |    (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE)) *
         |    (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))) /
         |    (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6) AS vmr
         |FROM top, n""".stripMargin,
    // t26: ln of exact per-doc integer counts, 9-dp-fixed before the
    // per-source OLS sums (the t25 discipline)
    "t26_heaps" ->
      """WITH xy AS (SELECT source,
        |    CAST(round(ln(CAST(len(string_split_regex(lower(trim(text)),
        |      '\s+')) AS DOUBLE)), 9) AS DECIMAL(14,9)) AS x,
        |    CAST(round(ln(CAST(len(list_distinct(string_split_regex(
        |      lower(trim(text)), '\s+'))) AS DOUBLE)), 9)
        |      AS DECIMAL(14,9)) AS y
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM xy GROUP BY source)
        |SELECT source, n_docs,
        |  round((n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx), 6)
        |    AS heaps_beta,
        |  round((sy - (n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx)
        |    * sx) / n_docs, 6) AS ln_k
        |FROM a WHERE n_docs * sxx - sx * sx <> 0.0""".stripMargin,
    // t27: sparse JSD identity; per-token terms 12-dp-fixed before the
    // per-source sum, assembly arithmetic mirrored term for term
    "t27_js_divergence" ->
      """WITH st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cst
        |  FROM (SELECT source, unnest(string_split_regex(lower(trim(text)),
        |      '\s+')) AS token FROM documents WHERE text IS NOT NULL)
        |  GROUP BY source, token),
        |ns AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ns
        |  FROM st GROUP BY source),
        |ct AS (SELECT token, CAST(SUM(cst) AS BIGINT) AS ct
        |  FROM st GROUP BY token),
        |n AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM ct),
        |terms AS (SELECT source,
        |    CAST(round(
        |      (CAST(cst AS DOUBLE) / CAST(ns.ns AS DOUBLE)) *
        |        ln((CAST(cst AS DOUBLE) / CAST(ns.ns AS DOUBLE)) /
        |          ((CAST(cst AS DOUBLE) / CAST(ns.ns AS DOUBLE) +
        |            CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE)) / 2.0)) +
        |      (CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |        ln((CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE)) /
        |          ((CAST(cst AS DOUBLE) / CAST(ns.ns AS DOUBLE) +
        |            CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE)) / 2.0)),
        |      12) AS DECIMAL(24,12)) AS term,
        |    CAST(round(CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE), 12)
        |      AS DECIMAL(24,12)) AS qmass
        |  FROM st JOIN ns USING (source) JOIN ct USING (token), n)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
        |  round((CAST(SUM(term) AS DOUBLE) +
        |    (1.0 - CAST(SUM(qmass) AS DOUBLE)) * ln(2.0)) / 2.0, 6) AS jsd
        |FROM terms GROUP BY source""".stripMargin,
    // t23: the LM oracle's tokenization, exact integer counts, one
    // double ratio + ln per kept bigram
    "t23_pmi" ->
      s"""WITH docs AS (
         |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |uni AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
         |  FROM (SELECT unnest(t) AS w FROM docs) GROUP BY w),
         |n AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n FROM docs),
         |big AS (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT t[i-1] AS w1, t[i] AS w2
         |        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
         |              FROM docs WHERE len(t) >= 2))
         |  GROUP BY w1, w2 HAVING COUNT(*) >= $PmiMinCount)
         |SELECT b.w1, b.w2, b.c,
         |  round(ln(CAST(b.c * n.n AS DOUBLE)
         |    / CAST(u1.cu * u2.cu AS DOUBLE)), 6) AS pmi
         |FROM big b
         |JOIN uni u1 ON u1.w = b.w1
         |JOIN uni u2 ON u2.w = b.w2
         |CROSS JOIN n""".stripMargin,
    "t15_bpe_merges" -> {
      val steps = (1 to BpeMergeCount).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS step, a AS lhs, b AS rhs,
           |  a || b AS merged, CAST(n AS BIGINT) AS n FROM m$i""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"WITH ${bpeChainCte(BpeMergeCount)}\n$steps"
    },
    "t16_bpe_tokens" -> {
      // the final word table's spaced form collapses back to the word
      // (symbols concatenate to the original characters), so the
      // word → token-count map needs no side channel
      s"""WITH ${bpeChainCte(BpeMergeCount)},
         |voc AS (SELECT replace(w, ' ', '') AS word,
         |    len(string_split(trim(w), ' ')) AS ns
         |  FROM w$BpeMergeCount),
         |dw AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(SUM(v.ns) AS BIGINT) AS n_bpe
         |FROM (SELECT * FROM dw WHERE length(word) > 0) d
         |JOIN voc v USING (word)
         |GROUP BY 1""".stripMargin
    },
    // t25: integer ranks/frequencies, 9-dp-fixed ln terms, exact
    // DECIMAL sums, the q77 closed form with a shared slope tree
    "t25_zipf" ->
      s"""WITH tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT unnest(string_split_regex(lower(trim(text)),
         |      '\\s+')) AS token FROM documents)
         |  GROUP BY token ORDER BY tf DESC, token LIMIT $ZipfTopR),
         |rk AS (SELECT tf,
         |    row_number() OVER (ORDER BY tf DESC, token) AS rk FROM tf),
         |xy AS (SELECT
         |    CAST(round(ln(CAST(rk AS DOUBLE)), 9) AS DECIMAL(14,9)) AS x,
         |    CAST(round(ln(CAST(tf AS DOUBLE)), 9) AS DECIMAL(14,9)) AS y
         |  FROM rk),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
         |    CAST(SUM(x * x) AS DOUBLE) AS sxx FROM xy)
         |SELECT n,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         |    AS intercept
         |FROM a""".stripMargin,
    // t24: t16's per-doc chain + a per-doc character count, grouped by
    // language; exact long sums, one rounded division per ratio
    "t24_fertility" -> {
      s"""WITH ${bpeChainCte(BpeMergeCount)},
         |voc AS (SELECT replace(w, ' ', '') AS word,
         |    len(string_split(trim(w), ' ')) AS ns
         |  FROM w$BpeMergeCount),
         |dw AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |  FROM documents),
         |perdoc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(SUM(v.ns) AS BIGINT) AS n_bpe
         |  FROM (SELECT * FROM dw WHERE length(word) > 0) d
         |  JOIN voc v USING (word)
         |  GROUP BY 1),
         |langs AS (SELECT doc_id, lang,
         |    CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g'))
         |      AS BIGINT) AS nc
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
         |  CAST(SUM(nc) AS BIGINT) AS n_chars,
         |  round(CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE), 6)
         |    AS fertility,
         |  round(CAST(SUM(nc) AS DOUBLE) / CAST(SUM(n_bpe) AS DOUBLE), 6)
         |    AS chars_per_token
         |FROM perdoc JOIN langs USING (doc_id)
         |GROUP BY lang""".stripMargin
    },
    // t8: same smoothed-idf arithmetic (ln((N+1)/(df+1)) + 1), ranked
    // on the rounded score with a term tiebreak for a deterministic cut
    "t8_tfidf" -> {
      val score = "round(tfc.tf * (ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0), 6)"
      s"""WITH d AS (SELECT doc_id,
         |  list_transform(string_split_regex(trim(text), '\\s+'), x -> lower(x)) AS t
         |  FROM documents),
         |tk AS (SELECT doc_id, unnest(t) AS term FROM d),
         |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk GROUP BY 1, 2),
         |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM d)
         |SELECT doc_id, term, tf, df, tfidf, rk FROM (
         |  SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
         |    $score AS tfidf,
         |    ROW_NUMBER() OVER (PARTITION BY tfc.doc_id
         |      ORDER BY $score DESC, tfc.term) AS rk
         |  FROM tfc JOIN dfc USING (term) CROSS JOIN n)
         |WHERE rk <= 3""".stripMargin
    },
    // t11: identical BM25 arithmetic; ties cut on (rounded score,
    // doc_id) so LIMIT agrees cross-engine
    "t11_bm25" ->
      """WITH d AS (SELECT doc_id,
        |  list_transform(string_split_regex(trim(text), '\s+'), x -> lower(x)) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM d)
        |  WHERE term IN ('query', 'stream', 'merge') GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |  avg(CAST(len(t) AS DOUBLE)) AS avgdl FROM d)
        |SELECT doc_id,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score,
        |  CAST(count(*) AS BIGINT) AS n_terms
        |FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // t12: generate_series is stop-inclusive like Spark's sequence;
    // substr/length are character-based in both engines, and the
    // integer division is exact (offsets are stride multiples)
    "t12_chunk" ->
      s"""WITH d AS (SELECT doc_id, trim(text) AS txt,
         |  length(trim(text)) AS len FROM documents),
         |o AS (SELECT doc_id, txt,
         |  unnest(generate_series(0, len - 1, $ChunkStride)) AS off
         |  FROM d WHERE len >= 1)
         |SELECT doc_id,
         |  CAST(off // $ChunkStride AS BIGINT) AS chunk_idx,
         |  CAST(off AS BIGINT) AS chunk_start,
         |  substr(txt, CAST(off + 1 AS INTEGER), $ChunkChars) AS chunk_text,
         |  CAST(length(substr(txt, CAST(off + 1 AS INTEGER), $ChunkChars))
         |    AS BIGINT) AS chunk_len
         |FROM o""".stripMargin,
    // t13: list_slice clamps at the list end exactly like Spark's
    // slice; off is a stride multiple so the // division is exact
    "t13_chunk_tokens" ->
      s"""WITH d AS (SELECT doc_id,
         |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
         |o AS (SELECT doc_id, t,
         |  unnest(generate_series(0, len(t) - 1, $TokenStride)) AS off
         |  FROM d WHERE len(t) >= 1)
         |SELECT doc_id,
         |  CAST(off // $TokenStride AS BIGINT) AS chunk_idx,
         |  CAST(off AS BIGINT) AS tok_start,
         |  array_to_string(list_slice(t, CAST(off + 1 AS INTEGER),
         |    CAST(off + $ChunkTokens AS INTEGER)), ' ') AS chunk_text,
         |  CAST(len(list_slice(t, CAST(off + 1 AS INTEGER),
         |    CAST(off + $ChunkTokens AS INTEGER))) AS BIGINT)
         |    AS n_chunk_tokens
         |FROM o""".stripMargin,
    // t10: same multiset gram counts; DuckDB lists are 1-based like the
    // Spark sequence, so gram i spans t[i..i+n-1] in both engines
    "t10_repetition" -> repetitionOracle(),
    // t9: same rule arithmetic; aliases resolved via a subquery so the
    // composite flag reads the rounded metrics it is defined over
    "t9_quality_rules" -> rulesOracle(),
    "t1_token_stats" ->
      """SELECT doc_id,
        |CAST(len(t) AS BIGINT) AS n_tokens,
        |CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |CAST(len(regexp_extract_all(txt, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        |  AS n_bpe_tokens,
        |round(list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / len(t), 4)
        |  AS avg_token_len
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
        |      trim(text) AS txt FROM documents)""".stripMargin,
    "t2_quality" ->
      s"""SELECT doc_id, n_tokens, stop_ratio, diversity,
         |round(0.6 * diversity + 0.4 * (1.0 - abs(stop_ratio - 0.4)), 4) AS quality
         |FROM (SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  round(len(list_filter(t, x -> list_contains($swList, x))) * 1.0 / len(t), 4)
         |    AS stop_ratio,
         |  round(len(list_distinct(t)) * 1.0 / len(t), 4) AS diversity
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents))""".stripMargin,
    "t3_lang_id" -> {
      val scores = langMarkers.map { case (l, ms) =>
        val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(t, $lst)) AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      val gr = "greatest(" + langMarkers.map(m => s"s_${m._1}").mkString(", ") + ")"
      val cases = langMarkers.map { case (l, _) =>
        s"WHEN s_$l = $gr AND $gr > 0 THEN '$l'"
      }.mkString("\n  ")
      s"""SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang
         |FROM (SELECT doc_id,
         |  $scores
         |  FROM (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS t
         |        FROM documents))""".stripMargin
    },
    "t5_lang_ngram" -> {
      val scores = ngramProfiles.map { case (l, ps) =>
        val lst = ps.map(p => s"'$p'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(g, $lst)) AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      val gr = "greatest(" + ngramProfiles.map(p => s"s_${p._1}").mkString(", ") + ")"
      val cases = ngramProfiles.map { case (l, _) =>
        s"WHEN s_$l = $gr AND $gr > 0 THEN '$l'"
      }.mkString("\n  ")
      s"""SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang
         |FROM (SELECT doc_id,
         |  $scores
         |  FROM (SELECT doc_id, list_distinct(list_transform(
         |          generate_series(1, length(txt) - 1),
         |          i -> substr(txt, CAST(i AS INTEGER), 2))) AS g
         |        FROM (SELECT doc_id, lower(trim(text)) AS txt FROM documents)))""".stripMargin
    },
    "t6_redact" ->
      s"""SELECT doc_id,
         |regexp_replace(regexp_replace(regexp_replace(text,
         |  'https?://[^\\s]+', '<URL>', 'g'),
         |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |  '[0-9]{6,}', '<NUM>', 'g') AS redacted,
         |CAST(len(regexp_extract_all(text, 'https?://[^\\s]+'))
         |  + len(regexp_extract_all(regexp_replace(text, 'https?://[^\\s]+', ' ', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |  + len(regexp_extract_all(
         |      regexp_replace(regexp_replace(text, 'https?://[^\\s]+', ' ', 'g'),
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', ' ', 'g'),
         |      '[0-9]{6,}')) AS BIGINT) AS n_redactions
         |FROM documents""".stripMargin,
    // t19: the counter grid replayed cell-for-cell — same md5-60 row
    // hashes, exact integer counters, so est/overcount/is_hh all match
    // bit-for-bit; the 1% heavy-hitter cut multiplies instead of
    // dividing to stay in exact integer arithmetic
    "t19_cms_heavy" ->
      s"""WITH occ AS (SELECT
         |    lower(unnest(string_split_regex(trim(text), '\\s+'))) AS token
         |  FROM documents),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM occ),
         |cells AS (SELECT r.range AS r,
         |    CAST(('0x' || substr(md5(r.range || ':' || token), 1, 15))
         |      AS BIGINT) % ${graft.functions.CmsAggregator.Width} AS cell,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM occ CROSS JOIN range(${graft.functions.CmsAggregator.Depth}) r
         |  GROUP BY 1, 2),
         |vocab AS (SELECT token, tf, df FROM (
         |    SELECT token, CAST(count(*) AS BIGINT) AS tf,
         |      CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |    FROM (SELECT doc_id,
         |            lower(unnest(string_split_regex(trim(text), '\\s+'))) AS token
         |          FROM documents)
         |    GROUP BY token)
         |  ORDER BY df DESC, tf DESC, token
         |  LIMIT 100),
         |probe AS (SELECT v.token, v.tf, v.df, r.range AS r,
         |    CAST(('0x' || substr(md5(r.range || ':' || v.token), 1, 15))
         |      AS BIGINT) % ${graft.functions.CmsAggregator.Width} AS cell
         |  FROM vocab v CROSS JOIN range(${graft.functions.CmsAggregator.Depth}) r),
         |e AS (SELECT p.token, p.tf, p.df, MIN(c.c) AS est
         |  FROM probe p JOIN cells c ON c.r = p.r AND c.cell = p.cell
         |  GROUP BY 1, 2, 3)
         |SELECT token, tf, df, est, est - tf AS overcount,
         |  CAST(est * 100 >= (SELECT n FROM tot) AS BIGINT) AS is_hh
         |FROM e""".stripMargin,
    // t20: the k-min set replayed value-for-value — ORDER BY hash
    // LIMIT K per group IS the sketch, so n_sk/est match bit-for-bit;
    // the rollup total is the same computation over the unsharded
    // distinct set (= the merged sketch, since k-min is partition-
    // order-free)
    "t20_kmv_distinct" ->
      s"""$kmvBigramCte,
         |u AS (SELECT shard, h FROM hh
         |      UNION ALL SELECT CAST(-1 AS BIGINT) AS shard, h FROM hh),
         |d AS (SELECT DISTINCT shard, h FROM u),
         |r AS (SELECT shard, h,
         |    row_number() OVER (PARTITION BY shard ORDER BY h) AS rn
         |  FROM d),
         |g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(LEAST(COUNT(*), $KmvK) AS BIGINT) AS n_sk,
         |    MAX(CASE WHEN rn = $KmvK THEN h END) AS kth
         |  FROM r GROUP BY shard)
         |SELECT shard, n_exact, n_sk,
         |  CASE WHEN n_sk < $KmvK THEN CAST(n_sk AS DOUBLE)
         |    ELSE round(${KmvK - 1}.0 * power(2.0, 60)
         |      / CAST(kth AS DOUBLE), 2) END AS est
         |FROM g ORDER BY shard""".stripMargin,
    // t21: AKMV set algebra replayed from the same three k-min sets;
    // K∩ counts union k-mins present in both side sketches (set
    // membership via joins), every estimate uses the identical
    // double arithmetic before the shared rounding
    "t21_kmv_setops" ->
      s"""$kmvBigramCte,
         |da AS (SELECT DISTINCT h FROM hh WHERE shard = 0),
         |db AS (SELECT DISTINCT h FROM hh WHERE shard = 1),
         |du AS (SELECT DISTINCT h FROM hh WHERE shard IN (0, 1)),
         |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM da),
         |rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM db),
         |ru AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM du),
         |ka AS (SELECT h FROM ra WHERE rn <= $KmvK),
         |kb AS (SELECT h FROM rb WHERE rn <= $KmvK),
         |ku AS (SELECT h FROM ru WHERE rn <= $KmvK),
         |st AS (SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM da) AS n_a,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM db) AS n_b,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM du) AS n_union,
         |    (SELECT CAST(COUNT(*) AS BIGINT)
         |       FROM da JOIN db USING (h)) AS n_intersect,
         |    (SELECT COUNT(*) FROM ka) AS sz_a,
         |    (SELECT COUNT(*) FROM kb) AS sz_b,
         |    (SELECT COUNT(*) FROM ku) AS sz_u,
         |    (SELECT MAX(CASE WHEN rn = $KmvK THEN h END) FROM ra) AS kth_a,
         |    (SELECT MAX(CASE WHEN rn = $KmvK THEN h END) FROM rb) AS kth_b,
         |    (SELECT MAX(CASE WHEN rn = $KmvK THEN h END) FROM ru) AS kth_u,
         |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM ku
         |       JOIN ka USING (h) JOIN kb USING (h)) AS k_int),
         |est AS (SELECT *,
         |    CASE WHEN sz_a < $KmvK THEN CAST(sz_a AS DOUBLE)
         |      ELSE ${KmvK - 1}.0 * power(2.0, 60) / CAST(kth_a AS DOUBLE)
         |      END AS ea,
         |    CASE WHEN sz_b < $KmvK THEN CAST(sz_b AS DOUBLE)
         |      ELSE ${KmvK - 1}.0 * power(2.0, 60) / CAST(kth_b AS DOUBLE)
         |      END AS eb,
         |    CASE WHEN sz_u < $KmvK THEN CAST(sz_u AS DOUBLE)
         |      ELSE ${KmvK - 1}.0 * power(2.0, 60) / CAST(kth_u AS DOUBLE)
         |      END AS eu
         |  FROM st)
         |SELECT n_a, n_b, n_union, n_intersect,
         |  round(ea, 2) AS est_a, round(eb, 2) AS est_b,
         |  round(eu, 2) AS est_union,
         |  round(k_int / sz_u * eu, 2) AS est_intersect,
         |  round(k_int / sz_u, 4) AS jaccard_est
         |FROM est""".stripMargin,
    // t22: the register array replayed — bucket = h % m, rank from
    // the remaining bits' bit length, per-bucket MAX, then the same
    // exact-integer harmonic sum (absent buckets contribute 2^52
    // each) and the identical constant / linear-counting branch
    "t22_hll_distinct" -> {
      val m = graft.functions.HllAggregator.M
      val mr = graft.functions.HllAggregator.MaxRank
      val c = "%.17g".format(HllConst)
      s"""$kmvBigramCte,
         |u AS (SELECT shard, h FROM hh
         |      UNION ALL SELECT CAST(-1 AS BIGINT) AS shard, h FROM hh),
         |r AS (SELECT shard, h % $m AS b,
         |    CASE WHEN h // $m = 0 THEN $mr
         |         ELSE $mr - length(bin(h // $m)) END AS rk
         |  FROM u),
         |mx AS (SELECT shard, b, MAX(rk) AS mj FROM r GROUP BY 1, 2),
         |ag AS (SELECT shard,
         |    SUM(CAST(1 AS BIGINT) << (52 - mj))
         |      + ($m - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS s_int,
         |    CAST($m - COUNT(*) AS BIGINT) AS v_zero
         |  FROM mx GROUP BY 1),
         |ex AS (SELECT shard, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
         |  FROM u GROUP BY 1)
         |SELECT shard, n_exact, v_zero,
         |  round(CASE WHEN v_zero > 0
         |      AND $c / CAST(s_int AS DOUBLE) <= ${2.5 * m}
         |    THEN $m.0 * ln($m.0 / v_zero)
         |    ELSE $c / CAST(s_int AS DOUBLE) END, 2) AS est
         |FROM ag JOIN ex USING (shard) ORDER BY shard""".stripMargin
    },
    "t7_vocab" ->
      """SELECT token, tf, df FROM (
        |  SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM (SELECT doc_id,
        |          lower(unnest(string_split_regex(trim(text), '\s+'))) AS token
        |        FROM documents)
        |  GROUP BY token)
        |ORDER BY df DESC, tf DESC, token
        |LIMIT 100""".stripMargin,
    // t14: t7's deterministic top-100 cut as the vocab, left join +
    // null-count for OOV; same double division before the round
    "t14_oov" ->
      """WITH v AS (SELECT token FROM (
        |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM (SELECT doc_id,
        |          lower(unnest(string_split_regex(trim(text), '\s+'))) AS token
        |        FROM documents)
        |  GROUP BY token ORDER BY df DESC, tf DESC, token LIMIT 100)),
        |tk AS (SELECT doc_id,
        |  lower(unnest(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS oov_rate
        |FROM tk LEFT JOIN v USING (token) GROUP BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(n) AS fp,
        |CAST(('0x' || substr(md5(n), 1, 15)) AS BIGINT) AS fp60,
        |list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))),
        |  (a, b) -> (a * 31 + b) % 2147483647) AS fp_roll
        |FROM (SELECT doc_id, text,
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS n
        |      FROM documents)""".stripMargin)
}
