package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables

/** CCNet-style n-gram language-model quality scoring (Wenzek et al.
  * 2020): train a pruned bigram LM with stupid backoff (Brants et al.
  * 2007) on a deterministic hash-split of the corpus, score every
  * document by mean token log-probability, and bucket the corpus into
  * head / middle / tail quality bands — the perplexity filter every
  * production pretraining pipeline runs between rule filters and
  * dedup.
  *
  * Engine extension — the reference has no LM surface; this follows
  * the repo's documents-table operator conventions
  * (`TextAnalysis.scala` hashing/rounding discipline).
  *
  * Scale shape, at 100 TB:
  *  - TRAIN is two scan-side explodes feeding count aggregates with
  *    map-side partial combine; the shuffle carries (token, count) /
  *    (bigram, count) pairs, never documents. Count-threshold pruning
  *    (the standard stupid-backoff entropy prune) bounds the model:
  *    kept mass concentrates on the vocabulary head, so the model
  *    table is orders of magnitude smaller than the corpus and
  *    broadcastable after harder pruning; here the model-side joins
  *    are left to AQE, which broadcasts them at every test SF.
  *  - SCORE is one pass over the token stream with two model lookups
  *    per token; no self-join, no window. A production run would
  *    persist the model table once (the `writeFpIndex` pattern) and
  *    score incrementally per ingest batch — the inline re-derivation
  *    here keeps the query self-contained for the oracle gate.
  *
  * Cross-engine determinism: the train split is the q48 hash-bucket
  * rule (`hash60("lm:"||doc_id) % 10 < 8`); probabilities divide
  * BIGINT counts as doubles and round(4) at the compared surface, the
  * same arithmetic left-to-right in DuckDB.
  */
object LanguageModel {

  /** Bigram/unigram prune threshold: n-grams seen fewer than this many
    * times in the train split are dropped from the model (backoff
    * covers them). A bigram kept at `MinCount` implies both component
    * unigrams were also kept (each bigram occurrence contributes one
    * occurrence of each word), so a bigram hit always has its
    * denominator — the invariant the scoring CASE relies on.
    */
  val MinCount = 2

  /** Stupid-backoff discount for unigram fallback (Brants et al. 2007). */
  val Backoff = 0.4

  /** c13 quality-band cutoffs on mean token log-prob. CCNet calibrates
    * these per-language on a reference corpus; fixed constants (chosen
    * non-degenerate for the synthetic corpus at every test SF) are the
    * deterministic analogue.
    */
  val HeadCut = -3.40
  val TailCut = -3.43

  /** (doc_id, t): lower-cased whitespace tokens of every document. */
  private def docsTok(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))

  /** The 80% train split — deterministic under any partitioning. */
  private def trainSplit(s: SparkSession, dir: String): DataFrame = {
    docsTok(s, dir).filter(
      TextAnalysis.hash60(concat(lit("lm:"), col("doc_id").cast("string")))
        % 10 < 8)
  }

  /** Pruned unigram counts (w, cu) over the train split. */
  private def unigrams(train: DataFrame): DataFrame =
    train.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .filter(col("cu") >= MinCount)

  /** Pruned bigram model (prev, w, cb, cprev). The explode index runs
    * 2..len so `element_at(t, i-1)` is always in range; one-token docs
    * are filtered before the generator rather than guarded inside it
    * (`sequence(2, 1)` would count DOWN).
    */
  private def bigramModel(train: DataFrame, uni: DataFrame): DataFrame = {
    val big = train.filter(size(col("t")) >= 2)
      .select(col("t"), explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(element_at(col("t"), col("i") - 1).as("prev"),
        element_at(col("t"), col("i")).as("w"))
      .groupBy("prev", "w").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= MinCount)
    big.join(uni.select(col("w").as("prev"), col("cu").as("cprev")), "prev")
  }

  /** t17 — the trained LM itself: every kept bigram with its count,
    * its context count, and the conditional log-prob
    * `ln(c(prev,w) / c(prev))`. Fully oracle-replayed: DuckDB re-runs
    * the split, the counts, the prune, and the join and must land on
    * the identical model.
    */
  def lmBigrams(s: SparkSession, dir: String): DataFrame = {
    val train = trainSplit(s, dir)
    bigramModel(train, unigrams(train))
      .select(col("prev"), col("w").as("cur"),
        col("cb").as("c_bigram"), col("cprev").as("c_prev"),
        round(log(col("cb").cast("double") / col("cprev")), 4).as("logp"))
  }

  /** Per-doc LM scores (doc_id, n_tokens, n_backoff, n_oov, avg_logp)
    * over an arbitrary tokenized doc set — shared by t18 and c13.
    */
  private def scoreDocs(s: SparkSession, dir: String): DataFrame = {
    val train = trainSplit(s, dir)
    val uni = unigrams(train)
    val model = bigramModel(train, uni)
    val ntot = train.select(sum(size(col("t"))).cast(LongType).as("n"))
    scoreWith(docsTok(s, dir), model, uni, ntot)
  }

  /** The scoring pass against EXPLICIT model tables — shared by the
    * inline path ([[scoreDocs]]) and the persisted-model path
    * ([[scoreFromModel]]), so their results agree by construction.
    */
  private def scoreWith(docs: DataFrame, model: DataFrame, uni: DataFrame,
      ntot: DataFrame): DataFrame = {
    val stream = docs
      .select(col("doc_id"), col("t"),
        posexplode(col("t")).as(Seq("p", "w")))
      .select(col("doc_id"), (col("p") + 1).as("i"), col("w"),
        when(col("p") > 0, element_at(col("t"), col("p"))).as("prev"))
    val n = col("n")
    val lp =
      when(col("cb").isNotNull, log(col("cb").cast("double") / col("cprev")))
        .when(col("i") === 1 && col("cu").isNotNull,
          log(col("cu").cast("double") / n))
        .when(col("i") === 1, -log(n.cast("double")))
        .when(col("cu").isNotNull,
          log(lit(Backoff)) + log(col("cu").cast("double") / n))
        .otherwise(log(lit(Backoff)) - log(n.cast("double")))
    stream
      .join(model.withColumnRenamed("prev", "mprev").withColumnRenamed("w", "mw"),
        col("prev") === col("mprev") && col("w") === col("mw"), "left")
      .join(uni.withColumnRenamed("w", "uw"), col("w") === col("uw"), "left")
      .crossJoin(broadcast(ntot))
      .select(col("doc_id"), lp.as("lp"),
        when(col("i") > 1 && col("cb").isNull, 1).otherwise(0).as("bo"),
        when(col("cu").isNull, 1).otherwise(0).as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bo")).as("n_backoff"),
        sum(col("oov")).as("n_oov"),
        round(sum(col("lp")) / count(lit(1)), 4).as("avg_logp"))
  }

  /** t18 — every document scored by the t17 model: token count,
    * backoff-token count, OOV-token count, and mean token log-prob
    * (the perplexity proxy; perplexity = exp(-avg_logp)).
    */
  def perplexity(s: SparkSession, dir: String): DataFrame = scoreDocs(s, dir)

  /** PERSISTS the trained model: bigrams (with context counts),
    * pruned unigrams, and the one-row token-total under `modelPath/
    * {bigrams,unigrams,meta}` — the fp-index posture for the LM. A
    * production corpus release trains ONCE and scores every ingest
    * batch from the stored tables; the inline t17/t18 re-derivation
    * exists for the oracle gate, and [[scoreFromModel]] is spec-pinned
    * equal to it.
    */
  def writeModel(s: SparkSession, dir: String, modelPath: String): Unit = {
    val train = trainSplit(s, dir)
    val uni = unigrams(train)
    bigramModel(train, uni).write.mode("overwrite")
      .parquet(s"$modelPath/bigrams")
    uni.write.mode("overwrite").parquet(s"$modelPath/unigrams")
    train.select(sum(size(col("t"))).cast(LongType).as("n"))
      .write.mode("overwrite").parquet(s"$modelPath/meta")
  }

  /** Scores an arbitrary (doc_id, text) frame from a PERSISTED model —
    * the incremental-ingest form: per-batch cost is one pass over the
    * batch's tokens plus the (broadcastable) model lookups; no
    * training stage in the plan at all.
    */
  def scoreFromModel(s: SparkSession, modelPath: String,
      docs: DataFrame): DataFrame =
    scoreWith(
      docs.select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t")),
      s.read.parquet(s"$modelPath/bigrams"),
      s.read.parquet(s"$modelPath/unigrams"),
      s.read.parquet(s"$modelPath/meta"))

  /** c13 — the CCNet quality-band filter: head / middle / tail by
    * fixed avg_logp cutoffs; `keep = bucket != 'tail'` is the corpus a
    * perplexity-gated release would ship.
    */
  def perplexityFilter(s: SparkSession, dir: String): DataFrame =
    scoreDocs(s, dir)
      .select(col("doc_id"), col("avg_logp"),
        when(col("avg_logp") >= HeadCut, "head")
          .when(col("avg_logp") < TailCut, "tail")
          .otherwise("middle").as("bucket"))
      .withColumn("keep",
        when(col("bucket") =!= "tail", 1).otherwise(0).cast(LongType))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t17_lm_bigrams" -> lmBigrams _,
    "t18_perplexity" -> perplexity _,
    "c13_perplexity_filter" -> perplexityFilter _)

  /** Shared model CTEs — the t17/t18/c13 oracles replay the identical
    * split / count / prune / join pipeline.
    */
  private val modelCtes: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |train AS (
       |  SELECT * FROM docs
       |  WHERE CAST(('0x' || substr(md5('lm:' || doc_id), 1, 15)) AS BIGINT)
       |    % 10 < 8),
       |ntot AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n FROM train),
       |uni AS (
       |  SELECT w, COUNT(*) AS cu
       |  FROM (SELECT unnest(t) AS w FROM train)
       |  GROUP BY 1 HAVING COUNT(*) >= $MinCount),
       |big AS (
       |  SELECT prev, w, COUNT(*) AS cb
       |  FROM (SELECT t[i-1] AS prev, t[i] AS w
       |        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
       |              FROM train WHERE len(t) >= 2))
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinCount),
       |model AS (
       |  SELECT b.prev, b.w, b.cb, u.cu AS cprev
       |  FROM big b JOIN uni u ON u.w = b.prev)""".stripMargin

  private val scoreCtes: String =
    s"""$modelCtes,
       |stream AS (
       |  SELECT doc_id, i, t[i] AS w, CASE WHEN i > 1 THEN t[i-1] END AS prev
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
       |        FROM docs)),
       |scored AS (
       |  SELECT s.doc_id,
       |    CASE WHEN m.cb IS NOT NULL THEN ln(CAST(m.cb AS DOUBLE) / m.cprev)
       |         WHEN s.i = 1 AND u.cu IS NOT NULL
       |           THEN ln(CAST(u.cu AS DOUBLE) / ntot.n)
       |         WHEN s.i = 1 THEN -ln(CAST(ntot.n AS DOUBLE))
       |         WHEN u.cu IS NOT NULL
       |           THEN ln($Backoff) + ln(CAST(u.cu AS DOUBLE) / ntot.n)
       |         ELSE ln($Backoff) - ln(CAST(ntot.n AS DOUBLE)) END AS lp,
       |    CASE WHEN s.i > 1 AND m.cb IS NULL THEN 1 ELSE 0 END AS bo,
       |    CASE WHEN u.cu IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM stream s
       |  LEFT JOIN model m ON m.prev = s.prev AND m.w = s.w
       |  LEFT JOIN uni u ON u.w = s.w
       |  CROSS JOIN ntot),
       |perdoc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(bo) AS BIGINT) AS n_backoff,
       |    CAST(SUM(oov) AS BIGINT) AS n_oov,
       |    round(SUM(lp) / COUNT(*), 4) AS avg_logp
       |  FROM scored GROUP BY 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t17_lm_bigrams" ->
      s"""$modelCtes
         |SELECT prev, w AS cur, cb AS c_bigram, cprev AS c_prev,
         |  round(ln(CAST(cb AS DOUBLE) / cprev), 4) AS logp
         |FROM model""".stripMargin,
    "t18_perplexity" ->
      s"""$scoreCtes
         |SELECT * FROM perdoc""".stripMargin,
    "c13_perplexity_filter" ->
      s"""$scoreCtes
         |SELECT doc_id, avg_logp,
         |  CASE WHEN avg_logp >= $HeadCut THEN 'head'
         |       WHEN avg_logp < $TailCut THEN 'tail'
         |       ELSE 'middle' END AS bucket,
         |  CAST(avg_logp >= $TailCut AS BIGINT) AS keep
         |FROM perdoc""".stripMargin)
}
