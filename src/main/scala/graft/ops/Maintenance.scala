package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Scope, Tables}

/** Table-maintenance operators for a long-lived corpus: keyed upsert,
  * keyed delete, snapshot diff, incremental aggregate maintenance,
  * and a salted join for skewed keys. A 100 TB training corpus is not
  * written once — it takes continuous ingest (upsert), takedown /
  * GDPR erasure (delete), release auditing (diff), and rolling stats
  * that must not reprocess the base on every batch (incremental agg).
  *
  * All five are logical operators over DataFrames; the write-side
  * twins compose with [[Partitioning]]'s layouts (partitioned /
  * bucketed parquet + dynamic-partition overwrite), which confine a
  * physical rewrite to the partitions an upsert or delete touches.
  */
object Maintenance {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** MERGE-style keyed upsert: rows of `updates` win on key collision,
    * unmatched `base` rows pass through, new keys insert. Shaped as
    * anti-join + union — ONE shuffle of each side on the key (and the
    * anti-join broadcasts whenever `updates` is batch-sized, the
    * common ingest case) — rather than a full-outer join whose
    * coalesce would materialize both row shapes wide. Equal-schema
    * inputs, aligned by name.
    *
    * Keyed-table CONTRACT: key columns must be non-null (a primary
    * key, like any MERGE target). The anti-join's equality is
    * null-unsafe, so a NULL-keyed base row never matches and always
    * passes through, and a NULL-keyed update row always appends —
    * repeated merges would accumulate duplicate null-key rows rather
    * than upsert them. Same contract for [[deleteByKeys]] (NULL-keyed
    * rows are never deleted) and the streaming twins.
    *
    * At scale the logical form feeds a partition-pruned rewrite:
    * project the touched partition values from `updates`, rewrite
    * only those partitions via dynamic-partition overwrite.
    */
  def upsertByKey(base: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame =
    base.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)

  /** Keyed erasure (takedown / right-to-be-forgotten): drop every base
    * row whose key appears in `victims`. A left-anti join — the
    * victim list is batch-sized in practice and broadcasts, so the
    * corpus streams through one scan unshuffled.
    */
  def deleteByKeys(base: DataFrame, victims: DataFrame,
      keys: Seq[String]): DataFrame =
    base.join(victims.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Snapshot diff between two versions of a keyed table: one row per
    * key whose state changed, labeled `added` / `removed` /
    * `changed`. Rows are compared by an md5 over the non-key columns
    * (computed scan-side, so the full-outer join carries key + one
    * hash instead of every column twice). The hash input is the
    * JSON of the column struct — field names disambiguate, so a
    * value moving between columns, a NULL, and an empty string all
    * hash differently (a separator-joined concat would alias
    * (x, NULL) with (NULL, x) and miss the change).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    def hashed(df: DataFrame, hname: String): DataFrame = {
      val rest = df.columns.filterNot(keys.contains).sorted
      df.select(keys.map(col) :+
        md5(to_json(struct(rest.map(col): _*))).as(hname): _*)
    }
    hashed(oldDf, "h_old").join(hashed(newDf, "h_new"), keys, "full_outer")
      .withColumn("change",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** Per-source corpus stats as a MERGEABLE aggregate state —
    * count and char sum are algebraic, so states from disjoint
    * slices merge by addition without touching the slices again.
    */
  def sourceStats(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))

  /** Incremental aggregate maintenance: the [[sourceStats]] of
    * base ∪ delta computed by MERGING the two partial states —
    * `agg(base ⊎ delta) = merge(agg(base), agg(delta))` for
    * algebraic aggregates. This is the rolling-stats posture at
    * 100 TB: the base state is a few rows per source read from the
    * previous release, only the delta is scanned; the oracle-gated
    * query proves the merged state equals a from-scratch aggregate.
    */
  def incrementalSourceStats(base: DataFrame, delta: DataFrame): DataFrame =
    sourceStats(base).unionByName(sourceStats(delta))
      .groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_chars")).as("n_chars"))

  /** SCD Type-2 versioning of a change log: each (key, ts) state row
    * becomes a validity interval — `valid_from` = its own timestamp,
    * `valid_to` = the key's NEXT change (null while current, flagged
    * `is_current`). The slowly-changing-dimension build every
    * warehouse needs when a mutable entity must be joinable AS OF any
    * past time (the q30/q42 as-of joins are the read side of this
    * write shape). One window per key — a single shuffle on the key,
    * bounded state per key, `tie` columns pinning the order of
    * same-timestamp changes.
    */
  def scdType2(changes: DataFrame, keys: Seq[String], ts: String,
      tie: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(ts) +: tie.map(col)): _*)
    changes
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0).cast("int"))
  }

  /** Salted equi-join for skewed keys: the dimension side is
    * replicated `salts` times (explode over the salt range) and the
    * fact side picks a deterministic salt from a hash of its own
    * row, so a hot key's rows spread over `salts` reduce partitions
    * instead of hammering one. Result is identical to the plain join
    * for ANY salt assignment — the salt only routes.
    *
    * When to reach for it: Spark's AQE skew-join already splits
    * skewed SORT-MERGE partitions at runtime, but salting is the
    * form that works where AQE can't see or act — skewed
    * aggregations feeding joins, stream-stream joins, or engines/
    * modes without runtime re-planning. `salts` multiplies the dim
    * side, so it suits small-dim/big-fact shapes (broadcast-sized
    * dims should just broadcast; this is for the middle ground where
    * the dim exceeds broadcast but the fact side is key-skewed).
    *
    * Measured side-by-side (MaintenanceSpec "skew handling measured":
    * 2M facts, 95% on one key, local[4]): unprotected SMJ 1.36 s,
    * salted 1.42 s, AQE skew split (thresholds forced low) 2.67 s.
    * The completion of the story: a 1.9M-row hot partition still fits
    * one task comfortably, so at this scale both mitigations only
    * pay overhead — salting's is negligible, AQE's forced tiny
    * advisory partitions are not. The mitigation earns its keep only
    * when the hot partition exceeds a single task's sort/memory
    * budget (the 100 TB regime); below that, don't salt.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int): DataFrame = {
    val sdim = dim.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    val sfact = fact.withColumn("__salt",
      pmod(hash(fact.columns.map(col): _*), lit(salts)))
    sfact.join(sdim, Seq(key, "__salt")).drop("__salt")
  }

  // -- oracle-gated query faces -------------------------------------------

  /** q50 — keyed upsert over the documents table: every doc_id
    * divisible by 7 receives a new version with adjusted stats; the
    * rest pass through.
    */
  def q50Upsert(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("version", lit(1))
    val updates = base.filter(col("doc_id") % 7 === 0)
      .withColumn("n_chars", col("n_chars") + 1000)
      .withColumn("version", lit(2))
    upsertByKey(base, updates, Seq("doc_id"))
  }

  /** q51 — snapshot diff: version 2 of the corpus drops every 11th
    * doc, edits every 5th, and adds a shifted clone of every 13th —
    * the diff must label exactly those.
    */
  def q51SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = t(s, dir, "documents").select(col("doc_id"), col("source"),
      col("n_chars"))
    val v2 = v1.filter(col("doc_id") % 11 =!= 0)
      .withColumn("n_chars",
        when(col("doc_id") % 5 === 0, col("n_chars") + 1)
          .otherwise(col("n_chars")))
      .unionByName(v1.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
    snapshotDiff(v1, v2, Seq("doc_id"))
  }

  /** q52 — incremental aggregate maintenance: per-source stats of the
    * 80% base slice merged with the 20% delta slice; the oracle is a
    * from-scratch aggregate over the whole table, proving the
    * algebraic merge identity.
    */
  def q52IncrAgg(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    incrementalSourceStats(
      docs.filter(col("doc_id") % 10 < 8),
      docs.filter(col("doc_id") % 10 >= 8))
  }

  /** q53 — salted join: orders against the customer dim on custkey
    * through [[saltedJoin]], aggregated per market segment; the
    * oracle is the plain join, proving salting is result-invariant.
    */
  def q53SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    saltedJoin(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        dim, "o_custkey", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** q55 — SCD2 over the event stream: each user's events become
    * versioned validity intervals (epoch-second bounds, the q19
    * timestamp convention; event_id breaks same-timestamp ties).
    */
  def q55Scd2(s: SparkSession, dir: String): DataFrame =
    scdType2(t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id")),
      Seq("user_id"), "ts", Seq("event_id"))
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("valid_from")).as("valid_from_s"),
        unix_timestamp(col("valid_to")).as("valid_to_s"),
        col("is_current"))

  /** q60's two deterministic change batches (full v1 snapshot, v2
    * updates for even keys).
    */
  private def q60Batches(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val b1 = docs.withColumn("ver", lit(1L))
    val b2 = docs.filter(col("doc_id") % 2 === 0)
      .withColumn("n_chars", col("n_chars") + 7)
      .withColumn("ver", lit(2L))
    (b1, b2)
  }

  /** q60 — the streaming CDC upsert's apply semantics made ORACLE-
    * visible (the batch-equivalence specs were previously the only
    * gate): two deterministic change batches — a full version-1
    * snapshot, then version-2 updates for every even key — run through
    * [[graft.streaming.IngestUpsert.processBatch]] into a scratch
    * bucketed table, with the second batch applied TWICE so the
    * replay-idempotence contract is inside the gated query itself; the
    * query returns the table's final state, materialized, so the
    * scratch table is deleted before it returns. The oracle is the
    * semantic definition the sink must converge to: window-latest per
    * key over the unioned batches.
    */
  def q60CdcUpsert(s: SparkSession, dir: String): DataFrame = Scope.run { sc =>
    val (b1, b2) = q60Batches(s, dir)
    val tmp = sc.tempDir("q60").resolve("t").toString
    graft.streaming.IngestUpsert.processBatch(b1, tmp, Seq("doc_id"), "ver", 8)
    graft.streaming.IngestUpsert.processBatch(b2, tmp, Seq("doc_id"), "ver", 8)
    // replay: convergent, so the final state is unchanged
    graft.streaming.IngestUpsert.processBatch(b2, tmp, Seq("doc_id"), "ver", 8)
    graft.streaming.IngestUpsert.readTable(s, tmp)
      .select("doc_id", "source", "n_chars", "ver")
      .localCheckpoint(true)
  }

  /** q61's two CDC batches (event log split at its temporal midpoint). */
  private def q61Batches(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
    val mid = ev
      .agg((((unix_timestamp(min(col("ts"))) +
        unix_timestamp(max(col("ts")))) / 2).cast("long")).as("m"))
      .head().getLong(0)
    (ev.filter(unix_timestamp(col("ts")) <= mid),
      ev.filter(unix_timestamp(col("ts")) > mid))
  }

  /** q61 — the streaming SCD2 sink's semantics made oracle-visible
    * (the q60 pattern for the VERSIONED twin): the event log splits at
    * its temporal midpoint into two CDC batches applied through
    * [[graft.streaming.IngestScd2.processBatch]] (second batch
    * replayed), and the final dimension must equal the ONE-SHOT
    * [[scdType2]] over the whole log — so the oracle is q55's SQL
    * verbatim. Replay convergence and incremental ≡ batch were
    * previously spec-only contracts; this row hash-gates both. Like
    * q60, the final dimension returns materialized and the scratch
    * table is deleted before the query returns.
    */
  def q61CdcScd2(s: SparkSession, dir: String): DataFrame = Scope.run { sc =>
    val tmp = sc.tempDir("q61").resolve("t").toString
    val (b1, b2) = q61Batches(s, dir)
    graft.streaming.IngestScd2.processBatch(b1, tmp, Seq("user_id"), "ts", 8)
    graft.streaming.IngestScd2.processBatch(b2, tmp, Seq("user_id"), "ts", 8)
    // replay: convergent, so the final dimension is unchanged
    graft.streaming.IngestScd2.processBatch(b2, tmp, Seq("user_id"), "ts", 8)
    graft.streaming.IngestScd2.readTable(s, tmp)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("valid_from")).as("valid_from_s"),
        unix_timestamp(col("valid_to")).as("valid_to_s"),
        col("is_current"))
      .localCheckpoint(true)
  }

  /** q62 — incremental JOIN-view maintenance, the join analogue of
    * q52's algebraic aggregate merge: a materialized view V = A ⋈ B is
    * maintained under inserts by the delta decomposition
    * ΔV = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB, V_new = V_old ∪ ΔV —
    * the base join is NEVER recomputed. Here A = orders (every 10th
    * order arrives as the delta), B = customer (every 7th customer),
    * and the maintained view is aggregated per market segment; the
    * oracle is the from-scratch join of the full tables, proving the
    * decomposition exact — including the ΔA ⋈ ΔB corner a naive
    * two-term maintenance silently drops.
    *
    * Scale shape: the two big-side terms are batch-per-stored-table
    * joins (ΔA broadcast against B_old's bucketed layout and
    * symmetrically — partition-pruned, never base × base), and
    * ΔA ⋈ ΔB is batch × batch; per-refresh cost is O(|Δ| + touched
    * partitions), the posture every materialized view at 100 TB needs.
    */
  def q62IncrJoinView(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val oOld = o.filter(col("o_orderkey") % 10 =!= 0)
    val oNew = o.filter(col("o_orderkey") % 10 === 0)
    val cOld = c.filter(col("o_custkey") % 7 =!= 0)
    val cNew = c.filter(col("o_custkey") % 7 === 0)
    val vOld = oOld.join(cOld, "o_custkey")
    val dV = oNew.join(cOld, "o_custkey")
      .unionByName(oOld.join(cNew, "o_custkey"))
      .unionByName(oNew.join(cNew, "o_custkey"))
    vOld.unionByName(dV)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Bits per dimension in the [[zValue]] interleave. 16 bits × 2
    * dims = a 32-bit z-value — enough resolution that file-level
    * min/max zones stay rectangles far below any realistic file
    * count; widening to 21×3 (63 bits) is the same construction.
    */
  val ZBits = 16

  /** Morton/Z-order value: interleave the low [[ZBits]] bits of `x`
    * (even positions) and `y` (odd). Pure Column arithmetic — 32
    * shift/mask terms the optimizer constant-folds into one codegen
    * expression; no UDF. Inputs must already be masked to [[ZBits]]
    * bits (callers mod/scale first).
    */
  def zValue(x: org.apache.spark.sql.Column,
             y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** q83 — z-value zone map over lineitem (part, supplier): the
    * oracle-gated face of the Z-order layout family. The PHYSICAL
    * layout (write side, N columns, measured row-group pruning and
    * file-manifest pruning) is [[graft.ops.Partitioning.writeZOrdered]]
    * / [[graft.ops.Partitioning.zOrderKey]] — a parquet layout isn't
    * SQL-visible, so that face is gated by PartitioningSpec's
    * scanned-rows measurements instead of the DuckDB hash. This query
    * pins the interleave ARITHMETIC cross-engine: each key is
    * min/max-scaled into the [[ZBits]]-bit domain (range ids — raw
    * values would leave high bits constant and collapse every zone;
    * a hash would fill the bits but destroy the locality the curve
    * exists to preserve), the scaled pair is Morton-interleaved, and
    * rows are summarized into 64 zones (the top 6 z bits — stand-ins
    * for file footers), each reporting its min/max rectangle in BOTH
    * dimensions — exactly what a scan planner prunes against.
    *
    * Two deliberate differences from `zOrderKey`, both because this
    * face must replay value-for-value in SQL: the min/max extents stay
    * IN-PLAN (a broadcast 1-row aggregate, where zOrderKey bakes a
    * driver-collected row into literals — fine for a write job, but a
    * collect the oracle can't see), and the coding is exact integer
    * floor-scaling rather than `width_bucket`. The zone aggregate is
    * map-side combinable; nothing but (x, y, z) longs ever shuffles.
    * Scaling uses `floor(double)` — exact while (range · 2¹⁶) < 2⁵³,
    * i.e. key ranges to ~10¹¹, far past any TPC-H SF.
    */
  def q83Zorder(s: SparkSession, dir: String): DataFrame = {
    val mask = (1L << ZBits) - 1
    val li = t(s, dir, "lineitem").select(col("l_partkey").as("p"),
      col("l_suppkey").as("sk"))
    val ext = li.agg(min("p").as("mnp"), max("p").as("mxp"),
      min("sk").as("mns"), max("sk").as("mxs"))
    def scaled(c: org.apache.spark.sql.Column, mn: String, mx: String) =
      floor((c - col(mn)) * mask / greatest(col(mx) - col(mn), lit(1L)))
        .cast("long")
    li.crossJoin(broadcast(ext))
      .select(scaled(col("p"), "mnp", "mxp").as("x"),
        scaled(col("sk"), "mns", "mxs").as("y"))
      .select(col("x"), col("y"),
        shiftright(zValue(col("x"), col("y")), 2 * ZBits - 6).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_zorder" -> q83Zorder _,
    "q62_incr_join" -> q62IncrJoinView _,
    "q50_upsert" -> q50Upsert _,
    "q51_snapshot_diff" -> q51SnapshotDiff _,
    "q52_incr_agg" -> q52IncrAgg _,
    "q53_salted_join" -> q53SaltedJoin _,
    "q55_scd2" -> q55Scd2 _,
    "q60_cdc_upsert" -> q60CdcUpsert _,
    "q61_cdc_scd2" -> q61CdcScd2 _)

  /** Defined before [[oracleSql]] (object-init order): shared by q55
    * and q61, whose results must be identical by the convergence
    * contract.
    */
  private val Scd2OracleSql: String =
    """SELECT user_id, event_id,
      |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS valid_from_s,
      |  CAST(epoch(date_trunc('second', lead(ts, 1) OVER w)) AS BIGINT)
      |    AS valid_to_s,
      |  CAST(CASE WHEN lead(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END
      |    AS INTEGER) AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q83_zorder" -> {
      val mask = (1L << ZBits) - 1
      val terms = (0 until ZBits).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH ext AS (SELECT MIN(l_partkey) AS mnp, MAX(l_partkey) AS mxp,
         |    MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs FROM lineitem),
         |b AS (SELECT
         |    CAST(FLOOR((l_partkey - mnp) * $mask
         |      / GREATEST(mxp - mnp, 1)) AS BIGINT) AS x,
         |    CAST(FLOOR((l_suppkey - mns) * $mask
         |      / GREATEST(mxs - mns, 1)) AS BIGINT) AS y
         |  FROM lineitem CROSS JOIN ext),
         |z AS (SELECT x, y, ($terms) >> ${2 * ZBits - 6} AS bin FROM b)
         |SELECT CAST(bin AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
         |  CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
         |FROM z GROUP BY bin""".stripMargin
    },
    "q50_upsert" ->
      """SELECT doc_id, source, n_chars + 1000 AS n_chars,
        |  CAST(2 AS INTEGER) AS version
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source, n_chars, CAST(1 AS INTEGER) AS version
        |FROM documents WHERE doc_id % 7 <> 0""".stripMargin,
    "q51_snapshot_diff" ->
      """SELECT doc_id, 'removed' AS change FROM documents
        |WHERE doc_id % 11 = 0
        |UNION ALL
        |SELECT doc_id, 'changed' AS change FROM documents
        |WHERE doc_id % 11 <> 0 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'added' AS change
        |FROM documents WHERE doc_id % 13 = 0""".stripMargin,
    "q52_incr_agg" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY source""".stripMargin,
    "q53_salted_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(SUM(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // q62's oracle is the from-scratch join (q53's SQL verbatim): the
    // delta-decomposed maintenance must be result-invariant
    "q62_incr_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(SUM(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q60_cdc_upsert" ->
      """WITH b1 AS (SELECT doc_id, source, n_chars,
        |    CAST(1 AS BIGINT) AS ver FROM documents),
        |b2 AS (SELECT doc_id, source, n_chars + 7 AS n_chars,
        |    CAST(2 AS BIGINT) AS ver FROM documents WHERE doc_id % 2 = 0),
        |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        |SELECT doc_id, source, n_chars, ver FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY ver DESC) AS rn FROM u)
        |WHERE rn = 1""".stripMargin,
    "q55_scd2" -> Scd2OracleSql,
    // q61's oracle IS q55's: the incremental two-batch apply (plus
    // replay) must converge to the one-shot SCD2 of the full log
    "q61_cdc_scd2" -> Scd2OracleSql)
}
