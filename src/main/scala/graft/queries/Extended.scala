package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.core.{Checkpoint, DriverTier, Rounds, Tables}

/** Engine-extension surface (SURVEY §2.4 closing note): join variants,
  * window functions, grouping sets, set ops, JSON access, scalar
  * subqueries. The reference never needed these (single wide table),
  * but a user switching to this engine gets them from stock Spark —
  * each exposed and oracle-checked here.
  *
  * Scale notes inline: joins keyed on the shuffle key, small sides
  * broadcast, windows partitioned by a high-cardinality key (never a
  * global unpartitioned window over raw rows).
  */
object Extended {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** q16 — left-semi join (EXISTS): customers that have orders. */
  def q16SemiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")

  /** q17 — left-anti join (NOT EXISTS): customers with no orders. */
  def q17AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")

  /** q18 — partitioned window: per-user event sequence number and
    * running value sum. Partition key user_id keeps window state
    * bounded per task at any scale; ties broken by event_id so the
    * frame order is deterministic.
    */
  def q18WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events").select(
      col("event_id"),
      col("user_id"),
      row_number().over(w).cast(LongType).as("rn"),
      round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
        .as("running_value"))
  }

  /** q19 — lag/lead: per-user inter-event gap in seconds and value delta. */
  def q19LagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events").select(
      col("event_id"),
      col("user_id"),
      (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
        .as("gap_s"),
      round(col("value") - lag(col("value"), 1).over(w), 4).as("value_delta"))
  }

  /** q20 — sessionization: a >30 min gap starts a new session; session
    * id = running count of gap-starts. The canonical streaming-state
    * pattern expressed as two stacked windows (both partitioned by
    * user_id — shuffle once, reused by both windows).
    */
  def q20Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapS = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
    t(s, dir, "events")
      .withColumn("is_new", when(gapS.isNull || gapS > 1800, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("event_id", "user_id", "session_id")
  }

  /** q21 — rollup: order counts/sums at (status, priority), (status),
    * and grand-total grouping levels.
    */
  def q21Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))

  /** q22 — cube over lineitem flags. */
  def q22Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))

  /** q23 — JSON field access on the events props column. */
  def q23Json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(LongType).as("k"))

  /** q24 — INTERSECT (set semantics). */
  def q24Intersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))

  /** q25 — EXCEPT (set semantics). */
  def q25Except(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .except(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))

  /** q26 — top-k per group via ranked window (top-3 orders by price
    * per status, deterministic tie-break on key).
    */
  def q26TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        col("rk").cast(LongType).as("rk"))
  }

  /** q27 — scalar subquery: orders above the global mean price.
    * Expressed through the SQL front-end (temp views) to exercise it;
    * Catalyst plans the subquery as a broadcast scalar.
    */
  def q27ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""SELECT o_orderkey FROM orders
             WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""")
  }

  /** q28 — 5-way star join (TPC-H Q5 shape): revenue per region.
    * region/nation/customer are broadcast dims; the orders⋈lineitem
    * fact-fact join shuffles on orderkey once.
    */
  def q28StarJoin(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** q29 — hourly event-type matrix: date_trunc + two-key aggregate,
    * emitted as epoch seconds to keep timestamp precision out of the
    * comparison.
    */
  def q29TimeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))

  /** q30 — as-of join (operator Spark lacks natively; SURVEY §2.4
    * extension note): for each event, the latest order (by order date)
    * of the same key. Implemented the scale-safe way: tag and UNION
    * both inputs, one window pass carries the last-seen order value
    * forward — ONE shuffle on the key, no join explosion, no per-row
    * range probe. (A join+filter+rank form would shuffle |events|×
    * |orders per key| rows.) Ties on (key, date) are pre-collapsed to
    * max(o_orderkey) so the match is unique and engine-independent.
    */
  def q30AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("k"),
        unix_timestamp(col("o_orderdate")).as("tt"),
        lit(0).as("side"), col("o_orderkey").as("ok"),
        lit(null).cast(LongType).as("event_id"))
    val e = t(s, dir, "events")
      .select(col("user_id").as("k"), unix_timestamp(col("ts")).as("tt"),
        lit(1).as("side"), lit(null).cast(LongType).as("ok"), col("event_id"))
    // The ordering does the (key, date) tie-collapse: among orders with
    // equal tt the largest o_orderkey sorts last, so the running
    // last(ok) IS max(ok) of the latest date — no pre-aggregate, and
    // the whole as-of is exactly ONE shuffle (the window partitioning;
    // PlanSpec asserts this).
    val w = Window.partitionBy("k")
      .orderBy(col("tt"), col("side"), col("ok"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    o.union(e)
      .withColumn("last_order", last(col("ok"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("last_order"))
  }

  /** q45 — gap-filled hourly series: q29's sparse per-(hour, type)
    * counts densified over the full [min, max] hour scaffold with
    * zeros where no events landed — what every downstream rate/SLA/
    * anomaly computation needs (a sparse frame silently skips the
    * empty hours, which are usually the signal).
    *
    * Scale shape: the scaffold is GENERATED (explode(sequence)) from a
    * one-row min/max aggregate — never scanned, never shuffled; the
    * dense frame is |hours|×|types| rows of three scalars joined
    * against the pre-aggregated counts on (hour, type). At 100 TB the
    * time window is bounded by the query (a dashboard asks for days,
    * not the corpus's lifetime), so the scaffold stays tiny relative
    * to the events actually aggregated.
    */
  def q45GapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
    val agg = ev.groupBy("hour_epoch", "event_type")
      .agg(count(lit(1)).as("n"))
    val hours = ev.agg(min("hour_epoch").as("lo"), max("hour_epoch").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(3600L)))
        .as("hour_epoch"))
    hours.crossJoin(broadcast(ev.select("event_type").distinct()))
      .join(agg, Seq("hour_epoch", "event_type"), "left")
      .select(col("hour_epoch"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** q44 — q26's top-k-per-group through the `topk_by` bounded-heap
    * aggregate instead of the rank window: same relation (oracle is
    * q26's SQL verbatim — ties to the smallest orderkey are exactly
    * the heap's tie rule), no sort anywhere in the plan. See
    * `TopKFunctions` for the window-vs-heap cost argument; this is
    * the relational face of the s9 demonstration.
    */
  def q44TopkHeap(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(graft.functions.TopKFunctions
        .topkBy(col("o_totalprice"), col("o_orderkey"), lit(3)).as("tk"))
      .select(col("o_orderstatus"), posexplode(col("tk")))
      .select(col("o_orderstatus"), col("col.id").as("o_orderkey"),
        col("col.ord").as("o_totalprice"),
        (col("pos") + 1).cast(LongType).as("rk"))
  }

  /** q42 — the SAME as-of semantics as q30, executed by the engine's
    * native whole-operator path (`graft.plans.AsOfJoin` logical node →
    * `AsOfJoinStrategy` → sort-merge `AsOfJoinExec`; SURVEY §4.3
    * tier (c)). The (key, date) tie-collapse q30 gets from its window
    * ordering comes from the operator's tiebreak ordering here —
    * right rows sorted (key, time, ok), last-seen match = max ok.
    * Oracle is q30's ASOF JOIN SQL verbatim; AsOfJoinSpec pins q42 ≡
    * q30 row-for-row plus the plan shape (native node, no Window).
    *
    * Honest cost note: at sf0.1 the native plan's two exchanges + two
    * sorts measure ~0.3 s over q30's single union shuffle — fixed
    * stage overhead at toy scale. The operator's regime is large
    * sides (each sorts alone instead of interleaved through one
    * window) and pre-bucketed storage (either side's exchange
    * disappears entirely — impossible for the union form, whose
    * shuffle key is synthetic).
    */
  def q42AsofNative(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey").as("k"),
      unix_timestamp(col("o_orderdate")).as("ott"),
      col("o_orderkey").as("ok"))
    val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("ett"))
    graft.plans.AsOfJoinApi
      .asofJoin(e, o, ("user_id", "k"), ("ett", "ott"), tiebreak = Seq("ok"))
      .select(col("event_id"), col("user_id"), col("ok").as("last_order"))
  }

  /** q46 — q42's as-of enrichment in INNER posture: events with no
    * prior order are dropped instead of null-padded (DuckDB's `ASOF
    * JOIN` default vs `ASOF LEFT JOIN`). Same native operator, same
    * plan shape — the merge just skips unmatched emissions, so the
    * inner form is never more expensive than the outer one.
    */
  def q46AsofInner(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey").as("k"),
      unix_timestamp(col("o_orderdate")).as("ott"),
      col("o_orderkey").as("ok"))
    val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("ett"))
    graft.plans.AsOfJoinApi
      .asofJoin(e, o, ("user_id", "k"), ("ett", "ott"),
        tiebreak = Seq("ok"), joinType = "inner")
      .select(col("event_id"), col("user_id"), col("ok").as("last_order"))
  }

  /** q47 — FORWARD as-of: every event enriched with its user's NEXT
    * order at-or-after event time (the "time-to-next-action" shape —
    * lead-time analyses, label-horizon joins in training pipelines).
    * Same native operator with the direction mirrored; ties take the
    * smallest order key, matching DuckDB's `ASOF LEFT JOIN ... ts <=
    * date` after a min-collapse per (key, date).
    */
  def q47AsofForward(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey").as("k"),
      unix_timestamp(col("o_orderdate")).as("ott"),
      col("o_orderkey").as("ok"))
    val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("ett"))
    graft.plans.AsOfJoinApi
      .asofJoin(e, o, ("user_id", "k"), ("ett", "ott"),
        tiebreak = Seq("ok"), direction = "forward")
      .select(col("event_id"), col("user_id"), col("ok").as("next_order"))
  }

  /** q31 — interpolated percentiles per group (median, p90). */
  def q31Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))

  /** q72 — per-group winsorization (robust clipping): every lineitem
    * price clipped to its return-flag group's exact interpolated
    * [p05, p95] band — the outlier treatment a feature-curation pass
    * applies before normalization (Tukey's trimming made clip-shaped,
    * so no rows are lost, only tails flattened).
    *
    * Scale shape: the bounds are a 3-row exact-percentile aggregate
    * (one sort-based agg per group, the q31 machinery) broadcast back
    * onto the row stream — the clip itself is a map-only projection,
    * so the whole operator costs one aggregate plus one scan at any
    * corpus size. Bounds are ROUNDED at 6dp before the clip in both
    * engines, so the boundary decision never sits on a ulp.
    */
  def q72Winsorize(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val bounds = li.groupBy("l_returnflag")
      .agg(round(expr("percentile(l_extendedprice, 0.05)"), 6).as("lo"),
        round(expr("percentile(l_extendedprice, 0.95)"), 6).as("hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), col("lo"), col("hi"),
        round(greatest(col("lo"),
          least(col("hi"), col("l_extendedprice"))), 2).as("clipped"))
  }

  /** q73 — Bloom-filtered semi-join reduction (the distributed
    * runtime-filter pattern: Bloom join of Mackert–Lohman's bloomjoin
    * lineage, the same shape Spark's own
    * `spark.sql.optimizer.runtimeFilter.bloomFilter` injects): the
    * BUILDING-segment customer keys fold into a Bloom filter whose
    * bits embed in the plan as a literal, and the orders scan drops
    * non-matching rows BEFORE the join shuffle — at 100 TB this is
    * the difference between shuffling the whole fact table and
    * shuffling the ~1/5 that can match. False positives only ever
    * ADMIT rows, and the exact join behind the probe removes them, so
    * the result is identical to the unfiltered join (which is the
    * oracle) — the filter is pure shuffle-volume savings.
    */
  def q73BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bits = graft.functions.BloomFunctions
      .buildSerialized(dim, "c_custkey", 50000L)
    t(s, dir, "orders")
      .filter(graft.functions.BloomFunctions
        .bloomMightContain(col("o_custkey").cast(LongType), bits))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** q32 — multi-distinct aggregate (Expand-based plan): distinct
    * customers and distinct ship-modes... here distinct parts and
    * suppliers per return flag.
    */
  def q32MultiDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))

  /** q33 — GROUPING SETS with grouping() markers (only reachable via
    * the SQL front-end; rollup/cube are q21/q22). One Expand + one
    * aggregate — same scale shape as rollup.
    */
  def q33GroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""SELECT o_orderstatus, o_orderpriority,
             grouping(o_orderstatus) AS g_status,
             grouping(o_orderpriority) AS g_prio,
             COUNT(*) AS n
             FROM orders
             GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
  }

  /** q34 — ordered string aggregation: deterministic comma-joined
    * distinct sets per group (collect_set is unordered; array_sort
    * fixes the output before joining, matching string_agg ORDER BY).
    */
  def q34StringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
        .as("prios"))

  /** q35 — sketch aggregates, the 100 TB forms of q32/q31: HLL++
    * approximate distinct (fixed memory per group vs an exact
    * distinct's shuffle of every key) and approximate percentiles
    * (GK-sketch). Sketch internals are engine-specific → rows-only
    * driver check, exactness is bounded by rsd/accuracy params.
    */
  def q35ApproxStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("nd_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("p50_approx"))

  /** q36 — stratified sample (`sampleBy`): per-stratum Bernoulli
    * fractions, the skew-aware form of P12's uniform sample.
    * RNG is partitioning-dependent → rows-only check.
    */
  def q36StratifiedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").stat.sampleBy("o_orderstatus",
      Map("O" -> 0.1, "F" -> 0.05, "P" -> 0.5), 777L)

  /** q37 — range (interval) join: orders priced into tier bands
    * derived from the region table. The band side is tiny → broadcast
    * nested-loop with the range predicate, which is the right plan for
    * a small interval table; when bands are arithmetic (as here) the
    * 100 TB form is a width_bucket-style O(1) compute per row, and for
    * large interval tables the standard trick is bucketizing intervals
    * to turn the range predicate into an equi-join prefilter.
    */
  def q37RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val tiers = t(s, dir, "region").select(
      col("r_regionkey").as("tier"),
      (col("r_regionkey") * 100000.0).as("lo"),
      ((col("r_regionkey") + 1) * 100000.0).as("hi"))
    t(s, dir, "orders")
      .join(broadcast(tiers),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** q43 — the SAME tier-band aggregation as q37, executed through
    * interval BINNING — the range-join form that survives a LARGE
    * interval table. q37's broadcast-nested-loop probes every band
    * per row: perfect for 5 bands, quadratic death for 5 million
    * (BNLJ cost is |probe|×|bands|, and a non-broadcastable band side
    * forces a cartesian). Binning turns the range predicate into an
    * EQUI-join: intervals explode into the fixed-width bins they
    * overlap (one row per covered bin — cost |bands|×bins/band, paid
    * once on the small-per-bin side), probes compute their single bin
    * in O(1), and the join keys on the bin id — hash join or SMJ,
    * shuffle keyed and AQE-sized like any equi-join, with the exact
    * range predicate re-checked as the join residual. The standard
    * trick (DuckDB/Trino "IEJoin" literature calls it bucketed range
    * join); bin width tunes the explosion-vs-selectivity trade.
    * Results are provably identical to q37 — the oracle is q37's SQL
    * verbatim, and the hash match is the proof.
    */
  def q43RangeJoinBinned(s: SparkSession, dir: String): DataFrame = {
    val binW = 50000.0
    val tiers = t(s, dir, "region").select(
      col("r_regionkey").as("tier"),
      (col("r_regionkey") * 100000.0).as("lo"),
      ((col("r_regionkey") + 1) * 100000.0).as("hi"))
    // one row per (interval, covered bin); hi is exclusive so a bound
    // landing exactly on a bin edge doesn't replicate into the next bin
    val binnedTiers = tiers
      .select(col("tier"), col("lo"), col("hi"),
        explode(sequence(floor(col("lo") / binW).cast(LongType),
          floor((col("hi") - lit(1e-9)) / binW).cast(LongType))).as("bin"))
    t(s, dir, "orders")
      .withColumn("obin", floor(col("o_totalprice") / binW).cast(LongType))
      .join(binnedTiers,
        col("obin") === binnedTiers("bin") &&
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** q38 — one-scan data profile: per-column row/non-null/distinct
    * counts plus min/max, reshaped long (no floating sum — a whole-table
    * double sum is summation-order-dependent across partitionings; the
    * profile keeps only order-independent metrics). The ingest-QA op a
    * training pipeline runs on every batch. Spark computes ALL columns'
    * metrics in ONE scan (multi-count-distinct plans as a single
    * Expand + aggregate); the oracle's per-column UNION ALL scans
    * three times — same result, and exactly the redundancy the
    * single-pass form avoids at 100 TB.
    */
  def q38Profile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val li = t(s, dir, "lineitem")
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}_rows"),
        count(col(c)).as(s"${c}_nn"),
        count_distinct(col(c)).as(s"${c}_nd"),
        round(min(col(c)).cast("double"), 4).as(s"${c}_min"),
        round(max(col(c)).cast("double"), 4).as(s"${c}_max"))
    }
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col(s"${c}_rows").as("n_rows"), col(s"${c}_nn").as("n_nonnull"),
        col(s"${c}_nd").as("n_distinct"), col(s"${c}_min").as("min_v"),
        col(s"${c}_max").as("max_v"))): _*))
        .as("p"))
      .select("p.*")
  }

  /** q39 — distribution-drift monitor (population stability index):
    * compare l_extendedprice's histogram between two batch halves
    * (orderkey parity as the stand-in batch split). One scan computes
    * both sides' bin counts (conditional partial aggregates); the
    * normalizing window runs over the 10-row bin frame. PSI per bin =
    * (p_new − p_old)·ln(p_new/p_old) with the standard 1e-4 floor so
    * empty bins stay finite; drift alarms typically fire at Σpsi>0.2.
    * Fixed literal bin edges keep the bucketing engine-independent.
    */
  def q39Psi(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.0001
    val bin = least(floor(col("l_extendedprice") / 10000), lit(9L)).cast(LongType)
    val li = t(s, dir, "lineitem")
      .select(bin.as("bin"), (col("l_orderkey") % 2).cast(LongType).as("side"))
    val counts = li.groupBy("bin").agg(
      count(when(col("side") === 0, 1)).as("n_old"),
      count(when(col("side") === 1, 1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    counts
      .withColumn("p_old",
        greatest(col("n_old") / sum(col("n_old")).over(w), lit(eps)))
      .withColumn("p_new",
        greatest(col("n_new") / sum(col("n_new")).over(w), lit(eps)))
      .select(col("bin"), col("n_old"), col("n_new"),
        round(col("p_old"), 6).as("p_old"), round(col("p_new"), 6).as("p_new"),
        round((col("p_new") - col("p_old")) * log(col("p_new") / col("p_old")), 6)
          .as("psi"))
  }

  /** q40 — event-time interval join (stream-stream join run in batch
    * mode): clicks attributed to same-user views in the preceding 30
    * minutes. The plan is [[graft.streaming.EventStreams
    * .clickAttribution]] verbatim — stream/batch unification means ONE
    * implementation serves both, and the batch run is what the oracle
    * checks. Scale: the join keys on user_id (high cardinality), so
    * both sides hash-partition by user and the range predicate
    * evaluates within each partition; no broadcast of a
    * corpus-proportional side.
    */
  def q40IntervalJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.clickAttribution(t(s, dir, "events"))

  /** q41 — unpivot (wide → long melt) + per-metric aggregate: the
    * reshape every metrics pipeline needs when columns become metric
    * rows. Spark's native `unpivot` is a zero-shuffle Expand (each
    * input row emits one row per value column inside the scan stage);
    * the only exchange is the final small aggregate.
    */
  def q41Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "val")
      .groupBy("l_returnflag", "metric")
      .agg(count(lit(1)).as("n"), round(avg(col("val")), 4).as("avg_val"))

  /** q56 — q37's range join through the AUTOMATIC binning rule
    * ([[graft.plans.BinRangeJoinRule]]): the interval side is marked
    * (`RangeJoinApi.markBinned`) and the optimizer rewrites the
    * nested-loop range join into q43's binned equi-join shape — the
    * user keeps the declarative range predicate; the manual explode/
    * bin arithmetic q43 spells out becomes the rule's job. Oracle =
    * q37's SQL verbatim: the hash match proves the rewrite changes
    * the plan, never the relation (`RangeBinSpec` property-tests the
    * rewrite itself, including empty/inverted/null-bound intervals).
    */
  def q56RangeJoinAuto(s: SparkSession, dir: String): DataFrame = {
    val tiers = t(s, dir, "region").select(
      col("r_regionkey").as("tier"),
      (col("r_regionkey") * 100000.0).as("lo"),
      ((col("r_regionkey") + 1) * 100000.0).as("hi"))
    t(s, dir, "orders")
      .join(graft.plans.RangeJoinApi.markBinned(tiers, 50000.0),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** q57 — ORDERED funnel conversion (view → click → purchase, each
    * step within a 24 h conversion window of the previous step's
    * entry): a user reaches a stage only via a strictly later event
    * than their entry into the previous stage — the sequenced,
    * windowed form real funnel analytics needs (an unordered
    * type-count funnel would credit a purchase that preceded the
    * first view; an unwindowed one saturates on any long-lived user —
    * on this fixture every user eventually does everything, while the
    * 24 h funnel reads 150 → 60 → 25). All three stages come from the
    * one-pass [[funnelUserTimes]] frame: one events scan, one shuffle,
    * no joins.
    */
  /** The q57 stage chain as ONE PASS: per-user first-entry times for
    * view → click → purchase, each step strictly later than the
    * previous entry and within its 24 h window — one events scan, one
    * user_id shuffle, zero joins. r15 swaps r14's `collect_list`
    * groupBy (whole event multiset in one aggregation buffer —
    * unbounded per-user state, so one hot/bot user with millions of
    * funnel events could OOM an executor; ADVICE r14) for three
    * CHAINED window aggregates over the same user_id partitioning:
    * each stage's conditional min references the previous stage's
    * entry time, all three Window nodes share ONE exchange + sort,
    * and `WindowExec` buffers each user through a spillable sorter —
    * a hot user degrades to disk instead of failing the executor. The
    * per-user reduction to one row is a same-key aggregate (max of a
    * per-user-constant), so no second exchange appears.
    *
    * Returns one row per user with funnel activity: (user_id, tv, tc,
    * tp) — tc/tp NULL when the user never reached that stage.
    */
  private def funnelUserTimes(s: SparkSession, dir: String): DataFrame =
    funnelUserTimesOf(t(s, dir, "events"))

  /** [[funnelUserTimes]] over an arbitrary (user_id, ts, event_type)
    * frame — package-visible so the property law can replay random
    * event multisets through the exact production chain.
    */
  private[graft] def funnelUserTimesOf(events: DataFrame): DataFrame = {
    val wu = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(wu))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("ts") > col("tv") &&
          col("ts") <= col("tv") + expr("INTERVAL 24 HOURS"), col("ts")))
          .over(wu))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("ts") > col("tc") &&
          col("ts") <= col("tc") + expr("INTERVAL 24 HOURS"), col("ts")))
          .over(wu))
      .groupBy("user_id")
      .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"),
        max(col("tp")).as("tp"))
  }

  def q57Funnel(s: SparkSession, dir: String): DataFrame =
    funnelUserTimes(s, dir)
      .agg(count(col("tv")).as("nv"), count(col("tc")).as("nc"),
        count(col("tp")).as("np"))
      .select(explode(array(
        struct(lit("1_view").as("stage"), col("nv").cast(LongType).as("n_users")),
        struct(lit("2_click").as("stage"), col("nc").cast(LongType).as("n_users")),
        struct(lit("3_purchase").as("stage"), col("np").cast(LongType).as("n_users"))))
        .as("r"))
      .select(col("r.stage").as("stage"), col("r.n_users").as("n_users"))

  /** q91 — funnel TIMING: median and p90 seconds spent on each funnel
    * transition (view→click, click→purchase), over exactly q57's
    * converting users — the "how fast do they convert?" half of the
    * funnel report (q57 answers "how many?"). Durations are exact
    * second-truncated epoch differences (the q81 convention, since the
    * fixture carries sub-second timestamps); each percentile is the
    * same linear-interpolation quantile in both engines. Shape: the
    * one-pass [[funnelUserTimes]] frame exploded into ≤ 2 duration
    * rows per converting user, then a 2-group aggregate; the
    * per-group exact percentile holds one transition's durations — at
    * 100 TB swap in the q67 binned-histogram quantile.
    */
  def q91FunnelTiming(s: SparkSession, dir: String): DataFrame =
    funnelUserTimes(s, dir)
      .select(explode(array(
        struct(lit("1_view_to_click").as("transition"),
          (unix_timestamp(col("tc")) - unix_timestamp(col("tv"))).as("sec")),
        struct(lit("2_click_to_purchase").as("transition"),
          (unix_timestamp(col("tp")) - unix_timestamp(col("tc"))).as("sec"))))
        .as("l"))
      .select(col("l.transition").as("transition"), col("l.sec").as("sec"))
      .filter(col("sec").isNotNull)
      .groupBy("transition")
      .agg(count(lit(1)).as("n_users"),
        round(expr("percentile(sec, 0.5)"), 6).as("p50_s"),
        round(expr("percentile(sec, 0.9)"), 6).as("p90_s"))

  /** q92 — first-order event-type transition matrix: for every
    * consecutive event pair within a user's timeline, the
    * (from → to) count and the row-normalized transition probability
    * — the Markov-chain audit behind q57's funnel (the funnel asserts
    * one path; this shows ALL the paths users actually take, and a
    * probability shift is the earliest sign of an instrumentation or
    * UX change). The lead window partitions by user_id — a
    * high-cardinality key, state bounded per user — and the
    * normalizing window runs over the |types|² transition matrix,
    * never raw events. Order (ts, event_id) is total, so pairing is
    * deterministic.
    */
  def q92Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("from_type"))
            .cast("double"), 6))
  }

  /** q89 — CUSUM change-point detection on the hourly event volume:
    * the hour where the cumulative deviation from the series mean
    * peaks is the classic single-change-point estimate (Page 1954),
    * the "WHEN did the rate shift?" companion to q59's "is this hour
    * anomalous?" and q87's "is there structure?". Deviation cumsums
    * are derived ORDER-PROOF: S_t = (Σ_{i≤t} x_i) − t·x̄, where the
    * running Σx and the position t come from one window over the
    * pre-aggregated hourly table (the q59 posture — never raw events)
    * and are exact longs; the double expression per hour mirrors the
    * oracle. The peak is elected by a broadcast 1-row max + equality
    * (smallest hour on ties), and the normalized statistic
    * max|S|/(σ̂·√n) rides the same broadcast series stats.
    */
  def q89Cusum(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("x"))
    val g = hourly.agg(count(lit(1)).cast(LongType).as("n"),
      sum(col("x")).cast(LongType).as("sx"),
      sum(col("x") * col("x")).cast(LongType).as("sxx"))
    val w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    val cs = hourly
      .select(col("h"), sum(col("x")).over(w).as("cumx"),
        count(lit(1)).over(w).as("tpos"))
      .crossJoin(broadcast(g))
      .select(col("h"), col("n"), col("sx"), col("sxx"),
        (col("cumx").cast("double") - col("tpos").cast("double") *
          (col("sx").cast("double") / col("n").cast("double"))).as("s"))
    val peak = cs.agg(max(abs(col("s"))).as("peak"))
    cs.crossJoin(broadcast(peak))
      .filter(abs(col("s")) === col("peak"))
      .groupBy("n", "sx", "sxx", "peak")
      .agg(min(col("h")).as("peak_hour"), min_by(col("s"), col("h")).as("sgn"))
      .select(col("n"), col("peak_hour"),
        round(col("sgn"), 6).as("cusum"),
        round(col("peak") /
          (sqrt((col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") /
              col("n").cast("double")) / col("n").cast("double")) *
            sqrt(col("n").cast("double"))), 6).as("stat"))
  }

  /** q90 — Gini concentration of customer spend: the inequality audit
    * over per-customer order totals (a pipeline twin: concentration of
    * corpus volume across sources/crawls — is one feed quietly 80% of
    * the data?). Uses the rank identity G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n
    * over spend ranked ascending: spends are exact DECIMAL sums, the
    * rank·spend products accumulate in DECIMAL (order-proof), and the
    * closing arithmetic runs once, oracle-mirrored. The global rank is
    * q82's two-pass percentile-cut machinery on the spend axis (bucket
    * counts + broadcast offsets + bin-local windows, state ~n/B per
    * task) — customers number in the billions at warehouse scale, so a
    * single-partition ORDER BY window here would be the q44
    * anti-pattern; the (spend, custkey) total order makes the two-pass
    * rank identical to the window form, which is what the oracle runs.
    */
  def q90Gini(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
      .groupBy("o_custkey").agg(sum(col("v")).as("spend"))
    val bounds = per.agg(min(col("spend")).as("lo"),
      max(col("spend")).as("hi"))
    val binned = per.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(RankBuckets - 1L),
            floor((col("spend") - col("lo")).cast("double") /
              ((col("hi") - col("lo")).cast("double") / RankBuckets)))))
    val offs = binned.groupBy("bin").agg(count(lit(1)).as("bc"))
      .withColumn("off",
        sum(col("bc")).over(Window.orderBy("bin")) - col("bc"))
      .select(col("bin"), col("off"))
    val wLocal = Window.partitionBy("bin")
      .orderBy(col("spend"), col("o_custkey"))
    val rk = (col("off") + row_number().over(wLocal)).cast(LongType)
    binned.join(broadcast(offs), Seq("bin"))
      .select(col("spend"), rk.as("rk"))
      .agg(count(lit(1)).cast(LongType).as("n_customers"),
        sum(col("spend")).as("dts"),
        sum(col("spend") * col("rk")).as("drs"))
      .select(col("n_customers"),
        round(col("dts").cast("double"), 2).as("total_spend"),
        round(lit(2.0) * col("drs").cast("double") /
          (col("n_customers").cast("double") * col("dts").cast("double")) -
          (col("n_customers").cast("double") + 1.0) /
            col("n_customers").cast("double"), 6).as("gini"))
  }

  /** q58 — cohort retention triangle: users cohorted by FIRST-seen
    * day, then distinct-active counted per (cohort, day offset) — the
    * canonical retention matrix. Two aggregations (first-seen per
    * user, distinct user-days) and one join keyed on user_id; offsets
    * come from date arithmetic, never a window over raw events.
    */
  def q58Retention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = ev.groupBy("user_id").agg(min(col("d")).as("c0"))
    ev.distinct()
      .join(cohort, "user_id")
      // cohort day as a formatted string: a raw DATE column round-trips
      // through parquet/pandas as python dates while the oracle yields
      // datetime64 — value-equal but dtype-incomparable in the gate
      .groupBy(date_format(col("c0"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("d"), col("c0")).as("day_offset"))
      .agg(count(lit(1)).cast(LongType).as("n_users"))
  }

  /** q59 — trailing-window anomaly detection on the event stream:
    * hourly volumes flagged when they sit more than 3σ from the
    * TRAILING 24 h mean (frame `RANGE 86400..3600 PRECEDING` on the
    * epoch key — the current hour is excluded so a spike can't mask
    * itself, and a ≥ 12-observation warm-up guards cold frames). The
    * monitoring query every ingest pipeline runs against its own
    * volume. Scale shape: the RANGE window runs over the
    * PRE-AGGREGATED hourly table (thousands of rows per year), never
    * over raw events — the hourly group-by shrinks first, so the
    * single ordered window is a few KB of state at any corpus size.
    */
  def q59Anomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("he"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("he").rangeBetween(-86400L, -3600L)
    hourly
      .select(col("he"), col("n"),
        avg(col("n")).over(w).as("mu"),
        stddev_samp(col("n")).over(w).as("sd"),
        count(lit(1)).over(w).as("m"))
      .select(col("he"), col("n"), round(col("mu"), 6).as("mu"),
        when(col("m") >= 12 &&
            abs(col("n") - col("mu")) > lit(3) * col("sd"), 1)
          .otherwise(0).cast("int").as("flag"))
  }

  /** q54 — PageRank over the supplier↔customer trade graph, the
    * iterative-graph-analytics face next to d8's connected
    * components: nodes are suppliers (id + 1,000,000 — disjoint from
    * the customer key space) and customers, undirected edges from
    * DISTINCT (supplier, customer) lineitem⋈orders pairs, three
    * power-method iterations of per-node rank = 0.15 + 0.85 ·
    * Σ rank(in-neighbor)/deg(in-neighbor). Every node has out-edges
    * (both directions emitted), so there is no dangling mass.
    *
    * Scale shape per iteration: one equi-join of the edge list
    * against the (id, rank) table + one keyed sum — both map-side
    * combining, carrying only (id, double). The edge list
    * ([[tradeEdges]]) and degree table build ONCE; the three rounds
    * plan as one query, which launches fewer jobs than materializing
    * each round through [[graft.core.Rounds]] (sf0.01, `local[4]`,
    * every rank computed: 20 vs 22). Ranks round to 6 dp only at the END:
    * intermediate sums stay full-precision, so cross-engine
    * summation-order noise (~1e-13 after 3 passes) dies against the
    * 1e-6 grid.
    */
  def q54PageRank(s: SparkSession, dir: String): DataFrame =
    // the edge checkpoint stays cached until the session (or the bench
    // harness's releaseState) frees it: the returned plan reads it
    // lazily. Cutover probe skipped (-1): the trade graph is 1.2×10⁶
    // directed rows at sf0.1 — already past
    // DriverTier.GraphDriverMaxEdges and growing with SF — so the
    // probe's count job would be a pure tax on the distributed path
    // (measured +0.5 s/run, r15)
    pageRankOf(tradeEdges(s, dir), iters = 3, driverMaxEdges = -1L)

  /** The symmetric supplier↔customer trade graph of q54, q68 and q71:
    * both directions of every DISTINCT (l_suppkey + 10⁶, o_custkey)
    * lineitem⋈orders pair (suppliers sit past the customer key
    * space), from lines with `l_quantity >= minQty` only when given.
    * Eagerly checkpointed: every round of a graph loop reads it. q68
    * and q71 (and q69, over its weighted edges) free it once the loop
    * returns: a driver arm returns collected rows and
    * [[graft.core.Rounds]] a materialized round, so no result reads it.
    */
  private[graft] def tradeEdges(s: SparkSession, dir: String,
      minQty: Option[Int] = None): DataFrame = {
    val li = t(s, dir, "lineitem")
    val e0 = minQty.fold(li)(q => li.filter(col("l_quantity") >= q))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + 1000000L).as("src"), col("o_custkey").as("dst"))
      .distinct()
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
  }

  /** The q68/q69 seed set: trade-graph sources ≡ 0 mod 500. */
  private[graft] def tradeSeeds(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 500 === 0)

  /** The q54 core over arbitrary symmetric (src, dst) edges — `iters`
    * power-method rounds at damping 0.85; spec entry point for tier
    * fixtures.
    */
  def pageRankOf(edges: DataFrame, iters: Int,
      driverMaxEdges: Long = DriverTier.GraphDriverMaxEdges): DataFrame =
    // power-method rounds over a broadcast-scale edge list are
    // per-round join scheduling, not arithmetic — and unlike the
    // integer graph cores, the distributed form's nested iteration plan
    // (no per-round checkpoint) carries ~12 exchanges at 3 rounds.
    // Double-sum order differs from the shuffle's partial-sum order by
    // ≤ ~1e-13 after 3 rounds — dead against the 6-dp output grid, the
    // same argument the cross-engine oracle already rests on.
    DriverTier.run(edges.select("src", "dst"), driverMaxEdges,
        "pageRankOf") { rows =>
      val es = rows.map(r => (r.getLong(0), r.getLong(1)))
      val deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (u, _) => deg.merge(u, 1L, _ + _) }
      var pr = new java.util.HashMap[Long, Double]()
      deg.forEach((n, _) => pr.put(n, 1.0))
      var it = 0
      while (it < iters) {
        val inSum = new java.util.HashMap[Long, Double]()
        es.foreach { case (src, dst) =>
          inSum.merge(dst, pr.get(src) / deg.get(src), _ + _)
        }
        val next = new java.util.HashMap[Long, Double]()
        // getOrDefault, not get: generic get() on a primitive-keyed
        // map unboxes a missing key's null to 0.0 silently in Scala —
        // coincidentally correct here, but say what we mean
        deg.forEach((n, _) =>
          next.put(n, 0.15 + 0.85 * inSum.getOrDefault(n, 0.0)))
        pr = next
        it += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      pr.asScala.toSeq.map { case (n, p) => (n, r6(p)) }.toDF("id", "pr")
    } { _ =>
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      var ranks = deg.select(col("src").as("id"), lit(1.0).as("pr"))
      (1 to iters).foreach { _ =>
        val contribs = edges.join(deg, "src")
          .join(ranks, col("src") === col("id"))
          .select(col("dst"), (col("pr") / col("deg")).as("c"))
          .groupBy("dst").agg(sum(col("c")).as("in_sum"))
        ranks = deg.select(col("src").as("id"))
          .join(contribs, col("id") === col("dst"), "left")
          .select(col("id"),
            (lit(0.15) + lit(0.85) * coalesce(col("in_sum"), lit(0.0))).as("pr"))
      }
      ranks.select(col("id"), round(col("pr"), 6).as("pr"))
    }

  /** q63 — per-node triangle counts on the co-purchase part graph
    * (parts sharing ≥ 2 orders), via DEGREE-ORDERED ORIENTATION
    * (Suri & Vassilvitskii 2011): orient every undirected edge from
    * its (degree, id)-smaller endpoint to the larger, so each triangle
    * materializes as exactly ONE wedge at its smallest vertex and the
    * wedge join's per-key fanout is bounded by the oriented out-degree
    * — O(√m) for any graph instead of the hub-degree blowup a naive
    * adjacency self-join pays. The support-2 prune keeps the edge set
    * to genuine co-purchase affinity (and, at 100 TB, keeps |E| a
    * small fraction of the raw pair stream). All joins shuffle
    * long-pair keys only; the degree table (one row per node) rides
    * along via AQE-broadcast hash joins.
    */
  def q63Triangles(s: SparkSession, dir: String): DataFrame =
    trianglesOf(copurchaseEdges(s, dir))

  /** Undirected co-purchase edges in canonical id order (u < v),
    * support >= 2 — pruned on DISTINCT orders so support means
    * "co-purchased in >= 2 orders" even if a part repeats within one
    * order. Shared by q63 and q66.
    */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    // Per-order basket enumeration instead of a self-join (r16, guide
    // §2.4): ONE exchange keyed by order collapses each order to its
    // distinct sorted part set (collect_set dedupes within-order
    // repeats — support stays "distinct orders co-purchasing (u, v)"),
    // pairs enumerate IN-ROW from the sorted array (u < v by sort
    // order; basket size is bounded — ≤ 7 parts/order in the TPC-H
    // shape, so fanout is Σ k_i², never |parts|²), and the only other
    // exchange is the (u, v) support count. The old self-join form
    // paid the (ok, pk) distinct exchange PLUS two join exchanges on
    // ok — 2.2 s of q63's 2.4 s at sf0.1. Same bounded-bucket pair
    // discipline as Dedup.bucketPairs.
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      .filter(size(col("ps")) > 1)
      .select(col("ps"), posexplode(col("ps")))
      .select(col("col").as("u"),
        explode(slice(col("ps"), col("pos") + 2, size(col("ps")))).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .select("u", "v")
  }

  /** Per-node triangle counts over an undirected edge set given in
    * canonical id order (u < v, no duplicates) — the oriented
    * wedge-close core of q63, factored out so specs can drive it with
    * arbitrary graphs against a brute-force oracle.
    */
  def trianglesOf(edgesIn: DataFrame,
      driverMaxEdges: Long = DriverTier.GraphDriverMaxEdges): DataFrame = {
    // materialized ONCE: the edge pipeline (for q63 a lineitem
    // self-join + support aggregate) is read by the degree table, the
    // orientation join, and the final wedge-close verify — without
    // this it executes four times
    val edges = edgesIn.localCheckpoint(true)
    // a support-pruned co-purchase graph under the broadcast-scale
    // budget pays more in the deg/orientation/wedge joins' per-job
    // scheduling than in arithmetic (r15: 3,573 edges at sf0.1 behind
    // ~1 s of tiny-data jobs). Same orientation algorithm, exact
    // integer counts.
    DriverTier.run(edges.select("u", "v"), driverMaxEdges,
        "trianglesOf") { rows =>
      val es = rows.map(r => (r.getLong(0), r.getLong(1)))
      Checkpoint.release(edges)
      val deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (u, v) =>
        deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _)
      }
      // orient from the (degree, id)-smaller endpoint; adjacency holds
      // oriented out-neighbors; wedges close against the canonical set
      def smallerFirst(u: Long, v: Long): (Long, Long) = {
        val (du, dv) = (deg.get(u), deg.get(v))
        if (du < dv || (du == dv && u < v)) (u, v) else (v, u)
      }
      val eset = new java.util.HashSet[(Long, Long)](es.length * 2)
      es.foreach(e => eset.add(e))
      val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      es.foreach { case (u, v) =>
        val (s0, t0) = smallerFirst(u, v)
        adj.computeIfAbsent(s0, _ =>
          scala.collection.mutable.ArrayBuffer.empty[Long]) += t0
      }
      val tri = new java.util.HashMap[Long, Long]()
      adj.forEach { (apex, ts) =>
        val a = ts.toArray
        var i = 0
        while (i < a.length) {
          var j = i + 1
          while (j < a.length) {
            val (lo, hi) =
              if (a(i) < a(j)) (a(i), a(j)) else (a(j), a(i))
            if (eset.contains((lo, hi))) {
              tri.merge(apex, 1L, _ + _)
              tri.merge(lo, 1L, _ + _)
              tri.merge(hi, 1L, _ + _)
            }
            j += 1
          }
          i += 1
        }
      }
      val spark = edges.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      tri.asScala.toSeq.toDF("node", "n_tri")
    } { _ =>
      val deg = edges.select(col("u").as("n"))
        .union(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val ori = edges
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")),
            col("u")).otherwise(col("v")).as("s"),
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")),
            col("v")).otherwise(col("u")).as("tt"))
      val wedges = ori.as("e1").join(ori.as("e2"),
          col("e2.s") === col("e1.s") && col("e2.tt") > col("e1.tt"))
        .select(col("e1.s").as("apex"),
          least(col("e1.tt"), col("e2.tt")).as("u"),
          greatest(col("e1.tt"), col("e2.tt")).as("v"))
      val tris = wedges.join(edges, Seq("u", "v"))
      tris.select(explode(array(col("apex"), col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
    }
  }

  /** q66 — k-core decomposition of the q63 co-purchase graph: peel
    * nodes of degree < k until fixpoint, report the surviving nodes
    * with their in-core degrees. The classic graph-density filter
    * (Seidman 1983) — the subgraph where every node keeps ≥ k
    * neighbors — used to strip low-engagement fringe before the
    * expensive triangle/community passes.
    *
    * Runs a FIXED 8 peel rounds (fixpoint is reached in ≤6 on every
    * test SF; an already-converged round is a no-op join, and the
    * spec pins round 9 ≡ round 8), which is what makes the iteration
    * SQL-expressible — the oracle unrolls the same 8 rounds as a CTE
    * chain, so both engines compute the identical fixpoint.
    */
  def q66Kcore(s: SparkSession, dir: String): DataFrame =
    kcoreOf(copurchaseEdges(s, dir), k = 2, iters = 8)

  /** Fixed-round k-core peel over an undirected edge set in canonical
    * id order — factored out of q66 so specs can drive it with
    * arbitrary graphs and round counts.
    *
    * Scale shape: each round is one degree aggregation (shuffle on
    * node id, map-side partial counts) plus two semi-join prunes, the
    * Pregel peel step expressed relationally, materialized per round
    * by [[graft.core.Rounds]]. At 100 TB each round's working set only
    * ever SHRINKS, and a converged round is a join against an
    * unchanged node list.
    */
  def kcoreOf(edges: DataFrame, k: Int, iters: Int,
      driverMaxEdges: Long = DriverTier.CcDriverMaxEdges): DataFrame = {
    // round 0, filled by the tier gate's count
    val eu0 = edges.select("u", "v").localCheckpoint(false)
    // the driver arm runs the SAME synchronous rounds locally: each
    // round drops edges with an endpoint of degree < k, bounded by
    // `iters`, early exit at the fixpoint (the peel only removes, so an
    // unchanged count is an unchanged set)
    DriverTier.run(eu0, driverMaxEdges, "kcoreOf") { rows =>
      Checkpoint.release(eu0)
      var cur = rows.map(r => (r.getLong(0), r.getLong(1)))
      var round = 0
      var done = cur.isEmpty
      while (round < iters && !done) {
        val deg = new java.util.HashMap[Long, Long]()
        cur.foreach { case (u, v) =>
          deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _)
        }
        val next = cur.filter { case (u, v) =>
          deg.get(u) >= k && deg.get(v) >= k }
        done = next.length == cur.length
        cur = next
        round += 1
      }
      val deg = new java.util.HashMap[Long, Long]()
      cur.foreach { case (u, v) =>
        deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _)
      }
      val spark = edges.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      deg.asScala.toSeq.toDF("n", "deg")
    } { _ =>
      // the peel only ever REMOVES edges, so an unchanged count IS an
      // unchanged edge set: the remaining fixed rounds are identity
      // and skipping them returns exactly what the oracle's full
      // replay computes
      val e = Rounds.run(eu0, iters, Some(_.rows == _.rows)) { (e, _) =>
        val good = e.select(col("u").as("n"))
          .union(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("n")
        e.join(good.withColumnRenamed("n", "u"), "u")
          .join(good.withColumnRenamed("n", "v"), "v")
          .select("u", "v")
      }
      if (e ne eu0) Checkpoint.release(eu0) // iters < 1 returns eu0
      e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
    }
  }

  /** q64 — deterministic FIXED-SIZE per-group sample: the k=10 orders
    * with the smallest salted key hash per `o_orderstatus`, via the
    * bounded-heap `topk_by` aggregate — the distributed analogue of
    * reservoir sampling with the reservoir made ASSOCIATIVE (partial
    * heaps per partition, merged in any order to the same result);
    * where q48's hash-Bernoulli gives a binomial-SIZED sample, this
    * guarantees exactly k. The hash folds to 2⁵⁰ so the heap's double
    * ord compares it EXACTLY (a 60-bit value would alias above 2⁵³ and
    * silently fall through to id tie-breaks the oracle can't see);
    * the heap id is the table's true key `o_orderkey` — a non-unique
    * id would make rank ties engine-dependent. Scale shape: one scan
    * + per-group O(k) state; the 3k winners broadcast back against
    * the scan for their payload columns — no table-wide sort, no
    * window shuffle.
    */
  def q64BottomkSample(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val hv = graft.llm.TextAnalysis.hash60(concat(lit("q64:"),
      col("o_orderkey").cast("string"))) % (1L << 50)
    val orders = t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        hv.as("hv"))
    val picked = orders.groupBy("o_orderstatus")
      .agg(graft.functions.TopKFunctions
        .topkBy((-col("hv")).cast("double"), col("o_orderkey"), lit(k)).as("tk"))
      .select(col("o_orderstatus"), explode(col("tk")).as("p"))
      .select(col("o_orderstatus").as("st"), col("p.ord").as("ord"),
        col("p.id").as("o_orderkey"))
    val w = Window.partitionBy("st").orderBy(desc("ord"), col("o_orderkey"))
    val winners = picked.withColumn("rk", row_number().over(w))
    // payload fetch: the 3k winners BROADCAST against the scan — the
    // big side streams, nothing table-wide sorts or shuffles
    orders.select(col("o_orderkey"), col("o_totalprice"))
      .join(broadcast(winners.select(col("o_orderkey"), col("st"), col("rk"))),
        Seq("o_orderkey"))
      .select(col("st").as("o_orderstatus"), col("o_orderkey"),
        col("o_totalprice"), col("rk").cast(LongType).as("rk"))
  }

  /** q65 — fuzzy (edit-distance ≤ 2) self-join over distinct part
    * names, with EXACT q-gram prefix blocking (ED-Join, Xiao et al.
    * 2008): a string of length L has L−1 bigrams and d edits destroy
    * at most d·q = 4 of them, so two strings within distance 2 share
    * at least |G|−4 bigrams — which means their first
    * |G|−(|G|−4)+1 = 5 bigrams UNDER A FIXED GLOBAL ORDER
    * (lexicographic here) must intersect. Candidates come from an
    * equi-join on those ≤ 5 prefix grams plus a ±2 length band;
    * `levenshtein` verifies exactly. Strings too short for the bound
    * to bite (len < 6 ⇒ |G|−4 < 1) fall back to a length-band block —
    * a tiny set by construction, and the length filter still bounds
    * their fanout. The ORACLE is the unblocked brute-force join: what
    * gets verified is precisely that the blocking loses nothing.
    * Scale shape: the gram join shuffles (gram, name) pairs with
    * per-gram fanout bounded by gram selectivity; no cross product
    * anywhere for the long-string bulk.
    */
  def q65FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "part").select(col("p_name").as("nm")).distinct()
    fuzzyPairsOf(names)
  }

  /** The q65 core over an arbitrary (nm: string) frame — spec entry
    * point for mutation fixtures.
    */
  def fuzzyPairsOf(names: DataFrame): DataFrame = {
    val ln = length(col("nm"))
    // bigram i spans chars [i, i+1]; lexicographic sort = the fixed
    // global gram order the prefix bound needs
    val bigrams = array_sort(transform(sequence(lit(1), ln - 1),
      i => col("nm").substr(i, lit(2))))
    val longNames = names.filter(ln >= 6)
      .select(col("nm"), slice(bigrams, 1, 5).as("pg"))
    val gramCand = longNames.as("a")
      .select(col("nm").as("na"), explode(col("pg")).as("g"))
      .join(longNames.as("b")
        .select(col("nm").as("nb"), explode(col("pg")).as("g")), Seq("g"))
      .filter(col("na") < col("nb") &&
        abs(length(col("na")) - length(col("nb"))) <= 2)
      .select("na", "nb")
    val short = names.filter(ln < 6).select(col("nm").as("sa"))
    val shortCand = short.join(names.select(col("nm").as("sb")),
        col("sa") =!= col("sb") &&
          abs(length(col("sa")) - length(col("sb"))) <= 2)
      .select(least(col("sa"), col("sb")).as("na"),
        greatest(col("sa"), col("sb")).as("nb"))
    gramCand.unionByName(shortCand).distinct()
      .withColumn("dist", levenshtein(col("na"), col("nb")))
      .filter(col("dist") <= 2)
      .select(col("na").as("name_a"), col("nb").as("name_b"),
        col("dist").cast(LongType).as("dist"))
  }

  /** q68 — fixed-depth BFS reachability levels over the (thinned)
    * supplier↔customer trade graph: level = min hops from the seed set
    * (nodes ≡ 0 mod 500), three frontier-expansion rounds. The
    * reachability face of the graph family next to q54's ranking,
    * q63's counting, and q66's density peel; the high-quantity edge
    * prune keeps the graph sparse enough that three hops don't
    * saturate it (every level non-trivial at every test SF).
    *
    * Scale shape per round: frontier ⋈ edges (keyed equi-join),
    * distinct, anti-join against the visited set — each carries
    * (long, long) pairs only; the visited set is materialized per
    * round by [[graft.core.Rounds]], and each round's cost is
    * O(frontier out-edges), never the whole graph. The oracle unrolls
    * the same three rounds as MATERIALIZED CTEs.
    */
  def q68BfsLevels(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir, minQty = Some(45))
    try bfsLevelsOf(edges, tradeSeeds(edges), depth = 3)
    finally Checkpoint.release(edges)
  }

  /** The q68 core over arbitrary directed (src, dst) edges and a
    * (node) seed frame — spec entry point for brute-force fixtures.
    */
  def bfsLevelsOf(edges: DataFrame, seeds: DataFrame, depth: Int,
      driverMaxEdges: Long = DriverTier.GraphDriverMaxEdges): DataFrame =
    // the per-round frontier-join/anti-join jobs are scheduling floor
    // on a broadcast-scale graph; the BFS itself is exact integer work
    DriverTier.run(edges.select("src", "dst"), driverMaxEdges,
        "bfsLevelsOf") { rows =>
      val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      rows.foreach { r =>
        adj.computeIfAbsent(r.getLong(0), _ =>
          scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
      }
      val lvl = new java.util.HashMap[Long, Long]()
      var frontier = seeds.select(col("node")).collect()
        .map(_.getLong(0)).distinct.toSeq
      frontier.foreach(n => lvl.put(n, 0L))
      var i = 1
      while (i <= depth && frontier.nonEmpty) {
        val next = scala.collection.mutable.LinkedHashSet.empty[Long]
        frontier.foreach { n =>
          val ts = adj.get(n)
          if (ts != null) ts.foreach { t =>
            if (!lvl.containsKey(t)) next += t
          }
        }
        next.foreach(n => lvl.put(n, i.toLong))
        frontier = next.toSeq
        i += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      lvl.asScala.toSeq.toDF("node", "lvl")
    } { _ =>
      // .distinct() matches the driver tier's seed dedup (ADVICE r15:
      // duplicate-seed input produced different row multisets per tier);
      // the seed set is frontier-sized, so the dedup exchange is tiny
      val init = seeds.select(col("node")).distinct().withColumn("lvl", lit(0L))
      Rounds.run(init, depth) { (visited, i) =>
        val frontier = visited.filter(col("lvl") === (i - 1))
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
          .withColumn("lvl", lit(i.toLong))
        visited.unionByName(frontier)
      }
    }

  /** q69 — weighted single-source shortest paths over the same trade
    * graph as q68, edge weight `min(l_quantity) − 40` per trade pair
    * (integral 5..10 — distances stay exact longs): four rounds of
    * Bellman–Ford relaxation from the q68 seed set. The weighted
    * generalization of q68's hop levels; four fixed rounds make the
    * result well-defined independent of execution order (dist after
    * round i is the exact min-cost over paths of ≤ i edges), which is
    * what the oracle unrolls.
    *
    * Scale shape per round: frontier ⋈ edges keyed on the edge source
    * (a shuffle of (long, long) pairs), then a min-combine groupBy —
    * partial aggregation collapses duplicate relaxations map-side, so
    * the shuffle carries one candidate per (partition, node), not one
    * per in-edge. The distance frame is materialized per round by
    * [[graft.core.Rounds]], keeping the plan O(1) deep; at 1000
    * executors each round is two narrow shuffles over the frontier's
    * out-neighborhood, never the whole graph.
    */
  def q69Sssp(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + 1000000L).as("src"),
        col("o_custkey").as("dst"),
        col("l_quantity").cast(LongType).as("q"))
      .groupBy("src", "dst").agg((min(col("q")) - 40L).as("w"))
    val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .localCheckpoint(true)
    try ssspOf(edges, tradeSeeds(edges), rounds = 4)
    finally Checkpoint.release(edges)
  }

  /** The q69 core over arbitrary weighted directed (src, dst, w)
    * edges and a (node) seed frame — `rounds` Bellman–Ford passes;
    * spec entry point for brute-force fixtures.
    */
  def ssspOf(edges: DataFrame, seeds: DataFrame, rounds: Int,
      driverMaxEdges: Long = DriverTier.GraphDriverMaxEdges): DataFrame =
    // synchronous Bellman–Ford over exact longs — dist after round i is
    // the min cost over paths of ≤ i edges, identical to the relational
    // rounds
    DriverTier.run(edges.select("src", "dst", "w"), driverMaxEdges,
        "ssspOf") { rows =>
      val es = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      var dist = new java.util.HashMap[Long, Long]()
      seeds.select(col("node")).collect()
        .foreach(r => dist.put(r.getLong(0), 0L))
      var i = 0
      while (i < rounds) {
        val next = new java.util.HashMap[Long, Long](dist)
        es.foreach { case (src, dst, w) =>
          // explicit containsKey: generic get() on a primitive-keyed
          // map unboxes a missing key's null to 0 silently in Scala
          if (dist.containsKey(src)) {
            val cand = dist.get(src) + w
            if (!next.containsKey(dst) || cand < next.get(dst))
              next.put(dst, cand)
          }
        }
        dist = next
        i += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      dist.asScala.toSeq.toDF("node", "dist")
    } { _ =>
      Rounds.run(seeds.select(col("node"), lit(0L).as("dist")), rounds) { (dist, _) =>
        val relaxed = dist.join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist.unionByName(relaxed)
          .groupBy("node").agg(min(col("dist")).as("dist"))
      }
    }

  /** Histogram bin count for q67 — 256 equi-width bins bound the
    * interpolation error of any quantile estimate by one bin width.
    */
  val HistBins = 256

  /** q67 — quantile estimation from a MERGEABLE equi-width histogram
    * sketch: per-group bin counts (one narrow pass, map-side partial
    * counts — the shuffle carries ≤ groups×[[HistBins]] rows, never
    * values), then p50/p90/p99 by cumulative-count rank lookup with
    * linear interpolation inside the target bin. The exact rank-r
    * values ride along (computed the expensive way, one per-group
    * sort) so the sketch error is VISIBLE and oracle-checked —
    * |est − exact| ≤ one bin width by construction, spec-pinned.
    *
    * This is the quantile analogue of t19/t20: where q31's exact
    * percentiles sort every group's values, the histogram answers any
    * quantile over 100 TB from a fixed-size synopsis that merges
    * across partitions, batches, or days by plain addition. Ranks use
    * exact integer arithmetic (`ceil(qn)` as `floor((qn+q)/d)` over
    * longs); bin placement and interpolation are the same IEEE double
    * chain in both engines, rounded at output.
    */
  def q67HistQuantiles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
    val b = li.agg(min("x"), max("x")).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val w = (hi - lo) / HistBins
    val binned = li
      .select(col("g"),
        least(floor((col("x") - lo) / w), lit((HistBins - 1).toDouble))
          .cast(LongType).as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("c"))
    val cum = binned
      .withColumn("cum", sum("c").over(Window.partitionBy("g").orderBy("bin")))
      .withColumn("prev", col("cum") - col("c"))
    val ranks = binned.groupBy("g").agg(sum(col("c")).as("n"))
      .select(col("g"), col("n"), explode(array(
        struct(lit("p50").as("q"),
          floor((col("n") + 1) / lit(2.0)).cast(LongType).as("r")),
        struct(lit("p90").as("q"),
          floor((col("n") * 9 + 9) / lit(10.0)).cast(LongType).as("r")),
        struct(lit("p99").as("q"),
          floor((col("n") * 99 + 99) / lit(100.0)).cast(LongType).as("r"))))
        .as("qr"))
      .select(col("g"), col("n"), col("qr.q").as("q"), col("qr.r").as("r"))
    val est = cum.join(broadcast(ranks), Seq("g"))
      .filter(col("prev") < col("r") && col("r") <= col("cum"))
      .select(col("g"), col("q"), col("n"), col("r"),
        round(lit(lo) + lit(w) * (col("bin") +
          (col("r") - col("prev")).cast("double") / col("c")), 4).as("est"))
    val ranked = li.withColumn("rn",
      row_number().over(Window.partitionBy("g").orderBy("x")))
    est.join(ranked, est("g") === ranked("g") && col("r") === col("rn"))
      .select(est("g").as("g"), col("q"), col("n"), col("est"),
        col("x").as("exact"))
  }

  /** q48 — DETERMINISTIC Bernoulli sample, the reproducible twin of
    * q11's RNG `sample()`: keep a row iff hash60 of its salted key
    * lands in the first 1% of hash space. RNG sampling is
    * partitioning-dependent (why q11 is rows-only checked); the
    * hash-bucket form selects the SAME rows under any partitioning,
    * any engine, any rerun — the property a resumable 100 TB pipeline
    * actually needs (and the c7 weighted-sample scheme, applied to
    * the relational face). Scale shape: a scan-side codegen filter —
    * no shuffle, no state, pushdown-friendly surrounding columns.
    */
  def q48HashSample(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .filter(graft.llm.TextAnalysis.hash60(concat(lit("q48:"),
        col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))) % 10000 < 100)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
  }

  /** q49 — deterministic STRATIFIED sample, the reproducible twin of
    * q36's `sampleBy`: per-stratum keep rates (O→10%, F→5%, P→50%)
    * applied through the q48 hash-bucket rule, so each stratum thins
    * to its own rate and the selection replays identically anywhere.
    * The rate lookup is a codegen CASE on the stratum column — still
    * a scan-side filter, no shuffle, no per-stratum pass.
    */
  def q49StratifiedHash(s: SparkSession, dir: String): DataFrame = {
    // integer bucket thresholds (of 10000), not rate * denom: a
    // fractional rate in DOUBLE (0.10 * 10000 = 1000.0000000000001)
    // would disagree with an exact-decimal engine on boundary hashes
    val keep = when(col("o_orderstatus") === "O", 1000)
      .when(col("o_orderstatus") === "F", 500)
      .otherwise(5000)
    t(s, dir, "orders")
      .filter(graft.llm.TextAnalysis.hash60(concat(lit("q49:"),
        col("o_orderkey").cast("string"))) % 10000 < keep)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** q74 — 2-D skyline (Pareto frontier): parts no other part beats on
    * BOTH (p_retailprice, p_size), i.e. nothing is ≤ on both axes and
    * < on at least one. Two exact phases: a LOCAL sweep per hash
    * bucket (parallel — a point dominated inside its bucket is
    * dominated globally, so bucket-local pruning never loses a skyline
    * point), then the same sweep over the few survivors globally. The
    * sweep is the classic sorted scan: ordered by (x, y), a row is
    * dominated iff some EARLIER row's (y, x) is lexicographically
    * smaller — encoded as one BIGINT running window min (cents are
    * exact for 2-dp prices, and 1e9 exceeds any cents value, so
    * k = size·1e9 + cents sorts (size, price) lexicographically).
    * Each phase is a window over a sort of one-row-per-entity data,
    * never the O(n²) self-join — THAT form is the oracle, which keeps
    * the check independent of this derivation.
    */
  def q74Skyline(s: SparkSession, dir: String): DataFrame = {
    val x = col("p_retailprice")
    val y = col("p_size")
    val k = y.cast(LongType) * lit(1000000000L) +
      round(x * 100, 0).cast(LongType)
    def sweep(df: DataFrame, parts: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(parts: _*).orderBy(x, y)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("__mk", min(k).over(w))
        .filter(col("__mk").isNull || col("__mk") >= k)
        .drop("__mk")
    }
    val base = t(s, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val local = sweep(base, Seq(pmod(hash(col("p_partkey")), lit(64))))
    sweep(local, Seq.empty)
  }

  /** q75 — two-sample Kolmogorov–Smirnov statistic between the
    * open-order and filled-order price distributions: D = max over v
    * of |ECDF_O(v) − ECDF_F(v)|. The raw rows compress to one row per
    * DISTINCT value first (the only corpus-sized aggregation), so the
    * global ordered window walks |distinct values| rows, not |orders|;
    * at 100 TB the same statistic runs over a binned ECDF (q67's
    * histogram) instead of exact distinct values. Every intermediate
    * is an exact integer count; the only floating math is one division
    * per distinct value and the final max — order-independent, so the
    * result is partitioning-proof.
    */
  def q75KsTest(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderstatus").isin("O", "F"))
      .select(col("o_totalprice").as("v"),
        when(col("o_orderstatus") === "O", 1L).otherwise(0L).as("ia"))
    val c = o.groupBy("v").agg(sum(col("ia")).as("ca"),
      (count(lit(1)) - sum(col("ia"))).as("cb"))
    val n = c.agg(sum(col("ca")).cast(LongType).as("na"),
      sum(col("cb")).cast(LongType).as("nb"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c.select(sum(col("ca")).over(w).as("cuma"),
        sum(col("cb")).over(w).as("cumb"))
      .crossJoin(broadcast(n))
      .groupBy("na", "nb")
      .agg(round(max(abs(col("cuma").cast("double") / col("na") -
        col("cumb").cast("double") / col("nb"))), 6).as("ks"))
  }

  /** q76 — deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-ES): each doc draws a reproducible uniform
    * u from the q48 md5 trick and scores key = ln(u)/w (w = its char
    * length, the weight); the k LARGEST keys are exactly a w-weighted
    * sample without replacement. Top-k runs as TakeOrdered (bounded
    * per-partition heap + driver merge of k), never a global sort.
    * Keys round to 6 dp before ranking so the order is
    * engine-portable; doc_id makes the order total.
    */
  def q76WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val w = greatest(length(col("text")).cast(LongType), lit(1L))
    val u = (graft.llm.TextAnalysis.hash60(concat(lit("q76:"),
      col("doc_id").cast("string"))) % 1000000 + 1) / lit(1000001.0)
    t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), w.as("w"), round(log(u) / w, 6).as("es_key"))
      .orderBy(desc("es_key"), col("doc_id"))
      .limit(50)
  }

  /** q77 — per-group closed-form least squares (extended price on
    * quantity per supplier): slope and intercept from the five
    * classical sums. The sums accumulate in DECIMAL so
    * partial-aggregation order can't perturb them (double sums would
    * make the 6-dp output partitioning-dependent at the margin); each
    * group then does ONE division sequence in DOUBLE, identical in any
    * engine. The whole regression is a single fixed-width aggregate —
    * it shuffles once on the group key and scales exactly like a sum.
    */
  def q77GroupedOls(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"),
      col("l_quantity").cast("decimal(18,2)").as("x"),
      col("l_extendedprice").cast("decimal(18,2)").as("y"))
    val d = (c: String) => col(c).cast("double")
    val agg = li.groupBy("l_suppkey").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("dsx"), sum(col("y")).as("dsy"),
      sum(col("x") * col("y")).as("dsxy"),
      sum(col("x") * col("x")).as("dsxx"))
      .select(col("l_suppkey"), col("n"), d("dsx").as("sx"),
        d("dsy").as("sy"), d("dsxy").as("sxy"), d("dsxx").as("sxx"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
    agg.filter(col("n") >= 2 && den =!= 0.0)
      .select(col("l_suppkey"), col("n"), round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  /** q84 — Welch's two-sample t-test per order priority: does the
    * open-order (status O) mean price differ from the filled-order
    * (status F) mean within each priority class? Reports the t
    * statistic and the Welch–Satterthwaite degrees of freedom — the
    * unequal-variance test a pipeline A/B check actually needs (q75's
    * KS answers "same distribution?", this answers "same mean?", q77
    * fits the trend). Five classical sums per (group, side), all
    * accumulated in DECIMAL so partial-aggregation order can't perturb
    * them (q77's posture); every downstream double expression is
    * written identically in the oracle, so the IEEE op sequence — and
    * therefore the 6-dp round — agrees exactly. One scan, one
    * bounded-key aggregate; the conditional sums pivot the two sides
    * without a self-join.
    */
  def q84WelchTtest(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderstatus").isin("O", "F"))
      .select(col("o_orderpriority").as("g"),
        (col("o_orderstatus") === "O").as("isa"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
    val d = (c: Column) => c.cast("double")
    val agg = o.groupBy("g").agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("isa"), col("v"))).as("dsa"),
      sum(when(!col("isa"), col("v"))).as("dsb"),
      sum(when(col("isa"), col("v") * col("v"))).as("dsaa"),
      sum(when(!col("isa"), col("v") * col("v"))).as("dsbb"))
      .select(col("g"), col("na"), col("nb"),
        d(col("dsa")).as("sa"), d(col("dsb")).as("sb"),
        d(col("dsaa")).as("saa"), d(col("dsbb")).as("sbb"))
      .filter(col("na") >= 2 && col("nb") >= 2)
    val ma = col("sa") / col("na")
    val mb = col("sb") / col("nb")
    val ea = (col("saa") - col("sa") * col("sa") / col("na")) /
      (col("na") - 1) / col("na")
    val eb = (col("sbb") - col("sb") * col("sb") / col("nb")) /
      (col("nb") - 1) / col("nb")
    agg.select(col("g"), col("na"), col("nb"),
      round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
      round((ma - mb) / sqrt(ea + eb), 6).as("t_stat"),
      round((ea + eb) * (ea + eb) /
        (ea * ea / (col("na") - 1) + eb * eb / (col("nb") - 1)), 4).as("df"))
  }

  /** q85 — Mann–Whitney U (Wilcoxon rank-sum) test between the
    * open-order and filled-order price distributions — the
    * distribution-free "did the median shift?" companion to q75's KS
    * ("same distribution?") and q84's Welch t ("same mean?"). The raw
    * rows compress to one row per DISTINCT value (the only
    * corpus-sized aggregation; q75's posture — at 100 TB the same
    * statistic runs over a binned ECDF), the ordered window walks
    * |distinct values| rows, and every intermediate is an exact long:
    * tied ranks are handled by accumulating DOUBLED rank sums
    * (avg rank at v = (2·cum_total − ties + 1)/2, so 2·R₁ is an
    * integer), and the tie correction Σ(t³−t) is integral too. The z
    * normal approximation runs once in doubles at output, the same
    * expression tree the oracle spells out — partitioning-proof by
    * construction.
    */
  def q85MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderstatus").isin("O", "F"))
      .select(col("o_totalprice").as("v"),
        when(col("o_orderstatus") === "O", 1L).otherwise(0L).as("ia"))
    val c = o.groupBy("v").agg(sum(col("ia")).as("ca"),
      (count(lit(1)) - sum(col("ia"))).as("cb"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val ranked = c
      .withColumn("tt", col("ca") + col("cb"))
      .withColumn("cumt", sum(col("ca") + col("cb")).over(w))
    val agg = ranked.agg(
      sum(col("ca")).cast(LongType).as("na"),
      sum(col("cb")).cast(LongType).as("nb"),
      sum(col("ca") * (lit(2L) * col("cumt") - col("tt") + 1L))
        .cast(LongType).as("r1x2"),
      sum(col("tt") * col("tt") * col("tt") - col("tt"))
        .cast(LongType).as("ties"))
    val nn = (col("na") + col("nb")).cast("double")
    val u1 = (col("r1x2") - col("na") * (col("na") + 1L)).cast("double") / 2.0
    val mu = col("na").cast("double") * col("nb").cast("double") / 2.0
    val sig2 = col("na").cast("double") * col("nb").cast("double") / 12.0 *
      ((nn + 1.0) - col("ties").cast("double") / (nn * (nn - 1.0)))
    agg.select(col("na"), col("nb"),
      round(u1, 1).as("u1"),
      round(col("na").cast("double") * col("nb").cast("double") - u1, 1)
        .as("u2"),
      round((u1 - mu) / sqrt(sig2), 6).as("z"))
  }

  /** q86 — Benford first-digit audit over line-item prices: observed
    * first-significant-digit shares vs the Benford expectation
    * log₁₀(1+1/d), with the per-digit χ² contribution — the standard
    * fabricated-data / broken-upstream-generator tripwire, run as ONE
    * scan + a 9-row aggregate. The digit is taken from the price in
    * exact integer cents (round-to-cents, then the leading character
    * of the integer's decimal form), never from floating log₁₀ of the
    * value, so bucket assignment can't straddle an ULP at a power of
    * ten. The 9-row total broadcasts back; expected counts and χ²
    * terms are one double expression per row, spelled identically in
    * the oracle.
    */
  def q86Benford(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100.0, 0).cast(LongType)
    val d = t(s, dir, "lineitem")
      .filter(col("l_extendedprice") > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = d.agg(sum(col("n")).cast(LongType).as("total"))
    val bp = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    val expn = col("total").cast("double") * bp
    d.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), col("total"),
        round(col("n").cast("double") / col("total").cast("double"), 6)
          .as("share"),
        round(bp, 6).as("benford_p"),
        round((col("n").cast("double") - expn) *
          (col("n").cast("double") - expn) / expn, 6).as("chi2"))
  }

  /** q87 — autocorrelation of the hourly event volume at lags 1–6
    * hours: the series-health signal behind q59's anomaly flags (a
    * strong lag-24 says "daily cycle", a flat ACF says "noise").
    * Shape: raw events collapse to the hourly table FIRST (the q59
    * posture — the window never sees raw rows), lag pairs come from an
    * equi-join of the hourly table against itself shifted by k·3600 s
    * (no ordered window at all, so no global sort: the join key is
    * (h + k), shuffled like any equi-join), and the per-lag sums of
    * integer count products are exact longs. The classical estimator
    * r_k = Σ(x_t−x̄)(x_{t−k}−x̄)/Σ(x_t−x̄)² expands into those longs
    * plus the broadcast 1-row series stats; the double arithmetic runs
    * once per lag, oracle-identical.
    */
  def q87Acf(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("x"))
    val g = hourly.agg(count(lit(1)).cast(LongType).as("n"),
      sum(col("x")).cast(LongType).as("sx"),
      sum(col("x") * col("x")).cast(LongType).as("sxx"))
    val lags = s.range(1, 7).toDF("k")
    val a = hourly.select(col("h").as("ha"), col("x").as("xa"))
    val b = hourly.select(col("h").as("hb"), col("x").as("xb"))
    val perk = a.crossJoin(broadcast(lags))
      .join(b, col("hb") === col("ha") + col("k") * lit(3600L))
      .groupBy("k").agg(count(lit(1)).as("n_pairs"),
        sum(col("xa") * col("xb")).cast(LongType).as("sxy"),
        sum(col("xa")).cast(LongType).as("sa"),
        sum(col("xb")).cast(LongType).as("sb"))
    val m = col("sx").cast("double") / col("n").cast("double")
    perk.crossJoin(broadcast(g))
      .select(col("k"), col("n_pairs"),
        round((col("sxy").cast("double") -
          m * (col("sa") + col("sb")).cast("double") +
          col("n_pairs").cast("double") * m * m) /
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") /
              col("n").cast("double")), 6).as("acf"))
  }

  /** q88 — Theil–Sen robust slope of extended price on quantity per
    * part: the median of all pairwise slopes, the estimator that
    * shrugs off the outliers that wreck q77's least squares (one bad
    * row moves OLS arbitrarily; Theil–Sen tolerates ~29% corruption).
    * The pair loop is quadratic ONLY within a part — rows per part are
    * bounded by construction (a part appears on a bounded number of
    * lines), so the expansion scales like the number of parts, not its
    * square; the per-group exact median holds one group's slopes at a
    * time. Pair identity is the full (orderkey, linenumber, x, y) row
    * order (key-only order would under-pair on the fixture's duplicate
    * line keys), equal-quantity pairs contribute no slope, and thin
    * groups (< 10 pairs) are suppressed as statistically meaningless.
    */
  def q88TheilSen(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey").as("p"),
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    // ONE shuffle of the fact table (groupBy p), pairs expanded
    // array-side inside each bounded group — the self-join form
    // shuffled lineitem twice and materialized every candidate pair
    // through a join (2.6× slower at sf0.1). sort_array on the
    // (ok, ln, …) struct fixes the same row order the join's
    // (oka, lna) < (okb, lnb) predicate enforced, so the slope SET —
    // and therefore the median — is identical; the slice-explode is
    // the d16 bucket-expansion pattern.
    val grouped = li
      .groupBy("p")
      .agg(sort_array(collect_list(
        struct(col("ok"), col("ln"), col("x"), col("y")))).as("rows"))
      .filter(size(col("rows")) >= 2)
    grouped
      .select(col("p"), col("rows"), posexplode(col("rows")))
      .select(col("p"), col("col").as("a"),
        explode(slice(col("rows"), col("pos") + 2,
          size(col("rows")))).as("b"))
      .filter(col("a.x") =!= col("b.x"))
      .select(col("p"),
        ((col("b.y") - col("a.y")) / (col("b.x") - col("a.x"))).as("slope"))
      .groupBy("p").agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
      .filter(col("n_pairs") >= 10)
      .select(col("p").as("l_partkey"), col("n_pairs"), col("ts_slope"))
  }

  /** q78 — declarative data-quality expectations (the dbt-test /
    * Deequ posture): a fixed rule set audited in ONE scan per table,
    * one output row per rule with (rows checked, violations). Row
    * rules compile to `sum(case)` inside a single aggregate — adding a
    * rule adds a column, never a pass; a NULL predicate counts as a
    * violation (unknown ≠ pass). The uniqueness rule rides the same
    * aggregate via count − count_distinct; the FK rule is the one
    * extra shape — a left-anti count against the referenced key set
    * (broadcast when the dimension is small, shuffle-keyed otherwise).
    * At 100 TB the audit cost is the table scans it already shares
    * with ingest, not per-rule passes.
    */
  def q78Expectations(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def viol(pred: Column): Column =
      sum(when(pred, 0L).otherwise(1L)).cast(LongType)
    val orows = o.agg(count(lit(1)).cast(LongType).as("n"),
        viol(col("o_totalprice") > 0).as("v1"),
        viol(col("o_orderstatus").isin("O", "F", "P")).as("v2"),
        (count(lit(1)) - count_distinct(col("o_orderkey")))
          .cast(LongType).as("v3"))
      .selectExpr("""stack(3,
        'orders.totalprice_positive', n, v1,
        'orders.status_domain', n, v2,
        'orders.orderkey_unique', n, v3) AS (rule, n_checked, n_violations)""")
    val d = t(s, dir, "documents")
    val drows = d.agg(count(lit(1)).cast(LongType).as("n"),
        viol(length(col("text")) >= 50).as("v1"),
        viol(col("lang").isin("en", "de", "fr", "es", "zh")).as("v2"),
        viol(col("n_chars") === length(col("text"))).as("v3"))
      .selectExpr("""stack(3,
        'documents.text_min_50', n, v1,
        'documents.lang_domain', n, v2,
        'documents.nchars_consistent', n, v3) AS (rule, n_checked, n_violations)""")
    val li = t(s, dir, "lineitem")
    val fk = li.agg(count(lit(1)).cast(LongType).as("n"))
      .crossJoin(broadcast(
        li.join(o.select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).cast(LongType).as("v"))))
      .select(lit("lineitem.orderkey_fk").as("rule"),
        col("n").as("n_checked"), col("v").as("n_violations"))
    orows.unionAll(drows).unionAll(fk)
  }

  /** q79 — entity resolution: customers within a nation whose names
    * are within edit distance 1 resolve to one entity (the smallest
    * member id), transitively closed — the match → cluster → canonical
    * pipeline of the ER literature (Fellegi–Sunter shaped match rule,
    * survivorship by min id).
    *
    * Blocking is the FastSS deletion-variant trick (Bocek et al.
    * 2007), EXACT for the lev ≤ 1 rule: two strings at edit distance
    * ≤ 1 always share a member of {full string} ∪ {all 1-deletions}
    * (equal → full; substitution at i → both i-deletions; insertion →
    * the shorter string itself), so the equi-join on (nation, variant)
    * is a complete candidate generator with ~(len+1) short rows per
    * record and no n² anywhere — sharing a variant is necessary, not
    * sufficient, so candidates still pass the exact levenshtein
    * verify. Transitive closure is the d8 pointer-jumping CC (its
    * oracle form is the same recursive reachability CTE). Shuffles
    * carry (nation, short-string) then (long, long) rows only.
    */
  def q79EntityResolution(s: SparkSession, dir: String): DataFrame =
    entityResolutionOf(t(s, dir, "customer").select(
      col("c_custkey").as("id"), col("c_name").as("nm"),
      col("c_nationkey").as("nat")))

  /** The q79 core over an arbitrary (id, nm, nat) frame — spec entry
    * point for typo fixtures.
    */
  private[graft] def entityResolutionOf(c: DataFrame): DataFrame = {
    val dels = transform(sequence(lit(1), length(col("nm"))),
      i => concat(col("nm").substr(lit(1), i - lit(1)),
        col("nm").substr(i + lit(1), length(col("nm")))))
    val vars = c.select(col("id"), col("nat"),
      explode(concat(array(col("nm")), dels)).as("v"))
    val cand = vars.select(col("id").as("ia"), col("nat"), col("v"))
      .join(vars.select(col("id").as("ib"), col("nat"), col("v")),
        Seq("nat", "v"))
      .filter(col("ia") < col("ib"))
      .select("ia", "ib").distinct()
    val names = c.select(col("id"), col("nm"))
    val edges = cand
      .join(names.select(col("id").as("ia"), col("nm").as("na")), "ia")
      .join(names.select(col("id").as("ib"), col("nm").as("nb")), "ib")
      .filter(levenshtein(col("na"), col("nb")) <= 1)
      .select(col("ia"), col("ib"))
    val lbl = graft.llm.Dedup.connectedComponents(edges)
      .select(col("doc_id").as("id"), col("cluster_id").as("ent"))
    val resolved = c.select(col("id"))
      .join(lbl, Seq("id"), "left")
      .select(col("id").as("c_custkey"),
        coalesce(col("ent"), col("id")).as("entity_id"))
    val w = Window.partitionBy("entity_id")
    resolved.select(col("c_custkey"), col("entity_id"),
      count(lit(1)).over(w).as("n_members"))
  }

  /** q80 — the ranking-window family over (status, price): rank,
    * dense_rank, percent_rank, cume_dist, ntile(4), and the
    * full-frame first/last values, all on one deterministic order
    * (price, orderkey — the unique tiebreak that makes every rank
    * engine-portable). percent_rank/cume_dist are ratios of exact
    * integer ranks, rounded only at output.
    *
    * Scale note: o_orderstatus has 3 values, so these partitions are
    * corpus-sized — fine for demonstrating SEMANTICS at test SF, but
    * at 100 TB a global rank inside a 3-value partition is the q44
    * anti-pattern: rank against a percentile cut (q44's two-pass
    * bucket count) or partition by a high-cardinality key instead.
    */
  def q80RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    t(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      rank().over(w).cast(LongType).as("rk"),
      dense_rank().over(w).cast(LongType).as("drk"),
      round(percent_rank().over(w), 6).as("prk"),
      round(cume_dist().over(w), 6).as("cd"),
      ntile(4).over(w).cast(LongType).as("nt"),
      first(col("o_orderkey")).over(full).as("first_key"),
      last(col("o_orderkey")).over(full).as("last_key"))
  }

  /** q82 — q80's rank family WITHOUT a corpus-sized window partition:
    * the two-pass percentile-cut pattern (q44's discipline applied to
    * ranking). Pass 1 range-buckets each status's price domain into
    * [[RankBuckets]] bins and counts per bin — a [[RankBuckets]]-row
    * table per status whose running sum gives every bin's global rank
    * offset (broadcast). Pass 2 ranks LOCALLY inside each
    * (status, bin) window — state bounded by the bin's rows, ~n/B per
    * partition instead of n — and adds the offset. Because the order
    * key (price, orderkey) is unique, every q80 column is derivable:
    * rank = dense_rank = offset + local row_number, percent_rank and
    * cume_dist are exact integer-ratio forms, ntile(4) is closed-form
    * in (rank, n), and the first/last keys are per-status min/max
    * aggregates. The oracle is q80's SQL verbatim — the twin must
    * reproduce the window semantics bit-for-bit; LanguageModelSpec's
    * sibling in AnalyticsSpec additionally pins q82 ≡ q80 row-for-row.
    * At 100 TB, B scales with cluster parallelism; bin skew follows
    * the price histogram and AQE splits hot bins.
    */
  val RankBuckets = 64

  def q82RankTwoPass(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val bounds = o.groupBy("o_orderstatus").agg(
      min(col("o_totalprice")).as("lo"),
      max(col("o_totalprice")).as("hi"),
      count(lit(1)).as("n"),
      min(struct(col("o_totalprice"), col("o_orderkey")))
        .getField("o_orderkey").as("first_key"),
      max(struct(col("o_totalprice"), col("o_orderkey")))
        .getField("o_orderkey").as("last_key"))
    val binned = o.join(broadcast(bounds), "o_orderstatus")
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(RankBuckets - 1L),
            floor((col("o_totalprice") - col("lo")) /
              ((col("hi") - col("lo")) / RankBuckets)))))
    val offs = binned.groupBy("o_orderstatus", "bin")
      .agg(count(lit(1)).as("bc"))
      .withColumn("off",
        sum(col("bc")).over(Window.partitionBy("o_orderstatus")
          .orderBy("bin")) - col("bc"))
      .select(col("o_orderstatus"), col("bin"), col("off"))
    val wLocal = Window.partitionBy("o_orderstatus", "bin")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val rk = col("off") + row_number().over(wLocal)
    // Spark's ntile(4): the first n%4 tiles carry floor(n/4)+1 rows
    val base = (col("n") / 4).cast(LongType)
    val rem = col("n") % 4
    val boundary = rem * (base + 1)
    // integer tile arithmetic via floor: Spark's `/` on longs is a
    // double divide, exact here (counts ≪ 2^52)
    val nt = when(rk <= boundary, floor((rk - 1) / (base + 1)) + 1)
      .otherwise(rem + floor((rk - boundary - 1) / greatest(base, lit(1L))) + 1)
    binned.join(broadcast(offs), Seq("o_orderstatus", "bin"))
      .select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        rk.cast(LongType).as("rk"),
        rk.cast(LongType).as("drk"),
        round((rk - 1).cast("double") /
          greatest(col("n") - 1, lit(1L)), 6).as("prk"),
        round(rk.cast("double") / col("n"), 6).as("cd"),
        nt.cast(LongType).as("nt"),
        col("first_key"), col("last_key"))
  }

  /** q81 — time-weighted average value per user (TWAP): each event's
    * value holds until the user's next event, and the average weighs
    * each segment by its duration — the standard time-series summary
    * for irregularly sampled signals (a plain AVG over-counts bursts).
    *
    * Determinism: values fix to 4-dp DECIMAL before weighting, so the
    * value·seconds products and their sums are EXACT under any
    * partial-aggregation order (the q77 discipline); one double
    * division per user happens at output. Durations use the repo's
    * second-truncation convention (q19/q20). The window partitions by
    * user_id — state bounded per key at any scale — and all-zero-span
    * users (every event in one second) are excluded rather than
    * returning an engine-specific 0/0.
    */
  def q81Twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast("decimal(18,4)").as("v"))
      .withColumn("dur", unix_timestamp(lead(col("ts"), 1).over(w)) -
        unix_timestamp(col("ts")))
      .filter(col("dur").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dur")).cast(LongType).as("total_s"),
        sum(col("v") * col("dur")).as("wsum"))
      .filter(col("total_s") > 0)
      .select(col("user_id"), col("n_segments"), col("total_s"),
        round(col("wsum").cast("double") / col("total_s").cast("double"), 6)
          .as("twap"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q85_mannwhitney"    -> q85MannWhitney _,
    "q86_benford"        -> q86Benford _,
    "q87_acf"            -> q87Acf _,
    "q88_theilsen"       -> q88TheilSen _,
    "q89_cusum"          -> q89Cusum _,
    "q90_gini"           -> q90Gini _,
    "q91_funnel_timing"  -> q91FunnelTiming _,
    "q92_transitions"    -> q92Transitions _,
    "q84_welch_ttest"    -> q84WelchTtest _,
    "q82_rank_twopass"   -> q82RankTwoPass _,
    "q81_twap"           -> q81Twap _,
    "q80_rank_family"    -> q80RankFamily _,
    "q79_entity_resolution" -> q79EntityResolution _,
    "q78_expectations"   -> q78Expectations _,
    "q74_skyline"        -> q74Skyline _,
    "q75_ks_test"        -> q75KsTest _,
    "q76_weighted_sample" -> q76WeightedSample _,
    "q77_grouped_ols"    -> q77GroupedOls _,
    "q40_interval_join"  -> q40IntervalJoin _,
    "q41_unpivot"        -> q41Unpivot _,
    "q39_psi"            -> q39Psi _,
    "q38_profile"        -> q38Profile _,
    "q37_range_join"     -> q37RangeJoin _,
    "q43_range_join_binned" -> q43RangeJoinBinned _,
    // verdict faces (r13): sketch internals / sampleBy RNG are
    // engine-specific, so the registered queries emit deterministic
    // envelope verdicts (exact counts + 0/1 flags) hash-gated by real
    // DuckDB oracles; the raw operators run inside the verdicts.
    "q35_approx_stats"   -> ((s: SparkSession, d: String) =>
      graft.tools.Envelopes.q35Verdict(s, d)),
    "q36_stratified"     -> ((s: SparkSession, d: String) =>
      graft.tools.Envelopes.q36Verdict(s, d)),
    "q48_hash_sample"    -> q48HashSample _,
    "q49_stratified_hash" -> q49StratifiedHash _,
    "q54_pagerank"       -> q54PageRank _,
    "q63_triangles"      -> q63Triangles _,
    "q66_kcore"          -> q66Kcore _,
    "q67_hist_quantiles" -> q67HistQuantiles _,
    "q68_bfs_levels"     -> q68BfsLevels _,
    "q69_sssp"           -> q69Sssp _,
    "q64_bottomk_sample" -> ((s: SparkSession, dir: String) => q64BottomkSample(s, dir)),
    "q65_fuzzy_join"     -> q65FuzzyJoin _,
    "q56_range_join_auto" -> q56RangeJoinAuto _,
    "q57_funnel"         -> q57Funnel _,
    "q58_retention"      -> q58Retention _,
    "q59_anomaly"        -> q59Anomaly _,
    "q33_grouping_sets"  -> q33GroupingSets _,
    "q34_string_agg"     -> q34StringAgg _,
    "q30_asof_join"      -> q30AsofJoin _,
    "q42_asof_native"    -> q42AsofNative _,
    "q46_asof_inner"     -> q46AsofInner _,
    "q47_asof_forward"   -> q47AsofForward _,
    "q44_topk_heap"      -> q44TopkHeap _,
    "q45_gap_fill"       -> q45GapFill _,
    "q31_percentiles"    -> q31Percentiles _,
    "q32_multi_distinct" -> q32MultiDistinct _,
    "q72_winsorize"      -> q72Winsorize _,
    "q73_bloom_join"     -> q73BloomJoin _,
    "q16_semi_join"      -> q16SemiJoin _,
    "q17_anti_join"      -> q17AntiJoin _,
    "q18_window_running" -> q18WindowRunning _,
    "q19_lag_lead"       -> q19LagLead _,
    "q20_sessionize"     -> q20Sessionize _,
    "q21_rollup"         -> q21Rollup _,
    "q22_cube"           -> q22Cube _,
    "q23_json"           -> q23Json _,
    "q24_intersect"      -> q24Intersect _,
    "q25_except"         -> q25Except _,
    "q26_topk_per_group" -> q26TopKPerGroup _,
    "q27_scalar_subq"    -> q27ScalarSubquery _,
    "q28_star_join"      -> q28StarJoin _,
    "q29_time_agg"       -> q29TimeAgg _)

  val oracleSql: Map[String, String] = Map(
    // q92: lead over the identical (ts, event_id) total order; the
    // probability normalizes over the tiny transition matrix
    "q92_transitions" ->
      """WITH tr AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |g AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM g""".stripMargin,
    // q89: order-proof cusum (running Σx and position are exact longs),
    // broadcast peak election with min-hour ties, mirrored doubles
    "q89_cusum" ->
      """WITH hourly AS (SELECT
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY h),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM hourly),
        |cs AS (SELECT h, n, sx, sxx,
        |    CAST(SUM(x) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING)
        |        AS DOUBLE) -
        |      CAST(COUNT(*) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING)
        |        AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS s
        |  FROM hourly, g),
        |peak AS (SELECT MAX(abs(s)) AS peak FROM cs)
        |SELECT n, MIN(h) AS peak_hour,
        |  round(arg_min(s, h), 6) AS cusum,
        |  round(peak / (sqrt((CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      / CAST(n AS DOUBLE)) * sqrt(CAST(n AS DOUBLE))), 6) AS stat
        |FROM cs, peak WHERE abs(s) = peak
        |GROUP BY n, sx, sxx, peak""".stripMargin,
    // q90: DECIMAL spend sums + rank·spend products, rank over the
    // pre-aggregated per-customer table with the (spend, key) order
    "q90_gini" ->
      """WITH per AS (SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT spend,
        |    row_number() OVER (ORDER BY spend, o_custkey) AS rk FROM per),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    SUM(spend) AS dts, SUM(spend * rk) AS drs FROM r)
        |SELECT n_customers,
        |  round(CAST(dts AS DOUBLE), 2) AS total_spend,
        |  round(2.0 * CAST(drs AS DOUBLE) /
        |    (CAST(n_customers AS DOUBLE) * CAST(dts AS DOUBLE)) -
        |    (CAST(n_customers AS DOUBLE) + 1.0) /
        |      CAST(n_customers AS DOUBLE), 6) AS gini
        |FROM a""".stripMargin,
    // q91: q57's stage CTEs verbatim + second-truncated epoch diffs
    // (the q81 convention); both engines interpolate quantiles linearly
    "q91_funnel_timing" ->
      """WITH v AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t
        |    AND e.ts <= v.t + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t
        |    AND e.ts <= c.t + INTERVAL 24 HOUR GROUP BY 1),
        |d AS (SELECT '1_view_to_click' AS transition,
        |    CAST(epoch(date_trunc('second', c.t)) AS BIGINT) -
        |      CAST(epoch(date_trunc('second', v.t)) AS BIGINT) AS sec
        |  FROM c JOIN v USING (user_id)
        |  UNION ALL SELECT '2_click_to_purchase',
        |    CAST(epoch(date_trunc('second', p.t)) AS BIGINT) -
        |      CAST(epoch(date_trunc('second', c.t)) AS BIGINT)
        |  FROM p JOIN c USING (user_id))
        |SELECT transition, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  round(quantile_cont(sec, 0.5), 6) AS p50_s,
        |  round(quantile_cont(sec, 0.9), 6) AS p90_s
        |FROM d GROUP BY transition""".stripMargin,
    // q85: exact long rank machinery (doubled rank sums, integral tie
    // correction); the z expression tree mirrors the engine term for term
    "q85_mannwhitney" ->
      """WITH s AS (SELECT o_totalprice AS v,
        |    CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS ia
        |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
        |c AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
        |    CAST(COUNT(*) - SUM(ia) AS BIGINT) AS cb FROM s GROUP BY v),
        |r AS (SELECT ca, cb, ca + cb AS tt,
        |    SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumt
        |  FROM c),
        |a AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(SUM(ca * (2 * cumt - tt + 1)) AS BIGINT) AS r1x2,
        |    CAST(SUM(tt * tt * tt - tt) AS BIGINT) AS ties FROM r)
        |SELECT na, nb,
        |  round(CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0, 1) AS u1,
        |  round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) -
        |    CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0, 1) AS u2,
        |  round((CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0 -
        |      CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0) /
        |    sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |      ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
        |        (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))),
        |    6) AS z
        |FROM a""".stripMargin,
    // q86: digit from exact integer cents; expected/χ² double trees
    // written identically to the engine's
    "q86_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(
        |      l_extendedprice * 100.0, 0) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS INTEGER) AS digit
        |  FROM lineitem WHERE l_extendedprice > 0),
        |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT digit, n, total,
        |  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_p,
        |  round((CAST(n AS DOUBLE) - CAST(total AS DOUBLE) *
        |      log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) *
        |    (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) *
        |      log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) /
        |    (CAST(total AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))),
        |    6) AS chi2
        |FROM g, t""".stripMargin,
    // q87: hourly pre-aggregation, shifted equi-join per lag, exact
    // long sums; one double expression per lag mirroring the engine
    "q87_acf" ->
      """WITH hourly AS (SELECT
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY h),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM hourly),
        |k AS (SELECT unnest(range(1, 7)) AS k),
        |p AS (SELECT k.k AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
        |    CAST(SUM(a.x) AS BIGINT) AS sa, CAST(SUM(b.x) AS BIGINT) AS sb
        |  FROM hourly a, k, hourly b WHERE b.h = a.h + k.k * 3600
        |  GROUP BY k.k)
        |SELECT k, n_pairs,
        |  round((CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) *
        |        CAST(sa + sb AS DOUBLE) +
        |      CAST(n_pairs AS DOUBLE) *
        |        (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) /
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) /
        |      CAST(n AS DOUBLE)), 6) AS acf
        |FROM p, g""".stripMargin,
    // q88: identical pair set — pair identity is the FULL
    // (ok, ln, x, y) row order (the fixture carries duplicate
    // (orderkey, linenumber) keys, so a key-only order would
    // under-pair exactly where the engine's sorted-array expansion
    // pairs them); equal-x pairs dropped, per-pair slope one IEEE
    // division, median the same linear-interpolation quantile
    "q88_theilsen" ->
      """WITH li AS (SELECT l_partkey AS p, l_orderkey AS ok,
        |    l_linenumber AS ln, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem),
        |pr AS (SELECT a.p AS p, (b.y - a.y) / (b.x - a.x) AS slope
        |  FROM li a JOIN li b ON a.p = b.p
        |  WHERE (a.ok, a.ln, a.x, a.y) < (b.ok, b.ln, b.x, b.y)
        |    AND a.x <> b.x)
        |SELECT p AS l_partkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) AS ts_slope
        |FROM pr GROUP BY p HAVING COUNT(*) >= 10""".stripMargin,
    // q84: the five DECIMAL sums replay exactly; all double expressions
    // mirror the engine's op order term for term
    "q84_welch_ttest" ->
      """WITH s AS (SELECT o_orderpriority AS g, o_orderstatus = 'O' AS isa,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
        |a AS (SELECT g,
        |    CAST(COUNT(*) FILTER (isa) AS BIGINT) AS na,
        |    CAST(COUNT(*) FILTER (NOT isa) AS BIGINT) AS nb,
        |    CAST(SUM(v) FILTER (isa) AS DOUBLE) AS sa,
        |    CAST(SUM(v) FILTER (NOT isa) AS DOUBLE) AS sb,
        |    CAST(SUM(v * v) FILTER (isa) AS DOUBLE) AS saa,
        |    CAST(SUM(v * v) FILTER (NOT isa) AS DOUBLE) AS sbb
        |  FROM s GROUP BY g),
        |e AS (SELECT g, na, nb, sa / na AS ma, sb / nb AS mb,
        |    (saa - sa * sa / na) / (na - 1) / na AS ea,
        |    (sbb - sb * sb / nb) / (nb - 1) / nb AS eb
        |  FROM a WHERE na >= 2 AND nb >= 2)
        |SELECT g, na, nb,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round((ma - mb) / sqrt(ea + eb), 6) AS t_stat,
        |  round((ea + eb) * (ea + eb) /
        |    (ea * ea / (na - 1) + eb * eb / (nb - 1)), 4) AS df
        |FROM e""".stripMargin,
    // q81: the q19 second-truncation epoch convention; DECIMAL-exact
    // weighted sums, one double division per user
    "q81_twap" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CAST(value AS DECIMAL(18,4)) AS v FROM events),
        |d AS (SELECT user_id, v,
        |    CAST(epoch(date_trunc('second', lead(ts, 1) OVER w)) AS BIGINT)
        |      - CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS dur
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(dur) AS BIGINT) AS total_s,
        |  round(CAST(SUM(v * dur) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE), 6)
        |    AS twap
        |FROM d WHERE dur IS NOT NULL
        |GROUP BY user_id HAVING SUM(dur) > 0""".stripMargin,
    // q82: the two-pass twin must reproduce q80's window semantics
    // bit-for-bit, so its oracle IS q80's SQL
    "q82_rank_twopass" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(rank() OVER w AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
        |  round(percent_rank() OVER w, 6) AS prk,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS BIGINT) AS nt,
        |  first_value(o_orderkey) OVER wf AS first_key,
        |  last_value(o_orderkey) OVER wf AS last_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    // q80: the same deterministic (price, key) order; percent_rank and
    // cume_dist are integer-rank ratios, identical after round(6)
    "q80_rank_family" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(rank() OVER w AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
        |  round(percent_rank() OVER w, 6) AS prk,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS BIGINT) AS nt,
        |  first_value(o_orderkey) OVER wf AS first_key,
        |  last_value(o_orderkey) OVER wf AS last_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    // q79: brute O(n²) match pairs (independent of the engine's
    // deletion-variant blocking) + the d8 recursive reachability
    // closure for the transitive cluster
    "q79_entity_resolution" ->
      """WITH RECURSIVE c AS (
        |  SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nat
        |  FROM customer),
        |pairs AS (
        |  SELECT a.id AS ia, b.id AS ib
        |  FROM c a JOIN c b ON a.nat = b.nat AND a.id < b.id
        |  WHERE levenshtein(a.nm, b.nm) <= 1),
        |e AS (SELECT ia AS a, ib AS b FROM pairs
        |  UNION SELECT ib, ia FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |r AS (SELECT id AS node, id AS reach FROM nodes
        |  UNION
        |  SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
        |lbl AS (SELECT node, MIN(reach) AS ent FROM r GROUP BY node),
        |res AS (SELECT c.id AS c_custkey,
        |    COALESCE(l.ent, c.id) AS entity_id
        |  FROM c LEFT JOIN lbl l ON l.node = c.id)
        |SELECT c_custkey, entity_id,
        |  CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT)
        |    AS n_members
        |FROM res""".stripMargin,
    // q78: each rule restated as a bare aggregate; NULL predicates
    // fall to ELSE (violation) in both engines
    "q78_expectations" ->
      """SELECT 'orders.totalprice_positive' AS rule,
        |  CAST(COUNT(*) AS BIGINT) AS n_checked,
        |  CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_violations FROM orders
        |UNION ALL SELECT 'orders.status_domain', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1
        |    END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders.orderkey_unique', CAST(COUNT(*) AS BIGINT),
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'documents.text_min_50', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN LENGTH(text) >= 50 THEN 0 ELSE 1 END)
        |    AS BIGINT) FROM documents
        |UNION ALL SELECT 'documents.lang_domain', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 0
        |    ELSE 1 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 'documents.nchars_consistent',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN n_chars = LENGTH(text) THEN 0 ELSE 1 END)
        |    AS BIGINT) FROM documents
        |UNION ALL SELECT 'lineitem.orderkey_fk', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey) THEN 0 ELSE 1 END)
        |    AS BIGINT) FROM lineitem l""".stripMargin,
    // q74's oracle is the brute-force O(n²) dominance definition — a
    // deliberately DIFFERENT algorithm than the engine's bucketed
    // sorted sweep, so an error in the sweep derivation can't cancel
    "q74_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size <= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice
        |      OR q.p_size < p.p_size))""".stripMargin,
    // q75: exact integer counts per distinct value; the only floats
    // are the per-value ECDF divisions and the final max
    "q75_ks_test" ->
      """WITH o AS (
        |  SELECT o_totalprice AS v,
        |    CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS ia
        |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
        |c AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
        |    CAST(COUNT(*) - SUM(ia) AS BIGINT) AS cb
        |  FROM o GROUP BY v),
        |n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM c),
        |cum AS (SELECT
        |    SUM(ca) OVER (ORDER BY v) AS cuma,
        |    SUM(cb) OVER (ORDER BY v) AS cumb FROM c)
        |SELECT n.na, n.nb,
        |  round(MAX(ABS(CAST(cuma AS DOUBLE) / na
        |    - CAST(cumb AS DOUBLE) / nb)), 6) AS ks
        |FROM cum, n GROUP BY n.na, n.nb""".stripMargin,
    // q76: the q48 md5-prefix uniform verbatim, the identical
    // ln(u)/w key sequence, same 6-dp rounding and total tie-break
    "q76_weighted_sample" ->
      """SELECT doc_id, w, es_key FROM (
        |  SELECT doc_id, GREATEST(LENGTH(text), 1) AS w,
        |    round(ln((CAST(('0x' || substr(md5('q76:' || doc_id), 1, 15))
        |        AS BIGINT) % 1000000 + 1) / 1000001.0)
        |      / GREATEST(LENGTH(text), 1), 6) AS es_key
        |  FROM documents WHERE text IS NOT NULL)
        |ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin,
    // q77: sums in exact DECIMAL, then the identical double division
    // sequence — slope appears twice so both engines share one tree
    "q77_grouped_ols" ->
      """WITH a AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM (SELECT l_suppkey,
        |      CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |    FROM lineitem)
        |  GROUP BY l_suppkey)
        |SELECT l_suppkey, n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS intercept
        |FROM a
        |WHERE n >= 2 AND (n * sxx - sx * sx) <> 0""".stripMargin,
    "q39_psi" ->
      """SELECT bin, n_old, n_new,
        |  round(p_old, 6) AS p_old, round(p_new, 6) AS p_new,
        |  round((p_new - p_old) * ln(p_new / p_old), 6) AS psi
        |FROM (
        |  SELECT bin, n_old, n_new,
        |    greatest(n_old * 1.0 / sum(n_old) OVER (), 0.0001) AS p_old,
        |    greatest(n_new * 1.0 / sum(n_new) OVER (), 0.0001) AS p_new
        |  FROM (
        |    SELECT CAST(least(floor(l_extendedprice / 10000), 9) AS BIGINT) AS bin,
        |      CAST(count(*) FILTER (l_orderkey % 2 = 0) AS BIGINT) AS n_old,
        |      CAST(count(*) FILTER (l_orderkey % 2 = 1) AS BIGINT) AS n_new
        |    FROM lineitem GROUP BY 1))""".stripMargin,
    "q38_profile" -> Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
      s"""SELECT '$c' AS col_name,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count($c) AS BIGINT) AS n_nonnull,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  round(CAST(min($c) AS DOUBLE), 4) AS min_v,
         |  round(CAST(max($c) AS DOUBLE), 4) AS max_v
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "q37_range_join" ->
      """WITH tiers AS (SELECT r_regionkey AS tier,
        |  r_regionkey * 100000.0 AS lo, (r_regionkey + 1) * 100000.0 AS hi
        |  FROM region)
        |SELECT tier, COUNT(*) AS n, round(SUM(o_totalprice), 2) AS total
        |FROM orders JOIN tiers
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1""".stripMargin,
    // q43 bins the identical range join into an equi-join — the
    // oracle is q37's SQL verbatim; the hash match proves binning
    // changes the plan shape, not the relation
    "q43_range_join_binned" ->
      """WITH tiers AS (SELECT r_regionkey AS tier,
        |  r_regionkey * 100000.0 AS lo, (r_regionkey + 1) * 100000.0 AS hi
        |  FROM region)
        |SELECT tier, COUNT(*) AS n, round(SUM(o_totalprice), 2) AS total
        |FROM orders JOIN tiers
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1""".stripMargin,
    // q57: sequenced stage entries as chained min-aggregates; ts
    // comparisons on raw timestamps (the q40 precedent)
    "q57_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t
        |    AND e.ts <= v.t + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t
        |    AND e.ts <= c.t + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        |UNION ALL
        |SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
        |UNION ALL
        |SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p""".stripMargin,
    "q58_retention" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |co AS (SELECT user_id, min(d) AS c0 FROM ev GROUP BY 1),
        |du AS (SELECT DISTINCT user_id, d FROM ev)
        |SELECT strftime(co.c0, '%Y-%m-%d') AS cohort_day,
        |  CAST(datediff('day', co.c0, du.d) AS INTEGER) AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM du JOIN co ON co.user_id = du.user_id
        |GROUP BY 1, 2""".stripMargin,
    // q59: same trailing RANGE frame; the flag compares against the
    // UNROUNDED mean/stddev in both engines, mu rounds only on output
    "q59_anomaly" ->
      """WITH h AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
        |    AS he, COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT he, n, round(mu, 6) AS mu,
        |  CAST(CASE WHEN m >= 12 AND abs(n - mu) > 3 * sd
        |       THEN 1 ELSE 0 END AS INTEGER) AS flag
        |FROM (
        |  SELECT he, n, AVG(n) OVER w AS mu,
        |    stddev_samp(n) OVER w AS sd, COUNT(*) OVER w AS m
        |  FROM h
        |  WINDOW w AS (ORDER BY he
        |    RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))""".stripMargin,
    // q56: the automatic-rule form of the same range join — q37's
    // oracle once more (the rule is plan-only)
    "q56_range_join_auto" ->
      """WITH tiers AS (SELECT r_regionkey AS tier,
        |  r_regionkey * 100000.0 AS lo, (r_regionkey + 1) * 100000.0 AS hi
        |  FROM region)
        |SELECT tier, COUNT(*) AS n, round(SUM(o_totalprice), 2) AS total
        |FROM orders JOIN tiers
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1""".stripMargin,
    "q33_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
        |COUNT(*) AS n FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q34_string_agg" ->
      """SELECT o_orderstatus,
        |string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
        |FROM orders GROUP BY 1""".stripMargin,
    // ASOF LEFT: the Spark forms are declared left-outer (an event
    // with no prior order survives with last_order null) — the oracle
    // must agree regardless of whether the regenerated fixture happens
    // to contain such an event; a plain (inner) ASOF JOIN would drop it
    "q30_asof_join" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS ok
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.ok AS last_order
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    // q42 runs the identical semantics through the native operator —
    // the oracle is deliberately q30's ASOF LEFT JOIN verbatim
    "q42_asof_native" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS ok
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.ok AS last_order
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    // q47: the FORWARD direction — DuckDB's ASOF with a <= comparator
    // takes the smallest right time >= left time; min(ok) collapses
    // (key, date) ties toward the smallest key like the operator's
    // forward tiebreak order
    "q47_asof_forward" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, min(o_orderkey) AS ok
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.ok AS next_order
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate""".stripMargin,
    // q46: the INNER posture — DuckDB's default ASOF JOIN drops
    // events with no prior order, exactly the operator's inner mode
    "q46_asof_inner" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS ok
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.ok AS last_order
        |FROM events e ASOF JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    "q31_percentiles" ->
      """SELECT o_orderstatus,
        |round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY 1""".stripMargin,
    "q32_multi_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    // q72: same interpolated-percentile bounds (the q31 equivalence),
    // rounded at 6dp before the clip in both engines
    "q72_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |  lo, hi, round(greatest(lo, least(hi, l_extendedprice)), 2)
        |    AS clipped
        |FROM lineitem JOIN b USING (l_returnflag)""".stripMargin,
    // q73: the UNFILTERED join — the Bloom prefilter must be
    // result-invisible (no false negatives), so any pruning loss
    // would hash-mismatch here
    "q73_bloom_join" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  round(SUM(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1""".stripMargin,
    "q16_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q17_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q18_window_running" ->
      """SELECT event_id, user_id,
        |ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING), 4) AS running_value
        |FROM events""".stripMargin,
    "q19_lag_lead" ->
      """SELECT event_id, user_id,
        |CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |  - CAST(epoch(date_trunc('second', lag(ts, 1) OVER w)) AS BIGINT) AS gap_s,
        |round(value - lag(value, 1) OVER w, 4) AS value_delta
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "q20_sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |    - CAST(epoch(date_trunc('second', lag(ts, 1) OVER w)) AS BIGINT) AS gap_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id,
        |CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM g""".stripMargin,
    "q21_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |round(SUM(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q22_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |round(SUM(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q23_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "q24_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier""".stripMargin,
    "q25_except" ->
      """SELECT c_nationkey AS nk FROM customer
        |EXCEPT SELECT s_nationkey AS nk FROM supplier""".stripMargin,
    "q26_topk_per_group" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    // q44 computes the identical ranking through the bounded-heap
    // aggregate — the oracle is q26's window SQL verbatim
    "q44_topk_heap" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q27_scalar_subq" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin,
    "q28_star_join" ->
      """SELECT r_name, round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q29_time_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |event_type, COUNT(*) AS n, round(SUM(value), 4) AS v
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q45_gap_fill" ->
      """WITH ev AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
        |    AS hour_epoch, event_type FROM events),
        |agg AS (SELECT hour_epoch, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(hour_epoch) AS lo, max(hour_epoch) AS hi FROM ev),
        |hours AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_epoch
        |  FROM b),
        |types AS (SELECT DISTINCT event_type FROM ev)
        |SELECT h.hour_epoch, t.event_type, COALESCE(a.n, 0) AS n
        |FROM hours h CROSS JOIN types t
        |LEFT JOIN agg a ON a.hour_epoch = h.hour_epoch
        |  AND a.event_type = t.event_type""".stripMargin,
    "q40_interval_join" ->
      """SELECT v.user_id, c.event_id AS click_id, v.event_id AS view_id
        |FROM events c JOIN events v ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE""".stripMargin,
    "q41_unpivot" ->
      """SELECT l_returnflag, metric, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(AVG(val), 4) AS avg_val
        |FROM (UNPIVOT lineitem ON l_quantity, l_discount, l_tax
        |      INTO NAME metric VALUE val)
        |GROUP BY 1, 2""".stripMargin,
    // q64: the heap is ORDER BY hv LIMIT k per group; the hash folds
    // to 2^50 in both engines so double comparison is exact
    "q64_bottomk_sample" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rk
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY hv, o_orderkey) AS BIGINT) AS rk
        |  FROM (SELECT *,
        |      CAST(('0x' || substr(md5('q64:' || o_orderkey), 1, 15))
        |        AS BIGINT) % 1125899906842624 AS hv
        |    FROM orders))
        |WHERE rk <= 10""".stripMargin,
    // q65: the oracle is the UNBLOCKED brute-force join — a blocking
    // bug that lost a pair would hash-mismatch here
    "q65_fuzzy_join" ->
      """SELECT a.nm AS name_a, b.nm AS name_b,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM (SELECT DISTINCT p_name AS nm FROM part) a
        |JOIN (SELECT DISTINCT p_name AS nm FROM part) b
        |  ON a.nm < b.nm AND abs(length(a.nm) - length(b.nm)) <= 2
        |WHERE levenshtein(a.nm, b.nm) <= 2""".stripMargin,
    // q63: same edge prune / degree orientation / wedge-close pipeline;
    // the (deg, id) lexicographic orientation is written as an explicit
    // OR so both engines compare identically
    "q63_triangles" ->
      """WITH edges AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS d
        |  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY 1),
        |ori AS (
        |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.u ELSE e.v END AS s,
        |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.v ELSE e.u END AS tt
        |  FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |tris AS (
        |  SELECT e1.s AS apex, LEAST(e1.tt, e2.tt) AS u,
        |         GREATEST(e1.tt, e2.tt) AS v
        |  FROM ori e1 JOIN ori e2 ON e2.s = e1.s AND e2.tt > e1.tt
        |  JOIN edges e3
        |    ON e3.u = LEAST(e1.tt, e2.tt) AND e3.v = GREATEST(e1.tt, e2.tt))
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM (SELECT unnest([apex, u, v]) AS node FROM tris)
        |GROUP BY 1""".stripMargin,
    // q66: the same edge builder, then the 8 peel rounds unrolled as
    // a CTE chain — degree filter (>= 2) and two-sided edge prune per
    // round, exactly the engine's fixed-round loop
    "q66_kcore" -> {
      // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default,
      // and each round references the previous one 5x (1 edge scan +
      // 2 degree scans per side) — inlined, the tree is 5^8 scans of
      // e0; materialized, it is the same 8 linear passes Spark runs
      def round(i: Int): String =
        s"""g$i AS MATERIALIZED (SELECT n
           |  FROM (SELECT u AS n FROM e${i - 1}
           |        UNION ALL SELECT v FROM e${i - 1})
           |  GROUP BY n HAVING COUNT(*) >= 2),
           |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN g$i a ON e.u = a.n JOIN g$i b ON e.v = b.n)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
         |${(1 to 8).map(round).mkString(",\n")}
         |SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
         |FROM (SELECT u AS n FROM e8 UNION ALL SELECT v FROM e8)
         |GROUP BY 1""".stripMargin
    },
    // q68: the same three frontier rounds unrolled as MATERIALIZED
    // CTEs (the q66 discipline — inlined, each round re-derives the
    // whole prefix); NOT IN is null-safe here (keys are non-null)
    "q68_bfs_levels" -> {
      def round(i: Int): String =
        s"""f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS node
           |  FROM v${i - 1} v JOIN e ON e.src = v.node
           |  WHERE v.lvl = ${i - 1}
           |    AND e.dst NOT IN (SELECT node FROM v${i - 1})),
           |v$i AS MATERIALIZED (SELECT node, lvl FROM v${i - 1}
           |  UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey + 1000000 AS src, o_custkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_quantity >= 45),
         |e AS MATERIALIZED (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst, src FROM e0),
         |v0 AS MATERIALIZED (SELECT DISTINCT src AS node,
         |    CAST(0 AS BIGINT) AS lvl
         |  FROM e WHERE src % 500 = 0),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT node, lvl FROM v3""".stripMargin
    },
    // q69: the four Bellman-Ford rounds unrolled — each round is the
    // min over (carry forward, relax one more edge); all-integer
    // distances, so no float accumulation anywhere
    "q69_sssp" -> {
      def round(i: Int): String =
        s"""d$i AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst AS node, d.dist + e.w AS dist
           |  FROM d${i - 1} d JOIN e ON e.src = d.node) GROUP BY node)"""
          .stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT l_suppkey + 1000000 AS src, o_custkey AS dst,
         |    CAST(MIN(l_quantity) - 40 AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_quantity >= 45 GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT src, dst, w FROM e0
         |  UNION ALL SELECT dst, src, w FROM e0),
         |d0 AS MATERIALIZED (SELECT DISTINCT src AS node,
         |    CAST(0 AS BIGINT) AS dist
         |  FROM e WHERE src % 500 = 0),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT node, dist FROM d4""".stripMargin
    },
    // q67: the same histogram/cum/rank/interpolation chain; ranks in
    // exact integer arithmetic, bin + interpolation in the identical
    // IEEE double sequence, rounded at output; exact rank-r values via
    // row_number (ties collapse to the same x either way)
    "q67_hist_quantiles" ->
      s"""WITH li AS (
         |  SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem),
         |b AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
         |    (MAX(x) - MIN(x)) / $HistBins AS w FROM li),
         |binned AS (SELECT g,
         |    CAST(LEAST(FLOOR((x - b.lo) / b.w),
         |      ${HistBins - 1}) AS BIGINT) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM li, b GROUP BY 1, 2),
         |cum AS (SELECT g, bin, c,
         |    SUM(c) OVER (PARTITION BY g ORDER BY bin) AS cum
         |  FROM binned),
         |cum2 AS (SELECT *, cum - c AS prev FROM cum),
         |n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM binned GROUP BY g),
         |ranks AS (
         |  SELECT g, n, 'p50' AS q,
         |    CAST(FLOOR((n + 1) / 2.0) AS BIGINT) AS r FROM n
         |  UNION ALL SELECT g, n, 'p90',
         |    CAST(FLOOR((n * 9 + 9) / 10.0) AS BIGINT) FROM n
         |  UNION ALL SELECT g, n, 'p99',
         |    CAST(FLOOR((n * 99 + 99) / 100.0) AS BIGINT) FROM n),
         |est AS (SELECT c2.g, rk.q, rk.n, rk.r,
         |    round(b.lo + b.w * (c2.bin
         |      + CAST(rk.r - c2.prev AS DOUBLE) / c2.c), 4) AS est
         |  FROM cum2 c2 JOIN ranks rk
         |    ON rk.g = c2.g AND c2.prev < rk.r AND rk.r <= c2.cum
         |  CROSS JOIN b),
         |ranked AS (SELECT g, x,
         |    row_number() OVER (PARTITION BY g ORDER BY x) AS rn FROM li)
         |SELECT e.g, e.q, e.n, e.est, rd.x AS exact
         |FROM est e JOIN ranked rd ON rd.g = e.g AND rd.rn = e.r""".stripMargin,
    // q54: the three power iterations unrolled as chained CTEs — the
    // fixed iteration count is what makes an iterative algorithm
    // SQL-expressible. r0's 1.0 casts to DOUBLE so pr/deg divides in
    // floating point like Spark (DuckDB would otherwise run the whole
    // recurrence in exact DECIMAL); rounding happens only at the end.
    "q54_pagerank" -> {
      def iter(n: Int): String =
        s"""r$n AS (SELECT d.src AS id, 0.15 + 0.85 * COALESCE(c.s, 0) AS pr
           |  FROM deg d LEFT JOIN (
           |    SELECT e.dst, SUM(r.pr / g.deg) AS s
           |    FROM e JOIN deg g ON g.src = e.src
           |      JOIN r${n - 1} r ON r.id = e.src
           |    GROUP BY e.dst) c ON c.dst = d.src)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey + 1000000 AS src,
         |    o_custkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) AS pr FROM deg),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id, round(pr, 6) AS pr FROM r3""".stripMargin
    },
    // q48/q49: the c7 md5-prefix hash verbatim — selection agrees with
    // the Spark hash60 kernel by construction
    "q48_hash_sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  l_returnflag
        |FROM lineitem
        |WHERE CAST(('0x' || substr(md5(
        |    'q48:' || l_orderkey || ':' || l_linenumber), 1, 15)) AS BIGINT)
        |  % 10000 < 100""".stripMargin,
    "q49_stratified_hash" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE CAST(('0x' || substr(md5('q49:' || o_orderkey), 1, 15)) AS BIGINT)
        |  % 10000 < (CASE o_orderstatus WHEN 'O' THEN 1000
        |             WHEN 'F' THEN 500 ELSE 5000 END)""".stripMargin)
}
