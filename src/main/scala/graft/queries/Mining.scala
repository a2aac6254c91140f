package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.core.{Checkpoint, DriverTier, Rounds, Tables}

/** Pattern-mining operators a training-data curation pipeline runs at
  * corpus scale: association rules over co-occurrence baskets
  * (Agrawal–Srikant A-priori, level 2) and community detection via
  * synchronous label propagation (Raghavan et al. 2007), both with
  * deterministic tie rules so the result is execution-order-free and
  * DuckDB-replayable.
  *
  * Scale shapes: basket pair generation is a per-key self-join whose
  * fanout is bounded by basket size (Σ k_i², never n²); label
  * propagation rounds shuffle (long, long) pairs only with map-side
  * partial counts, each round materialized by [[graft.core.Rounds]]
  * (the plan stays O(1) deep at any round count).
  */
object Mining {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Minimum pair support (distinct co-occurring baskets) for q70 —
    * an integer threshold, so the cut never sits on a float boundary.
    */
  val MinSupport = 2

  /** q70 — association rules over order baskets (lineitem parts per
    * order): every directed rule a→b whose pair support ≥
    * [[MinSupport]], with support, confidence and lift. The A-priori
    * observation prunes for free here: a pair reaching support s
    * requires both items to (so the item-support join loses nothing),
    * and pair generation is the per-basket self-join — fanout Σ k_i²
    * over basket sizes k_i (≤ 7 in TPC-H shape), never |items|².
    *
    * Scale shape: one distinct over (order, part) — map-side combine;
    * the pair self-join shuffles on the basket key; item supports are
    * one row per part, joined on the item key (a shuffle join — the
    * support table is |parts| rows, far below the pair table, and at
    * 100 TB |parts| can exceed broadcast size). Confidence/lift are
    * computed but the FILTER is the integer support bound only, so no
    * float boundary ever decides membership.
    */
  def q70AssocRules(s: SparkSession, dir: String): DataFrame = {
    // Per-basket enumeration instead of a self-join (r16, guide §2.4 —
    // the copurchaseEdges rewrite): ONE exchange keyed by order
    // collapses each order to its distinct sorted item set, and pairs
    // enumerate IN-ROW from the sorted array (a < b by sort order,
    // fanout Σ k_i² with k_i ≤ 7 in TPC-H shape). The old form paid
    // the (oid, item) distinct exchange plus two oid join exchanges.
    // Materialized once: item supports, the pair stream, and the order
    // count all read the basket table.
    val baskets = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
      .groupBy("oid").agg(sort_array(collect_set(col("item"))).as("items"))
      .localCheckpoint(true)
    // the order count stays IN the plan as a broadcast 1-row aggregate
    // (the q75/t23 pattern) instead of a driver action + literal
    val nOrders = baskets.agg(count(lit(1)).cast(LongType).as("n_orders"))
    val itemSupp = baskets
      .select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("s_item"))
    val pairs = baskets
      .filter(size(col("items")) > 1)
      .select(col("items"), posexplode(col("items")))
      .select(col("col").as("a"),
        explode(slice(col("items"), col("pos") + 2, size(col("items"))))
          .as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("s_ab"))
      .filter(col("s_ab") >= MinSupport)
    // both rule directions from one undirected pair row
    val directed = pairs.select(col("a").as("ante"), col("b").as("cons"), col("s_ab"))
      .unionByName(pairs.select(col("b").as("ante"), col("a").as("cons"), col("s_ab")))
    directed
      .join(itemSupp.withColumnRenamed("item", "ante")
        .withColumnRenamed("s_item", "s_ante"), "ante")
      .join(itemSupp.withColumnRenamed("item", "cons")
        .withColumnRenamed("s_item", "s_cons"), "cons")
      .crossJoin(broadcast(nOrders))
      .select(
        col("ante"), col("cons"), col("s_ab").cast(LongType).as("supp"),
        round(col("s_ab").cast("double") / col("s_ante"), 6).as("conf"),
        round((col("s_ab").cast("double") * col("n_orders")) /
          (col("s_ante").cast("double") * col("s_cons")), 6).as("lift"))
  }

  /** Synchronous label-propagation rounds for q71 — fixed so the
    * result is the exact r-round fixpoint prefix, independent of
    * execution order, which is what the oracle unrolls.
    */
  val LpaRounds = 3

  /** q71 — community detection by synchronous label propagation over
    * the q68 trade graph (supplier↔customer, high-quantity trades):
    * every node starts labeled with its own id; each round it adopts
    * the most frequent label among its neighbors, ties broken toward
    * the smallest label (the determinism rule — classic LPA breaks
    * ties randomly, which no oracle could replay). [[LpaRounds]]
    * synchronous rounds.
    *
    * Scale shape per round: labels ⋈ edges keyed on the edge source
    * (shuffles (long, long) pairs), a counted groupBy with map-side
    * partials, then a per-node window argmax over its ≤ degree label
    * candidates — state is one long per node, materialized per round
    * by [[graft.core.Rounds]].
    */
  def q71LabelProp(s: SparkSession, dir: String): DataFrame = {
    val edges = Extended.tradeEdges(s, dir, minQty = Some(45))
    try labelPropagate(edges, LpaRounds)
    finally Checkpoint.release(edges)
  }

  /** The q71 core over arbitrary symmetric (src, dst) edges — spec
    * entry point for hand-built fixtures.
    */
  def labelPropagate(edges: DataFrame, rounds: Int,
      driverMaxEdges: Long = DriverTier.GraphDriverMaxEdges): DataFrame =
    // synchronous rounds over exact longs — per round, node x's new
    // label is the most frequent label among its in-neighbors (edges
    // src→x), ties to the SMALLEST label, exactly the window argmax of
    // the relational rounds; nodes receiving no votes drop out (the
    // inner join's semantics)
    DriverTier.run(edges.select("src", "dst"), driverMaxEdges,
        "labelPropagate") { rows =>
      val es = rows.map(r => (r.getLong(0), r.getLong(1)))
      var lbl = new java.util.HashMap[Long, Long]()
      es.foreach { case (s0, _) => lbl.putIfAbsent(s0, s0) }
      var round = 0
      while (round < rounds) {
        // votes: (receiver node, label) -> count, from every edge whose
        // src currently holds a label
        // explicit containsKey everywhere: generic get() on a
        // primitive-keyed map unboxes a missing key's null to 0
        // silently in Scala
        val votes = new java.util.HashMap[(Long, Long), Long]()
        es.foreach { case (s0, d0) =>
          if (lbl.containsKey(s0))
            votes.merge((d0, lbl.get(s0)), 1L, _ + _)
        }
        val next = new java.util.HashMap[Long, Long]()
        votes.forEach { (k, c) =>
          val (node, l) = k
          if (!next.containsKey(node)) next.put(node, l)
          else {
            // keep the (count desc, label asc) winner; votes map gives
            // no ordering, so compare against the stored winner's count
            val cur = next.get(node)
            val curC = votes.get((node, cur))
            if (c > curC || (c == curC && l < cur)) next.put(node, l)
          }
        }
        lbl = next
        round += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      lbl.asScala.toSeq.toDF("node", "lbl")
    } { _ =>
      val byVotes = Window.partitionBy("node")
        .orderBy(col("c").desc, col("lbl").asc)
      val init = edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
      Rounds.run(init, rounds) { (labels, _) =>
        labels.join(edges, col("node") === col("src"))
          .groupBy(col("dst").as("node2"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .withColumnRenamed("node2", "node")
          .withColumn("rn", row_number().over(byVotes))
          .filter(col("rn") === 1)
          .select("node", "lbl")
      }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q70_assoc_rules" -> q70AssocRules _,
    "q71_label_prop"  -> q71LabelProp _)

  val oracleSql: Map[String, String] = Map(
    // q70: identical arithmetic shape — support filter is integer-only,
    // conf/lift are the same IEEE double division chains, rounded at 6dp
    "q70_assoc_rules" ->
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT oid) AS n_orders FROM baskets),
         |isupp AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS s_item
         |  FROM baskets GROUP BY 1),
         |pairs AS (
         |  SELECT x.item AS a, y.item AS b, CAST(COUNT(*) AS BIGINT) AS s_ab
         |  FROM baskets x JOIN baskets y
         |    ON x.oid = y.oid AND x.item < y.item
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
         |directed AS (
         |  SELECT a AS ante, b AS cons, s_ab FROM pairs
         |  UNION ALL SELECT b, a, s_ab FROM pairs)
         |SELECT d.ante, d.cons, d.s_ab AS supp,
         |  round(CAST(d.s_ab AS DOUBLE) / sa.s_item, 6) AS conf,
         |  round((CAST(d.s_ab AS DOUBLE) * n.n_orders)
         |    / (CAST(sa.s_item AS DOUBLE) * sc.s_item), 6) AS lift
         |FROM directed d
         |JOIN isupp sa ON sa.item = d.ante
         |JOIN isupp sc ON sc.item = d.cons
         |CROSS JOIN n""".stripMargin,
    // q71: the three synchronous rounds unrolled as MATERIALIZED CTEs
    // (q66/q68 discipline); the per-node argmax is the same
    // (count desc, label asc) row_number in both engines
    "q71_label_prop" -> {
      def round(i: Int): String =
        s"""c$i AS MATERIALIZED (
           |  SELECT e.dst AS node, l.lbl, COUNT(*) AS c
           |  FROM l${i - 1} l JOIN e ON e.src = l.node GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT node, lbl FROM (
           |  SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
           |    ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey + 1000000 AS src, o_custkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_quantity >= 45),
         |e AS MATERIALIZED (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst, src FROM e0),
         |l0 AS MATERIALIZED (SELECT node, node AS lbl
         |  FROM (SELECT DISTINCT src AS node FROM e)),
         |${(1 to LpaRounds).map(round).mkString(",\n")}
         |SELECT node, lbl FROM l$LpaRounds""".stripMargin
    })
}
