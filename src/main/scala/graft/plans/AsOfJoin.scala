package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator tier of SURVEY §4.3's
  * extension ladder: a custom `LogicalPlan` node, a `SparkStrategy`
  * that plans it, and a sort-merge `SparkPlan` that executes it,
  * installed by `spark.sql.extensions=graft.functions.GraftExtensions`,
  * which every `graft.core.Session` sets.
  *
  * Semantics: for every left row, append one right row of the same
  * key — backward (the default, the standard form): the row with the
  * greatest `rightTime <= leftTime`, ties on (key, time) resolved
  * toward the greatest `tiebreak`; forward: the row with the smallest
  * `rightTime >= leftTime`, ties toward the SMALLEST tiebreak (the
  * mirror — pandas merge_asof's direction='forward', DuckDB's ASOF
  * with a `<=` comparator). An unmatched left row emits nulls in the
  * default left-outer posture, or is dropped when `inner` (DuckDB's
  * `ASOF JOIN` default vs its `ASOF LEFT JOIN`). Null keys/times
  * never match, mirroring SQL join-key semantics.
  *
  * Why a physical operator when q30 already composes the semantics
  * from union + window: the window form funnels BOTH relations
  * through one shuffle and one total sort per key group, carrying
  * every left column through the window stage. This operator instead
  * declares exactly a join's requirements — co-partition on key, sort
  * within partition — and EnsureRequirements provisions them like any
  * sort-merge join: each side shuffles only itself, AQE coalesces
  * both reads together, and the merge is a single O(|L|+|R|)
  * streaming pass per partition with O(1) state (one buffered match),
  * no row buffering, no window frame machinery. At 100 TB that means
  * the big side never sorts interleaved with the small side, and
  * either side can be pre-bucketed on the key to skip its exchange
  * entirely — exactly how the operator family (Flink temporal join,
  * QuestDB/kdb asof, DuckDB ASOF JOIN) is built natively.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    tiebreak: Seq[Expression], inner: Boolean = false,
    forward: Boolean = false) extends BinaryNode {

  // inner never emits a null-padded right side, so right attributes
  // keep their declared nullability
  override def output: Seq[Attribute] =
    if (inner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Pushes filters through [[AsOfJoin]] toward the LEFT child — the
  * optimizer tier a custom node must supply for itself: Catalyst's
  * `PushDownPredicates` only descends through nodes it knows, so
  * without this rule `asofJoin(...).filter(left-side pred)` reads and
  * merges the ENTIRE left table before filtering — at 100 TB that
  * turns a pruned probe into a full scan. Left-side pushdown is sound
  * because the operator maps each left row independently (its match
  * depends only on that row's key/time and the right side); the same
  * move is NOT sound for right-side predicates, which would drop
  * match candidates and resurrect older rows as answers — those stay
  * above the join. Only deterministic conjuncts move (pushing a
  * nondeterministic predicate changes its evaluation order — same
  * rule stock Catalyst applies).
  */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoin) =>
      val leftOut = AttributeSet(j.left.output)
      val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(leftOut))
      if (push.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(push.reduce(And), j.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]; a no-op for every other
  * node (strategies compose — Catalyst keeps its own for the rest of
  * the tree).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(j.leftKey, j.rightKey, j.leftTime, j.rightTime,
        j.tiebreak, j.inner, j.forward,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join. Declares the same child requirements as
  * `SortMergeJoinExec` — clustered distribution on the key for both
  * sides (EnsureRequirements co-partitions them; AQE coalesces the two
  * shuffle reads as one group, so partition counts stay aligned) and
  * per-partition sort on (key, time [, tiebreak…]) — then merges each
  * co-partition pair with two streaming cursors:
  *
  * left rows arrive keyed and time-ascending, so the right cursor
  * only ever advances; the last right row seen with `rKey == lKey &&
  * rTime <= lTime` IS the as-of match (right sorted by (key, time,
  * tiebreak) makes "last seen" resolve time ties toward the greatest
  * tiebreak). One buffered right row + its key is the operator's
  * entire state — no hash table, no buffered partition, no spill
  * path needed.
  */
case class AsOfJoinExec(leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression, tiebreak: Seq[Expression],
    inner: Boolean, forward: Boolean, left: SparkPlan, right: SparkPlan)
    extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    if (inner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)),
      ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      tiebreak.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExpr = leftKey
    val rKeyExpr = rightKey
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    val outAttrs = output
    val innerMode = inner
    val fwd = forward
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // per-partition generated code: projections extract (key, time)
      // as single-field rows; natural orderings compare them
      val lKeyProj = UnsafeProjection.create(Seq(lKeyExpr), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rKeyExpr), rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      var matched: InternalRow = null // last qualifying right row (copy)
      var matchedKey: InternalRow = null
      // left-outer pads unmatched rows; inner drops them. The emitted
      // row reuses resultProj's buffer — standard operator-iterator
      // contract (consumers copy if they buffer).
      def unmatched(lRow: InternalRow): Option[InternalRow] =
        if (innerMode) None else Some(resultProj(joined(lRow, nullRight)))

      lIter.flatMap { lRow =>
        val lk = lKeyProj(lRow)
        if (lk.isNullAt(0)) unmatched(lRow)
        else {
          val lt = lTimeProj(lRow)
          if (lt.isNullAt(0)) unmatched(lRow)
          else if (fwd) {
            // forward: discard right rows strictly before (lk, lt) —
            // left times ascend, so a discarded row (rt < lt) can
            // never match a later left row either. The match is then
            // the CURRENT head if its key equals lk: the smallest
            // qualifying time, smallest tiebreak (right sort order).
            // The head is peeked, NOT consumed — later left rows at
            // the same or earlier effective position may match it too.
            var advancing = true
            while (advancing && rBuf.hasNext) {
              val rk = rKeyProj(rBuf.head)
              val kc = if (rk.isNullAt(0)) -1 else keyOrd.compare(rk, lk)
              if (kc < 0) rBuf.next() // earlier key (or null): discard
              else if (kc > 0) advancing = false
              else {
                val rt = rTimeProj(rBuf.head)
                if (rt.isNullAt(0) || timeOrd.compare(rt, lt) < 0)
                  rBuf.next() // null or too-early time: discard
                else advancing = false
              }
            }
            val ok = rBuf.hasNext && {
              val rk = rKeyProj(rBuf.head)
              !rk.isNullAt(0) && keyOrd.compare(rk, lk) == 0
            }
            if (ok) Some(resultProj(joined(lRow, rBuf.head)))
            else unmatched(lRow)
          } else {
            // advance the right cursor past everything at-or-before
            // (lk, lt); remember the last row that actually qualifies
            var advancing = true
            while (advancing && rBuf.hasNext) {
              val rk = rKeyProj(rBuf.head)
              val kc = if (rk.isNullAt(0)) -1 else keyOrd.compare(rk, lk)
              if (kc < 0) rBuf.next() // earlier key (or null): discard
              else if (kc > 0) advancing = false
              else {
                val rt = rTimeProj(rBuf.head)
                if (!rt.isNullAt(0) && timeOrd.compare(rt, lt) > 0)
                  advancing = false
                else {
                  val r = rBuf.next()
                  if (!rt.isNullAt(0)) {
                    matched = r.copy(); matchedKey = rk.copy()
                  }
                }
              }
            }
            val ok = matched != null && keyOrd.compare(matchedKey, lk) == 0
            if (ok) Some(resultProj(joined(lRow, matched)))
            else unmatched(lRow)
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry for the native as-of join. Key/time/tiebreak
  * are column NAMES resolved against each side's analyzed output
  * (compute derived keys with `withColumn` first) — name-based
  * resolution sidesteps the Column↔Expression seam and keeps the API
  * surface minimal.
  */
object AsOfJoinApi {

  /** `joinType`: "left" (default — unmatched left rows null-padded) or
    * "inner" (unmatched left rows dropped, DuckDB `ASOF JOIN` default).
    * `direction`: "backward" (default — greatest rightTime <= leftTime,
    * ties to greatest tiebreak) or "forward" (smallest rightTime >=
    * leftTime, ties to smallest tiebreak).
    */
  def asofJoin(leftDf: DataFrame, rightDf: DataFrame,
      key: (String, String), time: (String, String),
      tiebreak: Seq[String] = Nil, joinType: String = "left",
      direction: String = "backward"): DataFrame = {
    val inner = joinType match {
      case "left" => false
      case "inner" => true
      case other => throw new IllegalArgumentException(
        s"asofJoin: joinType must be 'left' or 'inner', got '$other'")
    }
    val forward = direction match {
      case "backward" => false
      case "forward" => true
      case other => throw new IllegalArgumentException(
        s"asofJoin: direction must be 'backward' or 'forward', got '$other'")
    }
    val spark = leftDf.sparkSession
    val lPlan = GraftSqlBridge.logicalPlan(leftDf)
    val rPlan = GraftSqlBridge.logicalPlan(rightDf)
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: column '$name' not in ${plan.output.map(_.name)}"))
    GraftSqlBridge.ofRows(spark, AsOfJoin(lPlan, rPlan,
      resolve(lPlan, key._1), resolve(rPlan, key._2),
      resolve(lPlan, time._1), resolve(rPlan, time._2),
      tiebreak.map(resolve(rPlan, _)), inner, forward))
  }
}
