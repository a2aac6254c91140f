package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, Divide, EqualTo, Explode, Expression, Floor, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Sequence}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project, SubqueryAlias, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Automatic range-join binning — the optimizer-rule tier of the
  * extension ladder (the as-of join is the whole-operator tier):
  * an inner join whose only condition is an interval-containment
  * predicate `p >= lo AND p < hi` plans as a nested-loop join in
  * stock Spark — O(|points| × |intervals|) comparisons, the q37
  * shape. q43 shows the manual fix: replicate each interval into the
  * fixed-width bins it covers, join on the bin id as an EQUI key, and
  * keep the range predicate as a residual. [[BinRangeJoinRule]]
  * performs that rewrite automatically for any join whose interval
  * side the user marks with [[RangeJoinApi.markBinned]] — SQL stays
  * declarative, the plan becomes a hash/sort-merge join.
  *
  * The rewrite is conservative by construction: bins span
  * floor(lo/W) .. floor(hi/W) INCLUSIVE (one possibly-superfluous
  * edge bin rather than any epsilon arithmetic), the original range
  * predicate stays in the join condition, and intervals with
  * `NOT (lo < hi)` — empty under a half-open predicate, including
  * NULL bounds — are filtered before replication. False positives
  * cost a residual comparison; false negatives cannot occur
  * (floor is monotone: lo <= p < hi ⇒ floor(lo/W) <= floor(p/W) <=
  * floor(hi/W)).
  *
  * Width choice is the user's (via the marker): bins-per-interval ≈
  * (hi−lo)/W + 1 rows of replication on the interval side. At 100 TB
  * the interval side is usually dimension-sized; W near the median
  * interval width keeps replication O(|intervals|) while the fact
  * side gains an equi-join key — the standard interval-join trick in
  * distributed engines.
  */
case class RangeBinHint(width: Double, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    child.output
  override protected def withNewChildInternal(
      newChild: LogicalPlan): RangeBinHint = copy(child = newChild)
}

/** Rewrites marked interval joins to binned equi-joins; strips any
  * marker it cannot use (the marker is advisory — an unsuitable join
  * shape falls back to the stock plan, never an error).
  */
object BinRangeJoinRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // fire only when the marker heads a join INPUT (through benign
    // Project/Filter/alias wrappers): a marker buried deeper belongs
    // to a join further down — pre-order transform reaches it next,
    // so an unrelated join stacked ABOVE a marked one must not
    // consume (or strip) the inner join's marker
    case j @ Join(_, _, Inner, Some(_), _)
        if topMarker(j.left).isDefined || topMarker(j.right).isDefined =>
      rewrite(j)
    // a marker with no rewritable join directly above it is a no-op hint
    case h: RangeBinHint => h.child
  }

  private def topMarker(p: LogicalPlan): Option[RangeBinHint] = p match {
    case h: RangeBinHint => Some(h)
    case pr: Project => topMarker(pr.child)
    case f: Filter => topMarker(f.child)
    case s: SubqueryAlias => topMarker(s.child)
    case _ => None
  }

  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case h: RangeBinHint => h.child
    case pr: Project => pr.withNewChildren(Seq(strip(pr.child)))
    case f: Filter => f.withNewChildren(Seq(strip(f.child)))
    case s: SubqueryAlias => s.withNewChildren(Seq(strip(s.child)))
    case other => other
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case other => Seq(other)
  }

  // (point, bound) from `point >= bound` in either spelling
  private def asGe(e: Expression): Option[(Expression, Expression)] = e match {
    case GreaterThanOrEqual(a, b) => Some((a, b))
    case LessThanOrEqual(b, a) => Some((a, b))
    case _ => None
  }

  // (point, bound) from `point < bound` in either spelling
  private def asLt(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThan(a, b) => Some((a, b))
    case GreaterThan(b, a) => Some((a, b))
    case _ => None
  }

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType]

  private def rewrite(j: Join): LogicalPlan = {
    val markedRight = topMarker(j.right).isDefined
    val width = (if (markedRight) topMarker(j.right) else topMarker(j.left))
      .get.width
    val point = strip(if (markedRight) j.left else j.right)
    val intervals = strip(if (markedRight) j.right else j.left)
    val fallback = j.copy(left = strip(j.left), right = strip(j.right))
    if (!(width > 0)) return fallback
    val conj = split(j.condition.get)
    if (conj.length != 2) return fallback
    val parsed = Seq((conj(0), conj(1)), (conj(1), conj(0))).flatMap {
      case (geC, ltC) =>
        for {
          (p1, lo) <- asGe(geC)
          (p2, hi) <- asLt(ltC)
          if p1.semanticEquals(p2)
          if Seq(p1, lo, hi).forall(e => e.deterministic && numeric(e))
          if p1.references.nonEmpty &&
            p1.references.subsetOf(point.outputSet)
          if (lo.references ++ hi.references).subsetOf(intervals.outputSet)
          if lo.references.nonEmpty || hi.references.nonEmpty
        } yield (p1, lo, hi)
    }
    parsed.headOption match {
      case None => fallback
      case Some((p, lo, hi)) =>
        def binOf(e: Expression): Expression =
          Cast(Floor(Divide(Cast(e, DoubleType), Literal(width))), LongType)
        val binAttr =
          AttributeReference("__graft_bin", LongType, nullable = false)()
        // Sequence is TimeZoneAwareExpression — it only RESOLVES with
        // a timezone bound, even for pure-long sequences
        val gen = Generate(
          Explode(Sequence(binOf(lo), binOf(hi), Some(Literal(1L)),
            Some(conf.sessionLocalTimeZone))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(binAttr),
          child = Filter(
            LessThan(Cast(lo, DoubleType), Cast(hi, DoubleType)), intervals))
        val pbin = Alias(binOf(p), "__graft_pbin")()
        val proj = Project(point.output :+ pbin, point)
        val (nl, nr) = if (markedRight) (proj, gen) else (gen, proj)
        val newJoin = Join(nl, nr, Inner,
          Some(And(EqualTo(pbin.toAttribute, binAttr), j.condition.get)),
          j.hint)
        Project(j.output, newJoin)
    }
  }
}

/** API surface for the rule. */
object RangeJoinApi {

  /** Marks `intervals` as the replicable side of a range join with
    * the given bin width. The marker is advisory for join SHAPE:
    * joins the rule can't bin (extra conjuncts, non-numeric bounds,
    * outer types) run unchanged. Width choice is a contract, not
    * advisory: replication is (hi−lo)/width + 1 rows per interval,
    * so a width absurdly small for the interval spans — or an
    * interval encoding an open bound as ±∞/MaxValue — explodes the
    * generated bin sequence (Spark fails the query with its
    * sequence-length error rather than silently degrading). Handle
    * open-ended intervals on the caller side (clamp hi to the
    * domain's observed max) before marking.
    */
  def markBinned(intervals: DataFrame, width: Double): DataFrame = {
    GraftSqlBridge.ofRows(intervals.sparkSession,
      RangeBinHint(width, GraftSqlBridge.logicalPlan(intervals)))
  }
}
