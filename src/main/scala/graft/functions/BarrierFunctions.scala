package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.DataType

/** `eval_once(expr)` — the identity function, deliberately reported
  * NON-deterministic so the optimizer may not substitute, duplicate,
  * or push predicates through it (the guide §4.4 discipline — "mark
  * expensive expressions non-deterministic to stop the optimizer
  * duplicating them" — applied to a native expression instead of a
  * Python UDF).
  *
  * Why it exists: a projection computing an expensive column (e.g. the
  * curation pipeline's tokenized `t`, from which quality / language /
  * length signals all derive) followed by a filter on the DERIVED
  * columns gets rewritten by predicate pushdown into a Filter BELOW
  * the projection whose condition re-derives everything from raw text
  * — the whole tokenize+score chain evaluates twice per row, and the
  * pushed copy lands in the scan stage, which on a single-split input
  * is one serial task. Wrapping the root column in `eval_once` keeps
  * ONE evaluation, in the projection, above any spread exchange.
  *
  * Where it is safe: the wrapped expression must itself be genuinely
  * deterministic (this wrapper only hides that fact from the
  * optimizer), so values are identical under task retry and the
  * declared results cannot change. Cost at scale: none — the blocked
  * rewrite never reached the parquet scan (the predicates are on
  * computed columns), and with splits >= cores the scan, projection
  * and filter share one stage regardless of pushdown.
  *
  * Its sanctioned uses are pinned by `FunctionsSpec` ("eval_once is used
  * only at its two reviewed call sites"); a new use must meet the
  * contract above and be added there.
  */
case class EvalOnce(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def prettyName: String = "eval_once"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): EvalOnce =
    copy(child = newChild)
}

object BarrierFunctions {
  val fnName = "eval_once"

  def injection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(fnName),
      new ExpressionInfo(classOf[EvalOnce].getName, fnName),
      (children: Seq[Expression]) => EvalOnce(children.head))

  /** Column-API entry: identity value, optimizer barrier. */
  def evalOnce(c: Column): Column = call_function(fnName, c)
}
