package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level membership-count kernel shared by interpreted eval and
  * generated code.
  */
object SetOps {
  def countIn(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val m = arr.numElements()
    var c = 0
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}

/** `count_in_set(array<string>, array<string> literal) -> int` — how
  * many elements of the first array (counting multiplicity) belong to
  * the constant membership set given by the second.
  *
  * Replaces `size(filter(tokens, t => array_contains(set, t)))` in the
  * stopword-ratio hot paths (c1 curation, t2 quality): the
  * higher-order `filter` evaluates an interpreted boxed lambda per
  * token per row, and the inner `array_contains` is a linear scan of
  * the set per call — O(tokens × |set|) interpreted work. This kernel
  * is one primitive loop with an O(1) hash probe per token, inlined
  * into the generated stage — measured ~100× on a 2M-row × 60-token
  * synthetic (180.6 s HOF vs 1.9 s kernel, local[32]).
  * (`array_intersect` is not a substitute: it dedupes, and ratios
  * count occurrences.)
  *
  * The set side must be foldable: it is evaluated once at first use
  * and embedded as a HashSet reference in the generated code.
  */
case class CountInSet(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with Serializable {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in_set"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    val arr = right.eval().asInstanceOf[ArrayData]
    if (arr != null) {
      var i = 0
      while (i < arr.numElements()) {
        // copy: a literal's backing UnsafeArrayData may be reused
        if (!arr.isNullAt(i)) s.add(arr.getUTF8String(i).clone())
        i += 1
      }
    }
    s
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetOps.countIn(a.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("countInSet", set,
      classOf[java.util.HashSet[UTF8String]].getName)
    defineCodeGen(ctx, ev, (a, _) => s"graft.functions.SetOps.countIn($a, $setRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountInSet =
    copy(left = newLeft, right = newRight)
}

object SetFunctions {
  val fnName = "count_in_set"

  /** SQL builder with analysis-time validation: the membership set
    * must be foldable (it becomes a compile-time HashSet).
    */
  private def build(children: Seq[Expression]): Expression = {
    import org.apache.spark.sql.AnalysisException
    if (children.length != 2)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$fnName`", "expectedNum" -> "2",
        "actualNum" -> children.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
    if (!children(1).foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$fnName`", "paramName" -> "`set`",
        "paramType" -> "\"ARRAY<STRING>\""))
    CountInSet(children(0), children(1))
  }

  def injection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(fnName),
      new ExpressionInfo(classOf[CountInSet].getName, fnName),
      build _)

  /** Column-API entry: count of `arr` elements in the constant set. */
  def countInSet(arr: Column, elements: Seq[String]): Column =
    call_function(fnName, arr, array(elements.map(lit): _*))
}
