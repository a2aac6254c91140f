package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level n-gram kernel shared by interpreted eval and codegen. */
object TextOps {
  private val SPACE = UTF8String.fromString(" ")

  /** Per-row n-gram repetition moments: (total gram occurrences, the
    * top gram's count, occurrences of grams appearing more than once)
    * — everything t10's per-doc repetition stats derive, computed in
    * ONE pass over the token array with a local count map. Replaces a
    * corpus-sized (doc, n, gram) explode + two keyed aggregations
    * (gram strings through an exchange) with a scan-side projection
    * whose state is one doc's gram multiset (r16, guide §2.3 "shuffle
    * fewer bytes" taken to its limit: shuffle nothing).
    */
  def gramRepStats(toks: ArrayData, n: Int)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val m = toks.numElements()
    val total = m - n + 1
    if (total <= 0)
      return new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](0L, 0L, 0L))
    val counts = new java.util.HashMap[UTF8String, java.lang.Long](total * 2)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var k = 0
      while (k < n) { parts(k) = toks.getUTF8String(i + k); k += 1 }
      counts.merge(UTF8String.concatWs(SPACE, parts: _*),
        java.lang.Long.valueOf(1L), (a, b) => a + b)
      i += 1
    }
    var top = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().longValue()
      if (c > top) top = c
      if (c > 1) dup += c
    }
    new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](total.toLong, top, dup))
  }

  /** Distinct word n-grams of a token array, space-joined,
    * first-occurrence order (array_distinct semantics). One virtual
    * call per ROW; the higher-order-function form this replaces pays
    * an interpreted lambda per n-gram per row.
    */
  def wordNgrams(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var k = 0
      while (k < n) { parts(k) = toks.getUTF8String(i + k); k += 1 }
      out.add(UTF8String.concatWs(SPACE, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]]
      .asInstanceOf[Array[Any]])
  }
}

/** Character-level sibling of [[TextOps.wordNgrams]]: distinct char
  * n-grams in first-occurrence order, char-based (not byte-based) so
  * multi-byte text grams correctly — `substringSQL` mirrors SQL
  * `substring`/DuckDB `substr` semantics exactly.
  */
object CharTextOps {
  def charNgrams(txt: UTF8String, n: Int): ArrayData = {
    val m = txt.numChars()
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 1
    while (i <= m - n + 1) {
      out.add(txt.substringSQL(i, n))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]]
      .asInstanceOf[Array[Any]])
  }
}

/** `char_ngrams(string, n) -> array<string>` — distinct character
  * n-grams in one codegen loop. Replaces the SQL-lambda form
  * `array_distinct(transform(sequence(1, char_length(s)-n+1),
  * i -> substring(s, i, n)))`, which evaluates an interpreted lambda
  * per CHARACTER of the corpus (the densest element count of any text
  * path). Texts shorter than `n` chars yield an empty array (the
  * sequence form's reversed-range artifact on sub-n texts is not
  * reproduced — it disagreed with the DuckDB generate_series
  * semantics anyway).
  */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override protected def nullSafeEval(a: Any): Any =
    CharTextOps.charNgrams(a.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharTextOps.charNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** `word_ngrams(array<string>, n) -> array<string>` — native codegen
  * Expression building the distinct space-joined word n-grams the
  * MinHash shingling and decontamination stages consume.
  *
  * Replaces `array_distinct(transform(arrays_zip(slice×n), concat_ws))`:
  * that form evaluates an interpreted lambda per gram per row and
  * allocates n slice arrays + a zip array; this kernel is one loop
  * over the unsafe token array with a LinkedHashSet dedupe, inlined
  * into the generated stage. Semantics identical (first-occurrence
  * order, single-space join) — callers keep their `when(size >= n)`
  * whole-text fallback outside.
  */
/** `gram_rep_stats(array<string>, n) ->
  * struct<n_grams: bigint, top_c: bigint, dup_c: bigint>` — the
  * per-doc repetition moments kernel behind t10 (see
  * [[TextOps.gramRepStats]]). Yields (0, 0, 0) for arrays shorter
  * than `n` (callers filter those rows out, matching the explode
  * form's no-row behavior).
  */
case class GramRepStats(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_grams",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("top_c",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("dup_c",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def prettyName: String = "gram_rep_stats"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.gramRepStats(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.gramRepStats($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): GramRepStats =
    copy(child = newChild)
}

case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.wordNgrams(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.wordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object TextFunctions {
  val fnName = "word_ngrams"

  /** SQL builder with analysis-time validation: `n` must be a foldable
    * positive integer. Without the checks a bad call surfaces as an
    * IndexOutOfBounds / ClassCast at resolution time (or a silent
    * `[""]` gram for n <= 0) instead of a proper analysis error.
    */
  private def buildWith(name: String, mk: (Expression, Int) => Expression)(
      children: Seq[Expression]): Expression = {
    import org.apache.spark.sql.AnalysisException
    if (children.length != 2)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> "2",
        "actualNum" -> children.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
    val nExpr = children(1)
    // INVALID_PARAMETER_VALUE.INTEGER is the closest stock template
    // ("expects an integer literal, but got <invalidValue>"); the
    // free-form invalidValue carries the precise constraint since no
    // built-in class states "positive INT" for an arbitrary parameter.
    def invalidN(invalidValue: String): Nothing =
      throw new AnalysisException("INVALID_PARAMETER_VALUE.INTEGER", Map(
        "parameter" -> "`n`", "functionName" -> s"`$name`",
        "invalidValue" -> invalidValue))
    if (!nExpr.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$name`", "paramName" -> "`n`",
        "paramType" -> "\"INT\""))
    val nInt = nExpr.eval() match {
      case null =>
        throw new AnalysisException("INVALID_PARAMETER_VALUE.NULL", Map(
          "parameter" -> "`n`", "functionName" -> s"`$name`"))
      case i: Int => i
      case i: Long if i >= Int.MinValue && i <= Int.MaxValue => i.toInt
      case i: Long => invalidN(s"$i (out of INT range)")
      case i: Short => i.toInt
      case i: Byte => i.toInt
      case _ => invalidN(nExpr.sql) // typed but non-integral literal
    }
    if (nInt <= 0) invalidN(s"$nInt (must be >= 1)")
    mk(children.head, nInt)
  }

  private def build(children: Seq[Expression]): Expression =
    buildWith(fnName, WordNgrams.apply)(children)

  val charFnName = "char_ngrams"

  private def buildChar(children: Seq[Expression]): Expression =
    buildWith(charFnName, CharNgrams.apply)(children)

  val gramStatsFnName = "gram_rep_stats"

  private def buildGramStats(children: Seq[Expression]): Expression =
    buildWith(gramStatsFnName, GramRepStats.apply)(children)

  def injection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(fnName),
      new ExpressionInfo(classOf[WordNgrams].getName, fnName),
      build _)

  def charInjection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(charFnName),
      new ExpressionInfo(classOf[CharNgrams].getName, charFnName),
      buildChar _)

  def gramStatsInjection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(gramStatsFnName),
      new ExpressionInfo(classOf[GramRepStats].getName, gramStatsFnName),
      buildGramStats _)

  /** Column-API entry (n must be a literal). */
  def gramRepStats(tokens: Column, n: Int): Column =
    call_function(gramStatsFnName, tokens, lit(n))

  /** Column-API entry (n must be a literal). */
  def wordNgrams(tokens: Column, n: Int): Column =
    call_function(fnName, tokens, lit(n))

  /** Column-API entry: distinct char n-grams of a string column. */
  def charNgrams(text: Column, n: Int): Column =
    call_function(charFnName, text, lit(n))
}
