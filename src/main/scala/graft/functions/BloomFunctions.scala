package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_might_contain(hash: bigint, filter: binary) -> boolean` —
  * membership probe against a serialized Bloom filter carried as a
  * plan literal. The engine's runtime-filter primitive, modeled on
  * Spark's own `InjectRuntimeFilter`/`BloomFilterMightContain`
  * machinery (which Catalyst only auto-applies to equi-join keys it
  * can prove selective; here the filter is applied deliberately, as
  * part of an operator's declared shape).
  *
  * Contract: NO false negatives — every inserted key probes true — so
  * a prefilter built from the exact join's build side can only discard
  * rows the join would discard anyway; false positives (rate set at
  * build time) just ride through to the exact join and die there.
  * That makes any `filter(bloom_might_contain(...))` placed before an
  * exact join a pure optimization: results are bit-identical by
  * construction. Null hash → null (filter drops it), matching the
  * join's null-key behavior.
  *
  * The deserialized filter is a per-instance lazy transient — built
  * once per task from the literal bytes, then probed per row as two
  * hash mixes + bit tests (no per-row deserialization). Codegen
  * references the prebuilt object via `addReferenceObj`, exactly like
  * Spark's native probe.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes = Seq(LongType, BinaryType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          "bloom_might_contain: the filter must be a constant")
    else if (right.eval() == null)
      // fail analysis cleanly — otherwise the lazy deserialization
      // below would NPE at codegen/planning time on a null literal
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          "bloom_might_contain: the filter must not be null")
    else base
  }

  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval().asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  override protected def nullSafeEval(h: Any, unused: Any): Any =
    bloom.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (h, _) => s"${ev.value} = $bf.mightContainLong($h);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/** Build + probe helpers and the function injection for
  * [[BloomMightContain]].
  */
object BloomFunctions {
  val fnName = "bloom_might_contain"

  val injection = (
    FunctionIdentifier(fnName),
    new ExpressionInfo(classOf[BloomMightContain].getName, fnName),
    (children: Seq[Expression]) => BloomMightContain(children(0), children(1)))

  /** Builds a Bloom filter over a LongType column and returns it
    * serialized, ready to embed as the probe's literal. This is one
    * Spark job over `df` (same as `df.stat.bloomFilter`, same as the
    * broadcast-build the exact join runs anyway) — only ever call it
    * on a join's SMALL side; the bits (~1.2 MB per million keys at 1%
    * fpp) then travel with the plan like a broadcast variable.
    */
  def buildSerialized(df: DataFrame, column: String,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = df.stat.bloomFilter(column, math.max(expectedItems, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Column-API probe: `bloomMightContain(hash, filterBytes)`. */
  def bloomMightContain(hash: Column, filterBytes: Array[Byte]): Column =
    call_function(fnName, hash, lit(filterBytes))
}
