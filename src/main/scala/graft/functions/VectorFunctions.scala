package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Tight-loop kernels shared by interpreted eval and generated code. */
object VectorOps {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** [[dot]] with the same null-element parity as [[div]]: any null
    * slot in either array yields null (the `aggregate(zip_with(...))`
    * HOF form this kernel replaces propagates element nulls the same
    * way). One fused loop — the null check rides the multiply pass
    * instead of a separate scan. Returns a boxed Double or null.
    */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  private def anyNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Element-wise divide by a scalar — the exact `x / s` op of the
    * HOF lambda it replaces (NOT multiply-by-reciprocal, which differs
    * in the last ulp). Null elements propagate as null, matching the
    * `transform` lambda: the functions are installed session-wide for
    * arbitrary SQL, so a nullable-element array is a legal input even
    * though the in-repo embedding pipelines never produce one (the
    * null scan costs one branch per element on the common path).
    */
  def div(a: ArrayData, s: Double): ArrayData = {
    val n = a.numElements()
    if (anyNull(a)) {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = if (a.isNullAt(i)) null else a.getDouble(i) / s
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = a.getDouble(i) / s; i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** ADC lookup-sum for [[PqAdc]]: Σ_i dt[i·k + codes[i]] with
    * k = |dt| / |codes|. Returns null (boxed) on malformed inputs —
    * non-divisible table length, out-of-range code, or a null
    * element — instead of a silently wrong sum.
    */
  def pqAdc(codes: ArrayData, dt: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    val n = dt.numElements()
    if (m == 0 || n == 0 || n % m != 0) return null
    val k = n / m
    var s = 0.0
    var i = 0
    while (i < m) {
      if (codes.isNullAt(i)) return null
      val c = codes.getInt(i)
      if (c < 0 || c >= k) return null
      val idx = i * k + c
      if (dt.isNullAt(idx)) return null
      s += dt.getDouble(idx)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Sign-random-projection signature for [[SimHash64]]: with
    * d = |v| dims and `planes` the row-major flattening of
    * bits × d hyperplanes, bit b = [Σ_i v[i]·planes[b·d+i] >= 0],
    * for bits = min(64, |planes| / d). Each dot sums left-to-right —
    * the same order as [[dot]] and DuckDB's list_dot_product, so the
    * signature is bit-identical to the unfused
    * `CASE WHEN dot >= 0 THEN 2^b` form the oracle SQL spells out.
    * Malformed inputs (|planes| not a multiple of d, empty v) and
    * null elements yield null rather than a wrong signature.
    */
  def simhash64(v: ArrayData, planes: ArrayData): java.lang.Long = {
    val d = v.numElements()
    if (d == 0) return null
    val n = planes.numElements()
    if (n == 0 || n % d != 0) return null
    val bits = math.min(64, n / d)
    var sig = 0L
    var b = 0
    while (b < bits) {
      var s = 0.0
      val off = b * d
      var i = 0
      while (i < d) {
        if (v.isNullAt(i) || planes.isNullAt(off + i)) return null
        s += v.getDouble(i) * planes.getDouble(off + i)
        i += 1
      }
      if (s >= 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  /** min-L2 PQ encoder for [[PqEncode]]: with m subspaces of
    * dsub = |v|/m dims and k = |books| / |v| centroids per subspace
    * laid out flat[(sub·k + code)·dsub + i], emits per subspace
    * argmax_code Σ_i v[sub·dsub+i]·c[i] − ½‖c‖² (= the nearest
    * centroid by L2), ties to the smallest code. Both the dot and
    * ‖c‖² accumulate left-to-right — the exact arithmetic of the
    * crossJoin + argmax-aggregation plan this kernel replaces and of
    * the oracle SQL's list_dot_product, so codes are bit-identical.
    * Malformed geometry (|v| not divisible by m, |books| not a
    * multiple of |v|) or any null element yields null.
    */
  def pqEncode(v: ArrayData, books: ArrayData, m: Int): ArrayData = {
    val d = v.numElements()
    if (m <= 0 || d == 0 || d % m != 0) return null
    val nb = books.numElements()
    if (nb == 0 || nb % d != 0) return null
    if (anyNull(v) || anyNull(books)) return null
    val k = nb / d
    val dsub = d / m
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val base = sub * dsub
      var best = 0.0
      var bestCode = -1
      var code = 0
      while (code < k) {
        val off = (sub * k + code) * dsub
        var s = 0.0
        var cc = 0.0
        var j = 0
        while (j < dsub) {
          val c = books.getDouble(off + j)
          s += v.getDouble(base + j) * c
          cc += c * c
          j += 1
        }
        val score = s - cc / 2
        if (bestCode < 0 || score > best) { best = score; bestCode = code }
        code += 1
      }
      out(sub) = bestCode
      sub += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `round(x * s)` per element as int, HALF_UP away from zero,
    * matching Spark's `round()` (BigDecimal HALF_UP) and DuckDB's
    * `round()` exactly. No `v + 0.5` trick: at v = nextDown(0.5) the
    * ADDITION itself rounds to 1.0 and floor would misround to 1.
    * Instead compare the fractional part `v - floor(v)` (for v >= 0;
    * mirrored with ceil for v < 0) against 0.5 — that subtraction is
    * exact in binary floating point (the fraction is a low-order bit
    * suffix of v, always representable), so no intermediate rounding
    * exists to diverge. Null elements propagate as null, like [[div]].
    */
  def scaleRoundInt(a: ArrayData, s: Double): ArrayData = {
    def roundHalfUp(v: Double): Int =
      (if (v >= 0) { val f = math.floor(v); if (v - f >= 0.5) f + 1 else f }
       else { val c = math.ceil(v); if (c - v >= 0.5) c - 1 else c }).toInt
    val n = a.numElements()
    if (anyNull(a)) {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = if (a.isNullAt(i)) null else roundHalfUp(a.getDouble(i) * s)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val out = new Array[Int](n)
      var i = 0
      while (i < n) { out(i) = roundHalfUp(a.getDouble(i) * s); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }
}

/** `vec_dot(array<double>, array<double>) -> double` — native Catalyst
  * expression with whole-stage-codegen support (SURVEY §7.3: custom
  * Expression for llm/Similarity).
  *
  * Replaces the `aggregate(zip_with(...))` higher-order-function form:
  * HOFs evaluate one boxed lambda call per element per row and
  * allocate an intermediate array per evaluation; this kernel is one
  * branch-free primitive loop over the unsafe array data, inlined into
  * the generated stage — ~10× less per-pair cost in the kNN joins.
  * A null ELEMENT in either array yields null — the same propagation
  * as the HOF lambda and as vec_div/vec_quant_int8 (the functions are
  * installed session-wide for arbitrary SQL, so nullable-element
  * arrays are legal inputs even though the in-repo embedding pipelines
  * never produce one; the non-null path's check is one branch per
  * element, fused into the multiply loop).
  *
  * Summation order is left-to-right, matching both the HOF form it
  * replaces and DuckDB's list_dot_product — oracle results are
  * bit-identical.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with Serializable {

  // return type inferred: AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  // null even for non-null inputs (null element propagation)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.VectorOps.dotOrNull($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `vec_div(array<double>, double) -> array<double>` — element-wise
  * division by a scalar in one codegen loop: the normalize (`x/‖v‖`)
  * and int8-dequantize (`q/scale`) steps of the embedding paths,
  * replacing a `transform` lambda interpreted per element. Element
  * nulls propagate (lambda parity), so the output's containsNull
  * mirrors the input's.
  */
case class VecDiv(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes = Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = left.dataType match {
    case ArrayType(_, cn) => ArrayType(DoubleType, containsNull = cn)
    case _ => ArrayType(DoubleType)
  }
  override def prettyName: String = "vec_div"

  override protected def nullSafeEval(a: Any, s: Any): Any =
    VectorOps.div(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, s) => s"graft.functions.VectorOps.div($a, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDiv =
    copy(left = newLeft, right = newRight)
}

/** `vec_quant_int8(array<double>, double) -> array<int>` — the int8
  * quantization write-path kernel: round(x × scale) per element with
  * Spark/DuckDB `round()` semantics, one primitive loop instead of an
  * interpreted `transform(round(x*s))` lambda per dimension. At
  * 100 TB this runs once per stored embedding dimension. Element
  * nulls propagate (lambda parity); output containsNull mirrors the
  * input's.
  */
case class VecQuantInt8(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes = Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = left.dataType match {
    case ArrayType(_, cn) => ArrayType(IntegerType, containsNull = cn)
    case _ => ArrayType(IntegerType)
  }
  override def prettyName: String = "vec_quant_int8"

  override protected def nullSafeEval(a: Any, s: Any): Any =
    VectorOps.scaleRoundInt(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, s) => s"graft.functions.VectorOps.scaleRoundInt($a, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecQuantInt8 =
    copy(left = newLeft, right = newRight)
}

/** `pq_adc(codes: array<int>, dt: array<double>) -> double` —
  * asymmetric-distance-computation kernel for product-quantized
  * search: with m = |codes| subspaces and k = |dt| / m centroids per
  * subspace, returns Σ_i dt[i·k + codes[i]] — the classic ADC table
  * lookup (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011). The per-query distance table `dt` rides in
  * broadcast; scoring a stored vector is then m array reads + adds in
  * one codegen loop — no explode, no join blow-up, no per-pair
  * arithmetic beyond the lookups. A malformed row (|dt| not divisible
  * by |codes|, or a code outside [0, k)) yields null rather than a
  * wrong sum.
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(c: Any, d: Any): Any =
    VectorOps.pqAdc(c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, d) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.VectorOps.pqAdc($c, $d);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** `pq_encode(v: array<double>, books: array<double>, m: int) ->
  * array<int>` — the write-time half of the PQ pair ([[PqAdc]] is the
  * read half): min-L2 nearest-centroid code per subspace in ONE
  * projection pass over the vector, with the codebooks riding as a
  * flat plan literal (the [[SimHash64]] planes pattern). Replaces the
  * crossJoin-by-(m·k-centroids) + two-aggregation encode plan — per
  * vector that plan materialized m·k rows through a shuffle pair,
  * this kernel is m·k fused dot loops and no exchange at all, which
  * is also exactly the "broadcast the codebooks, assign in one pass"
  * posture a 100 TB write path wants.
  */
case class PqEncode(vec: Expression, books: Expression, m: Expression)
    extends TernaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def first: Expression = vec
  override def second: Expression = books
  override def third: Expression = m

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(v: Any, b: Any, mm: Any): Any =
    VectorOps.pqEncode(v.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      mm.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b, mm) => s"""
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
        graft.functions.VectorOps.pqEncode($v, $b, $mm);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r; }
    """)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PqEncode =
    copy(vec = newFirst, books = newSecond, m = newThird)
}

/** `simhash64(v: array<double>, planes: array<double>) -> bigint` —
  * the SimHash signature kernel (Charikar, STOC 2002): 64 sign bits
  * of hyperplane projections in ONE fused loop over the unsafe array
  * data. The unfused form — 64 `CASE WHEN vec_dot(...) >= 0` branches
  * summed — generates ~64 separate dot-kernel calls plus a 64-way
  * add tree per row; whole-stage codegen compiles it slowly (the
  * expression tree alone is thousands of nodes) and the per-row cost
  * carries 64 method dispatches. This kernel is one call: the planes
  * ride as a single array literal (evaluated once, referenced per
  * row), and the signature loop touches each (bit, dim) product
  * exactly once. Dots sum left-to-right, so the signature is
  * bit-identical to the unfused form and to the oracle SQL's
  * list_dot_product spelling. Null elements and malformed plane
  * lengths yield null ([[VectorOps.dotOrNull]] parity).
  */
case class SimHash64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(v: Any, p: Any): Any =
    VectorOps.simhash64(v.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, p) => s"""
      java.lang.Long ${ev.value}_r = graft.functions.VectorOps.simhash64($v, $p);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHash64 =
    copy(left = newLeft, right = newRight)
}

/** Function injections (installed only by [[GraftExtensions]]) and
  * the Column API over them.
  */
object VectorFunctions {
  val fnName = "vec_dot"
  val divName = "vec_div"
  val quantName = "vec_quant_int8"
  val adcName = "pq_adc"
  val encodeName = "pq_encode"
  val simhashName = "simhash64"

  def injections: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(simhashName),
      new ExpressionInfo(classOf[SimHash64].getName, simhashName),
      (children: Seq[Expression]) => SimHash64(children(0), children(1))),
    (FunctionIdentifier(fnName),
      new ExpressionInfo(classOf[VecDot].getName, fnName),
      (children: Seq[Expression]) => VecDot(children(0), children(1))),
    (FunctionIdentifier(divName),
      new ExpressionInfo(classOf[VecDiv].getName, divName),
      (children: Seq[Expression]) => VecDiv(children(0), children(1))),
    (FunctionIdentifier(quantName),
      new ExpressionInfo(classOf[VecQuantInt8].getName, quantName),
      (children: Seq[Expression]) => VecQuantInt8(children(0), children(1))),
    (FunctionIdentifier(adcName),
      new ExpressionInfo(classOf[PqAdc].getName, adcName),
      (children: Seq[Expression]) => PqAdc(children(0), children(1))),
    (FunctionIdentifier(encodeName),
      new ExpressionInfo(classOf[PqEncode].getName, encodeName),
      (children: Seq[Expression]) =>
        PqEncode(children(0), children(1), children(2))))

  /** Column-API entry: `vecDot(a, b)`. */
  def vecDot(a: Column, b: Column): Column = call_function(fnName, a, b)

  /** Column-API entry: element-wise `a / s`. */
  def vecDiv(a: Column, s: Column): Column = call_function(divName, a, s)

  /** Column-API entry: `round(a × s)` per element as int. */
  def vecQuantInt8(a: Column, s: Column): Column =
    call_function(quantName, a, s)

  /** Column-API entry: ADC lookup-sum `Σ dt[i·k + codes[i]]`. */
  def pqAdc(codes: Column, dt: Column): Column =
    call_function(adcName, codes, dt)

  /** Column-API entry: min-L2 PQ codes of `v` against row-major
    * flattened `books` (a plan literal, like the SimHash planes).
    */
  def pqEncode(v: Column, booksFlat: Array[Double], m: Int): Column =
    call_function(encodeName, v,
      org.apache.spark.sql.functions.lit(booksFlat),
      org.apache.spark.sql.functions.lit(m))

  /** Column-API entry: 64-bit SimHash of `v` against row-major
    * flattened `planes` (a plan literal, like the Bloom filter bits).
    */
  def simHash64(v: Column, planesFlat: Array[Double]): Column =
    call_function(simhashName, v,
      org.apache.spark.sql.functions.lit(planesFlat))
}
