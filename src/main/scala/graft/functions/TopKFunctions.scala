package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Bounded top-k accumulator: keeps the k pairs with the LARGEST `ord`
  * (ties broken toward the SMALLEST `id`, so results are deterministic
  * under any partitioning / merge order — commutativity is what makes
  * the aggregate safe to partial-aggregate). Backed by a binary
  * min-heap keyed by (ord asc, id desc): the root is always the worst
  * kept pair, so an insert against a full heap is one compare in the
  * common reject path and O(log k) otherwise.
  */
final class BoundedTopK(val k: Int) extends Serializable {
  val ords = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** True if pair 1 ranks strictly worse than pair 2 (lower ord, or
    * equal ord with larger id) — the heap's "less" relation, keeping
    * the worst pair at the root. Ord compares via
    * `java.lang.Double.compare` so NaN orders greatest, consistent
    * with Spark's double sort order — a NaN ord (e.g. cosine of a
    * zero-norm embedding) ranks above every finite value in both the
    * aggregate and the `row_number` window form it must match.
    */
  private def worse(o1: Double, i1: Long, o2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(o1, o2)
    c < 0 || (c == 0 && i1 > i2)
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(ords(i), ids(i), ords(p), ids(p))) {
        val to = ords(i); val ti = ids(i)
        ords(i) = ords(p); ids(i) = ids(p)
        ords(p) = to; ids(p) = ti
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i
      if (l < size && worse(ords(l), ids(l), ords(w), ids(w))) w = l
      if (r < size && worse(ords(r), ids(r), ords(w), ids(w))) w = r
      if (w == i) return
      val to = ords(i); val ti = ids(i)
      ords(i) = ords(w); ids(i) = ids(w)
      ords(w) = to; ids(w) = ti
      i = w
    }
  }

  def insert(o: Double, id: Long): Unit =
    if (size < k) {
      ords(size) = o; ids(size) = id; size += 1
      siftUp(size - 1)
    } else if (worse(ords(0), ids(0), o, id)) {
      ords(0) = o; ids(0) = id
      siftDown()
    }

  def mergeFrom(other: BoundedTopK): Unit = {
    var i = 0
    while (i < other.size) { insert(other.ords(i), other.ids(i)); i += 1 }
  }

  /** Kept pairs as (ord, id) sorted by (ord desc, id asc) — the
    * presentation order a ranked result wants.
    */
  def sortedPairs: Array[(Double, Long)] = {
    val out = new Array[(Double, Long)](size)
    var i = 0
    while (i < size) { out(i) = (ords(i), ids(i)); i += 1 }
    scala.util.Sorting.stableSort(out,
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(a._1, b._1)
        c > 0 || (c == 0 && a._2 < b._2)
      })
    out
  }
}

/** `topk_by(ord, id, k) -> array<struct<ord: double, id: bigint>>` —
  * bounded-memory per-group top-k aggregate (k largest `ord`, ties to
  * the smallest `id`, output sorted desc(ord), asc(id)).
  *
  * This is the sort-free form of the `row_number() OVER (...) <= k`
  * ranking idiom. Spark 4's `InferWindowGroupLimit` already keeps the
  * window form's exchange bounded (partial WindowGroupLimit prunes
  * each task to k per group pre-shuffle), but rank-mode pruning works
  * on SORTED input — every task still fully sorts its candidate rows,
  * and the final stage sorts again and runs window-frame machinery.
  * The aggregate replaces both sorts with O(k) heaps: O(n log k)
  * updates over unsorted input, nothing to spill, the same
  * ≤ k·|groups|·|tasks| exchange. Measured 1.45× on brute kNN at
  * sf0.1 (s9 vs s1); the gap grows with rows-per-task since sort is
  * the superlinear term.
  *
  * Null handling matches `max_by`: rows whose ord or id is null are
  * ignored. An empty group yields an empty array (not null). Rows are
  * ingested through a `TypedImperativeAggregate` buffer (Spark's
  * mechanism for heap-like aggregation state — same machinery as
  * `percentile_approx`/`collect_list`), which plans as
  * ObjectHashAggregate with a partial stage, preserving map-side
  * combine.
  */
case class TopKBy(ord: Expression, id: Expression, kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedTopK]
    with ImplicitCastInputTypes with Serializable {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def inputTypes = Seq(DoubleType, LongType, IntegerType)
  override def children: Seq[Expression] = Seq(ord, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_by"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (!kExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("topk_by: k must be a constant")
    else if (kExpr.eval() == null || kExpr.eval().asInstanceOf[Int] < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("topk_by: k must be >= 1")
    else base
  }

  override def createAggregationBuffer(): BoundedTopK = new BoundedTopK(k)

  override def update(buf: BoundedTopK, input: InternalRow): BoundedTopK = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null)
      buf.insert(o.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BoundedTopK, other: BoundedTopK): BoundedTopK = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: BoundedTopK): Any =
    new GenericArrayData(buf.sortedPairs.map { case (o, i) =>
      new GenericInternalRow(Array[Any](o, i)): Any
    })

  override def serialize(buf: BoundedTopK): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.ords(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedTopK = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new BoundedTopK(k)
    var i = 0
    // stored pairs are already the k best of their partial — reinsert
    while (i < n) { buf.insert(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKBy =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKBy =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKBy =
    copy(ord = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

/** Function injection + Column API for [[TopKBy]], following the
  * [[VectorFunctions]] pattern.
  */
object TopKFunctions {
  val fnName = "topk_by"

  val injection = (
    FunctionIdentifier(fnName),
    new ExpressionInfo(classOf[TopKBy].getName, fnName),
    (children: Seq[Expression]) =>
      TopKBy(children(0), children(1), children(2)))

  /** Column-API entry: `topkBy(ord, id, k)`. */
  def topkBy(ord: Column, id: Column, k: Column): Column =
    call_function(fnName, ord, id, k)
}
