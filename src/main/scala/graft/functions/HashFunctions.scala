package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop hash kernel shared by interpreted eval and codegen. */
object HashOps {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(bytes) as a non-negative long — numerically
    * identical to parsing the first 15 hex digits of the md5 hex
    * string in base 16 (the first 15 hex digits are the high 60 bits
    * of the first 8 digest bytes).
    */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(bytes)
    val be =
      ((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) |
      ((h(2) & 0xffL) << 40) | ((h(3) & 0xffL) << 32) |
      ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
    be >>> 4
  }

  def md5Prefix60(s: UTF8String): Long = md5Prefix60(s.getBytes)
}

/** `md5_60(string) -> bigint` — the engine's portable 60-bit content
  * hash as a native codegen Expression.
  *
  * Replaces `conv(substring(md5(x), 1, 15), 16, 10)`: that form
  * allocates a 32-char hex string, slices it, and re-parses base-16
  * per evaluation; this kernel goes digest-bytes → long with zero
  * intermediate allocation. Same value as DuckDB's
  * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`, so every oracle
  * comparison is unchanged. Hot path of the MinHash/SimHash dedup
  * family (one hash per shingle per doc).
  */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_60"

  override protected def nullSafeEval(s: Any): Any =
    HashOps.md5Prefix60(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.md5Prefix60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object HashFunctions {
  val fnName = "md5_60"

  def injection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(fnName),
      new ExpressionInfo(classOf[Md5Prefix60].getName, fnName),
      (children: Seq[Expression]) => Md5Prefix60(children.head))
}
