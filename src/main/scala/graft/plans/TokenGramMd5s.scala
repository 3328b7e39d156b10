package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** token_gram_md5s(toks, w): the md5 hex of every positional token
  * w-gram of a token array, in position order (duplicates kept) —
  * ARRAY<STRING> with element i-1 == md5(array_join(slice(toks, i, w),
  * ' ')) byte-for-byte (TextDedupSpec pins the lockstep equality).
  *
  * Why a kernel (per-task work): seven query paths
  * (novelty q151/q162, overlap q152, dup-spans q72, decontamination
  * q66/q139/q107-adjacent, winnowing q140) spell this as
  * explode(sequence) + md5(array_join(slice(...))) — per POSITION that
  * allocates a slice array, a joined string, a fresh MessageDigest
  * (Spark's Md5 calls DigestUtils.md5Hex per row) and a hex string via
  * commons-codec. This kernel runs once per DOCUMENT: one reused
  * digest, one reused gram byte buffer, manual hex encode — zero
  * intermediate objects per gram beyond the output UTF8String. The
  * VALUES are identical, so `explode(kernel(toks, w))` is a drop-in
  * for the exploded spelling wherever the position index is unused.
  *
  * Contract: `toks` elements are NON-NULL (every call site feeds a
  * split() result, which never yields null elements; array_join's
  * null-skipping semantics are deliberately NOT reproduced). w must be
  * a foldable positive INT; arrays shorter than w yield an empty
  * array (callers additionally pre-filter, matching the
  * sequence(1, n-w+1)-descends guard the exploded spelling needs).
  */
case class TokenGramMd5sExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    left.dataType match {
      case ArrayType(StringType, _) =>
        if (right.dataType != IntegerType || !right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"${TokenGramMd5s.NAME} arg 2 (w) must be a foldable INT")
        else right.eval() match {
          case null =>
            TypeCheckResult.TypeCheckFailure(s"${TokenGramMd5s.NAME} w must be non-NULL")
          case w: Int if w < 1 =>
            TypeCheckResult.TypeCheckFailure(s"${TokenGramMd5s.NAME} needs w >= 1; got $w")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"${TokenGramMd5s.NAME} arg 1 must be ARRAY<STRING>, got $other")
    }

  private lazy val w: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(toks: Any, wv: Any): Any =
    TokenGramMd5s.compute(toks.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, _) => s"""
      ${ev.value} = graft.plans.TokenGramMd5s.compute($toks, $w);
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object TokenGramMd5s {
  val NAME = "token_gram_md5s"

  private val HEX = "0123456789abcdef".getBytes

  /** One pass per document; called from generated code. */
  def compute(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    // snapshot token byte arrays once (getUTF8String re-decodes offsets
    // per access on UnsafeArrayData)
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { tb(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n - w + 1)
    var p = 0
    while (p <= n - w) {
      md.reset()
      var j = 0
      while (j < w) {
        if (j > 0) md.update(' '.toByte)
        md.update(tb(p + j))
        j += 1
      }
      val dig = md.digest()
      val hex = new Array[Byte](32)
      var k = 0
      while (k < 16) {
        hex(2 * k) = HEX((dig(k) >> 4) & 0xf)
        hex(2 * k + 1) = HEX(dig(k) & 0xf)
        k += 1
      }
      out(p) = UTF8String.fromBytes(hex)
      p += 1
    }
    new GenericArrayData(out)
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$NAME takes exactly (toks, w); got ${exprs.length} args")
    TokenGramMd5sExpr(exprs(0), exprs(1))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
