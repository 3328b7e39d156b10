package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** sorted_shingles_packed(text, n): the sorted DISTINCT character
  * n-gram set of a text as ARRAY<BIGINT> — each gram's n code points
  * packed 21-bits-apiece into one long (21 bits covers all of Unicode,
  * so n <= 3 fits a positive int64).
  *
  * The packing is INJECTIVE on valid UTF-8 (every code point has
  * exactly one encoding), so |set| and |A ∩ B| — the only things the
  * exact-Jaccard verify reads (sizes + sorted_intersect_count) — are
  * bit-identical to the ARRAY<STRING> spelling
  * ([[SortedShingles]], lockstep-pinned in TextDedupSpec). What changes
  * is purely physical: the per-pair merge compares primitive longs
  * instead of UTF8Strings (no byte-wise loops, no object indirection),
  * the per-doc build sorts a primitive long[] (dual-pivot quicksort,
  * no comparator dispatch) and allocates ZERO gram objects, and the
  * cached array is 8 bytes/gram instead of an object header + bytes.
  * A q37 stage profile put the UTF8String merge at ~58% of the whole
  * near-dup pipeline — this kernel exists to collapse that constant
  * (less per-task work, narrower types).
  *
  * Element ORDER differs from the string kernel (numeric vs UTF8
  * binary order) — irrelevant to every consumer: both sides of a merge
  * use the same order, and only counts leave the expression layer.
  *
  * n must be a foldable INT in [1, 3]; texts shorter than n code
  * points return an empty array (same guard as the string kernel).
  */
case class SortedShinglesPackedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"${SortedShinglesPacked.NAME} arg 1 must be STRING")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(s"${SortedShinglesPacked.NAME} arg 2 (n) must be a foldable INT")
    else right.eval() match {
      case null => TypeCheckResult.TypeCheckFailure(s"${SortedShinglesPacked.NAME} n must be non-NULL")
      case n: Int if n < 1 || n > 3 =>
        TypeCheckResult.TypeCheckFailure(
          s"${SortedShinglesPacked.NAME} needs 1 <= n <= 3 (3 x 21-bit code points per int64); got $n")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, nv: Any): Any =
    SortedShinglesPacked.compute(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => s"""
      ${ev.value} = graft.plans.SortedShinglesPacked.compute($t, $n);
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedShinglesPacked {
  val NAME = "sorted_shingles_packed"

  /** One pass: decode code points, roll an n-window pack, sort the
    * primitive array, dedup adjacent. Called from generated code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val numChars = text.numChars()
    if (numChars < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val bytes = text.getBytes
    val cps = new Array[Int](numChars)
    var ci = 0
    var bi = 0
    while (bi < bytes.length) {
      val b0 = bytes(bi)
      val len = UTF8String.numBytesForFirstByte(b0)
      // standard UTF-8 decode; valid input assumed (parquet strings) —
      // injectivity of the decode is what makes counts exact
      var cp = len match {
        case 1 => b0 & 0x7f
        case 2 => b0 & 0x1f
        case 3 => b0 & 0x0f
        case _ => b0 & 0x07
      }
      var k = 1
      while (k < len && bi + k < bytes.length) {
        cp = (cp << 6) | (bytes(bi + k) & 0x3f)
        k += 1
      }
      cps(ci) = cp
      bi += len
      ci += 1
    }
    val nGrams = numChars - n + 1
    val grams = new Array[Long](nGrams)
    var p = 0
    while (p < nGrams) {
      var v = 0L
      var j = 0
      while (j < n) { v = (v << 21) | (cps(p + j) & 0x1fffffL); j += 1 }
      grams(p) = v
      p += 1
    }
    java.util.Arrays.sort(grams)
    var out = 0
    var i = 1
    while (i < nGrams) {
      if (grams(i) != grams(out)) { out += 1; grams(out) = grams(i) }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(grams, out + 1))
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$NAME takes exactly (text, n); got ${exprs.length} args")
    SortedShinglesPackedExpr(exprs(0), exprs(1))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
