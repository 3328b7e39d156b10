package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** sorted_shingles(text, n): the SORTED DISTINCT character n-gram array
  * of a text in one compiled pass — exactly
  * `array_sort(array_distinct(transform(...substring windows...)))`,
  * the per-doc shingle-array shape every exact-Jaccard verify joins in
  * (TextDedupSpec's `shingles` is the interpreted reference spelling,
  * lockstep-pinned).
  *
  * Why an expression: the HOF spelling materializes the gram array
  * interpreted (one substring allocation + lambda frame per character),
  * then array_distinct (hash set) and array_sort (comparator lambda)
  * re-walk it — three interpreted passes per document on the verify
  * side of every dedup pipeline. Here the grams are UTF8String views
  * windowed over precomputed code-point offsets, sorted with the same
  * binary ordering array_sort uses, deduped adjacently.
  *
  * Returns an empty array for texts shorter than n (the reference
  * CASE's semantics). `n` must be a foldable positive INT.
  */
case class SortedShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"${SortedShingles.NAME} arg 1 must be STRING")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(s"${SortedShingles.NAME} arg 2 (n) must be a foldable INT")
    else right.eval() match {
      case null => TypeCheckResult.TypeCheckFailure(s"${SortedShingles.NAME} n must be non-NULL")
      case n: Int if n < 1 => TypeCheckResult.TypeCheckFailure(s"${SortedShingles.NAME} needs n >= 1")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, nv: Any): Any =
    SortedShingles.compute(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => s"""
      ${ev.value} = graft.plans.SortedShingles.compute($t, $n);
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedShingles {
  val NAME = "sorted_shingles"

  /** One pass over the code-point offsets; called from generated code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val numChars = text.numChars()
    if (numChars < n) return new GenericArrayData(Array.empty[Any])
    val bytes = text.getBytes
    val starts = new Array[Int](numChars + 1)
    var ci = 0
    var bi = 0
    while (bi < bytes.length) {
      starts(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    starts(numChars) = bytes.length
    val nGrams = numChars - n + 1
    val grams = new Array[UTF8String](nGrams)
    var p = 0
    while (p < nGrams) {
      val off = starts(p)
      grams(p) = UTF8String.fromBytes(bytes, off, starts(p + n) - off)
      p += 1
    }
    // binary ordering — identical to array_sort's UTF8String comparator
    java.util.Arrays.sort(grams, null)
    var out = 0
    var i = 1
    while (i < nGrams) {
      if (!grams(i).equals(grams(out))) { out += 1; grams(out) = grams(i) }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      grams.asInstanceOf[Array[AnyRef]], out + 1))
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$NAME takes exactly (text, n); got ${exprs.length} args")
    SortedShinglesExpr(exprs(0), exprs(1))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
