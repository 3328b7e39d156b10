package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** sorted_token_shingles(text, w): the SORTED DISTINCT token w-gram
  * array of a text in one compiled pass — exactly
  * `array_sort(tokenShingles(split(trim(text), "\\s+"), w))` (the
  * interpreted reference spelling in TextDedupSpec, lockstep-pinned), sharing [[MinHashSigsTokens]]'s byte-level
  * tokenizer so split semantics can never diverge between the
  * signature and verify sides of the token dedup pipelines.
  *
  * Why an expression: the HOF spelling materializes the token array,
  * the gram array (one array_join per position), array_distinct and
  * array_sort — four interpreted passes per document on the verify
  * side of every token near-dup pipeline. Returns an empty array for
  * texts with fewer than w tokens (the reference CASE's semantics).
  */
case class SortedTokenShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"${SortedTokenShingles.NAME} arg 1 must be STRING")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"${SortedTokenShingles.NAME} arg 2 (w) must be a foldable INT")
    else right.eval() match {
      case null =>
        TypeCheckResult.TypeCheckFailure(s"${SortedTokenShingles.NAME} w must be non-NULL")
      case w: Int if w < 1 =>
        TypeCheckResult.TypeCheckFailure(s"${SortedTokenShingles.NAME} needs w >= 1")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  private lazy val w: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, wv: Any): Any =
    SortedTokenShingles.compute(t.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => s"""
      ${ev.value} = graft.plans.SortedTokenShingles.compute($t, $w);
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedTokenShingles {
  val NAME = "sorted_token_shingles"

  /** One pass; called from generated code. */
  def compute(text: UTF8String, w: Int): ArrayData = {
    val bytes = text.getBytes
    val (offs, lens) = MinHashSigsTokens.tokenize(bytes)
    val nTok = offs.length
    if (nTok < w) return new GenericArrayData(Array.empty[Any])
    val nGrams = nTok - w + 1
    var maxGram = 0
    var p = 0
    while (p < nGrams) {
      var g = w - 1
      var j = 0
      while (j < w) { g += lens(p + j); j += 1 }
      if (g > maxGram) maxGram = g
      p += 1
    }
    val buf = new Array[Byte](maxGram)
    val grams = new Array[UTF8String](nGrams)
    p = 0
    while (p < nGrams) {
      val len = MinHashSigsTokens.gramInto(bytes, offs, lens, p, w, buf)
      grams(p) = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
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
        s"$NAME takes exactly (text, w); got ${exprs.length} args")
    SortedTokenShinglesExpr(exprs(0), exprs(1))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
