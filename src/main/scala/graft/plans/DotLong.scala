package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Σ_i a_i · b_i over two ARRAY<BIGINT> columns as one codegen'd
  * primitive loop — the exact integer dot product the quantized-vector
  * operators use (q154's MMR relevance/similarity over q69 int8 codes).
  *
  * Same motivation as [[DotScaled]]: the HOF spelling
  * (`aggregate(zip_with(a, b, (x, y) -> x * y), 0L, ...)`) runs
  * interpreted (higher-order functions are CodegenFallback), boxing
  * every element and allocating lambda frames per pair — measured 6×
  * slower across a corpus × query-set scan. Integer arithmetic means
  * no rounding concerns at all: any evaluation order gives the same
  * sum, so codegen'd and HOF spellings agree bit for bit (pinned by a
  * lockstep law in SimilaritySpec).
  *
  * Degenerate-case parity with the HOF spelling: unequal lengths yield
  * NULL (zip_with null-pads the shorter side, poisoning the sum), and
  * a NULL element poisons to NULL.
  */
case class DotLong(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def elemOk(t: DataType) = t match {
    // NullType: the empty array() literal — dot_long(array(), array()) = 0
    case ArrayType(LongType | org.apache.spark.sql.types.NullType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${DotLong.NAME} requires (ARRAY<BIGINT>, ARRAY<BIGINT>), " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (DotScaled.defined(a, b)) DotLong.compute(a, b) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.plans.DotScaled.defined($a, $b)) {
        ${ev.value} = graft.plans.DotLong.compute($a, $b);
      } else { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotLong {
  val NAME = "dot_long"

  /** Σ a_i · b_i over two arrays that [[DotScaled.defined]] accepts. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    var s = 0L
    var i = 0
    while (i < a.numElements()) {
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$NAME takes exactly 2 array arguments; got ${exprs.length}")
    DotLong(exprs(0), exprs(1))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
