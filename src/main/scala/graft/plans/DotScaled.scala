package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Σ_i floor(a_i · b_i · 1e14) over two numeric arrays, as one codegen'd
  * loop returning LONG — the scaled-long fixed-point dot product every
  * similarity operator uses (see graft.similarity.Similarity).
  *
  * Built because the HOF spelling (`aggregate(zip_with(...))`) runs
  * interpreted: Spark's higher-order functions are CodegenFallback, so
  * every pair evaluation allocates lambda frames and boxes elements —
  * measurable across millions of candidate pairs, and the documented
  * local perf cliff for array ops. This expression is the same IEEE
  * arithmetic — ((a_i · b_i) · 1e14), floor, sum as long — in a tight
  * primitive loop inside WholeStageCodegen.
  *
  * Semantics match the HOF spelling exactly, including the degenerate
  * case: unequal lengths yield NULL (zip_with null-pads the shorter
  * side, poisoning the sum). Element types: ARRAY<FLOAT> or
  * ARRAY<DOUBLE> on either side.
  */
case class DotScaled(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def elemOk(t: DataType) = t match {
    // NullType: the empty array() literal (and array(NULL), whose null
    // elements poison to NULL below) — keeps HOF-spelling parity, where
    // dotScaled(array(), array()) = 0
    case ArrayType(FloatType | DoubleType | org.apache.spark.sql.types.NullType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${DotScaled.NAME} requires (ARRAY<FLOAT|DOUBLE>, ARRAY<FLOAT|DOUBLE>), " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")

  private def isFloat(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (DotScaled.defined(a, b)) DotScaled.compute(a, b, isFloat(left), isFloat(right))
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.plans.DotScaled.defined($a, $b)) {
        ${ev.value} = graft.plans.DotScaled.compute($a, $b, ${isFloat(left)}, ${isFloat(right)});
      } else { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotScaled {
  val NAME = "dot_scaled"

  /** Whether a pairwise dot product of `a` and `b` is defined: equal
    * lengths and no NULL element (a NULL element poisons the sum, and
    * zip_with null-pads the shorter side). Shared by [[DotLong]]. */
  def defined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Σ floor(a_i · b_i · 1e14) over two arrays that [[defined]] accepts;
    * `aFloat`/`bFloat` pick FLOAT over DOUBLE elements per side. */
  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Long = {
    var s = 0L
    var i = 0
    while (i < a.numElements()) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += math.floor(x * y * 1e14).toLong
      i += 1
    }
    s
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$NAME takes exactly 2 array arguments; got ${exprs.length}")
    DotScaled(exprs(0), exprs(1))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
