package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Per-block kernels for the distributed affine linear-recurrence scan
  * (`graft.operators.Prefix.affineScanExc`): a sequence of affine maps
  * f_i(y) = a_i·y + b_i composes left-to-right, and each position needs
  * the EXCLUSIVE composition of everything before it —
  *
  *   A_exc(0) = 1,  A_exc(i) = A_exc(i-1) · a_{i-1}
  *   B_exc(0) = 0,  B_exc(i) = a_{i-1} · B_exc(i-1) + b_{i-1}
  *
  * so that fold-from-0 of the prefix is exactly B_exc and any incoming
  * carry y composes as A_exc·y + B_exc. No Spark higher-order function
  * expresses a SCAN (aggregate folds to one value; transform is
  * pointwise), and the O(n²) transform-over-prefix-slices spelling is
  * both quadratic and CodegenFallback — these two kernels are each ONE
  * primitive-double loop ([[AffineScan.prodA]], [[AffineScan.scanB]]),
  * O(n), allocation-free beyond the output array. They stay
  * lockstep-pinned against the interpreted quadratic spelling in
  * PrefixSpec.
  *
  * Null semantics (repo convention, cf. [[RandomProject]]): NULL input
  * array → NULL; a NULL element poisons to NULL; mismatched a/b lengths
  * in the B kernel → NULL (zip misuse, never silent truncation).
  */
case class AffineProdA(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${AffineScan.PROD_NAME} requires ARRAY<DOUBLE>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    AffineScan.prodA(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.plans.AffineScan.prodA($a);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class AffineScanB(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${AffineScan.SCAN_NAME} requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(as: Any, bs: Any): Any =
    AffineScan.scanB(as.asInstanceOf[ArrayData], bs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (as, bs) => s"""
      ${ev.value} = graft.plans.AffineScan.scanB($as, $bs);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object AffineScan {
  val PROD_NAME = "affine_prod_a"
  val SCAN_NAME = "affine_scan_b"

  /** A_exc of `a`; NULL if an element is NULL. */
  def prodA(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var acc = 1.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      out(i) = acc
      acc = acc * a.getDouble(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** B_exc of the pairs (a_i, b_i); NULL if an element is NULL or the
    * lengths differ. */
  def scanB(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      out(i) = acc
      acc = a.getDouble(i) * acc + b.getDouble(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  def register(spark: SparkSession): Unit = {
    Registration.tempFunction(spark, PROD_NAME, {
      case Seq(a) => AffineProdA(a)
      case other => throw new IllegalArgumentException(
        s"$PROD_NAME(as); got ${other.length} args")
    })
    Registration.tempFunction(spark, SCAN_NAME, {
      case Seq(a, b) => AffineScanB(a, b)
      case other => throw new IllegalArgumentException(
        s"$SCAN_NAME(as, bs); got ${other.length} args")
    })
  }
}
