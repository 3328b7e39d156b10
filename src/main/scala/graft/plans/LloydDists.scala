package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Per-vector distances to a BOUNDED literal centroid table, returned
  * as ARRAY<STRUCT<cdist: DOUBLE, c_cluster: BIGINT>> sorted ascending
  * by (cdist, c_cluster) — one codegen'd tight loop per row.
  *
  * Built for the lloydAssign family:
  * the former crossJoin(broadcast(cents)) + per-vector argmin exchange
  * carried the whole corpus through a shuffle; inlining the nCells-row
  * centroid table removes the exchanges, but spelling the 8×64-term
  * distance grid as a Catalyst expression tree (~4k nodes) ran outside
  * efficient whole-stage codegen and re-evaluated per consumer — this
  * kernel is the same IEEE arithmetic in a primitive loop:
  *   dist_c = Σ_i (x_i − c_{c,i})²   accumulated LEFT-ASSOCIATED
  * (loop order == the reduce(_ + _) order of lloydDist, ⇒ bit-identical
  * doubles), and the (cdist, c_cluster) sort is the same lexicographic
  * struct order min(struct)/array_sort used ⇒ identical argmins and
  * tie-breaks (SimilaritySpec pins kernel == join-route on the live
  * corpus).
  *
  * Degenerate parity with the element_at spelling it replaces: a NULL
  * embedding, a NULL element, or a vector SHORTER than the centroid
  * dims (element_at out of range ⇒ NULL poisons the sum) all yield
  * NULL distances — this kernel returns NULL for the whole row in
  * those cases (consumers never see them on real corpora; the old
  * spelling produced all-NULL dists likewise).
  */
case class LloydDists(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cdist", DoubleType, nullable = false),
      StructField("c_cluster", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = LloydDists.NAME

  private def vecOk(t: DataType) = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!vecOk(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"${LloydDists.NAME} arg 1 must be ARRAY<FLOAT|DOUBLE>, got ${first.dataType.catalogString}")
    else if (!second.foldable ||
             !second.dataType.isInstanceOf[ArrayType] ||
             !second.dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[ArrayType])
      TypeCheckResult.TypeCheckFailure(
        s"${LloydDists.NAME} arg 2 must be a foldable ARRAY<ARRAY<DOUBLE>> centroid table")
    else third.dataType match {
      case ArrayType(LongType, _) if third.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"${LloydDists.NAME} arg 3 must be a foldable ARRAY<BIGINT> of cell ids")
    }

  private def isFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** nCells × dims centroid matrix, folded once from the literal. */
  private lazy val cents: Array[Array[Double]] = {
    val a = second.eval().asInstanceOf[ArrayData]
    (0 until a.numElements()).map { c =>
      val row = a.getArray(c)
      (0 until row.numElements()).map(row.getDouble).toArray
    }.toArray
  }
  private lazy val cells: Array[Long] = {
    val a = third.eval().asInstanceOf[ArrayData]
    (0 until a.numElements()).map(a.getLong).toArray
  }

  /** The whole per-row kernel, shared by eval and codegen. */
  def compute(v: ArrayData): ArrayData = {
    val nCells = cents.length
    if (nCells == 0) return new GenericArrayData(Array.empty[Any])
    val dims = cents(0).length
    if (v.numElements() < dims) return null // element_at-out-of-range parity
    val x = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      if (v.isNullAt(i)) return null // null element poisons every dist
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val ds = new Array[Double](nCells)
    var c = 0
    while (c < nCells) {
      val ct = cents(c)
      var d = 0.0
      var j = 0
      while (j < dims) { val t = x(j) - ct(j); d += t * t; j += 1 }
      ds(c) = d
      c += 1
    }
    // sort indices by (dist, cell) — same lexicographic order as
    // min(struct)/array_sort over struct(cdist, c_cluster)
    val idx = (0 until nCells).toArray
    val boxed = idx.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val cmp = java.lang.Double.compare(ds(a), ds(b))
        if (cmp != 0) cmp else java.lang.Long.compare(cells(a), cells(b))
      }
    })
    val out = new Array[Any](nCells)
    var k = 0
    while (k < nCells) {
      val c2 = boxed(k).intValue()
      out(k) = new GenericInternalRow(Array[Any](ds(c2), cells(c2)))
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any, c: Any, l: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("lloydDists", this, classOf[LloydDists].getName)
    nullSafeCodeGen(ctx, ev, (v, _, _) => s"""
      ${ev.value} = $self.compute($v);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object LloydDists {
  val NAME = "lloyd_dists"

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"$NAME takes (vector, centroid-table literal, cell-id literal); got ${exprs.length} args")
    LloydDists(exprs(0), exprs(1), exprs(2))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
