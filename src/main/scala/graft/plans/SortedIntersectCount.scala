package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, NullType, StringType}

/** |A ∩ B| for two SORTED, DISTINCT string OR bigint arrays via a
  * two-pointer merge ([[SortedIntersectCount.compute]]) — O(|A|+|B|),
  * zero allocation, called from whole-stage codegen.
  *
  * Built because Spark's ArrayIntersect evaluates interpreted and
  * builds a hash set per call: on the dedup verify path (millions of
  * candidate pairs × ~300-shingle arrays) that is the entire runtime,
  * and its constant factor degrades badly on large heaps. Sorting the
  * arrays once per document (array_sort in the plan) converts every
  * pair evaluation into a branch-predictable merge scan.
  *
  * Inputs MUST be sorted ascending and duplicate-free (array_sort ∘
  * array_distinct) — garbage in, garbage out, exactly like a merge
  * join on unsorted input. Exposed to plans via [[SortedIntersectCount.register]]
  * + `expr("sorted_intersect_count(a, b)")`.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  /** Analysis-time type validation: both inputs must be ARRAY<STRING>,
    * or both ARRAY<BIGINT> (the [[SortedShinglesPacked]] spelling).
    * Without this, a misuse like sorted_intersect_count(arr_of_int, x)
    * would pass analysis and fail deep in codegen/runtime. */
  override def checkInputDataTypes(): TypeCheckResult = {
    // NullType element = the empty array() literal — trivially valid
    // (the merge loop never dereferences an element of an empty array)
    def elem(t: DataType): Option[DataType] = t match {
      case ArrayType(e @ (StringType | LongType), _) => Some(e)
      case ArrayType(NullType, _) => None // empty literal: matches either
      case _ => Some(t) // non-array / bad element — fails the check below
    }
    val (l, r) = (elem(left.dataType), elem(right.dataType))
    val bothOk = Seq(l, r).flatten.forall(t => t == StringType || t == LongType)
    val sameElem = (l, r) match {
      case (Some(a), Some(b)) => a == b
      case _ => true
    }
    if (bothOk && sameElem) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${SortedIntersectCount.NAME} requires matching (ARRAY<STRING>, ARRAY<STRING>) " +
        s"or (ARRAY<BIGINT>, ARRAY<BIGINT>), " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  /** Element type driving the comparison — resolved at analysis time
    * and passed to [[SortedIntersectCount.compute]] as a literal, so the
    * JIT folds the branch (no per-row dispatch). */
  private lazy val longElems: Boolean = Seq(left.dataType, right.dataType).exists {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val n = SortedIntersectCount.compute(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], longElems)
    if (n < 0) null else n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.plans.SortedIntersectCount.compute($a, $b, $longElems);
      if (${ev.value} < 0) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  val NAME = "sorted_intersect_count"

  /** |a ∩ b| by a two-pointer merge over sorted distinct arrays of
    * BIGINT (`longElems`) or STRING elements, or -1 for NULL (a count is
    * never negative): a NULL element reached by the merge poisons the
    * result, since sortedness is undefined with nulls. */
  def compute(a: ArrayData, b: ArrayData, longElems: Boolean): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return -1
      val c =
        if (longElems) java.lang.Long.compare(a.getLong(i), b.getLong(j))
        else a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Arity-checked builder shared by both registration paths; element
    * types are validated by checkInputDataTypes at analysis time. */
  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$NAME takes exactly 2 arguments (sorted ARRAY<STRING>, sorted ARRAY<STRING>); got ${exprs.length}")
    SortedIntersectCount(exprs(0), exprs(1))
  }

  /** Idempotent per-session SQL registration; afterwards the expression
    * is reachable from any plan via expr("sorted_intersect_count(a,b)"). */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
