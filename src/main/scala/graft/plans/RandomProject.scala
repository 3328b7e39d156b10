package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Johnson–Lindenstrauss ±1 sign projection `dIn → kOut` as ONE
  * codegen'd loop returning ARRAY<LONG> — the compiled kernel behind
  * q115 (`graft.similarity.Similarity`).
  *
  * Built for the same reason as [[DotScaled]]: the HOF spelling (kOut
  * independent `aggregate(zip_with(...))` folds) is CodegenFallback —
  * kOut interpreted passes over every embedding with boxed lambda
  * frames. This kernel reads each element ONCE, fixes it to 1e-6
  * integer precision, and accumulates all kOut projections in a
  * primitive long[] inside WholeStageCodegen — O(d·k) multiply-adds
  * with no allocation beyond the output array.
  *
  * The sign matrix is the SAME deterministic derivation as the HOF
  * spelling and the DuckDB oracle: sign(j, k) = +1 iff the first hex
  * char of md5("j:k") has even parity. It is precomputed once per
  * (dIn, kOut) at expression construction and shipped as a codegen
  * reference object — never recomputed per row, never an RNG.
  *
  * Semantics parity with the HOF spelling (SimilaritySpec pins
  * lockstep): an array whose length ≠ dIn yields NULL (zip_with
  * against a dIn-length literal would null-pad and poison), and a
  * NULL element poisons to NULL.
  */
case class RandomProject(child: Expression, kOut: Int, dIn: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${RandomProject.NAME} requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }

  private def isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Flattened sign matrix, signs(j * kOut + k) ∈ {+1, -1}. */
  @transient private lazy val signs: Array[Long] =
    RandomProject.signMatrix(dIn, kOut)

  override def nullSafeEval(input: Any): Any =
    RandomProject.compute(input.asInstanceOf[ArrayData], isFloat, signs, kOut, dIn)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("rpSigns", signs, "long[]")
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.plans.RandomProject.compute($a, $isFloat, $signsRef, $kOut, $dIn);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RandomProject {
  val NAME = "random_project"

  /** The kOut projections of `a` under the flattened sign matrix
    * `signs` (signs(j * kOut + k)); NULL if `a` is not dIn long or holds
    * a NULL element. `isFloat` picks FLOAT over DOUBLE elements. */
  def compute(a: ArrayData, isFloat: Boolean, signs: Array[Long],
      kOut: Int, dIn: Int): ArrayData = {
    if (a.numElements() != dIn) return null
    val out = new Array[Long](kOut)
    var j = 0
    while (j < dIn) {
      if (a.isNullAt(j)) return null
      val v = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      val vf = math.floor(v * 1e6).toLong
      var k = 0
      while (k < kOut) { out(k) += signs(j * kOut + k) * vf; k += 1 }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The ONE canonical sign derivation (shared with the interpreted
    * reference spelling in SimilaritySpec and the DuckDB oracle):
    * parity of the first hex char of md5("j:k"). */
  def signMatrix(dIn: Int, kOut: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](dIn * kOut)
    for (j <- 0 until dIn; k <- 0 until kOut) {
      val hex = md.digest(s"$j:$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      out(j * kOut + k) = if ("02468ace".contains(hex.head)) 1L else -1L
    }
    out
  }

  def build(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(arr, Literal(k: Int, IntegerType), Literal(d: Int, IntegerType)) =>
      RandomProject(arr, k, d)
    case _ => throw new IllegalArgumentException(
      s"$NAME(array, kOut literal int, dIn literal int); got ${exprs.length} args")
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
