package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a text column in one compiled pass — the codegen'd
  * replacement for the HOF spelling kept in TextDedupSpec (nested
  * aggregate∘zip_with over 64 bit positions per token, which runs
  * interpreted: Spark's higher-order functions are CodegenFallback, so
  * every token pays 64 lambda frames and boxed longs; this is the
  * fingerprinting hot path of a corpus-wide dedup scan).
  *
  * Semantics are EXACTLY the HOF spelling (TextDedupSpec pins lockstep
  * equality on every fixture):
  *   tokens  = split(trim(text), '\s+', -1)   (SQL trim = ASCII-space
  *             only; SQL split keeps trailing empties — limit -1)
  *   votes_b = Σ_tokens (bit b of xxhash64(token, seed=42) ? +1 : -1)
  *   bit b of result set iff votes_b > 0
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${SimHash64.NAME} requires STRING, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  val NAME = "simhash64"

  private val WS = UTF8String.fromString("\\s+")

  /** One pass over the tokens; called from generated code (static
    * forwarder), so the whole fingerprint is a single compiled loop. */
  def compute(text: UTF8String): Long = {
    val toks = text.trim().split(WS, -1) // SQL trim/split parity
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = XxHash64Function.hash(toks(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"$NAME takes exactly 1 string argument; got ${exprs.length}")
    SimHash64Expr(exprs.head)
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
