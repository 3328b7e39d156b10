package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DEFLATE-compressed byte length of a string at fixed level 6 (raw
  * stream, no zlib header) — the compression-ratio quality signal of
  * the Gopher/RefinedWeb filter families: natural prose compresses to
  * ~0.3–0.6 of its bytes, boilerplate/repetition far below, random
  * identifiers far above. Exposed as a codegen'd expression so the
  * signal joins the other quality columns inside WholeStageCodegen —
  * no UDF, no per-row lambda.
  *
  * The per-task `Deflater` is reused through a ThreadLocal (reset per
  * row): constructing one per row would churn native zlib state and
  * dominate the kernel. Determinism scope, stated honestly: the exact
  * byte length is a function of the JDK's bundled zlib, so it is
  * deterministic within an environment and across this repo's
  * Verify/Bench/spec runs, but is NOT oracle-hashable across engines
  * — the q124 report is rows-only with law-pinned semantics
  * (repetition compresses far below prose, random far above), the
  * same contract as the iterative BPE queries.
  */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${DeflateLen.NAME} requires STRING, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    DeflateLen.compressedLen(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.DeflateLen.compressedLen($c.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateLen {
  val NAME = "deflate_len"

  // Native-memory lifetime, stated explicitly: one Deflater
  // per executor THREAD, never end()'d — each pooled task thread pins a
  // few hundred KB of native zlib state for the thread's lifetime.
  // Executor task-pool threads are long-lived and bounded in count, so
  // this is the intended trade (ending per task would re-pay native
  // init on every task); a deployment with heavy thread churn would
  // scope the Deflater to TaskContext.addTaskCompletionListener instead.
  private val local = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, true)
  }

  /** Raw-DEFLATE length of `input` at level 6; thread-reused Deflater. */
  def compressedLen(input: Array[Byte]): Long = {
    val d = local.get()
    d.reset()
    d.setInput(input)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(s"$NAME takes exactly 1 string argument")
    DeflateLen(exprs.head)
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
