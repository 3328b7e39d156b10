package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Shared idempotent SQL-function registration: the only path by
  * which the engine's custom expressions reach a session.
  *
  * Operators call `X.register(session)` before every use, so any
  * session, including one the library did not create, can run them.
  * `createOrReplaceTempFunction` is safe to repeat but logs a "replaced
  * a previously registered function" WARN each time; guarding on
  * existence keeps repeated registration silent.
  *
  * Every kernel registered here has ONE spelling of its per-row work: a
  * Scala `compute` on its companion object (LloydDists keeps it on the
  * instance, beside the centroids it folds; DeflateLen names it
  * `compressedLen`). Both `nullSafeEval` and the generated code call
  * it, so the interpreted and compiled paths cannot drift; `doGenCode`
  * only declares the call, handles NULL and passes analysis-time
  * constants (element types, sizes) as literals the JIT folds. No
  * generated code spells a loop (ExtensionsSpec scans for one).
  * Array kernels return NULL for a NULL result; scalar kernels signal
  * it without boxing, by a sentinel (`sorted_intersect_count`'s -1) or
  * a separate check ([[DotScaled.defined]]).
  */
private[plans] object Registration {
  def tempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
