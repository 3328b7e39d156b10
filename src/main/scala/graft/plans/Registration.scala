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
  */
private[plans] object Registration {
  def tempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
