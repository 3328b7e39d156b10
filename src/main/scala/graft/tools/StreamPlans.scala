package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/** Internal micro-batch plan fingerprints for the streaming audit
  * loops.
  *
  * PLANS.json nets every non-audit BATCH plan, but a streaming audit's
  * outer plan is a constant scan of its folded result — the plans that
  * actually carry the operator shapes (state restore/save, stream
  * joins, the per-batch dedup/anti-join chains) are the per-batch
  * `IncrementalExecution`s inside each loop. This recorder nets them:
  * `Streaming.drain`, the one runner every checkpointed loop goes
  * through, calls [[record]] in its foreachBatch closure, which — when
  * collection is enabled — fingerprints the CURRENT batch's
  * IncrementalExecution physical plan (at foreachBatch time the active
  * query's `lastExecution` IS the running batch) into a per-loop set.
  * The tests' catalogue pass enables collection while it runs every
  * loop, and StreamPlanFingerprintSpec diffs the collected sets against
  * the committed STREAMPLANS.json (update via SPARK_GRAFT_PLANS_UPDATE=1,
  * same workflow as PLANS.json).
  *
  * Disabled (the default, incl. Verify/Bench/production): `record` is
  * one atomic-boolean read — zero cost in the hot loop.
  */
object StreamPlans {
  private val on = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val acc = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentSkipListSet[String]]()

  def enable(): Unit = { acc.clear(); on.set(true) }
  def disable(): Unit = on.set(false)

  /** Fingerprint the running micro-batch's plan for `loop`. Call ONLY
    * from inside a foreachBatch closure (that is the moment the active
    * query's lastExecution is the in-flight batch). The batch frame's
    * session is a SINK CLONE whose sessionState carries a fresh, EMPTY
    * StreamingQueryManager — the active query is registered on the
    * session that STARTED it, so the default/active sessions are
    * scanned as well. */
  def record(loop: String, s: SparkSession): Unit = if (on.get()) {
    val sessions = Seq(s) ++ SparkSession.getDefaultSession ++ SparkSession.getActiveSession
    sessions.distinct.flatMap(_.streams.active).distinct.foreach {
      case w: StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).foreach { ie =>
          val fp = PlanFingerprint.fingerprint(ie.executedPlan.toString)
          acc.computeIfAbsent(loop,
            _ => new java.util.concurrent.ConcurrentSkipListSet[String]()).add(fp)
        }
      case _ => ()
    }
  }

  /** Loop → sorted distinct per-batch fingerprints collected so far. */
  def collected: Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.map { case (k, v) => k -> v.asScala.toSeq.sorted }.toMap
  }
}
