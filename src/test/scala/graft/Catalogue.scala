package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.tools.{PlanFingerprint, StreamPlans}

/** One pass over the whole query catalogue, shared by every check that
  * needs all of it: RelationalSpec's rows test, PlanSpec's cross-product
  * and lazy-plan tests, PlanFingerprintSpec and StreamPlanFingerprintSpec.
  *
  * The pass builds each of the 259 queries once, in name order. From the
  * unexecuted physical plan it keeps the operator-multiset fingerprint
  * and the cross-product count, then runs `count()` and releases the
  * query's caches. The audit queries run their checkpointed streaming
  * loops during construction, and `StreamPlans` collection is on for
  * the whole pass, so their per-batch plans are recorded on the way; a
  * two-chunk `incrementalAppend` replay, which no query drives, closes
  * the window.
  *
  * Records hold strings and numbers only. A query that throws is kept
  * as `name -> "<class>: <message>"` and the pass goes on, so every
  * check still reports on the other queries. The suites share one
  * forked JVM and one session (build.sbt, [[SparkSpec]]), so the pass
  * runs once per suite run.
  */
object Catalogue {

  /** What the pass kept of one query that built and counted. `plan` is
    * the unexecuted physical plan's text. */
  final case class Record(plan: String, fingerprint: String, crossProducts: Int,
                          analyzed: Boolean, rows: Long)

  final case class Pass(
      records: Map[String, Record],
      failed: Map[String, String],
      streamPlans: Map[String, Seq[String]],
      replayFailure: Option[String]) {

    /** `failed` as report lines, sorted by query name. */
    def failures: Seq[String] =
      failed.toSeq.sorted.map { case (name, cause) => s"$name threw $cause" }
  }

  /** Operators that pair every row of one side with every row of the
    * other. */
  private val CrossProduct = "CartesianProduct|BroadcastNestedLoopJoin".r

  private def attempt[A](body: => A): Either[String, A] =
    try Right(body) catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  private var memo: Option[Pass] = None

  /** The pass over the tables in `sf`, run on the first call; every later
    * call returns the same records. It never throws, so a failure is
    * recorded once instead of running the whole pass again. */
  def pass(spark: SparkSession, sf: String): Pass = synchronized {
    memo.getOrElse { val p = run(spark, sf); memo = Some(p); p }
  }

  private def run(spark: SparkSession, sf: String): Pass = {
    Caches.releaseAll()
    StreamPlans.enable()
    try {
      val outcomes = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
        name -> attempt {
          try {
            val df = q(spark, sf)
            val plan = df.queryExecution.executedPlan.toString
            Record(plan, PlanFingerprint.fingerprint(plan), CrossProduct.findAllIn(plan).size,
              df.queryExecution.analyzed != null, df.count())
          } finally Caches.releaseAll()
        }
      }
      val replay = attempt(replayIncrementalAppend(spark, sf)).left.toOption
      Pass(
        outcomes.collect { case (name, Right(r)) => name -> r }.toMap,
        outcomes.collect { case (name, Left(c)) => name -> c }.toMap,
        StreamPlans.collected,
        replay)
    } finally StreamPlans.disable()
  }

  /** `incrementalAppend` is the one foreachBatch loop no query drives:
    * one deterministic two-chunk replay puts its per-batch plans under
    * the STREAMPLANS.json net with the rest. */
  private def replayIncrementalAppend(spark: SparkSession, sf: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("catalogue_p2").toString
    try {
      val ev = Tables.events(spark, sf)
        .select("event_id", "ts", "value").orderBy("event_id")
      val schema = ev.schema
      Seq(ev.limit(200), ev.limit(400)).zipWithIndex.foreach { case (chunk, i) =>
        chunk.write.mode("overwrite").parquet(s"$tmp/landing/c$i")
        graft.streaming.Streaming.incrementalAppend(
          spark, s"$tmp/landing/c$i", s"$tmp/store", s"$tmp/ckpt$i", schema)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      Caches.releaseAll()
    }
  }
}
