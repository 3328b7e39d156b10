package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span, filled from listener events. */
final class Counts {
  var jobs, stages, tasks = 0L
  var busyMs, schedDelayMs = 0L
  var shuffleRead, shuffleWrite, spill, resultBytes = 0L
  var sqlActions = 0L
  var sqlActionNs = 0L
}

final case class Span(name: String, start: Long, end: Long, parent: String, op: String)

/** Spans and counters recorded from the benchmark's side of each layer
  * boundary. A span names the Spark jobs it starts through the
  * `perfbench.span` local property, which `onJobStart` reads back. The
  * SQL listener sees no local properties, so it charges the op that is
  * open when its event is delivered (under the `sql` span name); the
  * op drains the bus before it ends. Both listeners are attached only
  * while tracing is on. */
final class Trace(spark: SparkSession, t0: Long) {
  val SpanKey = "perfbench.span"
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  val counts = new ConcurrentHashMap[String, Counts]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  @volatile private var open: String = "untagged"
  private var on = false

  private def of(key: String): Counts = counts.computeIfAbsent(key, _ => new Counts)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse("untagged")
      e.stageIds.foreach(stageKey.put(_, key))
      val c = of(key); c.synchronized(c.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = of(stageKey.getOrDefault(e.stageInfo.stageId, "untagged"))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = of(stageKey.getOrDefault(e.stageId, "untagged"))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.busyMs += m.executorRunTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
          val info = e.taskInfo
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
  }

  private val sql = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = of(open); c.synchronized { c.sqlActions += 1; c.sqlActionNs += durationNs }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      val c = of(open); c.synchronized(c.sqlActions += 1)
    }
  }

  def enable(b: Boolean): Unit = if (b != on) {
    on = b
    if (b) { sc.addSparkListener(jobs); spark.listenerManager.register(sql) }
    else { drain(); sc.removeSparkListener(jobs); spark.listenerManager.unregister(sql) }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Time `body` as span `name` of op `op`; with tracing off only the
    * duration is taken. Returns the result and the seconds it took. */
  def span[A](op: String, name: String, parent: String)(body: => A): (A, Double) = {
    val prev = sc.getLocalProperty(SpanKey)
    if (on) { sc.setLocalProperty(SpanKey, s"$op|$name"); open = s"$op|sql" }
    val s = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - s) / 1e9)
    } finally {
      val e = System.nanoTime()
      if (on) {
        sc.setLocalProperty(SpanKey, prev)
        spans += Span(name, s - t0, e - t0, parent, op)
      }
    }
  }

  /** Counters of every span of `op`, keyed by span name. Call after
    * [[drain]]. */
  def countsOf(op: String): Map[String, Counts] = {
    val out = mutable.Map[String, Counts]()
    counts.forEach { (k, v) =>
      val i = k.lastIndexOf('|')
      if (i > 0 && k.substring(0, i) == op) out(k.substring(i + 1)) = v
    }
    out.toMap
  }
}
