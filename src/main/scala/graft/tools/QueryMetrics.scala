package graft.tools

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.Bench

/** Dev-only: run each query SPARK_GRAFT_ONLY selects (else every one)
  * through the noop sink, after Bench's warmup and fixture builds, and
  * print its FINAL executed plan tree with each operator's SQLMetrics —
  * a UI-less way to find where the time goes. Cached intermediates are
  * followed into their InMemoryRelation build plans.
  * Usage: SPARK_GRAFT_ONLY=<regex> runMain graft.tools.QueryMetrics
  */
object QueryMetrics {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val queries = Bench.catalogue(timed = false)
    Bench.prepare("METRICS", spark, Bench.sfDir, queries)
    // the noop write runs its OWN QueryExecution — capture it via a
    // listener, or the walked plan shows pristine (zero) metrics
    @volatile var last: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, d: Long): Unit = last = qe
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    Bench.walk("METRICS", queries) { (name, fn) =>
      val df = fn(spark, Bench.sfDir)
      Bench.consume(df)
      // the listener fires asynchronously; the write's execution is the
      // first one created after the frame's, so earlier queries' late
      // events are skipped. A short poll is enough for a dev tool.
      def written = Option(last).filter(_.id > df.queryExecution.id)
      var waited = 0
      while (written.isEmpty && waited < 50) { Thread.sleep(100); waited += 1 }
      println(s"===== $name =====")
      printPlan(written.getOrElse(df.queryExecution).executedPlan)
    }
    spark.stop()
  }

  private def printPlan(root: SparkPlan): Unit = {
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    def go(p: SparkPlan, depth: Int): Unit = {
      if (seen.containsKey(p)) return
      seen.put(p, p)
      val interesting = p.metrics.toSeq
        .filter { case (_, m) => m.value > 0 }
        .sortBy(_._1)
        .map { case (k, m) =>
          val v = m.value
          if (m.metricType == "timing") s"$k=${v}ms"
          else if (m.metricType == "nsTiming") f"$k=${v / 1e6}%.0fms"
          else if (v >= 1000000) s"$k=${v / 1000000}M"
          else if (v >= 10000) s"$k=${v / 1000}k"
          else s"$k=$v"
        }
      println("  " * depth + p.nodeName + "  " + interesting.mkString(" "))
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan, depth + 1)
        case q: QueryStageExec => go(q.plan, depth + 1)
        case im: InMemoryTableScanExec => go(im.relation.cachedPlan, depth + 1)
        case _ => p.children.foreach(go(_, depth + 1))
      }
      p.subqueries.foreach(go(_, depth + 1))
    }
    go(root, 0)
  }
}
