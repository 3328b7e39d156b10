package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.Env

/** Dev-only: run one query (warm, noop sink) and print the FINAL
  * executed plan tree with each operator's SQLMetrics — a UI-less way
  * to find where the time goes. Cached intermediates are followed into
  * their InMemoryRelation build plans.
  * Usage: runMain graft.tools.QueryMetrics <queryName>
  */
object QueryMetrics {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse(Env.SfDir, "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val fn = graft.SparkEntry.queries(name)
    try { consume(fn(spark, sfDir)) } finally graft.Caches.releaseAll() // warm
    // the noop write runs its OWN QueryExecution — capture it via a
    // listener, or the walked plan shows pristine (zero) metrics
    @volatile var captured: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          captured = qe
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val t1 = System.nanoTime()
    consume(df)
    val t2 = System.nanoTime()
    // listener fires asynchronously; a short poll is enough for a dev tool
    var waited = 0
    while (captured == null && waited < 50) { Thread.sleep(100); waited += 1 }
    println(f"BUILD ${(t1 - t0) / 1e9}%.3f s  EXEC ${(t2 - t1) / 1e9}%.3f s")
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    def walk(p: SparkPlan, depth: Int): Unit = {
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
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, depth + 1)
        case im: InMemoryTableScanExec =>
          walk(im.relation.cachedPlan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(if (captured != null) captured.executedPlan
         else df.queryExecution.executedPlan, 0)
    graft.Caches.releaseAll()
    spark.stop()
  }
}
