package graft.tools

/** Dev tool: print condensed final physical plans for a query subset —
  * the fast way to eyeball pushdown/pruning/joins/codegen after a plan
  * change.
  *
  *   sbt "runMain graft.tools.ExplainAudit q44.* /root/testdata/sf0.01"
  */
object ExplainAudit {
  private val Interesting =
    Seq("Scan", "Exchange", "HashAggregate", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
      "WholeStageCodegen", "PushedFilters", "Window", "Expand")

  def main(args: Array[String]): Unit = {
    val pattern = args.headOption.getOrElse(".*")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.matches(pattern))
      .foreach { case (name, fn) =>
        println(s"===== $name =====")
        val df = fn(spark, sfDir)
        df.collect() // finalize the adaptive plan
        df.queryExecution.executedPlan.toString.linesIterator
          .filter(l => Interesting.exists(l.contains))
          .map(_.replaceAll("^\\s+", "  ").take(200))
          .foreach(println)
        graft.Caches.releaseAll()
      }
    spark.stop()
  }
}
