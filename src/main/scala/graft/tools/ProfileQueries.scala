package graft.tools

import graft.Env

/** Dev-only per-query cost-class profiler (not part of the driver
  * contract; `runMain graft.tools.ProfileQueries [regex]`).
  *
  * Splits each query's wall time into the three cost classes the bench
  * min-of-reps actually charges (decide WHERE the time goes before
  * touching anything):
  *   - build: constructing the DataFrame (includes any eager work the
  *     query does at construction time: fanOut's `.rdd` partition-count
  *     probe, maybeBroadcast's optimizedPlan.stats, store builds);
  *   - plan: forcing `queryExecution.executedPlan` of the final frame
  *     (Catalyst analysis + optimization + physical planning — paid on
  *     EVERY rep because each rep rebuilds the frame);
  *   - exec: the noop-sink consume (includes AQE re-planning and
  *     codegen; codegen is warm by rep 2, which is what min-of-reps
  *     reports, so this profiler times a SECOND iteration after a warm
  *     first).
  * Output: one TSV line per query on stdout, sorted by total desc.
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse(Env.SfDir, "/root/testdata/sf0.1")
    val re = args.headOption.getOrElse(".*")
    val spark = graft.Session.local()
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val selected = (graft.SparkEntry.queries -- graft.SparkEntry.benchExcluded)
      .filter(_._1.matches(re)).toSeq.sortBy(_._1)
    // warmup (same as Bench)
    selected.find(_._1 == "q02_revenue_by_nation").orElse(selected.headOption)
      .foreach { case (_, fn) =>
        try consume(fn(spark, sfDir))
        catch { case t: Throwable =>
          System.err.println(s"PROFILE WARMUP: ${t.getClass.getSimpleName}: ${t.getMessage}")
        }
        finally graft.Caches.releaseAll()
      }
    graft.SparkEntry.benchBuilds.filter(n => selected.exists(_._1 == n)).foreach { n =>
      try { graft.SparkEntry.queries(n)(spark, sfDir); () }
      catch { case t: Throwable =>
        System.err.println(s"PROFILE SETUP $n: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      finally graft.Caches.releaseAll()
    }
    case class P(name: String, build: Double, plan: Double, exec: Double) {
      def total: Double = build + plan + exec
    }
    val rows = selected.flatMap { case (name, fn) =>
      try {
        // warm pass (absorbs codegen compile, parquet footers for this query)
        try consume(fn(spark, sfDir)) finally graft.Caches.releaseAll()
        // measured pass = what bench min-of-reps reports
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force physical planning
        val t2 = System.nanoTime()
        consume(df)
        val t3 = System.nanoTime()
        graft.Caches.releaseAll()
        Some(P(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
      } catch {
        case t: Throwable =>
          System.err.println(s"PROFILE FAIL $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
          graft.Caches.releaseAll(); None
      }
    }
    println("query\tbuild\tplan\texec\ttotal")
    rows.sortBy(-_.total).foreach { p =>
      println(f"${p.name}\t${p.build}%.3f\t${p.plan}%.3f\t${p.exec}%.3f\t${p.total}%.3f")
    }
    val (b, pl, e) = (rows.map(_.build).sum, rows.map(_.plan).sum, rows.map(_.exec).sum)
    println(f"TOTALS\t$b%.2f\t$pl%.2f\t$e%.2f\t${b + pl + e}%.2f n=${rows.size}")
    spark.stop()
  }
}
