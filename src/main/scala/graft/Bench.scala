package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Hardened against host noise and silent failures:
  *  - one untimed warmup query absorbs JVM/codegen/parquet-footer warmup
  *    so the first timed query isn't charged for it;
  *  - each query runs SPARK_GRAFT_REPS times (default 2) and reports the
  *    per-query MIN — run-to-run variance on this host is multi-x;
  *  - a query with any crashing rep is recorded in "failed" (and
  *    excluded from "queries"/total) instead of logging a fake fast time;
  *  - the JSON line is also written to a file (a bounded stdout
  *    capture can truncate the per-query map; a file is the only
  *    truncation-proof per-query history): SPARK_GRAFT_BENCH_OUT if
  *    set (`=BENCH_QUERIES.json` updates the committed artifact), else the gitignored
  *    target/BENCH_QUERIES.json — so default runs never clobber the
  *    reconciled committed artifact;
  *  - a SHORT total-only JSON line follows the big one, so a bounded
  *    stdout capture that truncates the per-query map still carries the
  *    headline number.
  *
  * This object also holds the one walk over the query catalogue that
  * every catalogue main (Bench, Verify, tools.QueryMetrics,
  * tools.PlanDump) runs on: the table directory, the selection, the
  * sink, the untimed set-up and the per-query attempt.
  */
object Bench {
  /** The tables the catalogue mains read (Verify takes its own from the
    * command line). */
  def sfDir: String = sys.env.getOrElse(Env.SfDir, "/root/testdata/sf0.1")

  /** The queries a run walks: those whose name matches the
    * SPARK_GRAFT_ONLY regex, else the whole catalogue. A `timed` run
    * without the regex also skips the fixed-size semantics audits
    * (benchExcluded); the regex still selects them for dev timing. */
  def catalogue(timed: Boolean): Map[String, Q] = sys.env.get(Env.Only) match {
    case Some(re) => SparkEntry.queries.filter(_._1.matches(re))
    case None if timed => SparkEntry.queries -- SparkEntry.benchExcluded
    case None => SparkEntry.queries
  }

  /** Consume via the noop sink, NOT count(): Dataset.count() rewrites
    * to Aggregate(count(1)) and column pruning then deletes the very
    * projections being benchmarked (q69's whole quantization, q56's
    * scaled-long sums would time as scan+count). The noop write forces
    * every output column through the full plan and discards rows
    * executor-side — no driver collect, no disk. */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Untimed set-up before a walk over `queries`:
    *  - a warmup: a DETERMINISTIC join+agg query (q02) exercises
    *    codegen, shuffle and the parquet reader once before any
    *    measurement; under a subset filter, the first selected name;
    *  - the memoized per-process fixtures (the media container encode,
    *    the persisted store/index builds) are built here, so they are
    *    charged to set-up instead of whichever query comes first. The
    *    builds run EAGERLY at DataFrame-construction time inside
    *    Scratch.ensure / the media memo, so constructing the frame is
    *    enough. Store/media queries then time SERVING on every rep. */
  def prepare(tag: String, spark: SparkSession, sfDir: String, queries: Map[String, Q]): Unit = {
    val warmup = queries.get("q02_revenue_by_nation").map("q02_revenue_by_nation" -> _)
      .orElse(queries.toSeq.sortBy(_._1).headOption)
    warmup.foreach { case (n, fn) => attempt(s"$tag WARMUP", n)(consume(fn(spark, sfDir))) }
    SparkEntry.benchBuilds.filter(queries.contains).foreach { n =>
      attempt(s"$tag SETUP", n)(queries(n)(spark, sfDir))
    }
  }

  /** Run `body`; a NonFatal throw prints `<tag> FAIL <name>: <cause>`
    * and gives `Left(cause)`, the cause being `<class>: <message>`.
    * Caches and pins are released either way, so nothing a query
    * registered outlives its attempt. */
  private def attempt[A](tag: String, name: String)(body: => A): Either[String, A] =
    try Right(body)
    catch { case NonFatal(t) =>
      val cause = s"${t.getClass.getName}: ${t.getMessage}"
      Console.err.println(s"$tag FAIL $name: $cause")
      Left(cause)
    }
    finally Caches.releaseAll()

  /** The walk: one attempt of `body` per query, in name order. It ends
    * with one summary line naming the failed queries and returns the
    * results of the queries that succeeded and each failed query with
    * its cause (`<class>: <message>`), both in name order. */
  def walk[A](tag: String, queries: Map[String, Q])(body: (String, Q) => A): (Seq[(String, A)], Seq[(String, String)]) = {
    val tried = queries.toSeq.sortBy(_._1).map { case (n, fn) => n -> attempt(tag, n)(body(n, fn)) }
    val failed = tried.collect { case (n, Left(cause)) => n -> cause }
    Console.err.println(s"$tag DONE ${tried.size - failed.size} of ${tried.size} ok; failed: " +
      (if (failed.isEmpty) "none" else failed.map(_._1).mkString(", ")))
    (tried.collect { case (n, Right(a)) => n -> a }, failed)
  }

  /** Every rep of one query, as (build ms, exec ms): build is frame
    * construction, including any eager work the query does there; exec
    * is the noop write. `n` reps, topped up to four when the fastest is
    * under a second: min-of-2 on a trivial line still carried 8–10×
    * host-noise swings between runs of byte-identical code (q06/q15).
    * A rep that throws fails the query. */
  def reps(spark: SparkSession, sfDir: String, fn: Q, n: Int): Seq[(Long, Long)] = {
    def rep(): (Long, Long) =
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        consume(df)
        ((t1 - t0) / 1000000, (System.nanoTime() - t1) / 1000000)
      } finally Caches.releaseAll() // each rep pays its own cache cost
    val first = Seq.fill(n)(rep())
    if (first.map(r => r._1 + r._2).min < 1000 && n < 4) first ++ Seq.fill(4 - n)(rep())
    else first
  }

  def main(args: Array[String]): Unit = {
    val nReps = sys.env.getOrElse(Env.Reps, "2").toInt.max(1)
    val spark = Session.local()
    val selected = catalogue(timed = true)
    prepare("BENCH", spark, sfDir, selected)
    // per-process leak diagnostic: every 50 queries,
    // one stderr line with heap, registered-pin count, live persistent
    // RDDs, and the scratch shuffle footprint — the drift signature
    // (any of these growing run-long) now has a committed trace.
    var qIndex = 0
    // cumulative stop-the-world GC time: a dispersion suspect —
    // spark.cleaner.periodicGC fires System.gc() every minute, and a
    // full GC on a pre-touched 30g heap is a multi-second pause charged
    // to whichever query is running (BENCH SPREAD below localizes it)
    def gcMs: Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var t = 0L
      while (it.hasNext) { val b = it.next(); if (b.getCollectionTime > 0) t += b.getCollectionTime }
      t
    }
    def leakLine(): Unit = {
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      val nRdds = spark.sparkContext.getPersistentRDDs.size
      Console.err.println(
        s"BENCH DIAG q#$qIndex heapMB=$heapMb persistentRDDs=$nRdds pinned=${Caches.pinnedCount} gcMs=$gcMs")
    }
    val (results, failed) = walk("BENCH", selected) { (name, fn) =>
      // DIAG reports the state AFTER query #qIndex's reps complete, so
      // it fires here, before the next query starts (emitting it before
      // a query ran reported pre-query process state under a post-query
      // label — off-by-one vs BENCH TIME #N)
      if (qIndex > 0 && qIndex % 50 == 0) leakLine()
      qIndex += 1
      val gc0 = gcMs
      val all = reps(spark, sfDir, fn, nReps)
      val times = all.map { case (b, e) => (b + e) / 1e3 }
      // Dispersion localizer: when this query's reps
      // disagree by >3x, print EVERY rep time plus the GC time the
      // query's reps accumulated — separates a one-rep environmental
      // pause (min-of-reps already absorbs it) from an all-reps state
      // change (plan/stat flip: the min itself moved).
      if (times.length > 1 && times.min > 0 && times.max / times.min > 3)
        Console.err.println(s"BENCH SPREAD #$qIndex $name " +
          s"reps=[${times.map(t => f"$t%.3f").mkString(",")}] gcMsDelta=${gcMs - gc0}")
      // stderr trace with the RUN POSITION — the drift diagnostic: lets
      // two runs be compared positionally — and the fastest rep's split
      val (b, e) = all.minBy { case (b, e) => b + e }
      Console.err.println(f"BENCH TIME #$qIndex $name ${(b + e) / 1e3}%.3f build=${b / 1e3}%.3f exec=${e / 1e3}%.3f")
      (b + e) / 1e3
    }
    leakLine() // closing diagnostic: end-of-run process state
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map { case (n, _) => "\"" + n + "\"" }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"reps":$nReps,"sf":"$sfDir"}"""
    println(line)
    // truncation-proof summary: a bounded stdout capture can lose the
    // head of the big line above; this one is < 120 bytes and LAST
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size}}""")
    // One-artifact protocol: the COMMITTED BENCH_QUERIES.json is
    // updated ONLY on an explicit SPARK_GRAFT_BENCH_OUT=BENCH_QUERIES.json
    // — default runs overwriting the reconciled artifact in the working
    // tree is the failure this prevents. Default full runs land in
    // target/BENCH_QUERIES.json (gitignored, still truncation-proof for
    // reading back); SPARK_GRAFT_ONLY subset dev runs write only when
    // BENCH_OUT is explicitly set.
    val out = sys.env.get(Env.BenchOut).orElse {
      if (sys.env.contains(Env.Only)) None
      else Some("target/BENCH_QUERIES.json")
    }
    out.foreach { o =>
      try {
        val p = java.nio.file.Paths.get(o)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
      }
      catch { case e: java.io.IOException =>
        Console.err.println(s"BENCH: could not write $o: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
