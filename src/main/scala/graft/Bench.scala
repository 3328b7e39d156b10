package graft

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Hardened against host noise and silent failures:
  *  - one untimed warmup query absorbs JVM/codegen/parquet-footer warmup
  *    so the first timed query isn't charged for it;
  *  - each query runs SPARK_GRAFT_REPS times (default 2) and reports the
  *    per-query MIN — run-to-run variance on this host is multi-x;
  *  - a crashing query is recorded in "failed" (and excluded from
  *    "queries"/total) instead of logging a fake fast time;
  *  - the JSON line is also written to a file (the driver's bounded
  *    stdout capture truncated the per-query map in two consecutive
  *    round artifacts; a file is the only truncation-proof per-query
  *    history): SPARK_GRAFT_BENCH_OUT if set (`=BENCH_QUERIES.json`
  *    updates the committed artifact), else the gitignored
  *    target/BENCH_QUERIES.json — so default runs never clobber the
  *    reconciled committed artifact;
  *  - a SHORT total-only JSON line follows the big one, so a bounded
  *    stdout capture that truncates the per-query map still carries the
  *    headline number (a committed driver artifact once lost its total
  *    that way).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse(Env.SfDir, "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse(Env.Reps, "2").toInt.max(1)
    val spark = Session.local()
    // optional debug filter: SPARK_GRAFT_ONLY=regex runs a subset.
    // Full runs skip the fixed-size semantics audits (benchExcluded) —
    // an explicit ONLY regex still selects them for dev timing.
    val selected = sys.env.get(Env.Only) match {
      case Some(re) => SparkEntry.queries.filter(_._1.matches(re))
      case None => SparkEntry.queries -- SparkEntry.benchExcluded
    }
    // Consume via the noop sink, NOT count(): Dataset.count() rewrites
    // to Aggregate(count(1)) and column pruning then deletes the very
    // projections being benchmarked (q69's whole quantization, q56's
    // scaled-long sums would time as scan+count). The noop write
    // forces every output column through the full plan and discards
    // rows executor-side — no driver collect, no disk.
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Untimed warmup: a DETERMINISTIC join+agg query (not HashMap head
    // order) exercises codegen, shuffle and the parquet reader once
    // before any measurement; under a subset filter fall back to the
    // first selected name alphabetically.
    val warmupFn = selected.get("q02_revenue_by_nation")
      .orElse(selected.toSeq.sortBy(_._1).headOption.map(_._2))
    warmupFn.foreach { fn =>
      try consume(fn(spark, sfDir))
      catch { case t: Throwable =>
        System.err.println(s"BENCH WARMUP: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      finally Caches.releaseAll() // timed reps must not reuse warmup caches
    }
    // Untimed BUILD phase: memoized per-process
    // fixtures — the media container encode and the persisted store/
    // index builds — are triggered here, so they are charged to setup
    // instead of whichever query the map iterates first (the builds run
    // EAGERLY at DataFrame-construction time inside Scratch.ensure /
    // the media memo; constructing the plan is enough, no consume).
    // Store/media query lines then time SERVING on every rep,
    // independent of map iteration order.
    SparkEntry.benchBuilds.filter(selected.contains).foreach { n =>
      try { selected(n)(spark, sfDir); () }
      catch { case t: Throwable =>
        System.err.println(s"BENCH SETUP $n: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      finally Caches.releaseAll()
    }
    val failed = scala.collection.mutable.ListBuffer[String]()
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
      System.err.println(
        s"BENCH DIAG q#$qIndex heapMB=$heapMb persistentRDDs=$nRdds pinned=${Caches.pinnedCount} gcMs=$gcMs")
    }
    val results = selected.flatMap { case (name, fn) =>
      def runReps(n: Int): Seq[Double] = (1 to n).flatMap { _ =>
        val t0 = System.nanoTime()
        try { consume(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case t: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
          None
        }
        finally Caches.releaseAll() // each rep pays its own cache cost
      }
      qIndex += 1
      val gc0 = gcMs
      var times = runReps(reps)
      // Sub-second queries get extra reps: min-of-2 on
      // a trivial line still carried 8–10× host-noise swings between
      // artifacts (q06/q15 in BENCH_r08, on byte-identical code).
      // Extra reps on a < 1 s line are cheap by definition; the target
      // is min-of-4 so the committed artifact's sub-second cohort stops
      // moving multi-x on identical code.
      if (times.nonEmpty && times.min < 1.0 && reps < 4)
        times = times ++ runReps(4 - reps)
      // Dispersion localizer: when this query's reps
      // disagree by >3x, print EVERY rep time plus the GC time the
      // query's reps accumulated — separates a one-rep environmental
      // pause (min-of-reps already absorbs it) from an all-reps state
      // change (plan/stat flip: the min itself moved).
      if (times.length > 1 && times.min > 0 && times.max / times.min > 3)
        System.err.println(s"BENCH SPREAD #$qIndex $name " +
          s"reps=[${times.map(t => f"$t%.3f").mkString(",")}] gcMsDelta=${gcMs - gc0}")
      // DIAG fires AFTER query #qIndex's reps complete (emitting it
      // before the query ran reported pre-query process
      // state under a post-query label — off-by-one vs BENCH TIME #N)
      if (qIndex % 50 == 0) leakLine()
      if (times.isEmpty) { failed += name; None } else {
        // stderr trace with the RUN POSITION — the drift diagnostic:
        // lets two runs be compared positionally, which the order-free
        // JSON map cannot support
        System.err.println(f"BENCH TIME #$qIndex $name ${times.min}%.3f")
        Some(name -> times.min)
      }
    }
    leakLine() // closing diagnostic: end-of-run process state
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"reps":$reps,"sf":"$sfDir"}"""
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
        System.err.println(s"BENCH: could not write $o: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) System.err.println(s"BENCH: ${failed.size} queries failed: ${failed.mkString(", ")}")
  }
}
