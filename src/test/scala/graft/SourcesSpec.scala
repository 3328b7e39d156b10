package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Ingest, Pipeline, TickerStore}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("mock ticker table is a 22-row LocalRelation (S18)") {
    val m = Ingest.mockTickerTable(spark)
    assert(m.count() == 22)
    assert(m.filter($"symbol" === "MLCF").head().sector == "Cement")
  }

  test("fetchPerKey: task-local retry recovers transient failures (S1/S4)") {
    val keys = spark.createDataset(Seq("A", "B", "FAIL"))
    val fetched = Ingest.fetchPerKey(keys, parallelism = 2, maxRetries = 3) {
      case "FAIL" => throw new RuntimeException("down")
      case k => s"payload:$k"
    }.collect().toMap
    assert(fetched("A").contains("payload:A"))
    assert(fetched("FAIL").isEmpty) // exhausted retries → None, row kept
  }

  test("parseCompanyPages extracts fields and applies sentinels (S2/S3/S5)") {
    val pages = Seq(
      """<html><h1 class="quote__symbol">hbl </h1>
         <h2 class="quote__name">Habib Bank Limited</h2>
         <span class="quote__sector">Commercial Banks</span></html>""",
      """<html><h1 class="quote__symbol">XYZ</h1></html>""",      // missing fields
      """<html><h1 class="quote__symbol">SELECT ONE</h1></html>""", // placeholder row
      """<html><h1 class="quote__symbol">x</h1></html>"""          // too short
    ).toDF("html")
    val rows = Ingest.parseCompanyPages(pages).collect()
    assert(rows.length == 2)
    val bySym = rows.map(r => r.getString(0) -> r).toMap
    assert(bySym("HBL").getString(1) == "Habib Bank Limited")
    assert(bySym("XYZ").getString(1) == "No record found" &&
      bySym("XYZ").getString(2) == "Unknown")
  }

  test("parseMarketWatch maps headers to ordinals and resolves hrefs (S2)") {
    // deliberately REORDERED columns (sector, volume, symbol, price) plus
    // a decoy table with no SYMBOL header — the parse must key on header
    // names, never fixed positions
    val html =
      """<html>
        <table class="other"><thead><tr><th>Foo</th><th>Bar</th></tr></thead>
          <tbody><tr><td>1</td><td>2</td></tr></tbody></table>
        <table class="table">
          <thead><tr><th>Sector</th><th> Volume </th><th>SYMBOL</th><th>Current Price</th></tr></thead>
          <tbody>
            <tr><td>Commercial Banks</td><td>1,234,567</td>
                <td><a href="/company/HBL">hbl </a></td><td>98.75</td></tr>
            <tr><td>Fertilizer</td><td>22</td>
                <td><a href="https://other.example/x">engro.pa</a></td><td>310.10</td></tr>
            <tr><td>Cement</td><td>33</td>
                <td><a href="company/LUCK">LUCK</a></td><td>1,050.00</td></tr>
            <tr><td>-</td><td>-</td><td>Select...</td><td>-</td></tr>
            <tr><td>-</td><td>-</td><td>x</td><td>-</td></tr>
            <tr><td>only-one-cell</td></tr>
          </tbody></table></html>"""
    val rows = Ingest.parseMarketWatch(Seq(html).toDF("html"), "https://base.example")
      .orderBy("symbol").collect()
    assert(rows.length == 3, rows.mkString("\n"))
    val bySym = rows.map(r => r.getAs[String]("symbol") -> r).toMap
    assert(bySym.keySet == Set("HBL", "ENGRO", "LUCK")) // normalized, .PA stripped
    assert(bySym("HBL").getAs[String]("url") == "https://base.example/company/HBL")
    assert(bySym("ENGRO").getAs[String]("url") == "https://other.example/x")
    assert(bySym("LUCK").getAs[String]("url") == "https://base.example/company/LUCK")
    assert(bySym("HBL").getAs[Double]("price") == 98.75)
    assert(bySym("HBL").getAs[Long]("volume") == 1234567L)
    assert(bySym("LUCK").getAs[Double]("price") == 1050.0)
    assert(bySym("ENGRO").getAs[String]("sector") == "Fertilizer")
  }

  test("fallback chain: failing primary degrades to mock with provenance (S1/S18/S20)") {
    val got = Ingest.loadTickersWithFallback(spark, Seq(
      "live" -> (() => throw new RuntimeException("connection refused")),
      "alternate" -> (() => Seq.empty[(String, String)].toDF("symbol", "name"))))
    assert(got.count() == 22)
    assert(got.select("provenance").distinct().as[String].collect().toSeq == Seq("mock"))
    // a healthy primary short-circuits the ladder
    val live = Ingest.loadTickersWithFallback(spark, Seq(
      "live" -> (() => Seq(("HBL", "Habib Bank")).toDF("symbol", "name"))))
    assert(live.count() == 1 &&
      live.head().getAs[String]("provenance") == "live")
  }

  test("partitioned store resolves the latest snapshot of either kind (S12)") {
    val root = tmp("store")
    val t = Ingest.mockTickerTable(spark).toDF()
    TickerStore.writeSnapshotIdempotent(t, root, "20250101", "raw")
    TickerStore.writeSnapshotIdempotent(t.withColumn("name", upper($"name")), root, "20250102", "updated")
    val latest = TickerStore.readSnapshot(spark, TickerStore.latestPartition(spark, root).get)
    assert(latest.count() == 22)
    // the 0102 'updated' snapshot wins, regardless of kind
    assert(latest.filter($"symbol" === "HBL").head().getString(1) == "HABIB BANK LIMITED")
  }

  test("same-day raw + updated snapshots resolve to the updated rows only (S12)") {
    // the reference's normal daily flow: raw sync then enrichment, SAME
    // date — its mtime max picks the later _updated file; returning
    // both kinds would duplicate every symbol with stale raw values
    val root = tmp("store2")
    val t = Ingest.mockTickerTable(spark).toDF()
    TickerStore.writeSnapshotIdempotent(t, root, "20250105", "raw")
    TickerStore.writeSnapshotIdempotent(t.withColumn("name", upper($"name")), root, "20250105", "updated")
    val latest = TickerStore.readSnapshot(spark, TickerStore.latestPartition(spark, root).get)
    assert(latest.count() == 22, "one row per symbol, not raw+updated interleaved")
    assert(latest.filter($"symbol" === "HBL").head().getString(1) == "HABIB BANK LIMITED")
  }

  test("latest-snapshot listing skips staging dirs and partitions without data, like Spark's file index (S12)") {
    val root = tmp("store_listing")
    val t = Ingest.mockTickerTable(spark).toDF()
    TickerStore.writeSnapshotIdempotent(t, root, "20250101", "raw")
    val dataFile = Files.list(java.nio.file.Paths.get(s"$root/sync_date=20250101/kind=raw"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    // later-dated leftovers that must not win: an uncommitted task
    // attempt, a dynamic-overwrite staging dir, and a partition holding
    // only a marker file
    for (dir <- Seq("_temporary/0/sync_date=20990101/kind=raw",
                    ".spark-staging-1/sync_date=20990102/kind=updated")) {
      val d = Files.createDirectories(java.nio.file.Paths.get(s"$root/$dir"))
      Files.copy(dataFile, d.resolve(dataFile.getFileName))
    }
    val empty = Files.createDirectories(java.nio.file.Paths.get(s"$root/sync_date=20990103/kind=raw"))
    Files.createFile(empty.resolve("_SUCCESS"))
    val (latest, jobs) = jobsLaunchedBy()(TickerStore.latestPartition(spark, root))
    assert(latest.map(l => (l.syncDate, l.kinds)) == Some(("20250101", Seq("raw"))))
    assert(jobs == 0, s"resolving the latest partition launched $jobs Spark jobs")
    // Spark's own partition discovery agrees on the latest date
    assert(spark.read.parquet(root).agg(max($"sync_date".cast("string"))).head.getString(0)
      == "20250101")
    assert(TickerStore.readSnapshot(spark, TickerStore.latestPartition(spark, root).get).count() == 22)
  }

  test("latest-snapshot listing unescapes partition values (S12)") {
    val root = tmp("store_escaped")
    val t = Ingest.mockTickerTable(spark).toDF()
    TickerStore.writeSnapshotIdempotent(t, root, "2025/01=05", "raw")
    assert(new java.io.File(root).list().filter(_.startsWith("sync_date")).toSeq
      == Seq("sync_date=2025%2F01%3D05"))
    val latest = TickerStore.latestPartition(spark, root).get
    assert(latest.syncDate == "2025/01=05" && latest.kinds == Seq("raw"))
    assert(spark.read.parquet(root).select($"sync_date").as[String].distinct().collect()
      .toSeq == Seq(latest.syncDate))
    assert(TickerStore.readSnapshot(spark, latest).count() == 22)
  }

  test("update-info without any snapshot fails with exit 1") {
    val dataDir = tmp("no_snapshot")
    val log = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq("--update-ticker-info"),
      Main.defaultStages(spark, s"$dataDir/missing", "20250111"), log += _) == 1)
    assert(log.exists(_.matches("stage update-ticker-info \\(\\d+\\.\\d\\d s\\): FAILED")), log)
  }

  test("pipeline orchestration: critical failure aborts, non-critical continues (S20)") {
    def stage(n: String, crit: Boolean, ok: Boolean) = Pipeline.Stage(n, crit)(() => ok)
    val r1 = Pipeline.run(Seq(
      stage("sync", crit = true, ok = true),
      stage("update", crit = false, ok = false),
      stage("download", crit = false, ok = true)))
    assert(r1.map(r => (r.ran, r.succeeded)) ==
      Seq((true, true), (true, false), (true, true))) // continues past update failure
    val r2 = Pipeline.run(Seq(
      stage("sync", crit = true, ok = false),
      stage("update", crit = false, ok = true)))
    assert(r2(0).succeeded == false && r2(1).ran == false) // abort after critical failure
    val r3 = Pipeline.run(Seq(
      Pipeline.Stage("boom", critical = true)(() => throw new RuntimeException("x")),
      stage("next", crit = false, ok = true)))
    assert(!r3(0).succeeded && !r3(1).ran) // exceptions = failure
    assert(r3(0).cause.map(_.getMessage) == Some("x") && r3(1).cause.isEmpty)
  }

  test("Main CLI: stage lines carry the duration and a thrown exception's class and message") {
    val log = scala.collection.mutable.ListBuffer[String]()
    val st = Main.Stages(sync = () => true,
      updateInfo = () => throw new IllegalStateException("details source down"),
      downloadHistorical = () => false, dailyUpdate = () => true)
    assert(Main.run(Seq("--full-run"), st, log += _) == 0)
    assert(log.toSeq.map(_.replaceAll("\\(\\d+\\.\\d\\d s\\)", "(t)")) == Seq(
      "stage sync-tickers (t): ok",
      "stage update-ticker-info (t): FAILED (java.lang.IllegalStateException: details source down)",
      "stage download-historical (t): FAILED",
      "stage daily-update (t): ok"), log)
  }

  test("Main CLI: flag surface + full-run failure algebra (E1, main.py:45-50,90-115)") {
    def rec(calls: scala.collection.mutable.ListBuffer[String], n: String,
            ok: Boolean = true)(): Boolean = { calls += n; ok }
    def stages(calls: scala.collection.mutable.ListBuffer[String],
               syncOk: Boolean = true, updOk: Boolean = true) = Main.Stages(
      sync = rec(calls, "sync", syncOk), updateInfo = rec(calls, "upd", updOk),
      downloadHistorical = rec(calls, "dl"), dailyUpdate = rec(calls, "daily"))
    val quiet: String => Unit = _ => ()
    // no flags => full run, all four stages in reference order, exit 0
    val c1 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq.empty, stages(c1), quiet) == 0)
    assert(c1.toSeq == Seq("sync", "upd", "dl", "daily"))
    // full-run CONTINUES past an update-info failure (main.py:102-104)
    // and still exits 0 — update is not critical
    val c2 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq("--full-run"), stages(c2, updOk = false), quiet) == 0)
    assert(c2.toSeq == Seq("sync", "upd", "dl", "daily"))
    // full-run ABORTS on sync failure (main.py:96-98): nothing after
    // sync runs, exit 1
    val c3 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq.empty, stages(c3, syncOk = false), quiet) == 1)
    assert(c3.toSeq == Seq("sync"))
    // individually requested stages: only those run, in fixed order
    val c4 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq("--daily-update", "--sync-tickers"), stages(c4), quiet) == 0)
    assert(c4.toSeq == Seq("sync", "daily"))
    // an individually requested stage that fails exits 1 (main.py:63-71)
    val c5 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq("--update-ticker-info"), stages(c5, updOk = false), quiet) == 1)
    assert(c5.toSeq == Seq("upd"))
    // version + bad usage
    val c6 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq("--version"), stages(c6), quiet) == 0 && c6.isEmpty)
    assert(Main.run(Seq("--frobnicate"), stages(c6), quiet) == 2 && c6.isEmpty)
    // --full-run COMBINED with stage flags runs BOTH blocks, exactly as
    // main.py:63-88 then :90-115: sync executes twice
    val c7 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq("--sync-tickers", "--full-run"), stages(c7), quiet) == 0)
    assert(c7.toSeq == Seq("sync", "sync", "upd", "dl", "daily"))
    // ... and a failed flagged stage returns 1 BEFORE the full-run block
    // starts (update-info is critical as a flagged stage, non-critical
    // only inside the full-run sequence)
    val c8 = scala.collection.mutable.ListBuffer[String]()
    assert(Main.run(Seq("--update-ticker-info", "--full-run"),
      stages(c8, updOk = false), quiet) == 1)
    assert(c8.toSeq == Seq("upd"))
  }

  test("Main CLI: default update stage runs the S16 merge, not a re-kind pass-through (update_ticker_info.py:151-209)") {
    import org.apache.spark.sql.functions._
    val dataDir = tmp("maincli_s16")
    val tickerRoot = s"$dataDir/tickers"
    // degraded raw snapshot: HBL with a placeholder name + Unknown
    // sector (the shape a failed detail fetch leaves behind), plus a
    // symbol absent from the details source entirely
    val degraded = spark.createDataFrame(Seq(
      ("HBL", "HBL", "Unknown", ""),
      ("ZZZ", "Zeta Industries", "Textile", "https://example.invalid/ZZZ")
    )).toDF("symbol", "name", "sector", "url")
    TickerStore.writeSnapshotIdempotent(degraded, tickerRoot, "20250110", "raw")
    // details source = the default mock-details table PLUS a sentinel
    // row, so both merge directions are driven end-to-end: a real
    // detail row updates the placeholder, a "No record found" sentinel
    // must NOT clobber the original
    val st = Main.defaultStages(spark, dataDir, "20250111",
      details = s => graft.sources.Ingest.mockTickerTable(s).toDF()
        .unionByName(s.createDataFrame(Seq(
          ("ZZZ", "No record found", "Unknown", ""))).toDF("symbol", "name", "sector", "url")))
    assert(Main.run(Seq("--update-ticker-info"), st, _ => ()) == 0)
    val updated = spark.read.parquet(tickerRoot)
      .filter(col("kind") === "updated" && col("sync_date").cast("string") === "20250111")
    assert(updated.count() == 2)
    val bySym = updated.select("symbol", "name", "sector")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // placeholder enriched from the details row (the S16 merge RAN)
    assert(bySym("HBL") == ("Habib Bank Limited", "Commercial Banks"),
      s"default update stage did not run the S16 merge: ${bySym("HBL")}")
    // sentinel fresh values never clobber the original
    assert(bySym("ZZZ") == ("Zeta Industries", "Textile"),
      s"sentinel details clobbered the original: ${bySym("ZZZ")}")
    // DEFAULT details (no injection): the mock table — merge still runs
    // and keeps a mock-known symbol's real fields intact
    assert(Main.run(Seq("--update-ticker-info"),
      Main.defaultStages(spark, dataDir, "20250112"), _ => ()) == 0)
    val u2 = spark.read.parquet(tickerRoot)
      .filter(col("kind") === "updated" && col("sync_date").cast("string") === "20250112")
    assert(u2.filter(col("symbol") === "HBL" &&
      col("name") === "Habib Bank Limited").count() == 1)
  }

  test("Main CLI: default stages drive sync → update → ohlc → daily over fixtures (E1 end-to-end)") {
    val dataDir = tmp("maincli")
    // landing fixture: two overlapping event drops (the P2 dedup case)
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.filter($"event_id" % 3 =!= 0).write.mode("append")
      .parquet(s"$dataDir/landing")
    // the details source runs inside update-info after its input is
    // (or is not) pinned: record the pin count it sees
    val pinsSeen = scala.collection.mutable.ListBuffer[Int]()
    val st = Main.defaultStages(spark, dataDir, "20250111", details = s => {
      pinsSeen += Caches.pinnedCount
      Ingest.mockTickerTable(s).toDF()
    })
    val pins0 = Caches.pinnedCount
    assert(Main.run(Seq.empty, st, _ => ()) == 0)
    // a normal day reads (today, raw), which its write does not touch:
    // no pin
    assert(pinsSeen.toSeq == Seq(pins0) && Caches.pinnedCount == pins0)
    // sync + update: latest snapshot resolves to the updated kind
    assert(TickerStore.latestPartition(spark, s"$dataDir/tickers")
      .map(l => (l.syncDate, l.kinds)) == Some(("20250111", Seq("updated"))))
    val latest = TickerStore.readSnapshot(spark, TickerStore.latestPartition(spark, s"$dataDir/tickers").get)
    assert(latest.count() == 22)
    // SAME-DAY RE-RUN IDEMPOTENCE: the reference's sync overwrites its
    // dated file; a second full-run on the same sync date must REPLACE
    // the day's partitions, never append duplicates into them. The
    // re-run reads the (today, updated) partition it overwrites, so it
    // pins its input first and releases the pin afterwards
    assert(Main.run(Seq("--sync-tickers", "--update-ticker-info"), st, _ => ()) == 0)
    assert(pinsSeen.toSeq == Seq(pins0, pins0 + 1) && Caches.pinnedCount == pins0)
    val latest2 = TickerStore.readSnapshot(spark, TickerStore.latestPartition(spark, s"$dataDir/tickers").get)
    assert(latest2.count() == 22,
      s"same-day re-run duplicated snapshot rows: ${latest2.count()}")
    // historical: bars match the operator over the same landing data,
    // row for row
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    def bars(ticks: org.apache.spark.sql.DataFrame): Seq[String] =
      rows(graft.operators.TimeSeries.ohlcDaily(ticks, "event_type", "ts", "value", "event_id"))
    val got = rows(spark.read.parquet(s"$dataDir/ohlc"))
    assert(got.nonEmpty && got == bars(spark.read.parquet(s"$dataDir/landing")))
    // daily update: store holds exactly the landed (deduped) ids; a
    // SECOND run with a re-delivered overlap stays duplicate-free
    val n1 = spark.read.parquet(s"$dataDir/store").count()
    assert(n1 == ev.filter($"event_id" % 3 =!= 0).count())
    ev.filter($"event_id" % 2 === 0).write.mode("append")
      .parquet(s"$dataDir/landing")
    assert(Main.run(Seq("--daily-update"), st, _ => ()) == 0)
    val stored = spark.read.parquet(s"$dataDir/store")
    assert(stored.count() == stored.select("event_id").distinct().count(),
      "re-delivered ids must not duplicate in the store")
    assert(stored.count() ==
      ev.filter($"event_id" % 3 =!= 0 || $"event_id" % 2 === 0).count())
    // historical bars over an at-least-once landing (the second append
    // RE-DELIVERS the overlap) must equal bars over the DISTINCT
    // events — re-delivery must not double-count volume
    assert(Main.run(Seq("--download-historical"), st, _ => ()) == 0)
    val bars2 = rows(spark.read.parquet(s"$dataDir/ohlc"))
    assert(bars2 == bars(ev.filter($"event_id" % 3 =!= 0 || $"event_id" % 2 === 0)),
      "re-delivered landing files double-counted bar volume")
    // the two landing consumers agree: the bars are the bars of the store
    assert(bars2 == bars(stored), "ohlc and the deduplicated store disagree")
  }

  test("Main CLI: a landing dir without a data file is nothing to ingest") {
    // a finished empty write leaves only _SUCCESS; an unfinished one
    // only _temporary/ (its part file is not yet visible)
    for ((name, leave) <- Seq[(String, String => Unit)](
        "_SUCCESS" -> (l => Files.createFile(java.nio.file.Paths.get(l, "_SUCCESS"))),
        "_temporary/" -> (l => spark.range(3).toDF("event_id")
          .write.parquet(s"$l/_temporary/0/task")))) {
      val dataDir = tmp("maincli_empty")
      val landing = s"$dataDir/landing"
      Files.createDirectories(java.nio.file.Paths.get(landing))
      leave(landing)
      assert(!TickerStore.holdsDataFile(spark, landing))
      val log = scala.collection.mutable.ListBuffer[String]()
      assert(Main.run(Seq("--download-historical", "--daily-update"),
        Main.defaultStages(spark, dataDir, "20250111"), log += _) == 0,
        s"landing holding only $name: ${log.mkString("; ")}")
      assert(log.size == 2 && log.forall(_.endsWith(": ok")), log)
      assert(!new java.io.File(s"$dataDir/ohlc").exists() &&
        !new java.io.File(s"$dataDir/store").exists())
    }
    // one visible file makes it data, also inside a partition directory
    val part = tmp("maincli_part")
    spark.range(3).toDF("event_id").write.parquet(s"$part/landing/day=2025-01-10")
    assert(TickerStore.holdsDataFile(spark, s"$part/landing"))
  }

  test("Main CLI: a warm day's download-historical shuffles the landing ticks once") {
    val dataDir = tmp("maincli_shuffles")
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val st = Main.defaultStages(spark, dataDir, "20250111")
    ev.filter($"event_id" % 2 === 0).write.mode("append").parquet(s"$dataDir/landing")
    assert(Main.run(Seq("--download-historical"), st, _ => ()) == 0)
    ev.filter($"event_id" % 3 === 0).write.mode("append").parquet(s"$dataDir/landing")
    val (code, shuffles) = shufflesRunBy(Main.run(Seq("--download-historical"), st, _ => ()))
    assert(code == 0)
    // one exchange clusters the ticks on day; the (day, event_id) dedup
    // and the (event_type, day) bars both run inside it
    assert(shuffles.size == 1 && shuffles.head.contains("hashpartitioning(day#"),
      s"download-historical ran ${shuffles.size} shuffles:\n${shuffles.mkString("\n")}")
  }

  test("stats store: manifest prunes files, pruned read equals full filter") {
    import graft.sources.StatsStore
    val tmp = java.nio.file.Files.createTempDirectory("rstore").toString
    try {
      val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type", "value")
      StatsStore.writeRangeStore(ev, tmp, "user_id", nBuckets = 16)
      // the manifest records every file exactly once, covering all rows
      val manifest = spark.read.parquet(s"$tmp/manifest")
      assert(manifest.count() == manifest.select("file").distinct().count())
      assert(manifest.agg(org.apache.spark.sql.functions.sum("n_rows"))
        .head.getLong(0) == ev.count())
      // a narrow band must SKIP files: range clustering puts [100,199]
      // into a few buckets of the 16
      val maxU = ev.agg(org.apache.spark.sql.functions.max("user_id")).head.getLong(0)
      val pruned = StatsStore.prunedFiles(spark, tmp, maxU * 2 / 5, maxU * 3 / 5)
      assert(pruned.nonEmpty && pruned.size < manifest.count(),
        s"expected a strict subset of files, got ${pruned.size} of ${manifest.count()}")
      // correctness law: skipping changes which files OPEN, never rows
      val got = StatsStore.readRange(spark, tmp, "user_id", maxU * 2 / 5, maxU * 3 / 5)
        .select("event_id").as[Long].collect().sorted.toSeq
      val want = ev.filter($"user_id".between(maxU * 2 / 5, maxU * 3 / 5))
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(got == want && got.nonEmpty)
      // out-of-range prune: zero files, empty schema-correct result
      assert(StatsStore.prunedFiles(spark, tmp, Long.MaxValue - 1, Long.MaxValue).isEmpty)
      assert(StatsStore.readRange(spark, tmp, "user_id",
        Long.MaxValue - 1, Long.MaxValue).count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("zorder store: 2-D manifest prunes on BOTH dims; 1-D layout cannot prune y") {
    import graft.sources.StatsStore
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, max, min, sum}
    val tmpZ = java.nio.file.Files.createTempDirectory("zstore").toString
    val tmpR = java.nio.file.Files.createTempDirectory("rstore1d").toString
    try {
      val li = Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      StatsStore.writeZorderStore(li, tmpZ, "l_partkey", "l_suppkey", nBuckets = 16)
      StatsStore.writeRangeStore(li, tmpR, "l_partkey", nBuckets = 16)
      val manifest = spark.read.parquet(s"$tmpZ/manifest")
      val nFiles = manifest.count()
      assert(manifest.agg(sum("n_rows")).head.getLong(0) == li.count())
      val Row(maxP: Long, maxS: Long) =
        li.agg(max("l_partkey"), max("l_suppkey")).head
      val (loP, hiP) = (maxP * 2 / 5, maxP * 3 / 5)
      val (loS, hiS) = (maxS * 2 / 5, maxS * 3 / 5)
      // the 2-D box prune engages (strict subset of files)
      val pruned = StatsStore.prunedBoxFiles(spark, tmpZ, loP, hiP, loS, hiS)
      assert(pruned.nonEmpty && pruned.size < nFiles,
        s"2-D box opened ${pruned.size} of $nFiles files")
      // THE multi-dim claim: a band on y ALONE skips z-ordered files...
      val yOnly = StatsStore.prunedBoxFiles(spark, tmpZ, 0, maxP, loS, hiS)
      assert(yOnly.size < nFiles,
        s"y-band alone should skip z-ordered files, opened ${yOnly.size} of $nFiles")
      // ...which the 1-D x-clustered layout can NEVER do: every one of
      // its files' [min,max] suppkey ranges straddles the y band
      val r1dIntersecting = spark.read.parquet(s"$tmpR/data")
        .groupBy(col("_metadata.file_path"))
        .agg(min("l_suppkey").as("mn"), max("l_suppkey").as("mx"))
        .filter(col("mx") >= loS && col("mn") <= hiS).count()
      assert(r1dIntersecting == nFiles,
        s"1-D layout unexpectedly pruned y: $r1dIntersecting of $nFiles intersect")
      // correctness law: skipping changes which files OPEN, never rows
      val key = org.apache.spark.sql.functions.concat_ws("#",
        col("l_orderkey"), col("l_linenumber"))
      val got = StatsStore.readBox(spark, tmpZ, "l_partkey", "l_suppkey",
        loP, hiP, loS, hiS).select(key).as[String].collect().sorted.toSeq
      val want = li.filter($"l_partkey".between(loP, hiP) &&
          $"l_suppkey".between(loS, hiS))
        .select(key).as[String].collect().sorted.toSeq
      assert(got == want && got.nonEmpty)
      // out-of-box prune: zero files, empty schema-correct result
      assert(StatsStore.prunedBoxFiles(spark, tmpZ,
        Long.MaxValue - 1, Long.MaxValue, 0, maxS).isEmpty)
      assert(StatsStore.readBox(spark, tmpZ, "l_partkey", "l_suppkey",
        Long.MaxValue - 1, Long.MaxValue, 0, maxS).count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpZ))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpR))
    }
  }

  test("bloom manifest: candidates cover truth, prune engages, misses skip all") {
    import org.apache.spark.sql.functions._
    val tmpB = s"${System.getProperty("java.io.tmpdir")}/graft_bspec_${System.nanoTime()}"
    try {
      val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      sources.StatsStore.writeBloomStore(docs, tmpB, nBuckets = 16)
      val total = spark.read.parquet(s"$tmpB/manifest")
        .select("file").distinct().count()
      assert(total == 16)
      val needle = docs
        .select($"doc_id",
          explode(array_distinct(split(trim($"text"), "\\s+"))).as("w"))
        .groupBy("w").agg(countDistinct($"doc_id").as("nd"))
        .orderBy("nd", "w").limit(1).collect()(0).getString(0)
      // truth: the files that actually hold a matching doc
      val trueFiles = spark.read.parquet(s"$tmpB/data")
        .filter(array_contains(split(trim($"text"), "\\s+"), needle))
        .select(col("_metadata.file_path")).distinct()
        .collect().map(_.getString(0)).toSet
      val candidates = sources.StatsStore.bloomCandidateFiles(spark, tmpB, needle).toSet
      assert(trueFiles.subsetOf(candidates),
        "bloom pruning must never lose a true file")
      assert(candidates.size < total,
        s"prune must engage: ${candidates.size}/$total files probed positive")
      // row-level equality: the needle read equals the unpruned scan
      val pruned = sources.StatsStore.readNeedle(spark, tmpB, needle)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val full = spark.read.parquet(s"$tmpB/data")
        .filter(array_contains(split(trim($"text"), "\\s+"), needle))
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(pruned == full && pruned.nonEmpty)
      // a token no document contains prunes everything (up to bloom
      // false positives, the read itself must be EMPTY regardless)
      assert(sources.StatsStore.readNeedle(spark, tmpB, "zz_no_such_token_zz").count() == 0)
      // false-positive ceiling: across many absent needles, the mean
      // candidate fraction must stay well under 1 — if the filters
      // saturate (m too small for the vocabulary) pruning silently
      // dies while every equality law above still passes
      val fpFrac = (0 until 20).map { i =>
        sources.StatsStore
          .bloomCandidateFiles(spark, tmpB, s"zz_absent_needle_$i")
          .size.toDouble / total
      }.sum / 20
      assert(fpFrac < 0.5, s"bloom filters saturated: mean FP fraction $fpFrac")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpB))
    }
  }
}
