package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.Streaming
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming daily bars match the batch OHLC operator") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Streaming.dailyBars(df)
      .writeStream.format("memory").queryName("bars").outputMode("complete").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (1L, t("2024-01-01 09:00:00"), "X", 10.0),
      (2L, t("2024-01-01 09:00:00"), "X", 11.0),
      (3L, t("2024-01-01 15:00:00"), "X", 7.0))
    q.processAllAvailable()
    val bars = spark.table("bars").collect()
    q.stop()
    assert(bars.length == 1)
    val b = bars(0)
    assert(b.getAs[Double]("open") == 10.0 && b.getAs[Double]("close") == 7.0 &&
      b.getAs[Double]("high") == 11.0 && b.getAs[Double]("low") == 7.0 &&
      b.getAs[Long]("volume") == 3L)
  }

  test("incremental append via AvailableNow dedups on the natural key (P2)") {
    val landing = tmp("landing")
    val store = tmp("store")
    val ev = Tables.events(spark, sf).select("event_id", "ts", "value")
    // seed the store day-partitioned with the first 500 events, land an
    // overlapping slice
    ev.filter($"event_id" < 500).withColumn("day", to_date($"ts"))
      .write.partitionBy("day").mode("overwrite").parquet(store)
    ev.filter($"event_id" >= 300).write.mode("overwrite").parquet(landing)
    Streaming.incrementalAppend(spark, landing, store, tmp("ckpt"),
      spark.read.parquet(landing).schema)
    val stored = spark.read.parquet(store)
    assert(stored.count() == ev.count(), "no loss, no duplication")
    assert(stored.select("event_id").distinct().count() == ev.count())
    // the store stays day-partitioned (the pruning contract)
    assert(new java.io.File(store).listFiles().exists(_.getName.startsWith("day=")))
  }

  test("incremental append dedups WITHIN a micro-batch (at-least-once redelivery)") {
    val landing = tmp("landing3")
    val store = tmp("store3")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // the same event_id delivered twice inside one batch (replayed file)
    Seq((1L, t("2024-07-01 10:00:00"), 1.0), (1L, t("2024-07-01 10:00:00"), 1.0),
        (2L, t("2024-07-01 11:00:00"), 2.0))
      .toDF("event_id", "ts", "value").write.mode("overwrite").parquet(landing)
    Streaming.incrementalAppend(spark, landing, store, tmp("ckpt3"),
      spark.read.parquet(landing).schema)
    val stored = spark.read.parquet(store)
    assert(stored.count() == 2, "in-batch duplicate must not reach the store")
    assert(stored.select("event_id").distinct().count() == 2)
  }

  test("incremental append: a re-delivered late tick is deduped across runs, with no schema inference") {
    val landing = tmp("landing4")
    val store = tmp("store4") + "/store" // absent until the first batch writes it
    val ckpt = tmp("ckpt4")              // ONE checkpoint across both runs
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def drop(rows: (Long, java.sql.Timestamp, Double)*): Unit =
      rows.toDF("event_id", "ts", "value").write.mode("append").parquet(landing)
    drop((1L, t("2024-07-01 10:00:00"), 1.0), (2L, t("2024-07-01 11:00:00"), 2.0),
      (3L, t("2024-07-02 10:00:00"), 3.0))
    val schema = spark.read.parquet(landing).schema
    Streaming.incrementalAppend(spark, landing, store, ckpt, schema)
    // run 2: tick 2 of the OLDER day 07-01 is delivered again, beside a
    // new late tick of that day and a new day
    drop((2L, t("2024-07-01 11:00:00"), 2.0), (4L, t("2024-07-01 12:00:00"), 4.0),
      (5L, t("2024-07-03 10:00:00"), 5.0))
    // parquet schema inference is the loop's one job over a driver-side
    // parallelize (of footers to read); the batch's own jobs scan files
    val (_, inferJobs) = jobsLaunchedBy(
        _.stageInfos.exists(_.rddInfos.exists(_.name == "ParallelCollectionRDD"))) {
      Streaming.incrementalAppend(spark, landing, store, ckpt, schema)
    }
    assert(inferJobs == 0, s"the second run's batch launched $inferJobs schema-inference jobs")
    val stored = spark.read.parquet(store)
    assert(stored.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L),
      "the re-delivered tick must not duplicate into its older day partition")
    assert(stored.filter($"day" === java.sql.Date.valueOf("2024-07-01")).count() == 3)
  }

  test("incremental append: a first batch into an absent store logs no FileStreamSink warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val landing = tmp("landing6")
    val store = tmp("store6") + "/store" // absent until the first batch writes it
    Seq((1L, java.sql.Timestamp.valueOf("2024-07-01 10:00:00"), 1.0))
      .toDF("event_id", "ts", "value").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("fileStreamSinkWarnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("FileStreamSink") && e.getLevel.isMoreSpecificThan(Level.WARN))
          warned.add(e.getMessage.getFormattedMessage)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    capture.start()
    ctx.getConfiguration.getRootLogger.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try Streaming.incrementalAppend(spark, landing, store, tmp("ckpt6"), schema)
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    assert(warned.isEmpty, s"the first batch logged: ${warned.asScala.mkString("\n")}")
    assert(spark.read.parquet(store).count() == 1)
  }

  test("incremental append reads only store partitions overlapping the batch (P2 scale)") {
    val landing = tmp("landing")
    val store = tmp("store")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // store holds id 1 on an OLD day, far outside the landing range
    Seq((1L, t("2020-01-01 00:00:00"), 1.0)).toDF("event_id", "ts", "value")
      .withColumn("day", to_date($"ts"))
      .write.partitionBy("day").mode("overwrite").parquet(store)
    // landing holds the same id on a NEW day plus a fresh id
    Seq((1L, t("2024-06-01 00:00:00"), 2.0), (2L, t("2024-06-01 01:00:00"), 3.0))
      .toDF("event_id", "ts", "value").write.mode("overwrite").parquet(landing)
    Streaming.incrementalAppend(spark, landing, store, tmp("ckpt"),
      spark.read.parquet(landing).schema)
    val stored = spark.read.parquet(store)
    // if the whole store were scanned, the old id-1 row would have
    // suppressed the new-day append; partition-range pruning means the
    // anti-join only saw overlapping days and both landing rows appended
    assert(stored.count() == 3,
      s"expected pruned scan to admit both landing rows, got:\n${stored.collect().mkString("\n")}")
  }

  test("incremental append: a warm batch runs one dedup exchange, not one per action") {
    val landing = tmp("landing5")
    val store = tmp("store5") + "/store"
    val ckpt = tmp("ckpt5")
    val ev = Tables.events(spark, sf).select("event_id", "ts", "value")
    ev.filter($"event_id" < 600).write.mode("append").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    Streaming.incrementalAppend(spark, landing, store, ckpt, schema)
    // day 2: a re-delivered overlap beside new ticks
    ev.filter($"event_id" >= 400).write.mode("append").parquet(landing)
    val (_, shuffles) = shufflesRunBy(Streaming.incrementalAppend(spark, landing, store, ckpt, schema))
    // the day range is an aggregate over the raw batch; only the write
    // dedups (the store's keys join it by broadcast)
    val dedups = shuffles.filter(_.contains("hashpartitioning(event_id#"))
    assert(dedups.size == 1,
      s"the batch ran ${dedups.size} dedup exchanges:\n${shuffles.mkString("\n")}")
    val stored = spark.read.parquet(store)
    assert(stored.count() == ev.count() && stored.select("event_id").distinct().count() == ev.count())
  }

  test("streaming near-dup admission: clusters admit min-id, store wins transitively (q88 twin)") {
    val landing = tmp("dd_landing")
    val sig = tmp("dd_sig") + "/store"      // not yet existing: bootstrap path
    val adm = tmp("dd_adm") + "/admitted"
    val ckpt = tmp("dd_ckpt")               // ONE checkpoint across both runs
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val vA  = (1 to 100).map(i => s"tok$i")
    val vA2 = vA.updated(50, "CHANGED")     // strong near-dup of vA (j≈0.9)
    val vA3 = vA.updated(51, "OTHER")       // near-dup of vA and vA2
    val vB  = (1 to 100).map(i => s"zzz$i") // unrelated family
    val vC  = (1 to 100).map(i => s"qqq$i")
    val vC2 = vC.updated(10, "X")
    // batch 1 (bootstrap, no store yet): 1≈2 cluster → admit min-id 1;
    // 5 distinct → admit
    Seq(doc(1, vA), doc(2, vA2), doc(5, vB)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    Streaming.nearDupAdmit(spark, landing, sig, adm, ckpt, schema)
    assert(spark.read.parquet(adm).select("doc_id").as[Long].collect().toSet
      == Set(1L, 5L), "bootstrap batch must admit cluster representatives")
    // batch 2: 7 near-dups STORE doc 1 → rejected (store wins); 8 new
    // family → admitted; 9 near-dups 8 in-batch → rejected via its
    // cluster, though it never touches the store itself
    Seq(doc(7, vA3), doc(8, vC), doc(9, vC2)).toDF("doc_id", "text")
      .write.mode("append").parquet(landing)
    Streaming.nearDupAdmit(spark, landing, sig, adm, ckpt, schema)
    assert(spark.read.parquet(adm).select("doc_id").as[Long].collect().toSet
      == Set(1L, 5L, 8L), "store collision and in-batch cluster must both reject")
    // the signature store carries exactly the admitted ids — the next
    // nightly batch sees them as corpus
    assert(spark.read.parquet(sig).select("doc_id").as[Long].collect().toSet
      == Set(1L, 5L, 8L))
    // replay safety: re-running with a FRESH checkpoint re-delivers
    // every landing file; already-admitted ids must not duplicate
    Streaming.nearDupAdmit(spark, landing, sig, adm, tmp("dd_ckpt2"), schema)
    val admAll = spark.read.parquet(adm).select("doc_id").as[Long].collect()
    assert(admAll.sorted.toSeq == Seq(1L, 5L, 8L),
      s"re-delivery must be idempotent, got ${admAll.toSeq}")
  }

  test("store lifecycle: retire archives docs+sigs, compaction shrinks files, retired sigs stop vetoing") {
    val landing = tmp("lc_landing")
    val sig = tmp("lc_sig") + "/store"
    val adm = tmp("lc_adm") + "/admitted"
    val ckpt = tmp("lc_ckpt")
    val archive = tmp("lc_archive")
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val vA  = (1 to 100).map(i => s"tok$i")
    val vA2 = vA.updated(50, "CHANGED")
    val vA3 = vA.updated(51, "OTHER")     // near-dup of vA
    val vB  = (1 to 100).map(i => s"zzz$i")
    val vC  = (1 to 100).map(i => s"qqq$i")
    // two admission runs → each store accumulates one append file per run
    Seq(doc(1, vA), doc(2, vA2), doc(5, vB)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    Streaming.nearDupAdmit(spark, landing, sig, adm, ckpt, schema)
    Seq(doc(8, vC)).toDF("doc_id", "text")
      .write.mode("append").parquet(landing)
    Streaming.nearDupAdmit(spark, landing, sig, adm, ckpt, schema)
    assert(spark.read.parquet(adm).select("doc_id").as[Long].collect().toSet
      == Set(1L, 5L, 8L))
    def partFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles(adm) >= 2, "two admission runs must leave >= 2 append files")
    // retire doc 1 (takedown analogue) and compact both stores
    val (admRet, sigRet, admFiles, sigFiles) = Streaming.retireAndCompact(
      spark, adm, sig, archive, Seq(1L).toDF("doc_id"), "2026-08-13")
    assert((admRet, sigRet) == (1L, 1L))
    assert((admFiles, sigFiles) == (1, 1)) // tiny stores → one target file each
    assert(partFiles(adm) == 1 && partFiles(sig) == 1,
      "compaction must rewrite the store to the computed file count")
    assert(spark.read.parquet(adm).select("doc_id").as[Long].collect().toSet
      == Set(5L, 8L))
    assert(spark.read.parquet(sig).select("doc_id").as[Long].collect().toSet
      == Set(5L, 8L))
    // the archive holds exactly the retired rows, partitioned by date
    assert(spark.read.parquet(s"$archive/admitted")
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(s"$archive/store")
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // compacted stores keep full admission-loop function, and the
    // RETIRED signature no longer vetoes: vA3 near-dups retired doc 1
    // (its twin doc 7 was rejected for exactly this in the q88 spec) —
    // with 1 retired it must now admit
    Seq(doc(11, vA3)).toDF("doc_id", "text")
      .write.mode("append").parquet(landing)
    Streaming.nearDupAdmit(spark, landing, sig, adm, ckpt, schema)
    assert(spark.read.parquet(adm).select("doc_id").as[Long].collect().toSet
      == Set(5L, 8L, 11L),
      "a retired doc's signature must stop rejecting future near-dups")
    // retiring an already-retired id is a no-op on the store (the
    // archive appends a zero-row partition batch, nothing moves)
    val (r2a, r2s, _, _) = Streaming.retireAndCompact(
      spark, adm, sig, archive, Seq(1L).toDF("doc_id"), "2026-08-14")
    assert((r2a, r2s) == (0L, 0L))
    assert(spark.read.parquet(adm).select("doc_id").as[Long].collect().toSet
      == Set(5L, 8L, 11L), "second retire of the same id must not disturb survivors")
  }

  test("streaming dedup drops replayed keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "value")
    val q = Streaming.dedupStream(df)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, t("2024-01-01 10:00:00"), 1.0), (2L, t("2024-01-01 10:01:00"), 2.0))
    q.processAllAvailable()
    mem.addData((1L, t("2024-01-01 10:00:00"), 1.0), (3L, t("2024-01-01 10:02:00"), 3.0))
    q.processAllAvailable()
    val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // replayed id 1 dropped
    // state must be watermark-BOUNDED (the dropDuplicatesWithinWatermark
    // contract): advance the watermark two days; the Jan-1 keys' state
    // (expiry = event time + 1 day delay) must be evicted, leaving only
    // the two fresh keys — plain dropDuplicates would keep all five.
    mem.addData((4L, t("2024-01-03 10:00:00"), 4.0))
    q.processAllAvailable()
    mem.addData((5L, t("2024-01-03 10:05:00"), 5.0)) // watermark → Jan 2 10:05, past every Jan-1 expiry
    q.processAllAvailable()
    // one more DATA batch so the eviction pass definitely ran under the
    // Jan-2 10:05 watermark before we read progress — relying on the
    // trailing no-data micro-batch would be timing-dependent
    mem.addData((6L, t("2024-01-03 10:06:00"), 6.0))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(stateRows == 3L,
      s"expected Jan-1 dedup state evicted (3 live Jan-3 keys), found $stateRows")
  }

  test("stream-stream interval join matches views to in-window purchases") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val pMem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val vMem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = Streaming.purchaseViewJoin(
        pMem.toDF().toDF("event_id", "ts", "user_id", "value"),
        vMem.toDF().toDF("event_id", "ts", "user_id", "value"))
      .writeStream.format("memory").queryName("pvj").outputMode("append").start()
    vMem.addData(
      (100L, t("2024-01-01 09:30:00"), 7L, 1.0),  // in window
      (101L, t("2024-01-01 08:30:00"), 7L, 2.0),  // too old (> 1h before)
      (102L, t("2024-01-01 09:50:00"), 8L, 3.0))  // other user
    pMem.addData((1L, t("2024-01-01 10:00:00"), 7L, 50.0))
    q.processAllAvailable()
    val rows = spark.table("pvj").collect()
    q.stop()
    assert(rows.length == 1, rows.mkString("\n"))
    assert(rows(0).getAs[Long]("p_id") == 1L && rows(0).getAs[Long]("v_id") == 100L)
  }

  test("sessionize closes sessions after the event-time gap with O(users) state") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.sessionize(mem.toDS(), 30)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // 3 events inside one session window for user 7
    mem.addData(
      Streaming.Event(1, t("2024-01-01 10:00:00"), 7, "view", 1.0),
      Streaming.Event(2, t("2024-01-01 10:10:00"), 7, "view", 2.0))
    q.processAllAvailable()
    mem.addData(Streaming.Event(3, t("2024-01-01 10:20:00"), 7, "view", 4.0))
    q.processAllAvailable()
    assert(spark.table("sess").isEmpty, "open session must not emit early")
    // state is ONE row for the user, not one per event (bounded-state law)
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows == 1, s"state must be O(users), got $stateRows rows")
    // an event past the 30-min gap closes the session deterministically
    mem.addData(Streaming.Event(4, t("2024-01-01 11:30:00"), 7, "view", 8.0))
    q.processAllAvailable()
    val closed1 = spark.table("sess").collect()
    assert(closed1.length == 1)
    val s0 = closed1(0)
    assert(s0.getAs[Long]("user_id") == 7L && s0.getAs[Int]("n_events") == 3 &&
      s0.getAs[Double]("total_value") == 7.0 &&
      s0.getAs[java.sql.Timestamp]("end") == t("2024-01-01 10:20:00"))
    // the tail session closes via the EVENT-TIME timeout once the
    // watermark (driven by another user's events) passes end + gap
    mem.addData(Streaming.Event(5, t("2024-01-01 13:00:00"), 8, "view", 1.0))
    q.processAllAvailable() // advances watermark to 13:00
    mem.addData(Streaming.Event(6, t("2024-01-01 13:05:00"), 8, "view", 1.0))
    q.processAllAvailable() // timeout for user 7 fires against wm 13:00
    val rows = spark.table("sess").collect()
    q.stop()
    val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length == 2, s"tail session must close by timeout:\n${rows.mkString("\n")}")
    assert(u7.exists(r => r.getAs[Int]("n_events") == 1 &&
      r.getAs[Double]("total_value") == 8.0))
  }

  test("sessionize: a cross-batch straggler beyond the gap forms its own session") {
    // arrival order is not event order across batches: a late-but-
    // admissible event that PRECEDES the open session by more than the
    // gap must become its own session (as the batch twin and
    // session_window would compute), not merge into the later one — the
    // single-accumulator state model failed exactly this.
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[Streaming.Event]
    // 3-hour watermark delay keeps the straggler admissible
    val q = Streaming.sessionize(mem.toDS(), 30, watermark = "3 hours")
      .writeStream.format("memory").queryName("sess_straggler")
      .outputMode("append").start()
    mem.addData(Streaming.Event(1, t("2024-01-01 12:00:00"), 7, "view", 1.0))
    q.processAllAvailable() // wm -> 09:00
    // straggler 90 min BEFORE the open session start (> 30 min gap)
    mem.addData(Streaming.Event(2, t("2024-01-01 10:30:00"), 7, "view", 2.0))
    q.processAllAvailable()
    // drive the watermark past both sessions' end+gap
    mem.addData(Streaming.Event(3, t("2024-01-01 16:30:00"), 8, "view", 1.0))
    q.processAllAvailable()
    mem.addData(Streaming.Event(4, t("2024-01-01 16:35:00"), 8, "view", 1.0))
    q.processAllAvailable()
    val rows = spark.table("sess_straggler").collect()
    q.stop()
    val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length == 2,
      s"straggler beyond the gap must NOT merge:\n${rows.mkString("\n")}")
    assert(u7.forall(_.getAs[Int]("n_events") == 1))
    val starts = u7.map(_.getAs[java.sql.Timestamp]("start")).toSet
    assert(starts == Set(t("2024-01-01 10:30:00"), t("2024-01-01 12:00:00")))
  }

  test("sessionize gap-0 sessions terminate at the exact end+gap watermark") {
    // gap = 0 is the tightest close contract: the timeout is armed at
    // exactly end (+0), so the session must emit as soon as the
    // watermark passes `end` — no wm+1 deferral, no stranded tail.
    // (Events at ts == wm are dropped by Spark's late-row filter, which
    // is why the in-closure "wm already >= end+gap ⇒ emit now" branch is
    // defense-in-depth rather than a reachable data path.)
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.sessionize(mem.toDS(), 0)
      .writeStream.format("memory").queryName("sess0").outputMode("append").start()
    mem.addData(Streaming.Event(1, t("2024-01-01 10:00:00"), 7, "view", 1.0))
    q.processAllAvailable() // advances watermark to 10:00
    mem.addData(Streaming.Event(2, t("2024-01-01 10:00:01"), 8, "view", 1.0))
    q.processAllAvailable() // wm -> 10:00:01 > end+gap, timeout fires
    mem.addData(Streaming.Event(3, t("2024-01-01 10:00:02"), 8, "view", 1.0))
    q.processAllAvailable() // drain the trigger where the timeout emits
    val rows = spark.table("sess0").collect()
    q.stop()
    val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length == 1 && u7.head.getAs[Int]("n_events") == 1,
      s"gap-0 session must close once wm passes end, got:\n${rows.mkString("\n")}")
  }

  test("streaming sequence packing equals the batch q94 manifest (prefix-sum state)") {
    // three landing chunks in doc_id order (the monotone-ingest
    // contract); one file per micro-batch so the per-source offset
    // state must carry across batches to keep bins identical
    val landing = tmp("pack_landing")
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    docs.filter($"doc_id" <= cuts(0))
      .coalesce(1).write.mode("overwrite").parquet(landing)
    docs.filter($"doc_id" > cuts(0) && $"doc_id" <= cuts(1))
      .coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" > cuts(1))
      .coalesce(1).write.mode("append").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    val q = Streaming.sequencePack(stream)
      .writeStream.format("memory").queryName("packed")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("packed")
      .groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy("source", "bin").collect().toSeq
    val batch = SparkEntry.queries("q94_sequence_pack")(spark, sf)
      .collect().toSeq
    assert(streamed == batch,
      s"streaming manifest diverged from batch:\nstream=${streamed.take(5)}\nbatch=${batch.take(5)}")
  }

  test("streaming SCD2 equals the batch q117 manifest across chunked replays") {
    // three ts-ordered landing chunks (the time-ordered-ingest
    // contract); same-ts ties stay within one chunk so per-key
    // (ts, event_id) order is monotone across batches
    val landing = tmp("scd2_landing")
    val ev = Tables.events(spark, sf).filter($"user_id" < 100)
      .select("user_id", "event_id", "ts", "event_type")
    val times = ev.select($"ts").as[java.sql.Timestamp].collect().sorted
    val cuts = Seq(times(times.length / 3), times(2 * times.length / 3))
    ev.filter($"ts" <= cuts(0))
      .coalesce(1).write.mode("overwrite").parquet(landing)
    ev.filter($"ts" > cuts(0) && $"ts" <= cuts(1))
      .coalesce(1).write.mode("append").parquet(landing)
    ev.filter($"ts" > cuts(1))
      .coalesce(1).write.mode("append").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    val q = Streaming.scd2Stream(stream)
      .writeStream.format("memory").queryName("scd2")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // Update-mode fold: the latest emission per (key, version) wins —
    // it is the one with the largest n_events, closed beating open
    val folded = spark.table("scd2").collect()
      .groupBy(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version")))
      .map { case (_, emissions) =>
        emissions.maxBy(r =>
          (r.getAs[Long]("n_events"), !r.getAs[Boolean]("is_current")))
      }
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("attr"), r.getAs[java.sql.Timestamp]("valid_from"),
        Option(r.getAs[java.sql.Timestamp]("valid_to")),
        r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current")))
      .toSet
    val batch = SparkEntry.queries("q117_scd2_intervals")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("attr"), r.getAs[java.sql.Timestamp]("valid_from"),
        Option(r.getAs[java.sql.Timestamp]("valid_to")),
        r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current")))
      .toSet
    assert(folded == batch,
      s"streaming SCD2 diverged from batch: only-stream=${(folded -- batch).take(3)} " +
        s"only-batch=${(batch -- folded).take(3)}")
  }

  test("funnel state: strict-after conversion, once per user, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type")
    val q = Streaming.funnelMaintain(df).toDF("user_id", "v_us", "p_us")
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    // batch 1: u1 converts in-batch (first qualifying purchase wins);
    // u2's purchase precedes any view (must never qualify); u3's
    // purchase ties its view timestamp (strict > excludes it)
    mem.addData(
      (1L, t("2024-01-01 09:00:00"), "view"),
      (1L, t("2024-01-01 10:00:00"), "purchase"),
      (1L, t("2024-01-01 11:00:00"), "purchase"),
      (2L, t("2024-01-01 08:00:00"), "purchase"),
      (3L, t("2024-01-01 09:00:00"), "view"),
      (3L, t("2024-01-01 09:00:00"), "purchase"))
    q.processAllAvailable()
    // batch 2 (later times only — the audit's time-ordered replay
    // contract): u2 converts fresh, u3 converts against its batch-1
    // view, u1 purchases again but is already converted (no re-emit)
    mem.addData(
      (2L, t("2024-01-02 09:00:00"), "view"),
      (2L, t("2024-01-02 10:00:00"), "purchase"),
      (3L, t("2024-01-02 10:00:00"), "purchase"),
      (1L, t("2024-01-02 12:00:00"), "purchase"))
    q.processAllAvailable()
    val rows = spark.table("funnel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set(
      (1L, us("2024-01-01 09:00:00"), us("2024-01-01 10:00:00")),
      (2L, us("2024-01-02 09:00:00"), us("2024-01-02 10:00:00")),
      (3L, us("2024-01-01 09:00:00"), us("2024-01-02 10:00:00"))),
      s"funnel emissions wrong: $rows")
  }

  test("streaming stratified sample survives at-least-once redelivery (evict only on real insert)") {
    // a redelivered doc already in a FULL top-k must be a no-op: the
    // TreeSet add returns false and no eviction may fire — an
    // unconditional evict silently shrinks the sample
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val half = docs.filter($"doc_id" % 2 === 0)
    val rest = docs.filter($"doc_id" % 2 =!= 0)
    val folded = Streaming.replay("q255_redeliver") { dir =>
      // chunk 1, chunk 1 AGAIN (new files = at-least-once redelivery of
      // every row, arriving while many strata's top-k are already full),
      // then the remaining docs
      Streaming.replayStarts("stratifiedSampleRedelivery", dir,
          Seq(half, half, rest).map(c => Some(Map("landing" -> c))), OutputMode.Update())(
          l => Streaming.stratifiedSampleStream(l("landing"), k = 20)) { (b, _, _) =>
        b.toDF().write.mode("append").parquet(s"$dir/out")
      }
      val byGen = org.apache.spark.sql.expressions.Window.partitionBy("source")
      spark.read.parquet(s"$dir/out")
        .withColumn("mx", max($"gen").over(byGen))
        .filter($"gen" === $"mx")
        .select("source", "rn", "doc_id", "h")
        .collect().map(_.toSeq).toSet
    }
    val batch = SparkEntry.queries("q254_stratified_sample")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(folded == batch,
      "redelivery must not change the sample: folded state != batch q254")
  }

  test("replay removes its directory after the body, and rethrows a failing body's exception") {
    val kept = Streaming.replay("replay_returns") { d =>
      Files.writeString(Paths.get(d, "part"), "x"); d
    }
    assert(!Files.exists(Paths.get(kept)), s"$kept survived a body that returned")
    var dir = ""
    val boom = new IllegalStateException("seeded failure in the body")
    val thrown = intercept[IllegalStateException] {
      Streaming.replay("replay_throws") { d =>
        dir = d
        Files.writeString(Paths.get(d, "part"), "x")
        throw boom
      }
    }
    assert(thrown eq boom, s"replay rethrew $thrown, not the body's exception")
    assert(dir.nonEmpty && !Files.exists(Paths.get(dir)), s"$dir survived a body that threw")
  }

  test("every checkpointed loop in src/main runs through Streaming.drain") {
    val sources = SourceTree.scalaFiles("src/main/scala")
    val home = Paths.get("src/main/scala/graft/streaming/Streaming.scala")
    val homeText = sources.toMap.getOrElse(home, "")
    // a site lies inside one of `defs` when it falls between that
    // definition's `def <name>` and its first blank line
    def inside(defs: Seq[String])(f: java.nio.file.Path, at: Int) = f == home && defs.exists { d =>
      val from = homeText.indexOf(s"def $d")
      from >= 0 && at > from && at < homeText.indexOf("\n\n", from)
    }
    def sitesOf(token: String) = for {
      (f, text) <- sources
      m <- java.util.regex.Pattern.quote(token).r.findAllMatchIn(text)
    } yield (f, m.start, text.take(m.start).count(_ == '\n') + 1)
    def listed(token: String, sites: Seq[(java.nio.file.Path, Int, Int)]) =
      s"$token x${sites.size}: " + sites.map { case (f, _, line) => s"$f:$line" }.mkString(", ")
    val misplaced = Seq(".writeStream", "StreamPlans.record(").flatMap { token =>
      val sites = sitesOf(token)
      if (sites.size == 1 && sites.forall { case (f, at, _) => inside(Seq("drain["))(f, at) }) Nil
      else Seq(listed(token, sites))
    }
    if (misplaced.nonEmpty)
      fail(("each must occur once, inside Streaming.drain" +: misplaced).mkString("\n"))
    // every stream read is a landing the daily append, the admission
    // loop or the audits' replay driver reads
    val readers = Seq("incrementalAppend(", "nearDupAdmit(", "replayStarts[")
    val stray = sitesOf(".readStream").filterNot { case (f, at, _) => inside(readers)(f, at) }
    if (stray.nonEmpty)
      fail(s"readStream only inside Streaming.${readers.mkString(", ")}: " + listed(".readStream", stray))
  }
}
