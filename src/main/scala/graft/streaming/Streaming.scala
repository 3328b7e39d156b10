package graft.streaming

import graft.PinnedOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2.2 streaming; P2/P3):
  * the reference's designed daily-update loop ("load last date, fetch
  * from last date + 1, append" — README.md:66-71, main.py:83-88) as an
  * incremental micro-batch pipeline, plus watermarked windowed
  * aggregation and custom sessionization state.
  *
  * Batch/streaming share the same transform functions (DataFrame in,
  * DataFrame out) so every streaming pipeline here is the
  * `Trigger.AvailableNow` cron-equivalent of a batch query — the Spark
  * replacement for the reference's scheduled-run orchestration
  * (config.py:24, README.md:93-102).
  */
object Streaming {

  /** Tumbling 1-day OHLC bars — streaming twin of TimeSeries.ohlcDaily,
    * expressed with the streaming-safe window() aggregate. */
  def dailyBars(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"))
      .select(col("w.start").as("day_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Incremental append job: micro-batch merge of a landing directory
    * into a DAY-PARTITIONED store with natural-key dedup — the P2 loop.
    * Runs with Trigger.AvailableNow (cron-equivalent).
    *
    * Scale shape: the store is written with partitionBy(day), and each
    * batch anti-joins ONLY the store partitions overlapping the batch's
    * own [min(day), max(day)] range — the day filter is a partition-
    * pruned directory scan, so per-batch read cost tracks the batch's
    * time span, never the store size. (The reference's loop reads one
    * file per symbol to find max(date) — same intent, per-key.) The
    * 2-value min/max collect is a bounded driver action on an
    * already-aggregated single row, not a data collect. The store is
    * this job's own output, so it is read with the batch's schema
    * rather than inferred on every batch.
    *
    * Event identity: an `event_id` names one tick, and a re-delivery
    * repeats that tick's row, day included. The batch is deduplicated
    * on `event_id` for the write only; its `[lo, hi]` range is taken
    * over the batch's non-null rows, which gives the same range without
    * a second dedup exchange. The one input where the two rules differ
    * is an `event_id` that lands on two different days: the range then
    * spans both days (a wider store scan, never a missed one) and the
    * write keeps one of the two rows. Across batches an id is matched
    * only against the stored days inside the range, so the store's
    * identity is `(day, event_id)`: an id stored on a day outside the
    * range is appended again. */
  def incrementalAppend(spark: SparkSession, landingDir: String, storeDir: String,
                        checkpointDir: String, schema: org.apache.spark.sql.types.StructType): Unit =
    drain("incrementalAppend", spark.readStream.schema(schema).parquet(landingDir),
        checkpointDir) { (batch0, _) =>
      val spark = batch0.sparkSession
      // in-batch dedup before the write: a re-delivered landing file
      // (at-least-once ingest) can repeat an event_id inside one
      // micro-batch — the store anti-join below only guards against
      // PAST batches. Null event times are rejected up front: a row
      // without a day cannot join the day-partitioned dedup contract
      // (it would land in the null partition, which no future
      // [lo, hi] range scan reads, so its re-delivery would duplicate
      // forever); a production deployment quarantines them instead
      // of appending.
      val live = batch0.filter(col("ts").isNotNull)
      // the range needs no dedup: duplicates repeat a row's day
      val Array(row) = live
        .agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi")).collect()
      if (!row.isNullAt(0)) {
        val (lo, hi) = (row.getDate(0), row.getDate(1))
        val batch = live.dropDuplicates("event_id").withColumn("day", to_date(col("ts")))
        val storedKeys = readStore(spark, storeDir, Some(batch.schema)).fold(
          batch.select("event_id").limit(0))( // schema-correct empty
          _.filter(col("day") >= lit(lo) && col("day") <= lit(hi)) // partition-pruned
            .select("event_id"))
        batch.join(storedKeys, Seq("event_id"), "left_anti")
          .write.mode("append").partitionBy("day").parquet(storeDir)
      }
    }

  /** Streaming near-dup ADMISSION — the [[graft.dedup.Dedup]] q88
    * incremental regime closed into the full production loop: each
    * micro-batch of documents from `landingDir` is near-dup-checked
    * (token w-gram MinHash+LSH, exact verify) against the PERSISTED
    * signature store, cluster representatives are admitted, and the
    * admitted docs' signatures are appended back to the store so the
    * next batch sees them as corpus. Trigger.AvailableNow — the
    * cron-equivalent nightly shape (the near-dup generalization of
    * [[incrementalAppend]]'s exact-key loop).
    *
    * Admission semantics per batch (all deterministic; "store content
    * wins" — the store is immutable, so a cluster reaching the store
    * is already represented):
    *  1. batch docs cluster by connected components over the
    *     batch-internal verified pairs (pair-greedy rejection would
    *     orphan chains: pairs (1,2),(2,3) must admit {1,3}, not {1});
    *  2. a cluster containing ANY doc with a verified pair to a STORE
    *     doc is rejected wholly — near-dup chains reject transitively,
    *     exactly as the full-corpus q65 components would merge them;
    *  3. admitted (doc_id, text) appends to `admittedDir` (the doc
    *     store — also the text source for verifying FUTURE batches
    *     against store docs), admitted signatures append to
    *     `sigStoreDir`. Docs with < w tokens have no signature; they
    *     admit (no detectable near-dup) without entering the store,
    *     as in the batch pipeline.
    *
    * Scale shape: every per-batch join is batch-sized on at least one
    * side; the store contributes one signature scan (k longs per doc)
    * and a survivor-scoped text lookup — never a corpus re-tokenize.
    * First batch bootstraps: no store yet → batch-vs-batch pairs only
    * (the full-pipeline spelling on a batch-sized input). */
  def nearDupAdmit(spark: SparkSession, landingDir: String, sigStoreDir: String,
                   admittedDir: String, checkpointDir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   w: Int = 5, k: Int = 32, bands: Int = 8,
                   threshold: Double = 0.7): Unit = {
    import graft.dedup.Dedup
    drain("nearDupAdmit", spark.readStream.schema(schema).parquet(landingDir),
        checkpointDir) { (batch0, _) =>
      val spark = batch0.sparkSession
      // scoped, NOT releaseAll: batch cleanup must only free this
      // batch's own caches/pins — a global release inside a batch
      // would free checkpoints pinned outside the stream, which are
      // unrecoverable (truncated lineage)
      graft.Caches.scoped {
        // at-least-once ingest can repeat a doc inside one batch
        // (dropDuplicates) or re-deliver an ALREADY-PROCESSED id
        // across batches (anti-join vs the admitted store — without
        // it a replayed admitted doc would pair with its own store
        // signature and re-admit as a duplicate)
        val batch = graft.Caches.cached(
          readStore(spark, admittedDir).foldLeft(
            batch0.select(col("doc_id"), col("text")).dropDuplicates("doc_id"))(
            (b, adm) => b.join(adm.select("doc_id"), Seq("doc_id"), "left_anti")))
        // ONLY store-absent (first run) may fall through to the
        // bootstrap; IO/corruption failures must abort the batch
        val pairs = graft.Caches.cached(readStore(spark, sigStoreDir) match {
          case Some(_) =>
            val texts = readStore(spark, admittedDir)
              .map(_.select("doc_id", "text").unionByName(batch))
              .getOrElse(batch)
            Dedup.incrementalNearDupsTokens(sigStoreDir, batch, texts,
              w, k, bands, threshold)
          case None =>
            Dedup.minhashNearDupsTokens(batch, w, k, bands, threshold)
        })
        val batchIds = batch.select("doc_id")
        // pair sides resolve store-vs-batch membership by semi/anti
        // joins (ids are disjoint by construction — the store only
        // ever receives ADMITTED ids, which left the batch)
        val aInBatch = pairs.join(batchIds.withColumnRenamed("doc_id", "a_id"),
          Seq("a_id"), "left_semi")
        val storeHitA = pairs.join(batchIds.withColumnRenamed("doc_id", "a_id"),
          Seq("a_id"), "left_anti").select(col("b_id").as("doc_id"))
        val storeHitB = aInBatch.join(batchIds.withColumnRenamed("doc_id", "b_id"),
          Seq("b_id"), "left_anti").select(col("a_id").as("doc_id"))
        val storeHit = graft.Caches.cached(
          storeHitA.unionByName(storeHitB).distinct())
        val batchPairs = aInBatch
          .join(batchIds.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_semi")
          .select("a_id", "b_id")
        // members: (doc_id, canonical_id) for every batch doc with a
        // batch-internal pair; singletons (incl. singleton store
        // hits) are handled by the storeHit anti-join below. Pinned,
        // not lazily cached: the job that pins `admitted` below reads
        // its one partition from several tasks at once, and a lazy
        // cache lets them race to build that one block (the losers
        // wait, then log "Block ... already exists")
        val members = graft.Caches.pin(
          // uniquePairs: batchPairs is a semi-join-scoped subset of
          // the LSH verify stream (distinct a<b)
          Dedup.components(graft.Caches.cached(batchPairs), uniquePairs = true))
        val infectedClusters = members
          .join(storeHit, Seq("doc_id"), "left_semi")
          .select("canonical_id").distinct()
        val clusterRejected = members
          .join(infectedClusters, Seq("canonical_id"), "left_semi")
          .select("doc_id")
          .unionByName(members.filter(col("doc_id") =!= col("canonical_id"))
            .select("doc_id"))
        // EAGER lineage cut before the appends: admitted's plan READS
        // admittedDir (the replay anti-join), and appending to a path
        // refreshes that path's caches — a cached-but-lineage-bearing
        // admitted would re-evaluate against its own output when the
        // signature write runs, admitting the wrong docs into the
        // store. The pin holds the batch-sized result in executor
        // blocks; both appends then read those blocks, and the
        // surrounding scope frees them when the batch ends.
        val admitted = graft.Caches.pin(batch
          .join(storeHit, Seq("doc_id"), "left_anti")
          .join(clusterRejected, Seq("doc_id"), "left_anti"))
        admitted.write.mode("append").parquet(admittedDir)
        Dedup.minhashSignaturesTokens(admitted, w, k)
          .write.mode("append").parquet(sigStoreDir)
      } // scoped: per-batch intermediates released here
    }
  }

  /** Store lifecycle for the [[nearDupAdmit]] stores —
    * the document-side analogue of the reference's snapshot rotation /
    * delisted-ticker archive (P5):
    *
    *  - RETIRE: rows whose doc_id is in `retireIds` (takedown, TTL,
    *    supersession) move from the admitted-doc store AND the
    *    signature store into an append-only archive partitioned by
    *    retire date — retired content stays auditable, and its
    *    signatures stop vetoing future admissions;
    *  - COMPACT: the appends-forever stores (one small parquet file
    *    per micro-batch) are rewritten into ceil(bytes/target) files,
    *    so store reads stop paying per-file open cost as batches
    *    accumulate (the 100 TB failure mode of append-only layouts).
    *
    * Swap protocol: survivors are written to `<dir>.compacting`, then
    * the old dir is renamed aside, the new one renamed in, and the old
    * one deleted — the non-atomic window is two renames wide. This is
    * a MAINTENANCE operation run while the admission loop is quiescent
    * (single-writer, like the reference's rotation between daily runs);
    * a transactional table format would subsume the swap at production
    * scale, but the retire/compact algebra stays exactly this.
    *
    * Returns (docs retired, sig rows retired, admitted files after,
    * sig files after) for observability. */
  def retireAndCompact(spark: SparkSession, admittedDir: String,
                       sigStoreDir: String, archiveRoot: String,
                       retireIds: DataFrame, retireDate: String,
                       targetFileBytes: Long = 128L * 1024 * 1024): (Long, Long, Int, Int) = {
    val fs = new org.apache.hadoop.fs.Path(admittedDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = retireIds.select("doc_id")
    def lifecycle(dir: String): (Long, Int) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      require(fs.exists(p), s"store $dir does not exist — nothing to maintain")
      val all = graft.Tables.parquet(spark, dir)
      val retired = all.join(ids, Seq("doc_id"), "left_semi")
        .withColumn("retire_date", lit(retireDate))
      // archive FIRST: if the job dies between archive and swap, the
      // store is untouched and the archive merely holds a duplicate
      // the next run overwrites semantically (append of same rows)
      retired.write.partitionBy("retire_date").mode(SaveMode.Append)
        .parquet(s"$archiveRoot/${p.getName}")
      val nRetired = retired.count()
      val bytes = fs.getContentSummary(p).getLength
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val tmp = new org.apache.hadoop.fs.Path(dir + ".compacting")
      val old = new org.apache.hadoop.fs.Path(dir + ".old")
      fs.delete(tmp, true); fs.delete(old, true)
      all.join(ids, Seq("doc_id"), "left_anti")
        .repartition(nFiles)
        .write.parquet(tmp.toString)
      require(fs.rename(p, old), s"could not rename $p aside")
      require(fs.rename(tmp, p), s"could not swap in compacted $tmp")
      fs.delete(old, true)
      (nRetired, nFiles)
    }
    val (admRetired, admFiles) = lifecycle(admittedDir)
    val (sigRetired, sigFiles) = lifecycle(sigStoreDir)
    (admRetired, sigRetired, admFiles, sigFiles)
  }

  /** Deterministic 17-doc audit fixture shared by the streaming audits
    * (q101/q132): the first 17 docs in doc_id order with ≥ 5 whitespace
    * tokens (the signature kernel's minimum). Bounded driver action —
    * 17 docs by construction at any corpus scale. */
  private def auditFixture(spark: SparkSession, dir: String): Array[(Long, String)] = {
    import spark.implicits._
    val base = graft.Tables.documents(spark, dir)
      .filter(size(split(trim(col("text")), "\\s+")) >= 5)
      .orderBy("doc_id").limit(17)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    require(base.length == 17, s"fixture needs 17 docs, got ${base.length}")
    base
  }

  /** Runs one checkpointed `Trigger.AvailableNow` start of `stream` to
    * termination: every checkpointed loop in this file is spelled
    * through here. Each micro-batch is first fingerprinted under `loop`
    * for the STREAMPLANS.json net (a no-op unless collection is on),
    * then handed to `sink` with its batch id. */
  private[graft] def drain[T](loop: String, stream: Dataset[T], checkpointDir: String,
                              mode: OutputMode = OutputMode.Append())(
                              sink: (Dataset[T], Long) => Unit): Unit =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        graft.tools.StreamPlans.record(loop, batch.sparkSession)
        sink(batch, batchId)
      }
      .start()
      .awaitTermination()

  /** Runs `body` on a fresh temp directory named from `prefix` and
    * removes the directory afterwards, also when `body` throws. What
    * `body` returns must not read the directory lazily: pin it, or
    * build it from driver-side rows. */
  private[graft] def replay[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally graft.Scratch.rmTree(dir)
  }

  /** Replays `starts` through one checkpointed loop under `tmp`. Each
    * start appends its frames as new files to the landings they are
    * keyed by (`tmp/<name>`), or lands nothing when it is None: a start
    * with no new data, which lets a watermark close out. Then one
    * [[drain]] start of `query` runs over every landing, each read with
    * the schema of the first frame landed there, on the one checkpoint
    * `tmp/ckpt`. `sink` gets each micro-batch with its start's index and
    * its batch id. */
  private[graft] def replayStarts[T](loop: String, tmp: String,
                                     starts: Seq[Option[Map[String, DataFrame]]],
                                     mode: OutputMode = OutputMode.Append())(
                                     query: Map[String, DataFrame] => Dataset[T])(
                                     sink: (Dataset[T], Int, Long) => Unit): Unit = {
    val landed = starts.flatten.flatten.distinctBy(_._1)
    val spark = landed.head._2.sparkSession
    starts.zipWithIndex.foreach { case (start, k) =>
      start.foreach(_.foreach { case (name, df) =>
        df.write.mode("append").parquet(s"$tmp/$name")
      })
      drain(loop, query(landed.map { case (name, df) =>
          name -> spark.readStream.schema(df.schema).parquet(s"$tmp/$name")
        }.toMap), s"$tmp/ckpt", mode)(sink(_, k, _))
    }
  }

  /** One start per chunk, each landing into `landing`. */
  private def landing(chunks: Seq[DataFrame]): Seq[Option[Map[String, DataFrame]]] =
    chunks.map(c => Some(Map("landing" -> c)))

  /** Event time `ts` in epoch ms. */
  private def ms: Column = unix_millis(col("ts"))

  /** The two cut points at a third and two thirds of `ev`'s event-time
    * span, and the span's end — a bounded 2-value driver action, from
    * which the audits cut their replays. */
  private def timeThirds(ev: DataFrame): (Long, Long, Long) = {
    val Array(r) = ev.agg(min(ms), max(ms)).collect()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, hi)
  }

  /** `ev` cut into three time-ordered chunks at the epoch ms `t1`, `t2`. */
  private def cutAt(ev: DataFrame, t1: Long, t2: Long): Seq[DataFrame] =
    Seq(ev.filter(ms < t1), ev.filter(ms >= t1 && ms < t2), ev.filter(ms >= t2))

  /** `df` cut into three chunks at a third and two thirds of its max
    * `id` (a 1-value driver action). */
  private def idThirds(df: DataFrame, id: String): Seq[DataFrame] = {
    val m = df.agg(max(col(id))).head.getLong(0)
    val (c1, c2) = (m / 3, 2 * m / 3)
    Seq(df.filter(col(id) <= c1), df.filter(col(id) > c1 && col(id) <= c2),
      df.filter(col(id) > c2))
  }

  /** A chunk of events split into the purchase and the view landing of
    * the stream-stream join audits. */
  private def joinSides(c: DataFrame): Map[String, DataFrame] = {
    def side(t: String) =
      c.filter(col("event_type") === t).select("event_id", "ts", "user_id", "value")
    Map("purchases" -> side("purchase"), "views" -> side("view"))
  }

  /** The parquet store at `dir`, or None while it does not exist yet.
    * Only an absent store falls through: an existing store that cannot
    * be read throws, since reading it as empty would silently disable
    * the dedup or admission that consults it. Existence is checked
    * first because reading a missing path makes Spark's FileStreamSink
    * log a WARN with a full stack trace. */
  private def readStore(spark: SparkSession, dir: String,
                        schema: Option[org.apache.spark.sql.types.StructType] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(schema.fold(graft.Tables.parquet(spark, dir))(spark.read.schema(_).parquet(dir)))
  }

  /** Run `body` under a fixture-sized shuffle width: every join in an
    * audit is ≤ 17 docs, so a wide session shuffle only adds empty-task
    * scheduling overhead to the ~30 stages a multi-run audit executes.
    * Restores the session width after. */
  private def withNarrowShuffle[A](spark: SparkSession)(body: => A): A =
    graft.Session.withShuffleWidth(spark, _ => 4)(body)

  /** Driver-visible audit of [[nearDupAdmit]]'s three-run admission law:
    * runs the REAL streaming loop three times over a deterministic
    * landing fixture in a fresh temp store —
    *   run 1 (bootstrap): 10 base docs + one exact copy of doc rn1 —
    *     the copy's cluster admits only its canonical;
    *   run 2 (store-hit): 5 fresh docs + a copy of STORE doc rn2
    *     (rejected wholly — store content wins) + a batch-internal
    *     dup pair built from rn16's text (admits its canonical only);
    *   run 3 (replay): run 2's rows re-delivered as new landing files
    *     (at-least-once ingest) — everything either anti-joins out
    *     against the admitted store or re-rejects via its store pair,
    *     so the loop is replay-idempotent.
    * Output: per-run (n_landed, n_admitted, n_store_docs) accounting.
    * The DuckDB oracle replays the ENTIRE admission algebra from exact
    * token-5-gram Jaccard pairs (the loop's own verify is exact, and
    * with k=16 single-row bands the constructed J=1 copies collide in
    * every band deterministically), so this entry is hash-checked, not
    * rows-only. The 17-doc fixture collect is a bounded driver action;
    * at corpus scale the audit stays 17 docs by construction. */
  def admissionLoopAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = auditFixture(spark, dir)
    def doc(rn: Int): (Long, String) = base(rn - 1)
    val b1 = base.take(10).toSeq :+ (1000001L, doc(1)._2)
    val b2 = base.slice(10, 15).toSeq ++
      Seq((1000002L, doc(2)._2), (1000003L, doc(16)._2), (1000004L, doc(16)._2))
    val runs = replay("q101_admit") { tmp =>
      val (landing, sig, adm, ckpt) =
        (s"$tmp/landing", s"$tmp/sigs", s"$tmp/admitted", s"$tmp/ckpt")
      def storeCount(): Long = readStore(spark, adm).fold(0L)(_.count())
      withNarrowShuffle(spark) {
        Seq(b1, b2, b2).zipWithIndex.map { case (batch, i) =>
          val df = batch.toDF("doc_id", "text")
          df.write.mode("append").parquet(landing) // new files = new delivery
          nearDupAdmit(spark, landing, sig, adm, ckpt, df.schema,
            w = 5, k = 16, bands = 16, threshold = 0.7)
          (i + 1L, batch.length.toLong, storeCount())
        }
      }
    }
    runs.map { case (run, landed, cum) =>
      val prev = runs.takeWhile(_._1 < run).lastOption.map(_._3).getOrElse(0L)
      (run, landed, cum - prev, cum)
    }.toDF("run", "n_landed", "n_admitted", "n_store_docs").orderBy("run")
  }

  /** Driver-visible audit of the [[retireAndCompact]] store lifecycle
    * — the weekly production operation whose central
    * semantic (a RETIRED doc's signature stops vetoing future
    * admissions, while live signatures keep vetoing) previously lived
    * only in StreamingSpec. Three phases over the shared 17-doc
    * fixture, all through the REAL streaming loop + maintenance op:
    *
    *   phase 1 (bootstrap): 10 base docs + an exact copy of doc rn1
    *     land and admit through [[nearDupAdmit]] — the copy's cluster
    *     admits only its canonical (rn1), so rn1's signature is now
    *     the store's veto for that content;
    *   phase 2 (retire + compact): rn1 retires (takedown) via
    *     [[retireAndCompact]] — its doc AND signature move to the
    *     archive, both stores compact to ceil(bytes/target) = 1 file
    *     each (the per-batch small-file debt is paid);
    *   phase 3 (re-admit): a fresh copy of rn1's text lands together
    *     with a copy of STORE doc rn2 — the rn1 copy ADMITS (its veto
    *     was retired with rn1), the rn2 copy REJECTS (live signatures
    *     still veto). Both directions of the lifecycle semantic are
    *     pinned in one run.
    *
    * Output: per-phase (n_landed, n_admitted, n_retired_docs,
    * n_retired_sigs, n_store_docs, n_sig_rows, n_compact_files)
    * accounting. The DuckDB oracle replays the whole algebra from
    * exact token-5-gram Jaccard (the loop's verify is exact, and J=1
    * copies collide in every single-row band deterministically — the
    * q101 contract), so the entry is hash-checked. Fixture-sized by
    * construction at any corpus scale. */
  def storeLifecycleAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = auditFixture(spark, dir)
    def doc(rn: Int): (Long, String) = base(rn - 1)
    val b1 = base.take(10).toSeq :+ (2000001L, doc(1)._2)
    val b2 = Seq((2000002L, doc(1)._2), (2000003L, doc(2)._2))
    val rows = replay("q132_lifecycle") { tmp =>
      val (landing, sigDir, admDir, ckpt, archive) =
        (s"$tmp/landing", s"$tmp/sigs", s"$tmp/admitted", s"$tmp/ckpt", s"$tmp/archive")
      def counts(): (Long, Long) =
        (graft.Tables.parquet(spark, admDir).count(), graft.Tables.parquet(spark, sigDir).count())
      def land(batch: Seq[(Long, String)]): Unit = {
        val df = batch.toDF("doc_id", "text")
        df.write.mode("append").parquet(landing) // new files = new delivery
        nearDupAdmit(spark, landing, sigDir, admDir, ckpt, df.schema,
          w = 5, k = 16, bands = 16, threshold = 0.7)
      }
      withNarrowShuffle(spark) {
        land(b1)
        val (adm1, sig1) = counts()
        val (retDocs, retSigs, admFiles, sigFiles) = retireAndCompact(
          spark, admDir, sigDir, archive,
          Seq(doc(1)._1).toDF("doc_id"), retireDate = "2026-01-01")
        val (adm2, sig2) = counts()
        land(b2)
        val (adm3, sig3) = counts()
        Seq(
          (1L, b1.length.toLong, adm1, 0L, 0L, adm1, sig1, 0L),
          (2L, 0L, 0L, retDocs, retSigs, adm2, sig2, (admFiles + sigFiles).toLong),
          (3L, b2.length.toLong, adm3 - adm2, 0L, 0L, adm3, sig3, 0L))
      }
    }
    rows.toDF("phase", "n_landed", "n_admitted", "n_retired_docs",
      "n_retired_sigs", "n_store_docs", "n_sig_rows", "n_compact_files")
      .orderBy("phase")
  }

  /** Driver-visible audit of [[sequencePack]]: the
    * REAL flatMapGroupsWithState loop runs over a chunked replay of the
    * documents table — three landing deliveries, three checkpointed
    * `Trigger.AvailableNow` restarts, per-source token offsets carried
    * ACROSS restarts by the state store — and the accumulated emissions
    * roll up into exactly q94's packing manifest. The oracle IS q94's
    * (shared by reference, not copied), so the streaming twin is
    * hash-checked against the already-proven batch spelling.
    *
    * Chunks cut on global doc_id ranges, so each source's docs arrive
    * monotone across batches — the ordering contract the operator
    * documents (append-only ingest with monotone ids). */
  def streamPackAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val starts = landing(idThirds(docs, "doc_id"))
    replay("q133_pack") { tmp =>
      replayStarts("streamPackAudit", tmp, starts, OutputMode.Update())(
          l => sequencePack(l("landing"))) { (b, _, _) =>
        b.toDF().write.mode("append").parquet(s"$tmp/packed")
      }
      // each doc is emitted exactly once (its one processing batch), so
      // the manifest is a plain rollup; localCheckpoint materializes it
      // before the per-invocation temp stores are removed
      graft.Tables.parquet(spark, s"$tmp/packed")
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
        .pinned()
    }
  }

  /** Driver-visible audit of [[scd2Stream]]: the REAL
    * flatMapGroupsWithState loop over a three-chunk time-ordered replay
    * of the events table (user_id < 100 — q117's slice), each key's
    * open interval carried across checkpointed restarts. Update-mode
    * emissions fold by "latest batch wins" per (user_id, version) —
    * the operator's documented consumption contract — and the folded
    * history is hash-checked against q117's oracle (shared by
    * reference). Chunks cut on timestamp value boundaries, so equal-ts
    * events never straddle a batch and each key's slices arrive
    * (ts, event_id)-monotone — the operator's ordering contract. */
  def streamScd2Audit(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .filter(col("user_id") < 100)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val (t1, t2, _) = timeThirds(ev)
    replay("q134_scd2") { tmp =>
      replayStarts("streamScd2Audit", tmp, landing(cutAt(ev, t1, t2)), OutputMode.Update())(
          l => scd2Stream(l("landing"))) { (b, k, _) =>
        b.toDF().withColumn("run", lit(k)).write.mode("append").parquet(s"$tmp/hist")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "version").orderBy(col("run").desc)
      graft.Tables.parquet(spark, s"$tmp/hist")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("version"), col("attr"), col("valid_from"),
          col("valid_to"), col("n_events"), col("is_current"))
        .orderBy("user_id", "version")
        .pinned()
    }
  }

  /** Driver-visible audit of [[sessionize]] (the custom
    * flatMapGroupsWithState sessionizer — the last big spec-only
    * streaming operator): the REAL loop runs over a three-chunk
    * time-ordered replay of the events table with checkpointed
    * restarts, then ONE sentinel event (a reserved user far past the
    * corpus) pushes the global watermark beyond every real session's
    * end + gap, and one final no-new-data start lets the event-time
    * timeouts flush any still-open state — the production
    * close-out-a-bounded-replay shape. Emitted sessions (Append mode:
    * each session exactly once, when the watermark passes it) fold
    * into q61's shape by ranking each user's sessions by start.
    *
    * The oracle is q61's session CTE WITHOUT total_value: session
    * STRUCTURE (count, boundaries) is exact and replayable, but the
    * streaming accumulator sums doubles in arrival order while the
    * batch twin sums in DECIMAL(18,4) — last-ulp IEEE differences are
    * not a semantic the audit should pin (StreamingSpec already pins
    * the full-tuple equality law on fixture data where the sums are
    * exact). Hash-checked on (user_id, session_id, n_events,
    * session_start, session_end). */
  def streamSessionAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapMs = 30 * 60 * 1000L
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val (t1, t2, hi) = timeThirds(ev)
    val sentinelUser = Long.MaxValue // reserved: no real user can collide
    val sentinel = Seq((-1L, new java.sql.Timestamp(hi + gapMs + 7200000L),
      sentinelUser, "closeout", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // None = no-new-data timeout flush
    val starts = landing(cutAt(ev, t1, t2) :+ sentinel) :+ None
    replay("q137_sessions") { tmp =>
      replayStarts("streamSessionAudit", tmp, starts)(l => sessionize(
          l("landing").as[Event], gapMinutes = 30, watermark = "0 seconds")) { (b, _, _) =>
        b.toDF().write.mode("append").parquet(s"$tmp/sessions")
      }
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("start")
      graft.Tables.parquet(spark, s"$tmp/sessions")
        .filter(col("user_id") =!= sentinelUser)
        .withColumn("session_id", row_number().over(wU).cast("long"))
        .select(col("user_id"), col("session_id"),
          col("n_events").cast("long").as("n_events"),
          col("start").as("session_start"), col("end").as("session_end"))
        .orderBy("user_id", "session_id")
        .pinned()
    }
  }

  /** Driver-visible audit of [[purchaseViewJoin]] (the watermarked
    * stream-stream interval join): purchases and views land as
    * separate streams in three time-ordered chunks with checkpointed
    * restarts — cross-chunk matches (a purchase whose views arrived a
    * restart earlier) must come out of the join STATE, which is
    * exactly what the audit exercises. Inner joins emit eagerly on
    * match, so no sentinel/close-out is needed; the accumulated
    * output is the complete interval-join relation and hash-matches
    * a plain batch range-join oracle. */
  def streamIntervalJoinAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val (t1, t2, _) = timeThirds(ev)
    val starts = cutAt(ev, t1, t2).map(c => Some(joinSides(c)))
    replay("q141_ssjoin") { tmp =>
      replayStarts("streamIntervalJoinAudit", tmp, starts)(
          l => purchaseViewJoin(l("purchases"), l("views"))) { (b, _, _) =>
        b.write.mode("append").parquet(s"$tmp/joined")
      }
      graft.Tables.parquet(spark, s"$tmp/joined")
        .select("p_id", "user_id", "p_ts", "p_value", "v_id", "v_ts", "v_value")
        .orderBy("p_id", "v_id")
        .pinned()
    }
  }

  /** Driver-visible audit of [[dailyBars]] (the P1 streaming twin):
    * the watermarked tumbling-window OHLC aggregate runs over a
    * three-chunk time-ordered replay with checkpointed restarts — a
    * DAY whose events straddle a chunk boundary must finalize out of
    * the aggregate STATE — then a sentinel event pushes the watermark
    * past every real window and a final no-data start flushes the
    * append-mode emissions (the q137 close-out shape). Append-mode
    * aggregates emit each finalized window exactly once, so the
    * accumulated output IS the bar table; it folds to q19's shape and
    * hash-matches q19's oracle (shared by reference) — open/close ride
    * min_by/max_by over (ts, event_id), no order-sensitive sums. */
  def streamOhlcAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val (t1, t2, hi) = timeThirds(ev)
    // sentinel: one event 3 days past the corpus (1-day window + 1-day
    // watermark + margin) under a reserved type the fold excludes
    val sentinel = Seq((-1L, new java.sql.Timestamp(hi + 3L * 86400000L),
      "closeout", 0.0)).toDF("event_id", "ts", "event_type", "value")
    // None = no-data flush start
    val starts = landing(cutAt(ev, t1, t2) :+ sentinel) :+ None
    replay("q143_ohlc") { tmp =>
      replayStarts("streamOhlcAudit", tmp, starts)(l => dailyBars(l("landing"))) {
          (b, _, _) =>
        b.write.mode("append").parquet(s"$tmp/bars")
      }
      graft.Tables.parquet(spark, s"$tmp/bars")
        .filter(col("event_type") =!= "closeout")
        .select(col("event_type"), to_date(col("day_start")).as("day"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
        .orderBy("event_type", "day")
        .pinned()
    }
  }

  /** Driver-visible audit of [[dedupStream]] (streaming exact dedup):
    * a three-chunk time-ordered replay where chunks 2 and 3 each
    * RE-DELIVER the previous chunk's final day (at-least-once delivery,
    * the failure mode dedup exists for). The re-deliveries arrive
    * inside the 2-day watermark, so every duplicate key is still in
    * state (expiry = first-seen ts + delay) and none is late (its ts
    * sits a full day above the persisted watermark) — the accumulated
    * append-mode output is therefore each event EXACTLY ONCE, and its
    * per-(type, day) fold hash-matches the batch aggregate over the
    * raw (duplicate-free) events table. State stays watermark-bounded
    * (keys purge as the watermark passes; StreamingSpec pins the
    * bound); the landing replay carries ~10% duplicate volume. */
  def streamDedupAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.dsumd
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val (t1, t2, _) = timeThirds(ev)
    val dayMs = 86400000L
    val dup1 = ev.filter(ms >= t1 - dayMs && ms < t1)
    val dup2 = ev.filter(ms >= t2 - dayMs && ms < t2)
    // non-vacuity guard: an empty re-delivery slice would make this
    // audit pass without the dedup ever seeing a duplicate (1-row
    // bounded driver actions on pushed-down range scans)
    require(dup1.limit(1).count() == 1 && dup2.limit(1).count() == 1,
      "q197 audit requires non-empty duplicate re-delivery slices")
    val Seq(c1, c2, c3) = cutAt(ev, t1, t2)
    // chunk 2 = its own rows + a re-delivery of chunk 1's last day
    val starts = landing(Seq(c1, c2.unionAll(dup1), c3.unionAll(dup2)))
    replay("q197_dedup") { tmp =>
      replayStarts("streamDedupAudit", tmp, starts)(
          l => dedupStream(l("landing"), "2 days")) { (b, _, _) =>
        b.write.mode("append").parquet(s"$tmp/deduped")
      }
      graft.Tables.parquet(spark, s"$tmp/deduped")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"), dsumd(col("value")).as("total_value"))
        .orderBy("event_type", "day")
        .pinned()
    }
  }

  /** Fixed-width per-series indicator state: the day count and the two
    * smoothed averages — O(series), never the history. */
  case class EmaState(n: Long, fast: Double, slow: Double)

  /** Incremental EMA/MACD maintenance — the streaming member of the
    * incremental-maintenance family (q93 exact aggregates, q150
    * postings, q103 IVF, q181 sketches) for the q196 recurrence. A
    * left fold is NATIVELY incremental: carrying (n, ema_fast,
    * ema_slow) per series and folding each batch's day-sorted closes
    * into it performs the EXACT same IEEE operation sequence as the
    * batch fold over the whole series — so the final state is
    * bit-equal to q196 and hash-matches q196's DuckDB oracle, with no
    * tolerance. Contract (the q133 ordering discipline): each
    * micro-batch delivers COMPLETE days, in day order across batches —
    * the audit cuts its replay on day boundaries for exactly this
    * reason. Closes use the same (ts, event_id) micro-precision
    * tie-break as [[dailyBars]]/ohlcDaily. */
  def emaMaintain(events: DataFrame): Dataset[(String, Long, Double, Double)] = {
    import events.sparkSession.implicits._
    events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .as[(String, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[EmaState, (String, Long, Double, Double)](
        GroupStateTimeout.NoTimeout) { (key, it, state) =>
        val rows = it.toIndexedSeq
        // per-day close inside the batch (days are complete by
        // contract): max_by (ts, id) at MICROsecond precision
        val closes = rows
          .groupBy(r => Math.floorDiv(tsMicros(r._2), 86400000000L))
          .toSeq
          .map { case (day, rs) =>
            (day, rs.maxBy(r => (tsMicros(r._2), r._3))._4)
          }
          .sortBy(_._1)
        var st = state.getOption.getOrElse(EmaState(0L, 0.0, 0.0))
        closes.foreach { case (_, c) =>
          st =
            if (st.n == 0L) EmaState(1L, c, c) // seed = first close
            else EmaState(st.n + 1L,
              st.fast * 0.875 + c * 0.125,
              st.slow * 0.96875 + c * 0.03125)
        }
        state.update(st)
        (key, st.n, st.fast, st.slow)
      }
  }

  /** Driver-visible audit of [[emaMaintain]]: three DAY-ALIGNED chunks
    * (a mid-day cut would hand a batch half a day and break the
    * complete-days contract), checkpointed restarts between chunks,
    * Update-mode state emissions accumulated per batch; the final
    * state per series = the row with the max day count (monotone), and
    * it hash-matches q196's batch oracle EXACTLY — fold maintenance is
    * bit-preserving, unlike sketch maintenance (q181). */
  def streamEmaAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val (t1, t2, _) = timeThirds(ev)
    // day-aligned thirds (complete-days contract)
    def day(t: Long) = Math.floorDiv(t, 86400000L) * 86400000L
    replay("q200_ema") { tmp =>
      replayStarts("streamEmaAudit", tmp, landing(cutAt(ev, day(t1), day(t2))),
          OutputMode.Update())(l => emaMaintain(l("landing"))
          .toDF("event_type", "n_days", "ema_fast", "ema_slow")) { (b, _, _) =>
        b.write.mode("append").parquet(s"$tmp/state")
      }
      // final state per series = max day count (monotone across batches)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("n_days").desc)
      graft.Tables.parquet(spark, s"$tmp/state")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn("macd", col("ema_fast") - col("ema_slow"))
        .orderBy("event_type")
        .pinned()
    }
  }

  /** Driver-visible audit of the stream-stream LEFT OUTER interval
    * join — the capability q141's inner audit does not touch: an
    * unmatched left row must be emitted WITH NULL right columns, and
    * only once the right watermark proves no in-window match can still
    * arrive (state eviction, not batch completion, triggers the null
    * emission). Same three-chunk checkpointed replay as q141, plus the
    * q143 close-out shape: a far-future sentinel in BOTH streams
    * pushes the final watermark past every real join window and a
    * trailing no-data start flushes the evictions; sentinel rows carry
    * user_id −1 and are filtered before the fold. Hash-matches the
    * batch LEFT JOIN over the same events. */
  def streamOuterJoinAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val (t1, t2, hi) = timeThirds(ev)
    val sentinel = Seq((-1L, new java.sql.Timestamp(hi + 3L * 86400000L),
      -1L, 0.0)).toDF("event_id", "ts", "user_id", "value")
    val starts = (cutAt(ev, t1, t2).map(joinSides) :+
      Map("purchases" -> sentinel, "views" -> sentinel)).map(Some(_)) :+
      None // no-data flush start (q143 close-out)
    replay("q203_outer") { tmp =>
      replayStarts("streamOuterJoinAudit", tmp, starts)(l => purchaseViewJoin(
          l("purchases"), l("views"), "1 hour", "left_outer")) { (b, _, _) =>
        b.write.mode("append").parquet(s"$tmp/joined")
      }
      graft.Tables.parquet(spark, s"$tmp/joined")
        .filter(col("user_id") >= 0) // drop the sentinel's own emission
        .select("p_id", "user_id", "p_ts", "p_value", "v_id", "v_ts", "v_value")
        .orderBy("p_id", "v_id")
        .pinned()
    }
  }

  /** Driver-visible audit of the q217 trend-MV maintenance as a
    * STREAMING loop: events land in three time-ordered chunks with
    * checkpointed AvailableNow restarts; each micro-batch reduces to
    * day grain and MERGES into the persisted daily-revenue MV (the
    * additive q217 merge — a day whose events straddle a restart is
    * folded across runs, which is exactly what the chunk cuts force).
    * The old state is localCheckpoint-pinned before the overwrite so
    * the merge never reads its own output. After the replay the model
    * is refit from the state exactly as q217 serves it, so the output
    * hash-matches the SAME full-recompute DuckDB oracle — streamed
    * maintenance == batch maintenance == one-shot, the family's
    * strongest pin. (Clean-run audit: at-least-once REPLAY of a
    * non-idempotent additive merge is q197's topic, not this one.) */
  def streamTrendAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact._
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        col("event_type"))
    val (t1, t2, _) = timeThirds(ev)
    replay("q222_trend") { tmp =>
      val state = s"$tmp/state"
      replayStarts("streamTrendAudit", tmp, landing(cutAt(ev, t1, t2)))(_("landing")) {
          (b, _, _) =>
        val delta = b.groupBy(col("event_type"),
            (col("user_id") % 10).as("cohort"), to_date(col("ts")).as("day"))
          .agg((dsum(col("value")) * 10000).cast("long").as("y"))
        // pin the old MV before overwriting its directory
        readStore(spark, state).fold(delta)(_.pinned().unionByName(delta)
            .groupBy("event_type", "cohort", "day")
            .agg(sum(col("y")).as("y")))
          .write.mode("overwrite").parquet(state)
      }
      val pts = graft.Tables.parquet(spark, state)
        .withColumn("x",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      pts.groupBy("event_type", "cohort")
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("cohort"), col("n_days"),
          (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
            // zero-variance guard (the q239/q221 cross-engine edge)
            when(col("n_days") * col("sxx") - col("sx") * col("sx") =!= 0,
                (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")) / 1e4)
            .as("slope_per_day"))
        .orderBy("event_type", "cohort")
        .pinned()
    }
  }

  /** Per-user funnel state: first-view time and the converting
    * purchase (q70/q245 semantics: first purchase STRICTLY after the
    * first view), both epoch micros; Long.MaxValue = unset. */
  case class FunnelState(minViewUs: Long, convUs: Long)

  /** Streaming funnel/attribution tracker: O(1) state per user, one
    * emission per user AT the batch their conversion completes.
    * Correctness leans on the replay contract the audit enforces:
    * chunks partition GLOBAL event time, so a user's events arrive in
    * time order ACROSS batches — minView never decreases once set
    * (later batches only carry later timestamps), so a purchase
    * rejected as ≤ minView can never re-qualify, and a purchase
    * accepted as > minView stays the FIRST qualifying one (later
    * batches' purchases are later). Within one batch the fold computes
    * the batch-final minView before qualifying that batch's purchases.
    * No timeout/watermark: funnel state is (16 bytes × users) — the
    * q137 sessionizer's O(users) bound. */
  def funnelMaintain(events: DataFrame): Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        val rows = it.toIndexedSeq
        val st = state.getOption.getOrElse(FunnelState(Long.MaxValue, Long.MaxValue))
        val wasConverted = st.convUs != Long.MaxValue
        val mv = rows.iterator.filter(_._3 == "view")
          .map(r => tsMicros(r._2)).foldLeft(st.minViewUs)(math.min)
        var conv = st.convUs
        if (mv != Long.MaxValue)
          rows.iterator.filter(_._3 == "purchase").map(r => tsMicros(r._2))
            .filter(_ > mv).foreach(p => conv = math.min(conv, p))
        state.update(FunnelState(mv, conv))
        if (!wasConverted && conv != Long.MaxValue) Iterator((uid, mv, conv))
        else Iterator.empty
      }
  }

  /** Driver-visible audit of [[funnelMaintain]] — the 13th streaming
    * loop: events land in three time-ordered chunks with checkpointed
    * AvailableNow restarts; each converted user is emitted exactly
    * once by the state machine (duplicates from at-least-once sink
    * appends are dropped by a distinct on the immutable conversion
    * tuple). The final cohort report is the q245 histogram-cumulation
    * spelling over the streamed conversions and hash-matches q245's
    * full-recompute DuckDB oracle VERBATIM — streamed funnel state ==
    * batch funnel, the q222 oracle-sharing pin. */
  def streamFunnelAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val (t1, t2, _) = timeThirds(ev)
    // ONE file per chunk: funnelMaintain's proof needs a
    // user's events time-ordered ACROSS micro-batches, which holds
    // only if each landed chunk is consumed whole in a single batch —
    // a multi-file chunk could be split by a maxFilesPerTrigger-style
    // source limit, letting a purchase process before its earlier
    // same-chunk view (conversion lost vs the batch oracle). A
    // single file per restart makes single-batch-per-chunk structural.
    val starts = landing(cutAt(ev, t1, t2).map(_.coalesce(1)))
    replay("q246_funnel") { tmp =>
      replayStarts("streamFunnelAudit", tmp, starts)(l => funnelMaintain(l("landing"))
          .toDF("user_id", "v_us", "p_us")) { (b, _, _) =>
        b.write.mode("append").parquet(s"$tmp/conv")
      }
      val conv = graft.Tables.parquet(spark, s"$tmp/conv").distinct()
      // q245's histogram-cumulation report over the streamed conversions
      val h = conv.select((col("user_id") % 10).as("cohort"),
          expr("(p_us - v_us) DIV 60000000").as("delay_min"))
        .groupBy("cohort", "delay_min").agg(count(lit(1)).as("c"))
      val wC = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort")).orderBy(col("delay_min"))
      val tot = h.groupBy("cohort").agg(sum(col("c")).as("n_conv"))
      h.withColumn("cum", sum(col("c")).over(wC))
        .join(tot, "cohort")
        .groupBy("cohort")
        .agg(max(col("n_conv")).as("n_conv"),
          min(when(col("cum") * 2 >= col("n_conv"), col("delay_min"))).as("p50"),
          min(when(col("cum") * 10 >= col("n_conv") * 9, col("delay_min"))).as("p90"),
          min(when(col("cum") * 100 >= col("n_conv") * 99, col("delay_min"))).as("p99"),
          max(col("delay_min")).as("max_delay"))
        .orderBy("cohort")
        .pinned()
    }
  }

  /** Per-QI-class release-gate state: rows seen so far and the
    * custkeys withheld while the class is still re-identifiable
    * (|buf| < k always — once the class opens the buffer stays
    * empty, so state is O(k) per class BY CONSTRUCTION, the bound
    * q229's k<5 audit measures after the fact). */
  case class KAnonState(n: Long, buf: List[Long])

  /** Streaming k-anonymity RELEASE GATE — q229's preventive audit
    * turned into an admission control: a row is released only once
    * its quasi-identifier class (nation, segment, balance band) holds
    * ≥ k rows; earlier arrivals are withheld in the class buffer and
    * flushed the moment the class opens. The released SET is
    * order-independent (class counts only grow, so released ==
    * "member of a class whose FINAL size ≥ k"), which is what lets
    * the audit hash-match a plain batch oracle. */
  def kAnonGate(customers: DataFrame, k: Int = 5): Dataset[(Long, Int, String, Long)] = {
    import customers.sparkSession.implicits._
    customers.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_band"))
      .as[(Long, Int, String, Long)]
      .groupByKey(r => (r._2, r._3, r._4))
      .flatMapGroupsWithState[KAnonState, (Long, Int, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, it, state) =>
        val keys = it.map(_._1).toList
        val st = state.getOption.getOrElse(KAnonState(0L, Nil))
        val n2 = st.n + keys.size
        if (st.n >= k) { // class already open: pass straight through
          state.update(KAnonState(n2, Nil))
          keys.iterator.map(ck => (ck, key._1, key._2, key._3))
        } else if (n2 >= k) { // opens NOW: flush buffer + this batch
          state.update(KAnonState(n2, Nil))
          (st.buf ++ keys).iterator.map(ck => (ck, key._1, key._2, key._3))
        } else { // still below k: withhold
          state.update(KAnonState(n2, st.buf ++ keys))
          Iterator.empty
        }
      }
  }

  /** Driver-visible audit of [[kAnonGate]] — the 14th streaming loop:
    * customers land in three custkey-range chunks (no event time — the
    * gate is order-independent, the strongest replay property in the
    * family) with checkpointed AvailableNow restarts; the released
    * rows (distinct over at-least-once sink appends — custkeys are
    * unique) roll up per nation and hash-match the batch oracle
    * "customers whose class size ≥ 5" computed by DuckDB from
    * scratch. */
  def streamKAnonAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal"))
    val starts = landing(idThirds(cust, "c_custkey"))
    replay("q251_kanon") { tmp =>
      // k = 2 is FIXTURE-SCALED (sf0.001's largest class holds 2 rows
      // — the production default stays kAnonGate's k = 5); at k = 2
      // the gate engages at every SF: 6/416/1375 classes open
      replayStarts("streamKAnonAudit", tmp, starts)(l => kAnonGate(l("landing"), k = 2)
          .toDF("c_custkey", "c_nationkey", "c_mktsegment", "bal_band")) { (b, _, _) =>
        b.write.mode("append").parquet(s"$tmp/released")
      }
      graft.Tables.parquet(spark, s"$tmp/released").distinct()
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_released"),
          countDistinct(concat(col("c_mktsegment"), lit("#"),
            col("bal_band").cast("string"))).as("n_classes"),
          min(col("c_custkey")).as("min_released"),
          max(col("c_custkey")).as("max_released"))
        .orderBy("c_nationkey")
        .pinned()
    }
  }

  case class StratEntry(h: String, doc_id: Long)
  case class StratState(gen: Long, top: Seq[StratEntry])
  case class StratSampleRow(source: String, rn: Long, doc_id: Long,
                            h: String, gen: Long)

  /** STREAMING exact-quota stratified sample — q254's twin over an
    * unbounded stream: per stratum, keep the k documents with the
    * smallest (md5(doc_id), doc_id) rank. The selection function is a
    * commutative, associative merge of bounded top-k sets, so the
    * final state is EXACTLY the batch q254 answer regardless of
    * arrival order or batch boundaries — the property that makes
    * hash-rank sampling the streaming-safe spelling of "exactly N per
    * stratum" (a rate-threshold sample is also mergeable but only
    * approximately sized; a reservoir sample is sized but
    * order-dependent). State per stratum is O(k): one bounded sorted
    * set plus a generation counter, never the stream.
    *
    * Update-mode contract: each batch that TOUCHES a stratum re-emits
    * that stratum's full current top-k stamped with a bumped `gen`;
    * consumers fold "latest gen wins per source" (an untouched
    * stratum's previous emission is still its current answer). */
  def stratifiedSampleStream(docs: DataFrame, k: Int): Dataset[StratSampleRow] = {
    val s = docs.sparkSession
    import s.implicits._
    val ord = implicitly[Ordering[(String, Long)]]
    docs
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[StratState, StratSampleRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (source, rows, state) =>
          val prev = state.getOption.getOrElse(StratState(0L, Nil))
          val top = scala.collection.mutable.TreeSet.empty[(String, Long)]
          prev.top.foreach(e => top.add((e.h, e.doc_id)))
          // bounded insert: O(log k) per row, never materializes the
          // batch iterator (a hot stratum's batch can be corpus-sized).
          // Evict ONLY when add() actually inserted: an at-least-once
          // source can REDELIVER a doc already in the set (the
          // nearDupAdmit redelivery mode) — add() is then a no-op and
          // an unconditional evict would delete the legitimate k-th
          // entry, permanently shrinking the sample.
          rows.foreach { r =>
            val e = (r._3, r._2)
            if (top.size < k) top.add(e)
            else if (ord.lt(e, top.last) && top.add(e)) top.remove(top.last)
          }
          val gen = prev.gen + 1
          state.update(StratState(gen,
            top.toSeq.map { case (h, id) => StratEntry(h, id) }))
          top.iterator.zipWithIndex.map { case ((h, id), i) =>
            StratSampleRow(source, i + 1L, id, h, gen)
          }
      }
  }

  /** Driver-visible audit of [[stratifiedSampleStream]]: the REAL
    * flatMapGroupsWithState loop over a three-chunk replay of the
    * documents table with checkpointed restarts, update-mode emissions
    * folded by "latest gen wins per source". Because the top-k merge is
    * order-independent, the folded answer must equal the batch q254
    * EXACTLY — the oracle is q254's SQL verbatim (the q246/q222
    * oracle-sharing pin), hash-matched. */
  def streamStratSampleAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "source")
    val starts = landing(idThirds(docs, "doc_id"))
    replay("q255_strat") { tmp =>
      // narrow shuffle: every stage here is fixture-sized (the state
      // shuffle keys on ~20 sources) — session-width shuffles would be
      // pure empty-task scheduling overhead
      withNarrowShuffle(spark) {
        replayStarts("streamStratSampleAudit", tmp, starts, OutputMode.Update())(
            l => stratifiedSampleStream(l("landing"), k = 20)) { (b, _, bid) =>
          // IDEMPOTENT per batchId: a failure-replayed
          // batch OVERWRITES its own subdirectory instead of
          // appending a second copy — the max-gen fold below keeps
          // every row of the latest gen, so an append-mode duplicate
          // would survive to the compared output. batchIds are
          // unique across the three chunk queries because they share
          // one checkpoint (the offset log continues numbering).
          b.toDF().write.mode("overwrite").parquet(s"$tmp/sample/batchId=$bid")
        }
        val byGen = org.apache.spark.sql.expressions.Window.partitionBy("source")
        graft.Tables.parquet(spark, s"$tmp/sample")
          .withColumn("mx", max(col("gen")).over(byGen))
          .filter(col("gen") === col("mx"))
          .select(col("source"), col("rn"), col("doc_id"), col("h"))
          .orderBy("source", "rn")
          .pinned()
      }
    }
  }

  val queries: Map[String, graft.Q] = Map(
    "q255_stream_stratified_sample" -> ((s, dir) => streamStratSampleAudit(s, dir)),
    "q251_stream_kanon_gate" -> ((s, dir) => streamKAnonAudit(s, dir)),
    "q101_admission_loop" -> ((s, dir) => admissionLoopAudit(s, dir)),
    "q132_store_lifecycle" -> ((s, dir) => storeLifecycleAudit(s, dir)),
    "q133_stream_pack" -> ((s, dir) => streamPackAudit(s, dir)),
    "q134_stream_scd2" -> ((s, dir) => streamScd2Audit(s, dir)),
    "q137_stream_sessions" -> ((s, dir) => streamSessionAudit(s, dir)),
    "q141_stream_interval_join" -> ((s, dir) => streamIntervalJoinAudit(s, dir)),
    "q143_stream_ohlc" -> ((s, dir) => streamOhlcAudit(s, dir)),
    "q197_stream_dedup" -> ((s, dir) => streamDedupAudit(s, dir)),
    "q200_stream_ema" -> ((s, dir) => streamEmaAudit(s, dir)),
    "q203_stream_outer_join" -> ((s, dir) => streamOuterJoinAudit(s, dir)),
    "q222_stream_trend" -> ((s, dir) => streamTrendAudit(s, dir)),
    "q246_stream_funnel" -> ((s, dir) => streamFunnelAudit(s, dir)))

  /** Exact-Jaccard replay of the three-run admission algebra: fixture
    * construction, token-5-gram Jaccard pairs, per-run components
    * (recursive CTEs), store-hit infection, canonical-only admission. */
  val oracles: Map[String, String] = Map(
    // folded streaming top-k state == batch stratified sample: the
    // merge is order-independent, so q255 shares q254's oracle
    // VERBATIM (the strongest stream-vs-batch pin in the family)
    "q255_stream_stratified_sample" ->
      graft.operators.TextScoring.oracles("q254_stratified_sample"),
    // streamed funnel state == batch funnel: q246 shares q245's
    // full-recompute oracle verbatim (the q222 oracle-sharing pin)
    "q246_stream_funnel" ->
      graft.operators.Analytics.oracles("q245_conversion_delay"),
    // the released set is order-independent: member of a class whose
    // FINAL size ≥ k — a plain batch class-size oracle (k = 2,
    // fixture-scaled: sf0.001's largest class holds 2 rows)
    "q251_stream_kanon_gate" ->
      """WITH cls AS (
           SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             COUNT(*) AS k
           FROM customer GROUP BY 1, 2, 3),
         rel AS (SELECT * FROM cls WHERE k >= 2),
         released AS (
           SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS band
           FROM customer c
           JOIN rel ON c.c_nationkey = rel.c_nationkey
                   AND c.c_mktsegment = rel.c_mktsegment
                   AND CAST(floor(c.c_acctbal / 1000) AS BIGINT) = rel.band)
         SELECT c_nationkey, COUNT(*) AS n_released,
           COUNT(DISTINCT c_mktsegment || '#' || CAST(band AS VARCHAR))
             AS n_classes,
           MIN(c_custkey) AS min_released,
           MAX(c_custkey) AS max_released
         FROM released GROUP BY 1 ORDER BY 1""",
    // streamed maintenance == batch maintenance == one-shot recompute:
    // q222 shares q217's full-recompute oracle verbatim
    "q222_stream_trend" ->
      graft.operators.TimeSeries.oracles("q217_trend_maintenance"),
    "q101_admission_loop" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, text, str_split_regex(trim(text), '\s+') AS t
           FROM documents),
         base AS MATERIALIZED (
           SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rn
           FROM (SELECT doc_id, text FROM toks WHERE len(t) >= 5
                 ORDER BY doc_id LIMIT 17)),
         b1 AS MATERIALIZED (SELECT doc_id, text FROM base WHERE rn <= 10
                UNION ALL SELECT 1000001, text FROM base WHERE rn = 1),
         b2 AS MATERIALIZED (SELECT doc_id, text FROM base WHERE rn BETWEEN 11 AND 15
                UNION ALL SELECT 1000002, text FROM base WHERE rn = 2
                UNION ALL SELECT 1000003, text FROM base WHERE rn = 16
                UNION ALL SELECT 1000004, text FROM base WHERE rn = 16),
         fixture AS MATERIALIZED (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
         sh AS MATERIALIZED (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
           FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
                 FROM (SELECT doc_id, str_split_regex(trim(text), '\s+') AS t
                       FROM fixture))),
         sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS MATERIALIZED (
           SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         jac AS MATERIALIZED (
           SELECT a, b FROM inter
           JOIN sizes sa ON sa.doc_id = inter.a
           JOIN sizes sb ON sb.doc_id = inter.b
           WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.7),
         e AS MATERIALIZED (SELECT a, b FROM jac UNION SELECT b, a FROM jac),
         -- run 1: bootstrap, batch-internal components only
         p1 AS MATERIALIZED (SELECT a, b FROM jac
                WHERE a IN (SELECT doc_id FROM b1) AND b IN (SELECT doc_id FROM b1)),
         e1 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p1 UNION SELECT b, a FROM p1),
         r1(id, label) AS (
           SELECT DISTINCT src, src FROM e1
           UNION SELECT e1.src, r1.label FROM e1 JOIN r1 ON e1.dst = r1.id),
         c1 AS MATERIALIZED (SELECT id, MIN(label) AS canonical FROM r1 GROUP BY id),
         adm1 AS MATERIALIZED (SELECT doc_id FROM b1
                  WHERE doc_id NOT IN (SELECT id FROM c1 WHERE id <> canonical)),
         -- run 2: store = adm1; store-hits reject whole clusters
         hit2 AS MATERIALIZED (SELECT DISTINCT e.a AS doc_id FROM e
                  WHERE e.a IN (SELECT doc_id FROM b2)
                    AND e.b IN (SELECT doc_id FROM adm1)),
         p2 AS MATERIALIZED (SELECT a, b FROM jac
                WHERE a IN (SELECT doc_id FROM b2) AND b IN (SELECT doc_id FROM b2)),
         e2 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p2 UNION SELECT b, a FROM p2),
         r2(id, label) AS (
           SELECT DISTINCT src, src FROM e2
           UNION SELECT e2.src, r2.label FROM e2 JOIN r2 ON e2.dst = r2.id),
         c2 AS MATERIALIZED (SELECT id, MIN(label) AS canonical FROM r2 GROUP BY id),
         inf2 AS MATERIALIZED (SELECT DISTINCT canonical FROM c2
                  WHERE id IN (SELECT doc_id FROM hit2)),
         rej2 AS MATERIALIZED (SELECT id FROM c2 WHERE canonical IN (SELECT canonical FROM inf2)
                  UNION SELECT id FROM c2 WHERE id <> canonical),
         adm2 AS MATERIALIZED (SELECT doc_id FROM b2
                  WHERE doc_id NOT IN (SELECT doc_id FROM hit2)
                    AND doc_id NOT IN (SELECT id FROM rej2)),
         -- run 3: replay of b2; store = adm1 ∪ adm2; survivors = b2 \ adm2
         n3 AS MATERIALIZED (SELECT doc_id FROM b2
                WHERE doc_id NOT IN (SELECT doc_id FROM adm2)),
         s3 AS MATERIALIZED (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2),
         hit3 AS MATERIALIZED (SELECT DISTINCT e.a AS doc_id FROM e
                  WHERE e.a IN (SELECT doc_id FROM n3)
                    AND e.b IN (SELECT doc_id FROM s3)),
         p3 AS MATERIALIZED (SELECT a, b FROM jac
                WHERE a IN (SELECT doc_id FROM n3) AND b IN (SELECT doc_id FROM n3)),
         e3 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p3 UNION SELECT b, a FROM p3),
         r3(id, label) AS (
           SELECT DISTINCT src, src FROM e3
           UNION SELECT e3.src, r3.label FROM e3 JOIN r3 ON e3.dst = r3.id),
         c3 AS MATERIALIZED (SELECT id, MIN(label) AS canonical FROM r3 GROUP BY id),
         inf3 AS MATERIALIZED (SELECT DISTINCT canonical FROM c3
                  WHERE id IN (SELECT doc_id FROM hit3)),
         rej3 AS MATERIALIZED (SELECT id FROM c3 WHERE canonical IN (SELECT canonical FROM inf3)
                  UNION SELECT id FROM c3 WHERE id <> canonical),
         adm3 AS MATERIALIZED (SELECT doc_id FROM n3
                  WHERE doc_id NOT IN (SELECT doc_id FROM hit3)
                    AND doc_id NOT IN (SELECT id FROM rej3))
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS run,
             (SELECT COUNT(*) FROM b1) AS n_landed,
             (SELECT COUNT(*) FROM adm1) AS n_admitted,
             (SELECT COUNT(*) FROM adm1) AS n_store_docs
           UNION ALL
           SELECT 2, (SELECT COUNT(*) FROM b2),
             (SELECT COUNT(*) FROM adm2),
             (SELECT COUNT(*) FROM adm1) + (SELECT COUNT(*) FROM adm2)
           UNION ALL
           SELECT 3, (SELECT COUNT(*) FROM b2),
             (SELECT COUNT(*) FROM adm3),
             (SELECT COUNT(*) FROM adm1) + (SELECT COUNT(*) FROM adm2)
               + (SELECT COUNT(*) FROM adm3)
         ) ORDER BY run""",

    // Exact-Jaccard replay of the retire-and-compact lifecycle algebra:
    // bootstrap admission (q101's r1 machinery), retire of the rn1
    // canonical (store = adm1 \ ret — its veto disappears), then the
    // phase-3 admission where the rn1 copy admits and the rn2 copy
    // store-hits. Every admitted fixture doc has ≥ 5 tokens, so
    // n_sig_rows == n_store_docs throughout; the compacted stores are
    // fixture-sized, so ceil(bytes/128MB) = 1 file each.
    "q132_store_lifecycle" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, text, str_split_regex(trim(text), '\s+') AS t
           FROM documents),
         base AS MATERIALIZED (
           SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rn
           FROM (SELECT doc_id, text FROM toks WHERE len(t) >= 5
                 ORDER BY doc_id LIMIT 17)),
         b1 AS MATERIALIZED (SELECT doc_id, text FROM base WHERE rn <= 10
                UNION ALL SELECT 2000001, text FROM base WHERE rn = 1),
         b2 AS MATERIALIZED (
           SELECT CAST(2000002 AS BIGINT) AS doc_id, text FROM base WHERE rn = 1
           UNION ALL SELECT 2000003, text FROM base WHERE rn = 2),
         fixture AS MATERIALIZED (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
         sh AS MATERIALIZED (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
           FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
                 FROM (SELECT doc_id, str_split_regex(trim(text), '\s+') AS t
                       FROM fixture))),
         sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS MATERIALIZED (
           SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         jac AS MATERIALIZED (
           SELECT a, b FROM inter
           JOIN sizes sa ON sa.doc_id = inter.a
           JOIN sizes sb ON sb.doc_id = inter.b
           WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.7),
         e AS MATERIALIZED (SELECT a, b FROM jac UNION SELECT b, a FROM jac),
         -- phase 1: bootstrap, batch-internal components only
         p1 AS MATERIALIZED (SELECT a, b FROM jac
                WHERE a IN (SELECT doc_id FROM b1) AND b IN (SELECT doc_id FROM b1)),
         e1 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p1 UNION SELECT b, a FROM p1),
         r1(id, label) AS (
           SELECT DISTINCT src, src FROM e1
           UNION SELECT e1.src, r1.label FROM e1 JOIN r1 ON e1.dst = r1.id),
         c1 AS MATERIALIZED (SELECT id, MIN(label) AS canonical FROM r1 GROUP BY id),
         adm1 AS MATERIALIZED (SELECT doc_id FROM b1
                  WHERE doc_id NOT IN (SELECT id FROM c1 WHERE id <> canonical)),
         -- phase 2: retire the rn1 canonical; its signature leaves the store
         ret AS MATERIALIZED (SELECT doc_id FROM adm1
                  WHERE doc_id = (SELECT doc_id FROM base WHERE rn = 1)),
         s2 AS MATERIALIZED (SELECT doc_id FROM adm1
                  WHERE doc_id NOT IN (SELECT doc_id FROM ret)),
         -- phase 3: store = s2; store-hits reject wholly, else components
         hit3 AS MATERIALIZED (SELECT DISTINCT e.a AS doc_id FROM e
                  WHERE e.a IN (SELECT doc_id FROM b2)
                    AND e.b IN (SELECT doc_id FROM s2)),
         p3 AS MATERIALIZED (SELECT a, b FROM jac
                WHERE a IN (SELECT doc_id FROM b2) AND b IN (SELECT doc_id FROM b2)),
         e3 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p3 UNION SELECT b, a FROM p3),
         r3(id, label) AS (
           SELECT DISTINCT src, src FROM e3
           UNION SELECT e3.src, r3.label FROM e3 JOIN r3 ON e3.dst = r3.id),
         c3 AS MATERIALIZED (SELECT id, MIN(label) AS canonical FROM r3 GROUP BY id),
         inf3 AS MATERIALIZED (SELECT DISTINCT canonical FROM c3
                  WHERE id IN (SELECT doc_id FROM hit3)),
         rej3 AS MATERIALIZED (SELECT id FROM c3 WHERE canonical IN (SELECT canonical FROM inf3)
                  UNION SELECT id FROM c3 WHERE id <> canonical),
         adm3 AS MATERIALIZED (SELECT doc_id FROM b2
                  WHERE doc_id NOT IN (SELECT doc_id FROM hit3)
                    AND doc_id NOT IN (SELECT id FROM rej3))
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS phase,
             CAST((SELECT COUNT(*) FROM b1) AS BIGINT) AS n_landed,
             (SELECT COUNT(*) FROM adm1) AS n_admitted,
             CAST(0 AS BIGINT) AS n_retired_docs,
             CAST(0 AS BIGINT) AS n_retired_sigs,
             (SELECT COUNT(*) FROM adm1) AS n_store_docs,
             (SELECT COUNT(*) FROM adm1) AS n_sig_rows,
             CAST(0 AS BIGINT) AS n_compact_files
           UNION ALL
           SELECT 2, 0, 0,
             (SELECT COUNT(*) FROM ret), (SELECT COUNT(*) FROM ret),
             (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s2), 2
           UNION ALL
           SELECT 3, (SELECT COUNT(*) FROM b2),
             (SELECT COUNT(*) FROM adm3), 0, 0,
             (SELECT COUNT(*) FROM s2) + (SELECT COUNT(*) FROM adm3),
             (SELECT COUNT(*) FROM s2) + (SELECT COUNT(*) FROM adm3), 0
         ) ORDER BY phase""",

    // The streaming twins' oracles ARE the batch twins' — shared by
    // reference, not copied, so the audits are hash-checked against
    // exactly the already-proven q94/q117 spellings.
    "q133_stream_pack" ->
      graft.operators.TextScoring.oracles("q94_sequence_pack"),
    "q134_stream_scd2" ->
      graft.operators.Snapshots.oracles("q117_scd2_intervals"),

    // q61's session CTE without total_value (IEEE arrival-order sums
    // are not replayable across engines; the batch twin q61 carries
    // the exact-decimal-sum law)
    "q137_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, event_id, ts,
             epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id)) AS gap_ms
           FROM events),
         sess AS (
           SELECT *, SUM(CASE WHEN gap_ms IS NULL OR gap_ms > 1800000
                              THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM e)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    // the interval join is a plain batch range join — values pass
    // through untouched, so the streaming output hashes directly
    "q141_stream_interval_join" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
           p.value AS p_value, v.event_id AS v_id, v.ts AS v_ts,
           v.value AS v_value
         FROM events p JOIN events v
           ON v.user_id = p.user_id
          AND p.event_type = 'purchase' AND v.event_type = 'view'
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
         ORDER BY p_id, v_id""",

    // the streaming OHLC twin's oracle IS q19's — shared by reference
    "q143_stream_ohlc" ->
      graft.operators.TimeSeries.oracles("q19_ohlc_daily"),

    // events is duplicate-free by construction (unique event_id), so
    // the batch twin of "dedup the at-least-once replay" is the plain
    // aggregate over the raw table
    "q197_stream_dedup" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // fold maintenance is bit-preserving: the streamed final state IS
    // the q196 batch fold — shared oracle
    "q200_stream_ema" ->
      graft.operators.TimeSeries.oracles("q196_ema_macd"),

    // the watermark-flushed outer join must equal the batch LEFT JOIN
    "q203_stream_outer_join" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
           p.value AS p_value, v.event_id AS v_id, v.ts AS v_ts,
           v.value AS v_value
         FROM events p LEFT JOIN events v
           ON v.user_id = p.user_id AND v.event_type = 'view'
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
         WHERE p.event_type = 'purchase'
         ORDER BY p_id, v_id""")

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class Session(user_id: Long, n_events: Int, start: java.sql.Timestamp,
                     end: java.sql.Timestamp, total_value: Double)
  /** Fixed-width open-session accumulator — never the event list.
    * Boundaries are MICROSECONDS since epoch: `Timestamp.getTime` is
    * millis, and truncating there silently merged two events
    * 30 min + 500 µs apart and emitted wrong session boundaries (found
    * by the q137 driver audit against the micro-precision batch twin).
    * Only the watermark comparisons floor to millis (the engine's
    * watermark unit), which is safe: gap is a whole number of millis,
    * so the close condition and the late-event cutoff floor
    * identically and the boundary event stays mergeable. */
  case class OpenSession(n: Int, startUs: Long, endUs: Long, total: Double)

  private def tsMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Custom sessionization with flatMapGroupsWithState: a session is
    * emitted once the watermark passes end + gap (event-time timeout),
    * identical session semantics to the batch twin (q61's lag/cumsum ==
    * session_window): sessions are the connected components of the
    * event multiset under "within gapMinutes" chaining — a property of
    * the DATA, independent of arrival order.
    *
    * State per user is the LIST of still-open sessions, sorted and
    * pairwise gap-separated. A single-accumulator state would mis-merge
    * a cross-batch straggler that precedes the open session by MORE
    * than the gap (arrival order is not event order across batches
    * while the watermark admits it); holding every open session makes
    * arrival order irrelevant. The list stays bounded by the watermark,
    * not the event count: any session with end + gap behind the
    * watermark is emitted and dropped, so per user at most
    * ~watermarkDelay/gap + 1 sessions (their starts are gap-separated
    * inside the watermark horizon) of four fixed-width fields each.
    * Event-time timeouts fire only when the watermark moves, so no
    * busy empty-batch loop; every session terminates. */
  def sessionize(events: Dataset[Event], gapMinutes: Int,
                 watermark: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    val gapUs = gapMs * 1000L
    events.withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[List[OpenSession]]) =>
          def emit(s: OpenSession) = Session(uid, s.n,
            microsTs(s.startUs), microsTs(s.endUs), s.total)
          // emit every session the watermark has passed; keep + re-arm
          // the rest. strict >: at watermark == end+gap an on-time
          // boundary event (t - end == gap, not > gap) could still
          // merge, so the session stays open and the timeout is armed
          // just past the watermark. Boundaries are micros; the
          // watermark unit is millis, so close times floor — same
          // flooring as the engine's late-event cutoff (see
          // OpenSession), so no boundary event can be both droppable
          // and mergeable.
          def settle(sessions: Seq[OpenSession]): Iterator[Session] = {
            val wm = state.getCurrentWatermarkMs()
            def closeMs(s: OpenSession) = Math.floorDiv(s.endUs, 1000000L) * 1000L +
              Math.floorMod(s.endUs, 1000000L) / 1000L + gapMs
            val (closed, open) = sessions.partition(s => wm > closeMs(s))
            if (open.isEmpty) { if (state.exists) state.remove() }
            else {
              state.update(open.toList)
              state.setTimeoutTimestamp(
                math.max(open.map(closeMs).min, wm + 1))
            }
            closed.iterator.map(emit)
          }
          if (state.hasTimedOut) settle(state.get)
          else {
            // per-trigger per-user slice: bounded by the micro-batch.
            // Insertion keeps the list sorted by start and pairwise
            // gap-separated; an event may extend the previous session,
            // the next one, neither (new unit session), or BOTH (a
            // bridge — the two merge through it).
            val buf = scala.collection.mutable.ArrayBuffer[OpenSession]()
            buf ++= state.getOption.getOrElse(Nil)
            evs.foreach { e =>
              val t = tsMicros(e.ts)
              var i = 0
              while (i < buf.length && buf(i).startUs <= t) i += 1
              val intoPrev = i > 0 && t - buf(i - 1).endUs <= gapUs
              val intoNext = i < buf.length && buf(i).startUs - t <= gapUs
              (intoPrev, intoNext) match {
                case (true, true) => // bridge: prev + event + next merge
                  val p = buf(i - 1); val nx = buf(i)
                  buf(i - 1) = OpenSession(p.n + nx.n + 1, p.startUs,
                    math.max(nx.endUs, t), p.total + nx.total + e.value)
                  buf.remove(i)
                case (true, false) =>
                  val p = buf(i - 1)
                  buf(i - 1) = OpenSession(p.n + 1, p.startUs,
                    math.max(p.endUs, t), p.total + e.value)
                case (false, true) =>
                  val nx = buf(i)
                  buf(i) = OpenSession(nx.n + 1, t, nx.endUs, nx.total + e.value)
                case (false, false) =>
                  buf.insert(i, OpenSession(1, t, t, e.value))
              }
            }
            settle(buf.toSeq)
          }
      }
  }

  /** Stream-stream interval join: each purchase matched to the same
    * user's views in the hour before it — the streaming counterpart of
    * the batch as-of join (q22), with BOTH sides watermarked and the
    * join range bounded, so each side buffers at most
    * watermark + interval of state and rows age out deterministically.
    * Unbounded stream-stream joins (no range, no watermark) are the
    * streaming OOM analogue of a cross join — never shipped here. */
  def purchaseViewJoin(purchases: DataFrame, views: DataFrame,
                       interval: String = "1 hour",
                       joinType: String = "inner"): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id"), col("value").as("p_value"))
    val v = views.withWatermark("ts", "2 hours")
      .select(col("event_id").as("v_id"), col("ts").as("v_ts"),
        col("user_id").as("v_user"), col("value").as("v_value"))
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $interval") &&
        col("v_ts") <= col("p_ts"),
      joinType)
      .select(col("p_id"), col("user_id"), col("p_ts"), col("p_value"),
        col("v_id"), col("v_ts"), col("v_value"))
  }

  /** Streaming exact dedup: natural-key dedup with watermark-bounded
    * state — the streaming twin of the batch anti-join dedup. MUST be
    * dropDuplicatesWithinWatermark, not dropDuplicates: plain
    * dropDuplicates("event_id") keeps every key it has ever seen even
    * under a watermark (eviction only happens when the event-time
    * column is part of the dedup key), so its state grows with the
    * corpus; the WithinWatermark variant dedups on the key alone and
    * purges each key once the watermark passes its event time. */
  def dedupStream(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  case class PackDoc(doc_id: Long, source: String, n_tok: Long)
  case class PackedDoc(doc_id: Long, source: String, n_tok: Long,
                       start: Long, bin: Long)

  /** Streaming twin of the q94 sequence-packing manifest: each
    * micro-batch's docs extend their source's token stream from the
    * offset where the previous batch stopped — `mapGroupsWithState`
    * carries ONE long per source (the running token offset), so state
    * is O(sources), independent of corpus size. Docs are packed in
    * doc_id order within each batch; the batch-equivalence contract
    * (spec-pinned) requires the landing layout to deliver monotone
    * doc_id per source across batches, which an append-only ingest
    * with monotone ids satisfies — the same ordering contract the
    * batch window's ORDER BY doc_id encodes.
    *
    * Why flatMapGroupsWithState and not a windowed aggregate: bin
    * assignment is a PREFIX SUM — inherently sequential within a
    * stream — which no watermark/window expresses incrementally;
    * per-source running state is exactly the custom-state API's
    * domain. Parallelism comes from the source dimension (thousands
    * of shards at corpus scale), matching the batch plan's
    * one-exchange-keyed-on-source shape. */
  def sequencePack(docs: DataFrame, binTokens: Long = 2048L): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .as[PackDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[PackDoc], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          // sort INSIDE the group: iterator order is shuffle order, and
          // a batch is small by construction (one landing chunk)
          val packed = it.toIndexedSeq.sortBy(_.doc_id).map { d =>
            val start = off
            off += d.n_tok
            PackedDoc(d.doc_id, src, d.n_tok, start, start / binTokens)
          }
          state.update(off)
          packed.iterator
      }
  }

  case class Scd2Ev(user_id: Long, event_id: Long,
                    ts: java.sql.Timestamp, event_type: String)
  case class Scd2Row(user_id: Long, version: Long, attr: String,
                     valid_from: java.sql.Timestamp,
                     valid_to: Option[java.sql.Timestamp],
                     n_events: Long, is_current: Boolean)
  case class Scd2State(version: Long, attr: String,
                       valid_from: java.sql.Timestamp, n_events: Long)

  /** Streaming twin of the q117 SCD2 history build: each key's OPEN
    * interval is the only state (O(keys), independent of history
    * length); a micro-batch's events extend it, CLOSE it (emitting the
    * finalized interval the moment its successor arrives — the
    * streaming advantage over the nightly batch rebuild), or both.
    * Every batch also re-emits the key's current open interval, so in
    * Update mode the latest row per (key, version) is always the
    * truth — the spec folds emissions that way and pins equality with
    * the batch q117 manifest across chunked replays.
    *
    * Same ordering contract as [[sequencePack]]: batches must deliver
    * (ts, event_id)-monotone slices per key (append-only time-ordered
    * ingest); within a batch the group sorts itself. */
  def scd2Stream(events: DataFrame): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[Scd2Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Scd2Ev], state: GroupState[Scd2State]) =>
          val out = scala.collection.mutable.ArrayBuffer[Scd2Row]()
          var cur = state.getOption
          it.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            cur match {
              case Some(st) if st.attr == e.event_type =>
                cur = Some(st.copy(n_events = st.n_events + 1))
              case Some(st) =>
                out += Scd2Row(uid, st.version, st.attr, st.valid_from,
                  Some(e.ts), st.n_events, is_current = false)
                cur = Some(Scd2State(st.version + 1, e.event_type, e.ts, 1L))
              case None =>
                cur = Some(Scd2State(1L, e.event_type, e.ts, 1L))
            }
          }
          cur.foreach { st =>
            state.update(st)
            out += Scd2Row(uid, st.version, st.attr, st.valid_from,
              None, st.n_events, is_current = true)
          }
          out.iterator
      }
  }
}
