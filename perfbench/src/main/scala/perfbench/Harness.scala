package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Caches, Main, SparkEntry}
import graft.sources.{Ingest, TickerStore}

/** One benchmark run in one JVM: a cold set-up, then a closed loop of
  * K whole passes over the workload's ops with one client, then
  * [[WarmSetups]] more set-ups.
  *
  * `queries`: an untimed prime pass writes every op's output for the
  * correctness gate, then each timed pass runs every op once in a
  * seeded order. `psx_daily`: each pass is a fresh simulated history;
  * its first [[PsxPrimeDays]] day primes the JVM and is not timed,
  * and the gate reads
  * the histories afterwards. Writes one JSON artifact; `run.py` turns
  * it into metrics and checks the outputs.
  *
  * Usage: Harness --workload W --seed N --trace 0|1
  *   --passes K --tables DIR --work DIR --out FILE
  *   [--psx-gen DIR --psx-days D]
  */
object Harness {
  /** Set-ups after the timed passes, once the JIT has compiled the hot
    * code; `setup_s` is their median. */
  val WarmSetups = 3

  /** Period of the host-speed probe that runs beside the fixed work and
    * beside the warm set-ups. */
  val ProbePeriodMs = 100L

  /** Untimed days at the start of each psx_daily history. */
  val PsxPrimeDays = 1

  /** The `queries` workload: a fixed slice of the bench-timed queries.
    * A fresh JVM pays about 1.7 s per distinct query to compile it and
    * 1 s per warm run on four cores, so a whole module pass (40-60 s)
    * does not fit in one run; the slice keeps the modules' cost mix. */
  val queryOps: Seq[String] = Seq(
    // operators.Relational / TimeSeries: short ops bound by fixed
    // per-query cost, with almost no eager build work; q217 serves a
    // memoized store fixture
    "q01_pricing_summary", "q05_semi_join", "q217_trend_maintenance",
    // dedup: q49 is build-bound (eager jobs, union-find), q37 is
    // exec-bound over the MinHash kernel of graft.plans and is the
    // largest single line of graft.Bench. The IVF/PQ store fixtures
    // cost 5-15 s per set-up and are left out.
    "q37_minhash_lsh", "q49_neardup_components")

  lazy val queries: Map[String, graft.Q] = queryOps.map(n => n -> SparkEntry.queries(n)).toMap

  /** `graft.Bench`'s session, plus the two local directories that keep
    * every file the run writes inside the benchmark's work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The sink `graft.Bench` times: forces every column, keeps no rows. */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** CPU time of the whole JVM: driver, executor threads, GC and JIT. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads so far, from /proc (they are
    * not Java threads, so no MXBean reports them). The JVM must keep a
    * fixed set of compiler threads (-XX:-UseDynamicNumberOfCompilerThreads),
    * or the time of one that exits would drop out of the sum. */
  def jitCpuNs: Long = {
    val ticks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
      .iterator.map { t =>
        try {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), "US-ASCII")
          val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
          if (!name.contains("CompilerThre")) 0L
          else {
            // utime and stime: fields 14 and 15, the 12th and 13th after the name
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
            f(11).toLong + f(12).toLong
          }
        } catch { case _: java.io.IOException => 0L }
      }.sum
    ticks * 10000000L // USER_HZ = 100
  }

  def gcMs: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val isQuery = workload == "queries"
    val ops: Seq[String] =
      if (isQuery) queryOps.sorted
      else (0 until a("psx-days").toInt).map(d => f"day$d%03d")
    val t0 = System.nanoTime()
    val out = mutable.LinkedHashMap[String, Any]()

    // Set-up: session start, Bench's warmup query and the memoized store
    // fixtures of this workload's queries. The first one pays the cold
    // JVM; the warm ones run after the timed passes. Each reads the
    // tables through its own link, because the fixtures memoize per
    // source path and would otherwise not rebuild.
    val fixtures = if (isQuery) SparkEntry.benchBuilds.filter(queries.contains) else Nil
    var spark: SparkSession = null
    var dir = ""
    def setUp(i: Int): Map[String, Any] = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      dir = link(a("tables"), s"$work/setup$i")
      val (c0, j0) = (cpuNs, jitCpuNs)
      val s0 = System.nanoTime()
      spark = session(cpus, work)
      val s1 = System.nanoTime()
      try consume(SparkEntry.queries("q02_revenue_by_nation")(spark, dir))
      finally Caches.releaseAll()
      val s2 = System.nanoTime()
      fixtures.foreach { n =>
        try { SparkEntry.queries(n)(spark, dir); () } finally Caches.releaseAll()
      }
      val s3 = System.nanoTime()
      Map("session_s" -> (s1 - s0) / 1e9, "warmup_s" -> (s2 - s1) / 1e9,
        "fixture_s" -> (s3 - s2) / 1e9, "cpu_s" -> (cpuNs - c0) / 1e9,
        "jit_cpu_s" -> (jitCpuNs - j0) / 1e9, "fixtures" -> fixtures, "cold" -> (i == 0))
    }
    val cold = setUp(0)
    out("workload") = workload
    out("env") = env(spark, cpus)

    // The fixed work is the untimed prime and every timed pass: the
    // same ops on every commit. Each of its ops is metered: process CPU
    // and, within it, JIT compiler CPU.
    var fixedCpuNs, fixedJitNs = 0L
    def metered(body: => Map[String, Any]): Map[String, Any] = {
      val (c0, j0) = (cpuNs, jitCpuNs)
      val r = body
      val (c, j) = (cpuNs - c0, jitCpuNs - j0)
      fixedCpuNs += c; fixedJitNs += j
      r ++ Map("cpu_s" -> c / 1e9, "jit_cpu_s" -> j / 1e9)
    }

    // Untimed prime pass over the queries: the first run of each op
    // compiles its code and reads its parquet footers, which the timed
    // passes should not pay. It is also the correctness pass: every
    // op's output lands as parquet for the DuckDB gate. (psx_daily
    // primes with the first days of each history.)
    val fixedProbe = new Probe(ProbePeriodMs)
    fixedProbe.start()
    val pr0 = System.nanoTime()
    if (isQuery) {
      val verify = s"$work/verify"
      val errs = mutable.LinkedHashMap[String, String]()
      ops.foreach { n =>
        metered {
          try queries(n)(spark, dir).write.mode("overwrite").parquet(s"$verify/$n")
          catch { case t: Throwable => errs(n) = cause(t) }
          finally Caches.releaseAll()
          Map.empty
        }
      }
      out("verify_dir") = verify
      out("verify_errors") = errs.toMap
      out("oracles") = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    }
    out("prime_s") = (System.nanoTime() - pr0) / 1e9

    val tr = new Trace(spark, t0)
    val opRecs = mutable.ArrayBuffer[Map[String, Any]]()
    val passRecs = mutable.ArrayBuffer[Map[String, Any]]()
    val psxDirs = mutable.ArrayBuffer[String]()
    // A fixed number of whole passes, so the timed work is the same on
    // every commit. A traced run traces its first pass only, so the
    // untraced passes after it give its overhead.
    for (pass <- 0 until passes) {
      val traced = trace && pass == 0
      val recs = if (isQuery) {
        tr.enable(traced)
        val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
        order.map(n => metered(queryOp(tr, spark, dir, pass, n, queries(n), traced, cpus)))
      } else {
        val data = s"$work/psx/pass$pass"
        psxDirs += data
        ops.indices.map { d =>
          val prime = d < PsxPrimeDays
          tr.enable(traced && !prime)
          metered(psxOp(tr, spark, a("psx-gen"), data, pass, d, traced && !prime, cpus) ++
            (if (prime) Map("prime" -> true) else Map.empty))
        }
      }
      opRecs ++= recs
      // A pass's figures are the sums over its timed ops.
      val timed = recs.filterNot(_.contains("prime"))
      def sum(k: String) = timed.map(_(k).asInstanceOf[Double]).sum
      passRecs += Map("pass" -> pass, "traced" -> traced, "wall_s" -> sum("s"),
        "cpu_s" -> sum("cpu_s"), "jit_cpu_s" -> sum("jit_cpu_s"))
    }
    tr.enable(false)
    out("fixed_probe_cpu_s") = fixedProbe.finish()
    out("fixed_cpu_s") = fixedCpuNs / 1e9
    out("fixed_jit_cpu_s") = fixedJitNs / 1e9
    out("run_cpu_s") = cpuNs / 1e9
    out("passes") = passRecs.toSeq
    out("ops") = opRecs.toSeq
    out("psx_dirs") = psxDirs.toSeq

    // Live heap: what the run still holds once garbage is collected
    // (the least of six collections, as finalizers and the context
    // cleaner free more between them).
    out("heap_live_mb") = (1 to 6).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    if (trace) writeSpans(tr, s"$work/trace")
    val setupProbe = new Probe(ProbePeriodMs)
    setupProbe.start()
    out("setups") = cold +: (1 to WarmSetups).map(setUp)
    out("setup_probe_cpu_s") = setupProbe.finish()
    spark.stop()
    Files.write(Paths.get(a("out")), Json(out.toMap).getBytes("UTF-8"))
  }

  def cause(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  /** A fresh symbolic link `at` -> `target` (replacing an older one). */
  def link(target: String, at: String): String = {
    val p = Paths.get(at)
    Files.deleteIfExists(p)
    Files.createSymbolicLink(p, Paths.get(target).toAbsolutePath)
    at
  }

  /** One query op: build, plan (traced only: the consume plans again),
    * exec and the Caches release, timed as one. */
  def queryOp(tr: Trace, spark: SparkSession, dir: String, pass: Int, name: String,
              fn: graft.Q, traced: Boolean, cpus: Int): Map[String, Any] = {
    val op = s"p$pass/$name"
    val gc0 = gcMs
    var err: String = null
    val parts = mutable.LinkedHashMap[String, Double]()
    val (_, total) = tr.span(op, "op", "") {
      try {
        if (!traced) consume(fn(spark, dir))
        else {
          val (df, b) = tr.span(op, "build", "op")(fn(spark, dir))
          parts("build") = b
          parts("plan") = tr.span(op, "plan", "op")(df.queryExecution.executedPlan)._2
          parts("exec") = tr.span(op, "exec", "op")(consume(df))._2
        }
      } catch { case t: Throwable => err = cause(t) }
      finally parts("release") = tr.span(op, "release", "op")(Caches.releaseAll())._2
    }
    opRecord(tr, op, name, pass, total, err, traced, parts, gcMs - gc0, cpus,
      Map("pinned_end" -> Caches.pinnedCount,
        "persistent_end" -> spark.sparkContext.getPersistentRDDs.size))
  }

  /** One psx_daily op: the day's tick drop arrives in landing/, then one
    * `Main.run(--full-run)` over `Main.defaultStages`, with sync's only
    * attempt being the generated ticker list and update-info's details
    * source the generated details table. */
  def psxOp(tr: Trace, spark: SparkSession, gen: String, data: String, pass: Int, day: Int,
            traced: Boolean, cpus: Int): Map[String, Any] = {
    val name = f"day$day%03d"
    val op = s"p$pass/$name"
    val dayDir = s"$gen/$name"
    val landing = Paths.get(s"$data/landing")
    Files.createDirectories(landing)
    Files.list(Paths.get(s"$dayDir/drop")).forEach { f =>
      Files.copy(f, landing.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    val syncDate = java.time.LocalDate.of(2025, 1, 6).plusDays(day).toString.replace("-", "")
    val base = Main.defaultStages(spark, data, syncDate,
      details = s => s.read.parquet(s"$dayDir/details.parquet"))
    val bound = base.copy(sync = () => {
      val t = Ingest.loadTickersWithFallback(spark,
        Seq("generated" -> (() => spark.read.parquet(s"$dayDir/universe.parquet"))))
      TickerStore.writeSnapshotIdempotent(t, s"$data/tickers", syncDate, "raw")
      !t.isEmpty
    })
    val parts = mutable.LinkedHashMap[String, Double]()
    def timed(stage: String, f: () => Boolean): () => Boolean =
      if (!traced) f
      else () => { val (r, s) = tr.span(op, s"stage.$stage", "op")(f()); parts(s"stage.$stage") = s; r }
    val stages = Main.Stages(timed("sync", bound.sync), timed("update_info", bound.updateInfo),
      timed("download_historical", bound.downloadHistorical),
      timed("daily_update", bound.dailyUpdate))
    val gc0 = gcMs
    var err: String = null
    val log = mutable.ArrayBuffer[String]()
    val (_, total) = tr.span(op, "op", "") {
      try {
        val code = Main.run(Seq("--full-run"), stages, m => log += m)
        val ok = log.count(_.endsWith(": ok"))
        if (code != 0 || ok != 4) err = s"exit $code; ${log.mkString("; ")}"
      } catch { case t: Throwable => err = cause(t) }
      finally parts("release") = tr.span(op, "release", "op")(Caches.releaseAll())._2
    }
    opRecord(tr, op, name, pass, total, err, traced, parts, gcMs - gc0, cpus,
      Map("pinned_end" -> Caches.pinnedCount,
        "persistent_end" -> spark.sparkContext.getPersistentRDDs.size))
  }

  def opRecord(tr: Trace, op: String, name: String, pass: Int, total: Double, err: String,
               traced: Boolean, parts: collection.Map[String, Double], gcDeltaMs: Long,
               cpus: Int, ends: Map[String, Int]): Map[String, Any] = {
    val base = Map[String, Any]("op" -> name, "pass" -> pass, "s" -> total,
      "ok" -> (err == null), "error" -> err, "traced" -> traced)
    if (!traced) base
    else {
      tr.drain()
      val counts = tr.countsOf(op).map { case (span, c) =>
        span -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "busy_s" -> c.busyMs / 1e3, "sched_delay_s" -> c.schedDelayMs / 1e3,
          "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
          "spill_bytes" -> c.spill, "result_bytes" -> c.resultBytes,
          "sql_actions" -> c.sqlActions, "sql_action_s" -> c.sqlActionNs / 1e9)
      }
      base ++ Map("parts" -> parts.toMap, "gc_s" -> gcDeltaMs / 1e3, "counts" -> counts,
        "cpus" -> cpus) ++ ends
    }
  }

  def env(spark: SparkSession, cpus: Int): Map[String, Any] = Map(
    "nproc" -> cpus,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> s"${sys.props("java.vm.vendor")} ${sys.props("java.runtime.version")}",
    "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq.map(_.toString),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => !k.startsWith("spark.app.") && k != "spark.driver.port" &&
        k != "spark.executor.id" && k != "spark.driver.host" }
      .toSeq.sortBy(_._1).toMap)

  def writeSpans(tr: Trace, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val lines = tr.spans.map(s => Json(Map("name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op)))
    Files.write(Paths.get(s"$dir/spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the artifact (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
