package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one way to build the engine's session. Every main, dev tool and
  * test suite gets its session here, so all of them run one config. */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, or else every core the JVM sees. */
  private lazy val cpus: Int = sys.env.get(Env.Cpus).map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on `n` cores with `n` shuffle partitions. This is
    * `getOrCreate`: a live session is returned, with the runtime
    * settings applied to it again. */
  def local(n: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a long run leaves thousands of dereferenced shuffle
      // dependencies; ContextCleaner only reclaims their files after a
      // JVM GC notices the dead references, and the default periodic-GC
      // interval (30 min) outlives a whole bench run, so the back half
      // of a run would otherwise accumulate every query's shuffle files
      // on disk
      .config("spark.cleaner.periodicGC.interval", "1min")
      // always use the SORT-based shuffle writer (one data file + index
      // per map task). The default bypassMergeThreshold=200 routes every
      // <=200-partition shuffle through the bypass-merge writer, which
      // creates numMaps x numPartitions files: at 32 maps x 32
      // partitions that is 1024 file open/closes per exchange for
      // kilobyte payloads (q72's 129 KB exchange spent 1.85 s summed
      // over tasks in shuffle write). Cluster runs are unaffected:
      // production shuffles run >200 partitions, where Spark already
      // takes the sort path; this makes local/small-shuffle behavior
      // match it. Measured on a 5-query shuffle-heavy subset, 3
      // interleaved A/B pairs: 5.7-7.3 s (sort) vs 8.9-10.3 s (bypass).
      // The value is a writer-selection threshold, not a partition-count
      // tuning.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // releasing a localCheckpoint logs one WARN per RDD ("lineage has
    // been truncated..."): correct under the Caches.pin release
    // discipline, but hundreds of them would drown a run's output
    Configurator.setLevel("org.apache.spark.rdd", Level.ERROR)
    spark
  }

  /** Runs `body` with the session's shuffle width set to `width` of the
    * current width, and restores the current width afterwards, also
    * when `body` throws. */
  def withShuffleWidth[A](spark: SparkSession, width: Long => Long)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width(prev.toLong))
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
