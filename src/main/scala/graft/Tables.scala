package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated synthetic tables (TESTDATA.md,
  * FIXTURES.md §B). One parquet file per table under the sf dir.
  *
  * Scans stay plain parquet scans ([[parquet]]) so Catalyst's vectorized
  * parquet reader, predicate pushdown and column pruning all apply;
  * callers `select` only what they need so `ReadSchema` stays narrow.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  /** events.parquet's `ts` physical type has varied across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader only surfaces as a long under the legacy flag) vs plain
    * TIMESTAMP(MICROS). Adapt on the READ schema, normalizing every
    * generation to the same session-local TimestampType column so the
    * 20+ event queries and their DuckDB oracles (which reads either
    * file natively, truncating nanos to micros) see identical values —
    * the session timezone is UTC in Verify/Bench/specs, so the
    * NTZ→LTZ cast is value-preserving. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long generation
        df.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ→LTZ cast is value-preserving ONLY under a UTC session; a
        // host-local timezone would silently shift every ts vs the
        // DuckDB oracle, so fail loudly instead of corrupting.
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          s"events($dir): NTZ ts cast requires spark.sql.session.timeZone=UTC " +
            s"(got '${s.conf.get("spark.sql.session.timeZone")}')")
        df.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
      case org.apache.spark.sql.types.TimestampType => df // already session-local
      case other =>
        // a future testdata generation surfacing ts as e.g. StringType
        // must fail at load, not as a confusing downstream query error
        throw new IllegalStateException(
          s"events($dir): unsupported physical type for ts: $other " +
            "(expected nanos-as-LongType, TimestampNTZType, or TimestampType)")
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    parquet(s, s"$dir/$name.parquet")

  /** The parquet files or directories at `paths`, read with the schema
    * Spark infers for them: the engine's one read of parquet without an
    * explicit schema. Spark infers a schema by reading a footer in a
    * Spark job, on every read, even of one file. This read infers it once
    * per JVM for the same files under the same settings, then reads with
    * `.schema(inferred)`, which launches no job.
    *
    * The memo is JVM-wide, so a new session (or a new symlink to the same
    * files) reuses it. Its key ([[SchemaKey]]) is the identity of the
    * visible data files plus the session settings that change inference,
    * so a rewritten or added file infers again. A path that does not
    * exist is read as Spark reads it, which throws Spark's own error. */
  def parquet(s: SparkSession, paths: String*): DataFrame =
    schemaKey(s, paths) match {
      case None => s.read.parquet(paths: _*)
      case Some(key) => Option(schemas.synchronized(schemas.get(key))) match {
        case Some(schema) => s.read.schema(schema).parquet(paths: _*)
        case None =>
          val df = s.read.parquet(paths: _*)
          schemas.synchronized(schemas.put(key, df.schema))
          df
      }
    }

  /** What a parquet read's inferred schema depends on.
    *
    * `files`: per given path (globs expanded), the root's location, then
    * each data file under it, listed recursively with
    * [[sources.TickerStore]]'s visibility rule (Spark's file index skips
    * the same `_`/`.` names), as its path below the root (partition
    * directory names become columns) and its identity. A local file's
    * identity is its real path (symlinks resolved), its file key (device
    * and inode) when the file system has one, its length and its mtime
    * in nanoseconds; elsewhere it is the path, length and mtime. Parquet
    * summary files (`_metadata`, `_common_metadata`), which Spark skips
    * writing by default, are not part of it.
    *
    * `confs`: every `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
    * value set on the session, plus case sensitivity, partition-type
    * inference and the session time zone. */
  private case class SchemaKey(confs: Seq[(String, String)], files: Seq[String])

  private val InferenceConfs = Seq("spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled", "spark.sql.session.timeZone")

  /** None when a path matches nothing. */
  private def schemaKey(s: SparkSession, paths: Seq[String]): Option[SchemaKey] = {
    val perPath = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      val local = fs.getScheme == "file"
      def where(st: FileStatus): String =
        if (local) Paths.get(st.getPath.toUri).toRealPath().toString else st.getPath.toString
      def id(st: FileStatus): String =
        if (!local) s"${where(st)}|${st.getLen}|${st.getModificationTime}"
        else {
          val a = Files.readAttributes(Paths.get(st.getPath.toUri), classOf[BasicFileAttributes])
          s"${where(st)}|${a.fileKey}|${a.size}|${a.lastModifiedTime.to(TimeUnit.NANOSECONDS)}"
        }
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (st.isFile) Seq(st)
        else sources.TickerStore.visibleChildren(fs, st.getPath).sortBy(_.getPath.getName)
          .flatMap(leaves)
      Option(fs.globStatus(path)).getOrElse(Array.empty[FileStatus]).toSeq.flatMap { root =>
        val under = root.getPath.toString
        where(root) +: leaves(root).map(f => s"${f.getPath.toString.stripPrefix(under)}>${id(f)}")
      }
    }
    if (perPath.exists(_.isEmpty)) None
    else {
      val confs = s.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      } ++ InferenceConfs.map(k => k -> s.conf.getOption(k).orNull)
      Some(SchemaKey(confs.sorted, perPath.flatten))
    }
  }

  /** Entries of the memo behind [[parquet]]. */
  private val SchemaMemoCapacity = 256

  /** Inferred schemas by [[SchemaKey]], JVM-wide; past
    * [[SchemaMemoCapacity]] entries the least recently used goes. */
  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size > SchemaMemoCapacity
  }

  /** Spread a small-file scan across all cores — CONDITIONALLY. A
    * single parquet file arrives as ONE partition; any CPU-heavy
    * operator downstream (HOF pipelines, per-row hashing) would
    * serialize on one core, so locally this is the difference between
    * 1 and 32 cores. But `repartition(n)` is a full round-robin shuffle
    * of the DATA, and at real scale inputs are many-filed and already
    * parallel — an unconditional fanOut there would add a corpus-sized
    * exchange before the first real operator. Hence the gate: when the
    * input is a shuffle-free scan shape (project/filter/generate over a
    * leaf — the only shapes whose partition count is knowable without
    * running upstream query stages; `.rdd` on a plan with exchanges
    * would force AQE to EXECUTE them) that already carries >=
    * defaultParallelism partitions, fanOut is a no-op. Non-scan inputs
    * (candidate pair streams after a distinct) always repartition:
    * they are tiny in bytes but huge in downstream CPU, and AQE's
    * byte-based coalescing would serialize them on 1-2 cores.
    *
    * `nonSelectiveFilter`: Filter is EXCLUDED from the no-op shape by
    * default — a selective pushed
    * filter over a many-file scan keeps the partition COUNT while
    * emptying most partitions, and non-CBO plan stats pass the child
    * size through a Filter unchanged, so NO stats gate can see
    * selectivity; the only sound general rule is "filtered scans
    * always repartition" (the exchange carries only the filter's
    * survivors). A call site may pass `nonSelectiveFilter = true`
    * ONLY when it can vouch — from the predicate's own semantics,
    * not from measurements — that the filter keeps the bulk of every
    * partition (e.g. q01's l_shipdate <= 1998-09-02 keeps ~98% of
    * lineitem at every SF, uniformly in ship date and hence in file
    * layout). Under the opt-in, Filter nodes become transparent to
    * the narrow-scan test, so an already-parallel filtered scan is a
    * no-op (the 100 TB shape) while a single-file fixture scan still
    * spreads. */
  def fanOut(df: DataFrame, nonSelectiveFilter: Boolean = false): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (isNarrowScan(df.queryExecution.analyzed, nonSelectiveFilter) &&
        df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** Broadcast-hint `df` only while a CONSERVATIVE size estimate fits
    * the budget; above it, return it unhinted so Catalyst/AQE pick the
    * join strategy. An unconditional `broadcast()` hint is NEVER
    * demoted — not by the 8 GB hard limit, not by AQE — so hinting a
    * corpus-sized table turns "slower shuffle join" into a driver OOM
    * at scale. Use this for any hint whose subject grows with the
    * corpus (per-doc shingle arrays, signature tables);
    * dimension-sized frames (centroids, query sets, calendars) may
    * keep the plain hint.
    *
    * Sizing: Catalyst's plan statistic replaces row width by schema
    * DEFAULT sizes above a Project — a generated ARRAY<STRING> column
    * counts ~20 bytes however large the real arrays are — so the plan
    * stat alone can keep the hint on a multi-GB table. The gate
    * therefore takes the MAX of the plan stat and Σ(leaf scan bytes) ×
    * `leafExpansion` (compressed-parquet-to-in-memory inflation; the
    * default 8 covers decompression + JVM object overhead — callers
    * whose projection EXPANDS the data, e.g. n-gram shingling, pass a
    * larger factor). Erring large only costs a shuffle join; erring
    * small costs the driver. */
  def maybeBroadcast(df: DataFrame, budgetBytes: Long = 256L * 1024 * 1024,
                     leafExpansion: Double = 8.0): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    val planEst = plan.stats.sizeInBytes
    val leafEst = plan.collectLeaves().map(_.stats.sizeInBytes).sum
    val est = planEst.max(BigInt((leafEst.toDouble * leafExpansion).toLong))
    if (est <= budgetBytes) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** Project/generate chains over a leaf relation: exchange-free by
    * construction, so planning `.rdd` is safe (no query stage runs)
    * and its partition count reflects the scan's file layout.
    *
    * Filter is deliberately EXCLUDED from the no-op shape (re-adding it
    * turns the suite red): a selective pushed filter over a
    * many-file scan keeps the scan's partition COUNT while emptying
    * most partitions, so the count gate would pass and the downstream
    * CPU-heavy work would serialize on the few non-empty ones — the
    * exact problem fanOut exists to prevent. (Non-CBO plan stats pass
    * a Filter's child size through unchanged, so selectivity is
    * invisible to a stats gate.) Filtered inputs therefore always
    * repartition — UNLESS the caller vouched via `filterTransparent`
    * (= fanOut's `nonSelectiveFilter` opt-in) that the predicate
    * keeps the bulk of every partition. The exchange carries only
    * the filter's SURVIVORS, so its cost is proportional to exactly
    * the rows the downstream work is being spread for. */
  private def isNarrowScan(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                           filterTransparent: Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case Project(_, c)                        => isNarrowScan(c, filterTransparent)
      case Filter(_, c) if filterTransparent    => isNarrowScan(c, filterTransparent)
      case SubqueryAlias(_, c)                  => isNarrowScan(c, filterTransparent)
      case g: Generate                          => isNarrowScan(g.child, filterTransparent)
      case _: LeafNode                          => true
      case _                                    => false
    }
  }
}
