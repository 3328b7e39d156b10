package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot storage layer (SURVEY.md §2.1 S12, §1.3): the ticker
  * snapshot's one store, a date-partitioned parquet layout with
  * latest-snapshot resolution. It holds all four fields, so the
  * reference's url-drop defect (its CSV sink declares 3 columns but
  * feeds 4-field rows, scrape_tickers.py:505-513) cannot occur.
  * Snapshot versioning replaces filename mangling
  * (tickers_YYYYMMDD[_updated].json) with a `sync_date` partition
  * column, so "latest" is a partition listing, not an mtime glob
  * (update_ticker_info.py:38-60).
  */
object TickerStore {

  val tickerSchema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("name", StringType), StructField("sector", StringType),
    StructField("url", StringType)))

  /** Same-day IDEMPOTENT snapshot write — the reference's sync
    * OVERWRITES tickers_YYYYMMDD.json when re-run the same day
    * (scrape_tickers.py's dated filename), so a re-run must replace
    * that day's partition, never append duplicates into it. Spelled as
    * a dynamic partition overwrite: only the (sync_date, kind)
    * partitions present in `df`'s write are rewritten; history stays.
    * [[graft.Main]]'s sync/update stages write through this. */
  def writeSnapshotIdempotent(df: DataFrame, root: String, syncDate: String, kind: String): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.select("symbol", "name", "sector", "url")
      .withColumn("sync_date", lit(syncDate))
      .withColumn("kind", lit(kind))
      .write.partitionBy("sync_date", "kind").mode(SaveMode.Overwrite).parquet(root)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** The latest snapshot's partition directories: `syncDate` with the
    * `kinds` read for it (raw values, unescaped) and their `dirs`. */
  final case class Latest(syncDate: String, kinds: Seq[String], dirs: Seq[String])

  /** S12: latest-snapshot resolution from a driver-side listing of the
    * `sync_date=<date>/kind=<kind>` directories, so it launches no Spark job.
    * Like Spark's file index, entries starting with `_` or `.`
    * (`_temporary`, `.spark-staging-*`, `_SUCCESS`, checksums) are
    * skipped, and a kind directory counts only when it holds a data
    * file. The latest date is the max partition value of EITHER kind,
    * compared as a string, mirroring the reference's glob over both raw
    * and _updated files. When "updated" exists on that date alongside
    * another kind (the reference's normal daily flow: raw sync then
    * enrichment), only "updated" is read: the reference's mtime max
    * picks the later _updated file, and returning both would duplicate
    * every symbol with stale raw values. None when no snapshot exists,
    * including a missing root. */
  def latestPartition(s: SparkSession, root: String): Option[Latest] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    def children(p: Path) = visibleChildren(fs, p)
    // (unescaped value, directory) of each `col=value` child directory
    def partitions(p: Path, column: String): Seq[(String, Path)] =
      children(p).filter(_.isDirectory).flatMap { st =>
        st.getPath.getName.split("=", 2) match {
          case Array(`column`, v) if v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
            Some(ExternalCatalogUtils.unescapePathName(v) -> st.getPath)
          case _ => None
        }
      }
    partitions(rootPath, "sync_date").sortBy(_._1)(Ordering[String].reverse)
      .iterator.map { case (date, dir) =>
        val kinds = partitions(dir, "kind")
          .filter { case (_, k) => children(k).exists(_.isFile) }
        val read =
          if (kinds.exists(_._1 == "updated")) kinds.filter(_._1 == "updated") else kinds
        Latest(date, read.map(_._1), read.map(_._2.toString))
      }
      .find(_.dirs.nonEmpty)
  }

  /** True when `dir` holds a data file, directly or in a subdirectory,
    * by [[latestPartition]]'s rule: names starting with `_` or `.` are
    * skipped, so a directory holding only `_SUCCESS` or `_temporary/`
    * holds none. False for a missing directory. Launches no Spark job. */
  def holdsDataFile(s: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: Path): Boolean =
      visibleChildren(fs, p).exists(st => st.isFile || walk(st.getPath))
    walk(path)
  }

  /** The listing of a directory without the entries Spark's file index
    * skips (names starting with `.`, or with `_` outside a `col=value`
    * partition name, and in-flight `._COPYING_` files); empty for a
    * missing directory. */
  private[graft] def visibleChildren(fs: FileSystem, p: Path): Seq[FileStatus] = {
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".") &&
        !n.endsWith("._COPYING_")
    }
    try fs.listStatus(p).toSeq.filter(visible)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** The snapshot rows of a resolved [[Latest]] partition, read with the
    * pinned [[tickerSchema]] (no schema inference). */
  def readSnapshot(s: SparkSession, latest: Latest): DataFrame =
    s.read.schema(tickerSchema).parquet(latest.dirs: _*)
}
