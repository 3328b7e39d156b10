package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.types.{BinaryType, StringType}
import scala.jdk.CollectionConverters._

/** `Tables.parquet`, the engine's one inferring parquet read: each schema
  * is inferred once per JVM for the same files and settings, and a
  * changed file, an added file or a changed setting infers again. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  /** One parquet file holding `df`'s rows, at `file`. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, file: String): Unit = {
    val out = tmp("parquet_out")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = Files.list(Paths.get(out)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of a table file launches no job") {
    val dir = tmp("tables")
    Files.copy(Paths.get(sf, "lineitem.parquet"), Paths.get(dir, "lineitem.parquet"))
    val (first, firstJobs) = jobsLaunchedBy()(Tables.lineitem(spark, dir))
    assert(firstJobs > 0, "the first read of a new file must infer its schema")
    val (again, jobs) = jobsLaunchedBy()(Tables.lineitem(spark, dir))
    assert(jobs == 0, s"the second read of $dir/lineitem.parquet launched $jobs jobs")
    assert(again.schema == first.schema)
    assert(again.count() == first.count())
  }

  test("a read through a symlink to a file already read launches no job, in a new session") {
    // two new sessions: the same settings, whatever this one has set
    val table = Paths.get(sf, "lineitem.parquet").toAbsolutePath
    val read = Tables.lineitem(spark.newSession(), sf)
    val link = tmp("tables_link")
    Files.createSymbolicLink(Paths.get(link, "lineitem.parquet"), table)
    val (df, jobs) = jobsLaunchedBy()(Tables.lineitem(spark.newSession(), link))
    assert(jobs == 0, s"a read through $link launched $jobs jobs")
    assert(df.schema == read.schema)
  }

  test("a file rewritten in place infers again and reads the new schema") {
    val file = s"${tmp("rewrite")}/t.parquet"
    writeFile(Seq((1L, "a")).toDF("id", "name"), file)
    assert(Tables.parquet(spark, file).columns.toSeq == Seq("id", "name"))
    writeFile(Seq((2L, 3.5, true)).toDF("id", "score", "flag"), file)
    val (df, jobs) = jobsLaunchedBy()(Tables.parquet(spark, file))
    assert(jobs > 0, "a rewritten file must infer again")
    assert(df.columns.toSeq == Seq("id", "score", "flag"))
    assert(df.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
  }

  test("a part file added to a store directory infers again") {
    val store = tmp("store")
    Seq((1L, "a")).toDF("id", "name").write.mode("append").parquet(store)
    assert(Tables.parquet(spark, store).count() == 1)
    assert(jobsLaunchedBy()(Tables.parquet(spark, store))._2 == 0)
    Seq((2L, "b")).toDF("id", "name").write.mode("append").parquet(store)
    val (df, jobs) = jobsLaunchedBy()(Tables.parquet(spark, store))
    assert(jobs > 0, "a store with a new part file must infer again")
    assert(df.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("flipping spark.sql.parquet.binaryAsString returns the other type") {
    // a file without Spark's schema in its footer: Spark-written files
    // carry their own Spark types, which binaryAsString does not change
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val file = s"${tmp("binary")}/b.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x")) finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    def bType = Tables.parquet(spark, file).schema("b").dataType
    try {
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
      spark.conf.set(key, "true")
      assert(bType == StringType)
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("src/main reads parquet without a schema only through Tables.parquet") {
    val sources = SourceTree.scalaFiles("src/main/scala")
    val home = Paths.get("src/main/scala/graft/Tables.scala")
    val homeText = sources.toMap.getOrElse(home, "")
    val from = homeText.indexOf("def parquet(")
    val until = if (from < 0) -1 else homeText.indexOf("\n\n", from)
    // a `.parquet(` call belongs to the nearest `.read`, `.readStream`,
    // `.write` or `.writeStream` before it; it infers when that is a
    // batch `.read` and no `.schema(` stands between the two
    val chain = """\.(read|readStream|write|writeStream)\b""".r
    val inferring = for {
      (f, text) <- sources
      m <- """(?<!Tables)\.parquet\(""".r.findAllMatchIn(text)
      start <- chain.findAllMatchIn(text.take(m.start)).toSeq.lastOption
      if start.group(1) == "read" && !text.substring(start.end, m.start).contains(".schema(")
    } yield (f, m.start, text.take(m.start).count(_ == '\n') + 1)
    val inPath = inferring.filter { case (f, at, _) => f == home && at > from && at < until }
    val misplaced = inferring.filterNot(inPath.contains)
    assert(inPath.nonEmpty, "Tables.parquet holds no inferring read")
    if (misplaced.nonEmpty)
      fail((s"${misplaced.size} inferring parquet reads outside Tables.parquet:" +:
        misplaced.map { case (f, _, line) => s"$f:$line" }).mkString("\n"))
  }
}
