package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's custom expressions, reached through plain SQL once
  * registered on the session (`X.register`, the only registration
  * path), compute what their definitions and library spellings say. */
class ExtensionsSpec extends SparkSpec {

  test("SQL sorted_intersect_count, dot_scaled and simhash64 match their definitions") {
    graft.plans.SortedIntersectCount.register(spark)
    graft.plans.DotScaled.register(spark)
    graft.plans.SimHash64.register(spark)
    val got = spark.sql(
      """SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS n,
                sorted_intersect_count(array(), array('x')) AS zero""").head()
    assert(got.getInt(0) == 2 && got.getInt(1) == 0)
    // dot_scaled: Σ floor(a·b·1e14) with float/double arrays
    val dot = spark.sql(
      """SELECT dot_scaled(array(CAST(0.5 AS FLOAT), CAST(2.0 AS FLOAT)),
                           array(CAST(2.0 AS FLOAT), CAST(0.25 AS FLOAT))) AS d,
                dot_scaled(array(CAST(1.0 AS DOUBLE)), array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))) AS mism""").head()
    assert(dot.getLong(0) == 150000000000000L) // (1.0 + 0.5) * 1e14
    assert(dot.isNullAt(1)) // length mismatch poisons, like zip_with
    // simhash64 via pure SQL matches the library HOF spelling
    val sh = spark.sql("SELECT simhash64('hello world') AS h").head().getLong(0)
    val ref = spark.createDataset(Seq("hello world"))(org.apache.spark.sql.Encoders.STRING)
      .toDF("text").select(TextDedupSpec.simhash64Hof("text")).head().getLong(0)
    assert(sh == ref)
  }

  test("deflate_len orders repetition below prose below randomness") {
    import spark.implicits._
    graft.plans.DeflateLen.register(spark)
    val prose = ("the quick brown fox jumps over the lazy dog and then " +
      "considers whether compression ratios separate text quality bands ") * 8
    val fixtures = Seq(
      ("rep", "ab" * 500),
      ("prose", prose),
      ("rand", (0 until 60).flatMap(i =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"salt$i".getBytes("UTF-8"))
          // full printable alphabet (~6.5 bits/char) — hex's 16
          // symbols would deflate to ~0.56 and land in the prose band
          .map(b => (33 + ((b & 0xff) % 94)).toChar)).mkString))
      .toDF("kind", "text")
    val got = fixtures
      .select($"kind", octet_length($"text").cast("long").as("n"),
        call_function("deflate_len", $"text").as("d"))
      .collect().map(r => r.getAs[String]("kind") ->
        (r.getAs[Long]("d").toDouble / r.getAs[Long]("n"))).toMap
    assert(got("rep") < 0.05, s"pure repetition must collapse, got ${got("rep")}")
    assert(got("prose") > 0.1 && got("prose") < 0.7, s"prose band, got ${got("prose")}")
    assert(got("rand") > 0.7, s"hex noise must resist deflate, got ${got("rand")}")
    assert(got("rep") < got("prose") && got("prose") < got("rand"))
    // codegen vs interpreted lockstep: the expression's eval equals the
    // companion kernel called directly on the same bytes
    fixtures.collect().foreach { r =>
      val t = r.getAs[String]("text")
      val viaSql = fixtures.filter($"kind" === r.getAs[String]("kind"))
        .select(call_function("deflate_len", $"text")).as[Long].head()
      assert(viaSql == graft.plans.DeflateLen.compressedLen(t.getBytes("UTF-8")))
    }
    // q124 rolls it up without crashing and with coherent accounting
    val rows = SparkEntry.queries("q124_compress_ratio")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_repetitive") + r.getAs[Long]("n_prose") +
          r.getAs[Long]("n_random"))
      assert(r.getAs[Long]("deflate_bytes") > 0)
    }
  }

  test("compiled and interpreted evaluation of the array kernels agree over column inputs") {
    graft.plans.AffineScan.register(spark)
    graft.plans.DotLong.register(spark)
    graft.plans.DotScaled.register(spark)
    graft.plans.RandomProject.register(spark)
    graft.plans.SortedIntersectCount.register(spark)
    def arr(t: DataType) = ArrayType(t, containsNull = true)
    val schema = StructType(Seq(StructField("id", IntegerType)) ++
      Seq("a" -> DoubleType, "b" -> DoubleType, "fa" -> FloatType, "fb" -> FloatType,
        "la" -> LongType, "lb" -> LongType, "sa" -> StringType, "sb" -> StringType)
        .map { case (n, t) => StructField(n, arr(t)) })
    val rows = Seq(
      Row(1, Seq(0.5, 2.0, -1.25, 3.0), Seq(2.0, 0.25, 4.0, -1.0),
        Seq(0.5f, 2.0f, -1.25f, 3.0f), Seq(2.0f, 0.25f, 4.0f, -1.0f),
        Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 7L), Seq("a", "b", "c"), Seq("b", "c", "d")),
      // a NULL element poisons every kernel the merge or loop reaches it in
      Row(2, Seq(1.0, null, 2.0, 3.0), Seq(1.0, 2.0, 3.0, 4.0),
        Seq(1.0f, null, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f, 4.0f),
        Seq(1L, null, 3L), Seq(1L, 2L, 3L), Seq("a", null), Seq("a", "b")),
      // length mismatch: NULL for the pairwise kernels and the projection
      Row(3, Seq(1.0), Seq(1.0, 2.0), Seq(1.0f), Seq(1.0f, 2.0f),
        Seq(1L), Seq(1L, 2L), Seq("a"), Seq("a", "b")),
      Row(4, Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq()),
      Row(5, null, null, null, null, null, null, null, null))
    // an RDD source, not a local relation: the optimizer cannot fold the
    // kernels into constants, so each mode below evaluates them per row
    val input = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val kernels = Seq(
      "affine_prod_a(a)", "affine_scan_b(a, b)",
      "dot_scaled(a, b)", "dot_scaled(fa, b)", "dot_scaled(fa, fb)", "dot_long(la, lb)",
      "random_project(a, 3, 4)", "random_project(fa, 3, 4)",
      "sorted_intersect_count(la, lb)", "sorted_intersect_count(sa, sb)")
    def evaluate(confs: (String, String)*): (Boolean, Seq[Row]) = {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val df = input.selectExpr("id" +: kernels: _*)
        val staged = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
        (staged, df.collect().sortBy(_.getInt(0)).toSeq)
      } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val (staged, viaCodegen) = evaluate(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
    val (stagedEval, viaEval) = evaluate(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    assert(staged && !stagedEval)
    assert(viaCodegen == viaEval)
    // the kernels' answers, so the agreement above is not vacuous
    val scalars = viaCodegen.map(r => Seq(3, 4, 5, 6, 9, 10).map(i => Option(r.get(i))))
    val dot = -650000000000000L // (1.0 + 0.5 - 5.0 - 3.0) * 1e14
    assert(scalars == Seq(
      Seq(Some(dot), Some(dot), Some(dot), Some(89L), Some(3), Some(2)),
      Seq(None, None, None, None, None, None),
      Seq(None, None, None, None, Some(1), Some(1)),
      Seq(Some(0L), Some(0L), Some(0L), Some(0L), Some(0), Some(0)),
      Seq(None, None, None, None, None, None)))
    assert(viaCodegen.head.getSeq[Double](1) == Seq(1.0, 0.5, 1.0, -1.25))
    assert(viaCodegen.head.getSeq[Double](2) == Seq(0.0, 2.0, 4.25, -1.3125))
    assert(viaCodegen.head.getSeq[Long](7) == viaCodegen.head.getSeq[Long](8))
    assert(viaCodegen.map(r => r.isNullAt(7)) == Seq(false, true, true, true, true))
    assert(viaCodegen(3).getSeq[Double](1).isEmpty && viaCodegen(3).getSeq[Double](2).isEmpty)
  }

  test("no doGenCode under graft/plans spells a loop in generated code") {
    // every kernel's loop lives in one Scala method that eval and codegen
    // both call (Registration's convention); a loop written into a
    // doGenCode string is a second spelling that only the compiled path runs
    val member = """\n  (?:override|def|private|protected|lazy|val|@transient)\b|\n\}""".r
    val loop = """\b(?:for|while)\s*\(""".r
    val sources = SourceTree.scalaFiles("src/main/scala/graft/plans")
      .map { case (f, src) => f.getFileName.toString -> src }
    val bodies = sources.flatMap { case (name, src) =>
      "def doGenCode".r.findAllMatchIn(src).map { m =>
        val rest = src.substring(m.end)
        name -> member.findFirstMatchIn(rest).fold(rest)(e => rest.take(e.start))
      }
    }
    val kernels = sources.map { case (_, src) => "(?m)^case class".r.findAllIn(src).size }.sum
    assert(bodies.size == kernels, s"one doGenCode per kernel expected, found ${bodies.map(_._1)}")
    val looping = bodies.collect { case (f, body) if loop.findFirstIn(body).isDefined => f }
    assert(looping.isEmpty, s"doGenCode spells a loop in: ${looping.mkString(", ")}")
  }
}
