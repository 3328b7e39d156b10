package graft

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
      .toDF("text").select(graft.dedup.Dedup.simhash64Hof("text")).head().getLong(0)
    assert(sh == ref)
  }

  test("deflate_len orders repetition below prose below randomness") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
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
}
