package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.similarity.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: exact on constructed vectors") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)), (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))
      .toDF("a", "b")
    val got = df.select(SimilaritySpec.cosine($"a", $"b").as("c")).as[Double].collect()
    assert(math.abs(got(0)) < 1e-9 && math.abs(got(1) - 1.0) < 1e-9)
  }

  test("cosine: a zero-norm vector scores 0, never NaN (and never tops a ranking)") {
    // Spark sorts NaN ABOVE every real double, so an unguarded 0/0
    // would make one all-zero embedding the rank-1 neighbor of every
    // query in every desc-ordered top-k
    val df = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f)),
      (Seq(1.0f, 1.0f), Seq(0.0f, 0.0f)),
      (Seq(0.0f, 0.0f), Seq(0.0f, 0.0f)))
      .toDF("a", "b")
    val got = df.select(SimilaritySpec.cosine($"a", $"b").as("c")).as[Double].collect()
    got.foreach(c => assert(c == 0.0, s"zero-norm cosine must be 0.0, got $c"))
    // and through the ranked path: a planted zero vector must not
    // displace true neighbors
    val corpus = Seq((0L, Seq.fill(4)(1.0f)), (1L, Seq.fill(4)(0.9f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), (3L, Seq.fill(4)(0.8f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.topK(corpus.filter($"vec_id" === 0L), corpus, 2)
      .select($"c_id").as[Long].collect().toSet
    assert(top == Set(1L, 3L), s"zero vector must rank last, got $top")
  }

  test("lloydAssign literal-inlined route == crossJoin+argmin reference, bit-for-bit") {
    // lloydAssignKeep inlines the bounded centroid table as
    // literals (one stream-through projection, zero exchanges); this
    // law pins it bit-identical — cells AND distances — to the former
    // crossJoin + min(struct) spelling on the live corpus.
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val cents = Similarity.lloydCents(e, 8, 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell", $"dist").as[(Long, Long, Double)]
        .collect().toSet
    val lit = rows(Similarity.lloydAssignKeep(e, cents, 64, Nil))
    val ref = rows(SimilaritySpec.lloydAssignJoin(e, cents, 64))
    assert(lit == ref, "literal-inlined lloyd assignment diverged from the join route")
    // and the keep variant carries extra columns without changing the assignment
    val kept = Similarity.lloydAssignKeep(e, cents, 64, Seq("embedding"))
    assert(kept.columns.toSeq == Seq("vec_id", "embedding", "cell", "dist"))
    assert(rows(kept.select("vec_id", "cell", "dist")) == ref)
  }

  test("topK: k rows per query, descending, excludes self") {
    val res = SparkEntry.queries("q38_cosine_topk")(spark, sf).collect()
    assert(res.length == 50) // 10 queries × 5
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      val cs = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cs.sameElements(cs.sorted(Ordering[Double].reverse)))
      rows.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    }
  }

  test("codegen'd sign_lsh buckets match the signature() reference spelling") {
    graft.plans.SignLsh.register(spark)
    val e = Tables.embeddings(spark, sf).limit(40).select("vec_id", "embedding")
    val all = Similarity.hyperplanes(48, 64)
    val tables = (0 until 8).map(t => all.slice(t * 6, t * 6 + 6))
    val ref = e.select(col("vec_id") +: tables.zipWithIndex.map { case (p, t) =>
        Similarity.signature(col("embedding"), p).as(s"b$t") }: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val fast = e.select(col("vec_id"),
        call_function(graft.plans.SignLsh.NAME, col("embedding"), lit(8), lit(6)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast.keySet == ref.keySet)
    fast.foreach { case (id, b) => assert(b == ref(id), s"bucket mismatch for vec $id") }
  }

  test("centroids match a driver-side recomputation exactly (q56)") {
    val got = SparkEntry.queries("q56_embedding_centroid")(spark, sf).collect()
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val dims = vecs.head._2.length
    assert(got.length == 8 * dims)
    got.foreach { r =>
      val (cl, dim) = (r.getAs[Long]("cluster"), r.getAs[Int]("dim"))
      val members = vecs.filter(_._1 % 8 == cl)
      val scaled = members.map(v => math.floor(v._2(dim - 1).toDouble * 1e14).toLong).sum
      val expect = (scaled.toDouble / 1e14) / members.length
      assert(r.getAs[Long]("n") == members.length)
      assert(r.getAs[Double]("centroid") == expect,
        s"centroid($cl,$dim) must be the exact scaled-long mean")
    }
  }

  test("LSH ANN: results are true cosines and rank-consistent with exact") {
    val exact = SparkEntry.queries("q38_cosine_topk")(spark, sf)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    val approx = SparkEntry.queries("q40_ann_lsh")(spark, sf)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)].collect()
    assert(approx.nonEmpty)
    // any LSH pair that also appears in exact top-k must carry the same score
    approx.foreach { case (q, c, s) =>
      exact.get((q, c)).foreach(es => assert(math.abs(es - s) < 1e-12))
    }
  }

  test("IVF ANN returns k true-cosine neighbors per query (q43)") {
    val r = SparkEntry.queries("q43_ann_ivf")(spark, sf).collect()
    assert(r.nonEmpty)
    val byQ = r.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.length <= 5)
      val cs = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cs.sameElements(cs.sorted(Ordering[Double].reverse)))
    }
    // scores must agree with the exact brute-force computation
    val exact = SparkEntry.queries("q38_cosine_topk")(spark, sf)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)].collect()
      .map { case (q, c, sc) => (q, c) -> sc }.toMap
    r.foreach { row =>
      exact.get((row.getLong(0), row.getLong(1)))
        .foreach(es => assert(math.abs(es - row.getDouble(2)) < 1e-12))
    }
  }

  /** Mean recall@5 of an ANN query against the exact q38 top-5. */
  private def recallVsExact(name: String): Double = {
    val exact = SparkEntry.queries("q38_cosine_topk")(spark, sf)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val approx = SparkEntry.queries(name)(spark, sf)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val rs = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
    rs.sum / exact.size
  }

  test("LSH ANN recall floor against exact top-5 (q40)") {
    // multiprobe 12×8 measures 0.76 on this fixture; the 0.7 floor
    // keeps a silent half-regression from passing
    val r = recallVsExact("q40_ann_lsh")
    info(f"q40 recall@5 = $r%.3f")
    assert(r >= 0.7, f"LSH recall collapsed: $r%.3f")
  }

  test("IVF ANN recall floor against exact top-5 (q43)") {
    // nprobe=6/16 measures 0.78 on this fixture; floor 0.7
    val r = recallVsExact("q43_ann_ivf")
    info(f"q43 recall@5 = $r%.3f")
    assert(r >= 0.7, f"IVF recall collapsed: $r%.3f")
  }

  test("q81 recall report agrees with the independently computed intersection") {
    val exact = SparkEntry.queries("q38_cosine_topk")(spark, sf)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val ann = SparkEntry.queries("q40_ann_lsh")(spark, sf)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val report = SparkEntry.queries("q81_ann_recall")(spark, sf)
      .select($"q_id", $"n_exact", $"n_hit").as[(Long, Long, Long)].collect()
    assert(report.length == exact.size, "one report row per query")
    report.foreach { case (q, nEx, nHit) =>
      assert(nEx == exact(q).size)
      assert(nHit == ann.getOrElse(q, Set.empty).intersect(exact(q)).size,
        s"query $q: reported $nHit hits")
    }
  }

  test("LSH-bucketed near-dup: perfect precision, floored recall vs exact q39 (q48)") {
    val exact = SparkEntry.queries("q39_embedding_neardup")(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val lsh = SparkEntry.queries("q48_embedding_neardup_lsh")(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // multiprobe 8×8 measures 0.708 on this fixture; floor 0.65
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    info(f"q48 pair recall = $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.65, f"LSH pair recall collapsed: $recall%.3f")
  }

  test("persisted IVF index: partition-pruned serve equals transient ivfTopK") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    try {
      val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      Similarity.writeIvfIndex(e, tmp, nCentroids = 16)
      val qs = e.filter(col("vec_id") < 10)
      val served = Similarity.ivfTopKIndexed(spark, tmp, qs, k = 5, nprobe = 6)
      // the probed-cell filter must reach the index scan as a PARTITION
      // filter — that is the whole point of the persisted layout
      val p = served.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l => l.contains("FileScan") &&
          l.contains("/index") && l.contains("PartitionFilters: [cell")),
        s"probed cells must prune index partitions:\n$p")
      // and the served results are EXACTLY the transient computation
      val got = served.select($"q_id", $"c_id", $"cos", $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val want = Similarity.ivfTopK(e, qs, nCentroids = 16, k = 5, nprobe = 6)
        .select($"q_id", $"c_id", $"cos", $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(got == want, "indexed serve diverged from transient ivfTopK")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("q87 serves from the persisted index partition-pruned, rows exactly q43's") {
    val df = SparkEntry.queries("q87_ivf_serve")(spark, sf)
    // the probed-cell filter must reach the index scan as a PARTITION
    // filter on the DRIVER-HARNESS query itself, not only the library
    // helper
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("FileScan") &&
        l.contains("/index") && l.contains("PartitionFilters: [cell")),
      s"q87 must prune index partitions by probed cell:\n$p")
    val got = df.select($"q_id", $"c_id", $"cos", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val q43 = SparkEntry.queries("q43_ann_ivf")(spark, sf)
      .select($"q_id", $"c_id", $"cos", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got.nonEmpty && got == q43,
      "persisted-index serve must reproduce the transient q43 exactly")
  }

  test("IVF incremental append == one-shot union assignment under the stored centroids") {
    val t1 = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val t2 = java.nio.file.Files.createTempDirectory("ivf_one").toString
    try {
      val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      val e1 = e.filter(col("vec_id") < 400)
      val e2 = e.filter(col("vec_id") >= 400)
      // build on the initial slice, append tonight's batch
      Similarity.writeIvfIndex(e1, t1, nCentroids = 16)
      Similarity.appendToIvfIndex(spark, t1, e2)
      // one-shot reference: the SAME stored centroids assign the union
      val cents = spark.read.parquet(s"$t1/centroids")
      cents.write.parquet(s"$t2/centroids")
      Similarity.rankCells(e, cents).filter(col("crank") === 1)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id").as("cell"))
        .write.partitionBy("cell").parquet(s"$t2/index")
      // content equality: every vector in the same cell with the same norm
      def content(d: String) = spark.read.parquet(s"$d/index")
        .select($"vec_id", $"cell".cast("long"), $"nrm")
        .as[(Long, Long, Double)].collect().toSet
      val appended = content(t1)
      assert(appended.map(_._1) == e.select("vec_id").as[Long].collect().toSet,
        "append must cover exactly the union corpus")
      assert(appended == content(t2),
        "append-built index content diverged from one-shot assignment")
      // serving equality on cross-generation queries (old queries must
      // see appended vectors as candidates)
      val qs = e.filter(col("vec_id") < 10)
      def serve(d: String) = Similarity.ivfTopKIndexed(spark, d, qs, k = 5, nprobe = 6)
        .select($"q_id", $"c_id", $"cos", $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val got = serve(t1)
      assert(got == serve(t2), "append-built index serves differently")
      val newNeighbors = got.count(_._2 >= 400)
      assert(newNeighbors > 0,
        "fixture must surface appended vectors in served top-k — otherwise the law is vacuous")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t2))
    }
  }

  test("q103 serves the appended index partition-pruned with non-empty results") {
    val df = SparkEntry.queries("q103_ivf_append_serve")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("FileScan") &&
        l.contains("/index") && l.contains("PartitionFilters: [cell")),
      s"q103 must prune index partitions by probed cell:\n$p")
    assert(df.count() > 0)
  }

  test("signature: deterministic across invocations") {
    val planes = Similarity.hyperplanes(8, 64)
    val e = Tables.embeddings(spark, sf).limit(20)
    val s1 = e.select($"vec_id", Similarity.signature($"embedding", planes).as("s"))
      .as[(Long, Long)].collect().toSet
    val s2 = e.select($"vec_id", Similarity.signature($"embedding", planes).as("s"))
      .as[(Long, Long)].collect().toSet
    assert(s1 == s2 && s1.nonEmpty)
  }

  test("codegen'd random_project matches the HOF reference spelling") {
    import org.apache.spark.sql.functions._
    graft.plans.RandomProject.register(spark)
    val e = Tables.embeddings(spark, sf).limit(50)
    val kernel = e.select($"vec_id",
        call_function("random_project", $"embedding", lit(8), lit(64)).as("p"))
      .select($"vec_id", posexplode($"p").as(Seq("k", "proj")))
      .as[(Long, Int, Long)].collect().toSet
    val hof = e.select($"vec_id" +: SimilaritySpec.randomProjectHof($"embedding", 8, 64): _*)
      .collect().flatMap { r =>
        (0 until 8).map(k => (r.getAs[Long]("vec_id"), k, r.getAs[Long](s"p$k")))
      }.toSet
    assert(kernel.nonEmpty && kernel == hof)
    // length-discipline parity: a wrong-dimension array is NULL in both
    val bad = spark.sql("SELECT random_project(array(CAST(1.0 AS DOUBLE)), 8, 64) AS p")
      .collect()(0)
    assert(bad.isNullAt(0))
  }

  test("codegen'd dot_long matches the HOF reference spelling") {
    import org.apache.spark.sql.functions._
    graft.plans.DotLong.register(spark)
    // integer arithmetic is order-independent, so the two spellings
    // must agree bit for bit on real quantized codes
    val e = Tables.embeddings(spark, sf).limit(60)
    val q = e.select($"vec_id", expr(
      """transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0) AS BIGINT))""").as("q"))
    val pairs = q.select($"vec_id".as("a_id"), $"q".as("qa"))
      .crossJoin(broadcast(q.select($"vec_id".as("b_id"), $"q".as("qb"))))
      .filter($"a_id" < $"b_id")
    val both = pairs.select($"a_id", $"b_id",
      call_function("dot_long", $"qa", $"qb").as("kernel"),
      expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("hof"))
      .as[(Long, Long, Long, Long)].collect()
    assert(both.nonEmpty && both.forall { case (_, _, k, h) => k == h })
    // degenerate-case parity: unequal lengths and null elements → NULL,
    // empty arrays → 0
    val edge = spark.sql(
      """SELECT dot_long(array(CAST(1 AS BIGINT)), array(CAST(1 AS BIGINT), CAST(2 AS BIGINT))) AS a,
                dot_long(array(CAST(1 AS BIGINT), CAST(NULL AS BIGINT)), array(CAST(1 AS BIGINT), CAST(2 AS BIGINT))) AS b,
                dot_long(array(), array()) AS c""").collect()(0)
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getLong(2) == 0L)
  }

  test("q157 hard negatives: label discipline and margin consistency") {
    val rows = SparkEntry.queries("q157_hard_negatives")(spark, sf)
      .select("q_id", "pos_id", "pos_cos", "neg_id", "neg_cos", "margin")
      .as[(Long, Long, Double, Long, Double, Double)].collect().toSeq
    assert(rows.size == 10, "one row per query vector")
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    rows.foreach { case (q, pid, pc, nid, nc, m) =>
      // the positive shares the query's label; the hard negative must not
      assert(labels(pid) == labels(q), s"q=$q positive label mismatch")
      assert(labels(nid) != labels(q), s"q=$q negative shares the label")
      assert(pid >= 10 && nid >= 10, "candidates must come from the corpus pool")
      assert(m == pc - nc, s"q=$q margin not pos_cos - neg_cos")
    }
  }

  test("q164 dispersion: nonnegative, total, and matches a direct recomputation") {
    val rows = SparkEntry.queries("q164_label_dispersion")(spark, sf)
      .select("label", "n_vecs", "disp_num", "msd_e12")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val vecs = Tables.embeddings(spark, sf)
      .select($"label", $"embedding").as[(Int, Seq[Float])].collect()
    assert(rows.map(_._2).sum == vecs.length, "labels must partition the table")
    // n·Σ||x||² − ||Σx||² ≥ 0 is Cauchy–Schwarz; 0 only for identical vectors
    rows.foreach { case (l, n, d, m) =>
      assert(d >= 0 && m >= 0, s"label $l negative dispersion")
      assert(d > 0, s"label $l has zero spread — law vacuous on collapsed data")
    }
    // the integer identity equals the geometric mean-squared-distance to
    // the centroid (direct double recomputation, quantization tolerance)
    val (label0, n0, _, m0) = rows.head
    val vs = vecs.filter(_._1 == label0).map(_._2.map(_.toDouble).toArray)
    val dims = vs.head.length
    val c = Array.tabulate(dims)(d => vs.map(_(d)).sum / vs.length)
    val msd = vs.map(v => v.indices.map(d => (v(d) - c(d)) * (v(d) - c(d))).sum).sum / vs.length
    assert(math.abs(m0 / 1e12 - msd) < 1e-4,
      s"label $label0 integer identity ${m0 / 1e12} vs direct $msd")
    assert(n0 == vs.length)
  }

  test("q121 drift report matches a driver-side recomputation") {
    val rows = SparkEntry.queries("q121_index_drift")(spark, sf).collect()
    assert(rows.length == 8)
    val vecs = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    rows.foreach { r =>
      val cell = r.getAs[Long]("cell")
      val members = vecs.filter(_._1 % 8 == cell)
      val base = members.filter(v => (v._1 / 8) % 2 == 0)
      assert(r.getAs[Long]("n_base") == base.length)
      assert(r.getAs[Long]("n_new") == members.length - base.length)
      assert(base.nonEmpty, "every cell must keep build-time members")
      // exact integer-rational drift, recomputed independently
      val n1 = base.length.toLong; val n2 = members.length.toLong
      val mx = (0 until 64).map { d =>
        val sa = base.map(v => math.floor(v._2(d).toDouble * 1e6).toLong).sum
        val sb = members.map(v => math.floor(v._2(d).toDouble * 1e6).toLong).sum
        math.abs(sa * n2 - sb * n1)
      }.max
      assert(r.getAs[Long]("drift_micro") == mx / (n1 * n2))
      assert(r.getAs[Boolean]("rebuild") ==
        (mx / (n1 * n2) > 2000 || (n2 - n1) * 1000 / n2 > 250))
    }
  }

  test("q146 quotas: Hamilton apportionment is exact and within-1 proportional") {
    val rows = SparkEntry.queries("q146_cluster_quota_sample")(spark, sf)
      .select("n_vecs", "quota", "n_selected")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val n = rows.map(_._1).sum
    val k = n / 5
    // the apportionment invariant: quotas sum EXACTLY to the target K
    assert(rows.map(_._2).sum == k, s"quota sum != $k")
    rows.foreach { case (nc, q, sel) =>
      // largest-remainder gives every cell floor or ceil of its share
      val base = k * nc / n
      assert(q == base || q == base + 1, s"quota $q not in {$base, ${base + 1}}")
      assert(sel == math.min(q, nc), "selection did not fill the quota")
    }
  }

  test("q148 matryoshka sweep: bounded overlaps, monotone mean, full-width identity") {
    val rows = SparkEntry.queries("q148_matryoshka_recall")(spark, sf)
      .as[(Int, Long, Long)].collect().toSeq
    assert(rows.nonEmpty && rows.forall { case (_, _, o) => o >= 0 && o <= 10 })
    // more prefix dims can only help on average (the Matryoshka premise)
    val means = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(_._3).sum.toDouble / rs.length }
    means.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b, s"mean overlap not monotone: $means")
      case _ => ()
    }
    // a full-width "truncation" is the identity: slicing to 64 dims must
    // reproduce the full top-k exactly, overlap 10/10 for every query
    val e = Tables.embeddings(spark, sf)
    val t = e.select($"vec_id",
      org.apache.spark.sql.functions.slice($"embedding", 1, 64).as("embedding"))
    val full = Similarity.topK(e.filter($"vec_id" < 10), e, 10)
      .select($"q_id", $"c_id", $"rank").as[(Long, Long, Int)].collect().toSet
    val sliced = Similarity.topK(t.filter($"vec_id" < 10), t, 10)
      .select($"q_id", $"c_id", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(full == sliced && full.nonEmpty)
  }

  test("q154 MMR: complete ranks, relevance-first pick, monotone scores, diversity engages") {
    val rows = SparkEntry.queries("q154_mmr_rerank")(spark, sf)
      .select("query_id", "rank", "vec_id", "rel", "mmr2x")
      .as[(Long, Int, Long, Long, Long)].collect().toSeq
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      // exactly 5 picks, ranks 1..5, all distinct candidates
      assert(sorted.map(_._2) == (1 to 5), s"query $q ranks broken")
      assert(sorted.map(_._3).distinct.size == 5, s"query $q repeats a pick")
      // pick 1 is pure relevance: nothing else picked can out-rel it
      assert(sorted.head._4 == rs.map(_._4).max, s"query $q pick 1 not max-rel")
      // from rank 2 on, each round's winning score can't beat the
      // previous round's: the kept set only grows, so every candidate's
      // max_sim only rises and its score only falls. Rank 1 is excluded
      // — its mmr2x is bare rel (no −max_sim term), and int8 dots can
      // be NEGATIVE, so rank 2 may legitimately score above it.
      sorted.drop(1).map(_._5).sliding(2).foreach {
        case Seq(a, b) => assert(b <= a, s"query $q mmr2x not non-increasing")
        case _ => ()
      }
    }
    // the diversity term ENGAGES on the fixture: for at least one query
    // the MMR selection differs from the plain rel-top-5 (otherwise the
    // law suite would pass on a rel-only re-implementation)
    val e = Tables.embeddings(spark, sf)
    val mx = org.apache.spark.sql.functions.expr(
      "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
    val qArr = org.apache.spark.sql.functions.expr(
      """transform(embedding, x ->
         CAST(floor(CAST(x AS DOUBLE) * 127.0 / mxabs + 0.5) AS BIGINT))""")
    val codes = e.withColumn("mxabs", mx)
      .select($"vec_id", org.apache.spark.sql.functions.when($"mxabs" === 0.0,
        org.apache.spark.sql.functions.expr("transform(embedding, x -> CAST(0 AS BIGINT))"))
        .otherwise(qArr).as("q"))
    val qs = codes.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"q".as("qq"))
    val relTop5 = codes.filter($"vec_id" >= 10).crossJoin(broadcast(qs))
      .select($"query_id", $"vec_id", org.apache.spark.sql.functions.expr(
        "aggregate(zip_with(q, qq, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("rel"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"rel".desc, $"vec_id".asc)))
      .filter($"rn" <= 5).select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mmrSets = byQ.view.mapValues(_.map(_._3).toSet).toMap
    assert(mmrSets.exists { case (q, s) => relTop5(q) != s },
      "MMR never diverged from plain top-5 relevance; diversity law is vacuous")
  }

  test("q115 JL projection preserves pairwise distance in expectation") {
    // For a ±1 sign projection, each projected coordinate of a
    // difference vector u has mean 0 and variance |u|², so
    // E[|proj(u)|²] = 8·|u|². The per-pair ratio concentrates but has
    // real variance at k=8 — the MEDIAN over all C(40,2) fixture pairs
    // is the stable statistic (measured ~1.0; bounds leave 2× head-
    // room). The projection is linear, so pinning difference vectors
    // via proj(a)−proj(b) also exercises exactly the emitted values.
    val proj = SparkEntry.queries("q115_random_projection")(spark, sf)
      .filter($"vec_id" < 40).collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getAs[Long]("k")).map(_.getAs[Long]("proj").toDouble)
      }
    val orig = Tables.embeddings(spark, sf).filter($"vec_id" < 40)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(v => math.floor(v.toDouble * 1e6)) }
      .toMap
    val ratios = (for {
      i <- orig.keys.toSeq; j <- orig.keys.toSeq if i < j
    } yield {
      val dOrig = orig(i).zip(orig(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      val dProj = proj(i).zip(proj(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      dProj / (8.0 * dOrig)
    }).sorted
    val median = ratios(ratios.length / 2)
    assert(ratios.nonEmpty && median > 0.5 && median < 2.0,
      s"JL median distance ratio out of band: $median")
  }

  test("q171 separation: complete pair matrix matching a direct recomputation") {
    val rows = SparkEntry.queries("q171_label_separation")(spark, sf)
      .select("label_a", "label_b", "n_a", "n_b", "sep_e12")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val labels = Tables.embeddings(spark, sf)
      .select($"label".cast("long")).distinct().as[Long].collect().sorted
    // every unordered pair exactly once, ordered a < b
    assert(rows.map(r => (r._1, r._2)).toSet ==
      (for (i <- labels; j <- labels if i < j) yield (i, j)).toSet)
    rows.foreach { case (a, b, _, _, s) =>
      assert(a < b && s >= 0, s"pair ($a,$b) malformed")
    }
    // direct recompute with the same fixed-point integer mean
    val byLabel = Tables.embeddings(spark, sf)
      .select($"label".cast("long"), $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.groupBy(_._1)
      .map { case (l, vs) =>
        val n = vs.size.toLong
        val sums = vs.map(_._2.map(x =>
          math.floor(x.toDouble * 1e6).toLong)).transpose.map(_.sum)
        l -> (n, sums.map(sx => (sx + n * 2000000L) / n - 2000000L))
      }
    rows.foreach { case (a, b, na, nb, s) =>
      val (ea, ma) = byLabel(a); val (eb, mb) = byLabel(b)
      assert(na == ea && nb == eb)
      val exp = ma.zip(mb).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(s == exp, s"pair ($a,$b) separation $s != $exp")
    }
    // between-class distances must be COMPARABLE to within-class
    // dispersion for a labeled space — at least one pair separates
    assert(rows.exists(_._5 > 0), "all centroids identical is vacuous")
  }

  test("q185 PQ-ADC: recall vs exact L2 top-10, code diversity (q185 laws)") {
    import org.apache.spark.sql.expressions.Window
    val pq = SparkEntry.queries("q185_pq_adc_topk")(spark, sf)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    assert(pq.nonEmpty && pq.forall(_._2.size == 10))
    // exact squared-L2 top-10 (self included — PQ ranks the full
    // corpus), same tie discipline (dist asc, vec_id asc)
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    def x(i: Int) = element_at($"embedding", i + 1).cast("double")
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    def qx(i: Int) = element_at($"q_emb", i + 1).cast("double")
    val d2 = (0 until 64).map(i => (qx(i) - x(i)) * (qx(i) - x(i))).reduce(_ + _)
    val w = Window.partitionBy("q_id").orderBy($"d2".asc, $"vec_id".asc)
    val exact = e.crossJoin(broadcast(q)).withColumn("d2", d2)
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (qq, vs) => qq -> vs.map(_._2).toSet }
    val recall = pq.keys.toSeq.map(qq =>
      (pq(qq) intersect exact(qq)).size.toDouble / 10.0)
    val mean = recall.sum / recall.size
    info(f"PQ-ADC mean recall@10 = $mean%.3f")
    // measures 0.49 on this fixture (synthetic near-random embeddings
    // are PQ's worst case — no subspace cluster structure to exploit);
    // the serving contract is "candidate generator before exact
    // re-rank", not "exact", and the floor sits under the measurement
    // to catch silent half-regressions (the q40/q43 floor discipline)
    assert(mean >= 0.4, f"PQ recall@10 $mean%.3f under floor 0.4")
    // every subspace must actually discriminate: a degenerate codebook
    // (all vectors one code) would make ADC a constant per subspace —
    // codes re-derived here with the query's own spelling
    val nums = e.select(($"vec_id" % 256).as("cluster") +:
      (0 until 64).map(i => floor(x(i) * 1e6).cast("long").as(s"sx$i")): _*)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), (0 until 64).map(i => sum(col(s"sx$i")).as(s"s$i")): _*)
    val cents = nums.select(col("cluster") +: col("n") +:
      Seq(explode(array((0 until 8).map(ss =>
        struct(lit(ss).as("ss") +: (0 until 8).map(j =>
          ((col(s"s${ss * 8 + j}").cast("double") / 1e6) / col("n")).as(s"c$j")): _*)): _*)).as("sc")): _*)
      .select(col("cluster") +: col("sc.ss").as("ss") +:
        (0 until 8).map(j => col(s"sc.c$j").as(s"c$j")): _*)
    val dist = (0 until 8).map { j =>
      val xi = element_at($"embedding", col("ss") * 8 + j + 1).cast("double")
      (xi - col(s"c$j")) * (xi - col(s"c$j"))
    }.reduce(_ + _)
    val diversity = e.crossJoin(broadcast(cents)).withColumn("dist", dist)
      .groupBy($"vec_id", $"ss").agg(min(struct($"dist", $"cluster")).as("m"))
      .select($"ss", $"m.cluster".as("code"))
      .groupBy("ss").agg(countDistinct($"code").as("nc"))
      .as[(Int, Long)].collect().toMap
    assert(diversity.size == 8 && diversity.values.forall(_ >= 2),
      s"degenerate codebook: $diversity")
  }

  test("q186 IVFPQ: probed-cell discipline, ADC consistency, pruning engages (q186 laws)") {
    val ivfpq = SparkEntry.queries("q186_ivfpq_topk")(spark, sf)
      .select($"q_id", $"vec_id", $"adc_micro").as[(Long, Long, Long)].collect()
    val flat = SparkEntry.queries("q185_pq_adc_topk")(spark, sf)
      .select($"q_id", $"vec_id", $"adc_micro").as[(Long, Long, Long)].collect()
      .map { case (q, v, a) => (q, v) -> a }.toMap
    assert(ivfpq.groupBy(_._1).forall(_._2.length == 10),
      "IVFPQ must fill top-10 per query at nprobe=2 on this fixture")
    // ADC consistency: a (q, vec) pair appearing in both rankings
    // carries the IDENTICAL integer distance — cells prune candidates,
    // they must never change a distance
    ivfpq.foreach { case (q, v, a) =>
      flat.get((q, v)).foreach(fa =>
        assert(fa == a, s"ADC drift for ($q, $v): ivfpq $a vs flat $fa"))
    }
    // probed-cell discipline: every served vec lies in one of its
    // query's 2 best cells (recomputed via the shared helpers)
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val cellOf = Similarity.lloydAssign(e).select($"vec_id", $"cell")
      .as[(Long, Long)].collect().toMap
    val cents8 = Similarity.lloydCents(e, 8, 64)
    val probed = e.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .crossJoin(broadcast(cents8))
      .withColumn("cdist", Similarity.lloydDist("q_emb", 64))
      .select($"q_id", $"c_cluster", $"cdist")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(r => (r._3, r._2)).take(2).map(_._2).toSet }
    ivfpq.foreach { case (q, v, _) =>
      assert(probed(q).contains(cellOf(v)),
        s"query $q served vec $v from an unprobed cell ${cellOf(v)}")
    }
    // pruning engages: the candidate pool is a strict subset of the
    // corpus for every query (2 of 8 cells can never cover everything
    // unless the assignment degenerated)
    val cellSizes = cellOf.values.groupBy(identity).view.mapValues(_.size).toMap
    probed.foreach { case (q, cs) =>
      val pool = cs.toSeq.map(c => cellSizes.getOrElse(c, 0)).sum
      assert(pool < cellOf.size, s"query $q: probe covers the whole corpus")
    }
  }

  test("persisted PQ index: store-served q185/q186 equal the state-free spellings bit-for-bit") {
    // the production queries serve from the Scratch store; the
    // in-query training spellings are the references. Both
    // sides are integer-granule deterministic, so equality is exact
    // set equality on every output column, not a tolerance.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"q_id", $"rank".cast("int"), $"vec_id", $"adc_micro")
        .as[(Long, Int, Long, Long)].collect().toSet
    val flatStore = rows(SparkEntry.queries("q185_pq_adc_topk")(spark, sf))
    val flatFree = rows(SimilaritySpec.pqAdcStateFree(spark, sf))
    assert(flatStore == flatFree,
      "store-served PQ-ADC diverged from the state-free spelling")
    val ivfStore = rows(SparkEntry.queries("q186_ivfpq_topk")(spark, sf))
    val ivfFree = rows(SimilaritySpec.ivfpqStateFree(spark, sf))
    assert(ivfStore == ivfFree,
      "store-served IVFPQ diverged from the state-free spelling")
  }

  test("PQ incremental append == one-shot encode under the stored tables (content + serving)") {
    val t1 = java.nio.file.Files.createTempDirectory("pq_app").toString
    val t2 = java.nio.file.Files.createTempDirectory("pq_one").toString
    try {
      val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      val e1 = e.filter(col("vec_id") < 400)
      val e2 = e.filter(col("vec_id") >= 400)
      Similarity.writePqIndex(e1, t1)
      Similarity.appendToPqIndex(spark, t1, e2)
      // one-shot reference: the SAME stored codebooks + coarse
      // centroids encode/assign the union corpus
      val books = spark.read.parquet(s"$t1/codebooks")
      val coarse = spark.read.parquet(s"$t1/coarse")
      books.write.parquet(s"$t2/codebooks")
      coarse.write.parquet(s"$t2/coarse")
      val cells = Similarity.lloydAssignWith(e, coarse, 64)
        .select(col("vec_id"), col("cell"))
      Similarity.pqCodes(e, books, subDim = 8).join(cells, Seq("vec_id"))
        .write.partitionBy("cell").parquet(s"$t2/codes")
      def content(d: String) = spark.read.parquet(s"$d/codes")
        .select($"vec_id", $"ss", $"code", $"cell".cast("long"))
        .as[(Long, Int, Long, Long)].collect().toSet
      val appended = content(t1)
      assert(appended.map(_._1) == e.select("vec_id").as[Long].collect().toSet,
        "append must cover exactly the union corpus")
      assert(appended == content(t2),
        "append-built PQ codes diverged from the one-shot encode")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      def serve(d: String) = Similarity.ivfpqTopKIndexed(spark, d, qs, k = 10, nprobe = 2)
        .select($"q_id", $"rank".cast("int"), $"vec_id", $"adc_micro")
        .as[(Long, Int, Long, Long)].collect().toSet
      val got = serve(t1)
      assert(got == serve(t2), "append-built PQ index serves differently")
      assert(got.count(_._3 >= 400) > 0,
        "fixture must surface appended vectors in served top-k — otherwise the law is vacuous")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t2))
    }
  }

  test("PQ delete: exact row removal without retrain, emptied cells vanish (q226 laws)") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("pq_del").toString
    try {
      val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      Similarity.writePqIndex(e, t)
      def content() = spark.read.parquet(s"$t/codes")
        .select($"vec_id", $"ss", $"code", $"cell".cast("long"))
        .as[(Long, Int, Long, Long)].collect().toSet
      val before = content()
      val booksBefore = spark.read.parquet(s"$t/codebooks").collect().map(_.toString).toSet
      val del = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      val delIds = del.as[Long].collect().toSet
      assert(delIds.nonEmpty)
      Similarity.deleteFromPqIndex(spark, t, del)
      // exactly the deleted rows are gone; every surviving code is
      // BYTE-identical (no retrain — the decremental contract)
      assert(content() == before.filterNot(r => delIds(r._1)))
      assert(spark.read.parquet(s"$t/codebooks").collect().map(_.toString).toSet
        == booksBefore, "delete must never retrain the codebooks")
      // emptied-cell handling: wipe ALL remaining rows of one cell and
      // the partition directory itself must vanish (dynamic overwrite
      // alone would leave the old files resurrecting deleted vectors)
      val after = content()
      val victim = after.head._4
      val idsInVictim = after.filter(_._4 == victim).map(_._1).toSeq
      Similarity.deleteFromPqIndex(spark, t,
        idsInVictim.toDF("vec_id"))
      val rest = content()
      assert(!rest.exists(_._4 == victim), "emptied cell must be removed")
      assert(rest == after.filterNot(r => r._4 == victim),
        "other cells must be untouched")
      assert(!new java.io.File(s"$t/codes/cell=$victim").exists(),
        "emptied cell directory must be deleted on disk")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    }
  }

  test("q186/q215 serve the PQ code store partition-pruned by probed cell") {
    for (q <- Seq("q186_ivfpq_topk", "q215_pq_append_serve",
                  "q226_pq_delete_serve")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l => l.contains("FileScan") &&
          l.contains("/codes") && l.contains("PartitionFilters: [cell")),
        s"$q must prune code partitions by probed cell:\n$p")
      assert(df.count() > 0)
    }
  }
}

object SimilaritySpec {

  /** The interpreted REFERENCE spelling of the random_project kernel —
    * kOut fold-left HOF sums against per-k literal sign vectors from
    * the same canonical [[graft.plans.RandomProject.signMatrix]].
    * Returns columns p0..p{k-1}. */
  def randomProjectHof(v: Column, kOut: Int, dIn: Int): Seq[Column] = {
    val signs = graft.plans.RandomProject.signMatrix(dIn, kOut)
    (0 until kOut).map { k =>
      val sk = (0 until dIn).map(j => signs(j * kOut + k))
      aggregate(
        zip_with(v, typedlit(sk),
          (x, r) => floor(x.cast("double") * lit(1e6)).cast("long") * r),
        lit(0L), (acc, t) => acc + t).as(s"p$k")
    }
  }

  /** cosine of two vector columns: [[Similarity.cosinePre]] with both
    * norms computed inline. */
  def cosine(a: Column, b: Column): Column =
    Similarity.cosinePre(a, b, Similarity.norm(a), Similarity.norm(b))

  /** The REFERENCE assignment spelling (crossJoin + min(struct) argmin)
    * of the route-equality law that proves the literal-inlined
    * [[Similarity.lloydAssignKeep]] bit-identical to it. */
  def lloydAssignJoin(e0: DataFrame, cents: DataFrame, dims: Int): DataFrame = {
    val e = e0.select("vec_id", "embedding")
    e.crossJoin(broadcast(cents))
      .withColumn("dist", Similarity.lloydDist("embedding", dims))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("c_cluster"))).as("m"))
      .select(col("vec_id"), col("m.c_cluster").as("cell"),
        col("m.dist").as("dist"))
  }

  /** The state-free q185 spelling (codebooks trained and corpus
    * encoded INSIDE the query), the reference of the store == state-free
    * law; the production query serves from the persisted index. */
  def pqAdcStateFree(s: SparkSession, dir: String): DataFrame = {
    val subDim = 8
    val e = Tables.fanOut(Tables.embeddings(s, dir))
      .select("vec_id", "embedding")
    val cents = Similarity.pqCents(e, nSub = 8, subDim = subDim, nCodes = 256)
    val codes = Similarity.pqCodes(e, cents, subDim)
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val dtable = broadcast(Similarity.pqDtable(qv, cents, subDim))
    val scored = codes.join(dtable, Seq("ss", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("gd")).as("adc_micro"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_micro").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc_micro"))
      .orderBy("q_id", "rank")
  }

  /** The state-free q186 spelling, the reference of the same law, see
    * [[pqAdcStateFree]]. */
  def ivfpqStateFree(s: SparkSession, dir: String): DataFrame = {
    val subDim = 8
    val e = Tables.fanOut(Tables.embeddings(s, dir))
      .select("vec_id", "embedding")
    val cells = Similarity.lloydAssign(e).select("vec_id", "cell")
    val cents8 = Similarity.lloydCents(e, nCells = 8, dims = 64)
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wc = Window.partitionBy("q_id")
      .orderBy(col("cdist").asc, col("c_cluster").asc)
    val probed = qv.crossJoin(broadcast(cents8))
      .withColumn("cdist", Similarity.lloydDist("q_emb", 64))
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= 2)
      .select(col("q_id"), col("c_cluster").as("cell"))
    val cents = Similarity.pqCents(e, nSub = 8, subDim = subDim, nCodes = 256)
    val codes = Similarity.pqCodes(e, cents, subDim)
    val dtable = broadcast(Similarity.pqDtable(qv, cents, subDim))
    val cand = cells.join(broadcast(probed), Seq("cell"))
      .select("q_id", "vec_id")
    val scored = cand.join(codes, Seq("vec_id"))
      .join(dtable, Seq("q_id", "ss", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("gd")).as("adc_micro"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_micro").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc_micro"))
      .orderBy("q_id", "rank")
  }
}
