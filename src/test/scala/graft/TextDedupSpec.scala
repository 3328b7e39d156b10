package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.dedup.Dedup

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("langId: marker counting with deterministic tie-break") {
    val got = Seq(
      "der hund und die katze",
      "the cat and the dog",
      "xyz qrs nop",
      "le chat et le chien"
    ).toDF("text").select(TextAnalysis.langId($"text").as("l")).as[String].collect().toSeq
    assert(got == Seq("de", "en", "und", "fr"))
  }

  test("fingerprint: case/whitespace-insensitive identity") {
    val fp = Seq("Hello  World", "hello world", "  hello   world  ", "hello worlds")
      .toDF("text").select(TextAnalysis.fingerprint($"text").as("f")).as[String].collect()
    assert(fp(0) == fp(1) && fp(1) == fp(2) && fp(2) != fp(3))
  }

  test("winnowing: rolling hashes and fingerprints match the DuckDB twin exactly") {
    // expected values computed with DuckDB 1.0 running the q46 oracle
    // spelling on the same string — pins the cross-engine lockstep
    val r = Seq("hello world abc").toDF("text")
      .withColumn("hs", expr(TextDedupSpec.rollingHashesExpr("text")))
      .withColumn("wfp", expr(TextDedupSpec.winnowExpr("hs")))
      .select(size($"hs").as("n_grams"), size($"wfp").as("n_fp"),
        expr("array_min(wfp)").as("mn"), expr("array_max(wfp)").as("mx"),
        expr("slice(hs, 1, 3)").as("first3"))
      .head()
    assert(r.getAs[Int]("n_grams") == 11 && r.getAs[Int]("n_fp") == 3)
    assert(r.getAs[Long]("mn") == 25711337L && r.getAs[Long]("mx") == 161491486L)
    assert(r.getAs[scala.collection.Seq[Long]]("first3").toSeq ==
      Seq(418513571L, 449925302L, 987395830L))
    // short-text guard: no grams, no fingerprints
    val short = Seq("abc").toDF("text")
      .withColumn("hs", expr(TextDedupSpec.rollingHashesExpr("text")))
      .withColumn("wfp", expr(TextDedupSpec.winnowExpr("hs")))
      .select(size($"hs"), size($"wfp")).head()
    assert(short.getInt(0) == 0 && short.getInt(1) == 0)
  }

  test("components: min-label propagation finds transitive clusters") {
    // chain 1-2-3 plus isolated pair 5-6: canonical = component min
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val got = Dedup.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // long chain exercises multi-round propagation (diameter > 1 hop);
    // localBudget = 0 forces the iterative path
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.components(chain, localBudget = 0).as[(Long, Long)].collect()
    assert(labels.forall(_._2 == 1L) && labels.length == 9)
  }

  test("components: pointer jumping converges in O(log diameter) rounds and never lies") {
    // a 60-link chain needs ~59 rounds under plain neighbor-min
    // propagation; with pointer jumping it must finish well inside 10
    // (localBudget = 0 forces the iterative path under test)
    val chain = (1L until 61L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.components(chain, maxIter = 10, localBudget = 0)
      .as[(Long, Long)].collect()
    assert(labels.length == 61 && labels.forall(_._2 == 1L))
    // and an impossible budget must THROW, not return partial clusters
    // (silent unconverged labels would hash-mismatch the q49 oracle)
    intercept[IllegalStateException] {
      Dedup.components(chain, maxIter = 2, localBudget = 0).count()
    }
  }

  test("components: single-task union-find matches the iterative loop exactly") {
    // deterministic scrambled graph: chains, a clique, isolated pairs
    val edges = ((1L until 40L).map(i => (i, i + 1)) ++        // 40-chain
      Seq((100L, 103L), (103L, 101L), (101L, 102L), (100L, 102L)) ++ // clique
      Seq((200L, 201L), (300L, 301L)) ++                        // pairs
      Seq((41L, 500L), (500L, 20L))).reverse                    // chain re-entry
    val pairs = edges.toDF("a_id", "b_id")
    val fast = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val loop = Dedup.components(pairs, localBudget = 0).as[(Long, Long)].collect().toMap
    assert(fast == loop)
    assert(fast(500L) == 1L && fast(102L) == 100L && fast(301L) == 300L)
  }

  test("canonical dedup accounting is conservative and consistent (q65 laws)") {
    val r = SparkEntry.queries("q65_canonical_dedup")(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(r.map(_.getAs[Long]("n_docs")).sum == total, "per-source counts cover the corpus")
    r.foreach { row =>
      assert(row.getAs[Long]("n_survivors") + row.getAs[Long]("n_removed")
        == row.getAs[Long]("n_docs"))
      // NOT asserting n_survivors >= 1: a source made entirely of
      // near-dups of lower-id docs elsewhere legitimately keeps none
      assert(row.getAs[Long]("n_survivors") >= 0)
    }
    // removed docs are exactly the non-canonical cluster members
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val pairs = Dedup.minhashNearDupsTokens(docs, 5, 32, 8, 0.7)
    val clustered = Dedup.components(pairs).collect()
    val byCluster = clustered.groupBy(_.getLong(1))
    byCluster.foreach { case (canon, members) =>
      assert(members.map(_.getLong(0)).min == canon, "canonical must be the min member")
    }
    val removed = clustered.count(r2 => r2.getLong(0) != r2.getLong(1))
    assert(r.map(_.getAs[Long]("n_removed")).sum == removed)
  }

  test("curation pipeline: survivors = distinct fingerprints of quality docs (q57 law)") {
    val got = SparkEntry.queries("q57_curation_pipeline")(spark, sf).collect()
    val nKept = got.map(_.getAs[Long]("n_docs")).sum
    // recompute the filter + dedup independently: survivors must equal
    // the number of DISTINCT fingerprints among quality-passing docs
    val stopList = Seq("the", "a", "and", "of", "to", "in").map(w => s"'$w'").mkString(", ")
    val expected = Tables.documents(spark, sf)
      .withColumn("fp", graft.operators.TextAnalysis.fingerprint(col("text")))
      .withColumn("stop_ratio",
        size(expr(s"filter(split(trim(text), '\\\\s+'), t -> t IN ($stopList))")).cast("double")
          / size(split(trim(col("text")), "\\s+")))
      .filter(length(col("text")) >= 100 && col("stop_ratio") >= 0.05)
      .select("fp").distinct().count()
    assert(nKept == expected, s"pipeline kept $nKept, expected $expected distinct survivors")
  }

  test("codegen'd minhash_sigs matches the explode+aggregate reference slot-for-slot") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 80)
      .select("doc_id", "text")
      .unionByName(Seq((9001L, "ab"), (9002L, "abc"), (9003L, ""))
        .toDF("doc_id", "text")) // below-n docs must drop in BOTH paths
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> (1 to 32).map(r.getLong).toSeq).toMap
    val fast = collect(Dedup.minhashSignatures(docs, 3, 32))
    val ref = collect(TextDedupSpec.minhashSignaturesPipeline(docs, 3, 32))
    assert(fast.keySet == ref.keySet, "both paths must keep the same docs")
    assert(!fast.contains(9001L) && fast.contains(9002L))
    fast.foreach { case (id, sig) =>
      assert(sig == ref(id), s"signature mismatch for doc $id")
    }
  }

  test("codegen'd minhash_sigs_tokens matches the explode+aggregate reference slot-for-slot") {
    // adversarial whitespace: the kernel re-implements trim(0x20 only) +
    // Java split("\\s+", -1) semantics byte-level — leading-tab empty
    // tokens, trailing-separator empty tokens, multi-space runs, and
    // below-w docs must all agree with the pipeline spelling exactly
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 80)
      .select("doc_id", "text")
      .unionByName(Seq(
        (9001L, "only four tokens here"),             // w=5: dropped in BOTH
        (9002L, "exactly five whitespace tokens here"),
        (9003L, ""),                                  // empty: one empty token
        (9004L, "\tlead tab makes empty first token"),
        (9005L, "trailing separator run\t"),
        (9006L, "  multi   space    runs collapse   between tokens "),
        (9007L, "a\nb\rc\fde f g"))             // every \s class
        .toDF("doc_id", "text"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> (1 to 32).map(r.getLong).toSeq).toMap
    val fast = collect(Dedup.minhashSignaturesTokens(docs, 5, 32))
    val ref = collect(TextDedupSpec.minhashSignaturesTokensPipeline(docs, 5, 32))
    assert(fast.keySet == ref.keySet, "both paths must keep the same docs")
    assert(!fast.contains(9001L) && fast.contains(9002L) && !fast.contains(9003L))
    fast.foreach { case (id, sig) =>
      assert(sig == ref(id), s"token signature mismatch for doc $id")
    }
    // w=2 exposes the all-whitespace edge: "\t" post-trim splits into
    // ["", ""] under Java split(-1) semantics (leading AND trailing
    // empty), so the doc gets a signature — the gram is the single
    // space joining two empty tokens — in BOTH paths
    val wsDocs = Seq((1L, "\t"), (2L, " \t "), (3L, "\t\t"), (4L, "x\ty"),
      (5L, ""), (6L, " "), (7L, "solo"))
      .toDF("doc_id", "text")
    def collect2(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val fast2 = collect2(Dedup.minhashSignaturesTokens(wsDocs, 2, 8))
    val ref2 = collect2(TextDedupSpec.minhashSignaturesTokensPipeline(wsDocs, 2, 8))
    assert(fast2.keySet == ref2.keySet,
      s"w=2 corpus diverged: fast=${fast2.keySet} ref=${ref2.keySet}")
    assert(fast2.contains(1L) && !fast2.contains(5L) && !fast2.contains(7L))
    fast2.foreach { case (id, sig) =>
      assert(sig == ref2(id), s"w=2 signature mismatch for doc $id")
    }
  }

  test("codegen'd sorted_shingles matches array_sort(shingles) element-for-element") {
    graft.plans.SortedShingles.register(spark)
    val edge = Seq("", "ab", "abc", "aaaaaa", "hello world",
      "ünïcödé tøkens", "zyxwvu")
      .toDF("text")
    val real = Tables.documents(spark, sf).limit(60).select(col("text"))
    Seq(edge, real).foreach { df =>
      val rows = df
        .select(array_sort(TextDedupSpec.shingles("text", 3)).as("ref"),
          call_function(graft.plans.SortedShingles.NAME, col("text"), lit(3)).as("fast"))
        .as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (ref, fast) =>
        assert(fast == ref, s"shingle array mismatch: $fast vs $ref")
      }
    }
  }

  test("packed-long shingles preserve set sizes and pairwise intersection counts exactly") {
    // The packed verify kernel: grams as 21-bit-packed code points
    // (ARRAY<BIGINT>). Everything the exact-Jaccard verify reads —
    // |set| and |A ∩ B| — must be bit-identical to the string kernel
    // for ANY valid-UTF-8 corpus (injective packing), including
    // multibyte code points and len<n edge cases, at every n in the
    // kernel's 1..3 domain.
    graft.plans.SortedShingles.register(spark)
    graft.plans.SortedShinglesPacked.register(spark)
    graft.plans.SortedIntersectCount.register(spark)
    val edge = Seq("", "ab", "abc", "aaaaaa", "hello world",
      "ünïcödé tøkens", "zyxwvu", "日本語テキスト", "ab日cd日ab")
      .toDF("text")
    val real = Tables.documents(spark, sf).limit(60).select(col("text"))
    Seq(1, 2, 3).foreach { n =>
      Seq(edge, real).foreach { df =>
        val arrs = df.select(
          call_function(graft.plans.SortedShingles.NAME, col("text"), lit(n)).as("s"),
          call_function(graft.plans.SortedShinglesPacked.NAME, col("text"), lit(n)).as("p"))
        // set sizes equal per doc
        arrs.select(size(col("s")).as("ns"), size(col("p")).as("np"))
          .as[(Int, Int)].collect().foreach { case (ns, np) =>
            assert(ns == np, s"n=$n packed set size $np != string set size $ns")
          }
        // pairwise intersection counts equal (all pairs of the frame)
        val withId = arrs.withColumn("i", monotonically_increasing_id())
        val pairs = withId.as("x").crossJoin(withId.as("y"))
          .filter(col("x.i") < col("y.i"))
          .select(
            expr("sorted_intersect_count(x.s, y.s)").as("cs"),
            expr("sorted_intersect_count(x.p, y.p)").as("cp"))
          .as[(Int, Int)].collect()
        pairs.foreach { case (cs, cp) =>
          assert(cs == cp, s"n=$n packed intersect $cp != string intersect $cs")
        }
      }
    }
  }

  test("codegen'd sorted_token_shingles matches array_sort(tokenShingles) element-for-element") {
    graft.plans.SortedTokenShingles.register(spark)
    // same adversarial whitespace set as the token-signature lockstep:
    // the kernel shares minhash_sigs_tokens' tokenizer, and the
    // reference spelling is Spark split + slice + array_join
    val edge = Seq("", "a b", "a b c", "\tlead tab x y", "trail run\t",
      "  multi   space  a b ", "ünïcödé tøkens here x")
      .toDF("text")
    val real = Tables.documents(spark, sf).limit(60).select(col("text"))
    Seq(edge, real).foreach { df =>
      val toks = split(trim(col("text")), "\\s+")
      val rows = df
        .select(array_sort(TextDedupSpec.tokenShingles(toks, 2)).as("ref"),
          call_function(graft.plans.SortedTokenShingles.NAME,
            col("text"), lit(2)).as("fast"))
        .as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (ref, fast) =>
        assert(fast == ref, s"token shingle mismatch: $fast vs $ref")
      }
    }
  }

  test("codegen'd winnow_fp matches the HOF reference spellings element-for-element") {
    import graft.operators.TextAnalysis
    graft.plans.WinnowFp.register(spark)
    // adversarial shapes: below-5-gram texts, exactly 5, repeated runs
    // (winnow dedup), and non-ASCII code points (the kernel iterates
    // code points exactly as substring/ascii count characters)
    val edge = Seq("", "abcd", "abcde", "aaaaaaaaaaaa", "hello world abc",
      "ünïcödé tøkens here too", "a b c d e f g h")
      .toDF("text")
    val real = Tables.documents(spark, sf).limit(60).select(col("text"))
    Seq(edge, real).foreach { df =>
      val rows = df
        .withColumn("hs", expr(TextDedupSpec.rollingHashesExpr("text")))
        .withColumn("wfp", expr(TextDedupSpec.winnowExpr("hs")))
        .withColumn("w", call_function(graft.plans.WinnowFp.NAME, col("text")))
        .select(size(col("hs")).as("ref_n"), col("wfp").as("ref_wfp"),
          col("w.n_grams").as("k_n"), col("w.wfp").as("k_wfp"))
        .as[(Int, Seq[Long], Int, Seq[Long])].collect()
      rows.foreach { case (rn, rw, kn, kw) =>
        assert(kn == rn, s"gram count mismatch: kernel $kn vs HOF $rn")
        assert(kw == rw, s"fingerprint mismatch: kernel $kw vs HOF $rw")
      }
    }
  }

  test("hammingPairs: chunks/blocks are pure physical knobs (identical pair set)") {
    // completeness (pigeonhole, maxDist < chunks) + exact verify
    // (precision 1) mean every legal parameterization must emit the
    // SAME pairs — chunks trades bucket size against envelope, blocks
    // only spreads emission. simhash sigs go NEGATIVE (bit 63), so this
    // also pins the & mask chunking (the former j=0 `% 256` chunk kept
    // the sign and could miss a cross-sign pair whose only untouched
    // chunk was the low byte).
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 300)
      .select("doc_id", "text")
    def pairs(chunks: Int, blocks: Int): Set[(Long, Long)] = {
      val sigs = Tables.fanOut(docs).select(col("doc_id"), Dedup.simhash64("text").as("sig"))
      val r = Dedup.hammingPairs(sigs, maxDist = 3, chunks = chunks, blocks = blocks)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      Caches.releaseAll()
      r
    }
    val base = pairs(8, 1)
    assert(base.nonEmpty, "fixture must produce pairs for the law to bite")
    assert(pairs(16, 1) == base, "16-chunk layout must emit the identical pair set")
    assert(pairs(4, 1) == base, "4-chunk layout must emit the identical pair set")
    assert(pairs(8, 4) == base, "salted emission must not change the pair set")
  }

  test("codegen'd simhash64 is bit-identical to the HOF reference spelling") {
    // the custom expression replaces the interpreted HOF on the hot
    // path; every fixture shape must agree bit-for-bit — including the
    // edge cases the HOF defines (empty text hashes the one empty
    // token, untrimmed tabs produce leading empty tokens)
    val docs = Seq("hello world foo", "", "  spaced  out  ", "\tleading tab",
      "one", "a b c d e f g h i j", "ünïcödé tøkens here")
      .toDF("text")
    val rows = docs.select(
      Dedup.simhash64("text").as("fast"),
      TextDedupSpec.simhash64Hof("text").as("ref"))
      .as[(Long, Long)].collect()
    rows.foreach { case (f, r) => assert(f == r, f"simhash mismatch: $f%016x vs $r%016x") }
    // and on real corpus text
    val real = Tables.documents(spark, sf).limit(50)
      .select(Dedup.simhash64("text").as("fast"), TextDedupSpec.simhash64Hof("text").as("ref"))
      .as[(Long, Long)].collect()
    real.foreach { case (f, r) => assert(f == r) }
  }

  test("shingles: distinct character n-grams") {
    val sh = Seq("abcab").toDF("text")
      .select(TextDedupSpec.shingles("text", 3).as("s")).as[Seq[String]].head()
    assert(sh.toSet == Set("abc", "bca", "cab"))
    val empty = Seq("ab").toDF("text")
      .select(TextDedupSpec.shingles("text", 3).as("s")).as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("jaccardPairs: exact value on a constructed pair") {
    val docs = Seq((1L, "abcd"), (2L, "bcde"), (3L, "zzzz")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, 3).collect()
    // shingles: {abc,bcd} vs {bcd,cde} → inter 1, union 3
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L &&
      math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-12)
  }

  test("minhash LSH recall: finds every very-near duplicate (j >= 0.9)") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val exact = Dedup.jaccardPairs(docs, 3).filter($"jaccard" >= 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val lsh = SparkEntry.queries("q37_minhash_lsh")(spark, sf)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh),
      s"missed ${(exact -- lsh).size} of ${exact.size} near-dup pairs")
  }

  test("token-gram minhash LSH recall: finds every strong token near-dup") {
    // ground truth: exact token-5-gram Jaccard >= 0.9 (well above the
    // q65 pipeline's 0.7 threshold, so banding + estimate prefilter
    // must not lose any of them)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val exact = Dedup.jaccardPairsTokens(docs, 5).filter($"jaccard" >= 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain token-level near-dups")
    val lsh = Dedup.minhashNearDupsTokens(docs, 5, 32, 8, 0.7)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh),
      s"missed ${(exact -- lsh).size} of ${exact.size} token near-dup pairs")
    // and everything reported really clears the exact 0.7 threshold
    val exactLow = Dedup.jaccardPairsTokens(docs, 5).filter($"jaccard" >= 0.7)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exactLow), "verify step must reject sub-threshold pairs")
  }

  test("incremental dedup vs signature store == full-corpus pairs touching the batch") {
    // the q88 lockstep law: batch signatures computed tonight + store
    // signatures read back from parquet must derive EXACTLY the pairs
    // the full-corpus pipeline (same params) finds among pairs with at
    // least one batch-side doc — store-vs-store pairs (found by earlier
    // runs) are the only difference
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    try {
      val h = substring(md5($"doc_id".cast("string")), 1, 1)
      val batchIds = docs.filter(h.isin("0", "1", "2", "3"))
        .select("doc_id").as[Long].collect().toSet
      val full = Dedup.minhashNearDupsTokens(docs, 5, 32, 8, 0.7)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
        .filter(p => batchIds(p._1) || batchIds(p._2))
      Caches.releaseAll()
      val incr = SparkEntry.queries("q88_incremental_minhash")(spark, sf)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(full.nonEmpty, "fixture must contain batch-touching near-dup pairs")
      assert(incr == full,
        s"incremental diverged: only-full=${full.diff(incr)} only-incr=${incr.diff(full)}")
    } finally Caches.releaseAll()
  }

  test("simhash: near-identical docs collide, distance respects edits") {
    val pairs = SparkEntry.queries("q41_simhash")(spark, sf)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val exact = Dedup.jaccardPairs(docs, 3).filter($"jaccard" >= 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sim = pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && exact.subsetOf(sim),
      s"simhash missed ${(exact -- sim).size} of ${exact.size} (j>=0.95) pairs")
  }

  test("sparse TF-IDF cosine: ordered pairs, cosine in (0, 1] (q91 laws)") {
    val rows = SparkEntry.queries("q91_sparse_cosine")(spark, sf)
      .select("a_id", "b_id", "cos").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "sf0.001 fixture must yield >= 1 pair at 0.3")
    rows.foreach { case (a, b, c) =>
      assert(a < b, s"pair ($a,$b) not ordered")
      // weights are positive integers, so any emitted pair's cosine is
      // strictly positive; Cauchy-Schwarz bounds it by 1
      assert(c > 0.0 && c <= 1.0 + 1e-12, s"cos($a,$b)=$c out of range")
    }
  }

  test("BM25 retrieval: contiguous ranks, non-increasing scores (q92 laws)") {
    val rows = SparkEntry.queries("q92_bm25_topk")(spark, sf)
      .select("query_id", "rank", "score")
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length),
        s"query $q ranks not contiguous: ${sorted.map(_._2).toSeq}")
      sorted.sliding(2).foreach {
        case Array((_, _, s1), (_, _, s2)) =>
          assert(s1 >= s2, s"query $q scores increase down the ranking")
        case _ => ()
      }
    }
  }

  test("decremental stats: boundary deletes repair, full deletes retire (q149 laws)") {
    import org.apache.spark.sql.functions.col
    // source s: delete its MIN doc (1) -> subtract + boundary repair;
    // source t: untouched -> pure stored state, no rescan flag;
    // source u: its only doc deleted -> the state row must retire
    val docs = Seq(
      (1L, "s", 10L), (2L, "s", 20L), (3L, "s", 30L),
      (10L, "t", 5L), (11L, "t", 7L),
      (20L, "u", 9L))
      .toDF("doc_id", "source", "n_chars")
    val out = TextAnalysis.decrementalStats(docs, col("doc_id").isin(1L, 20L))
      .select("source", "n_docs", "sum_chars", "min_doc", "max_doc", "repaired")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("s", 2L, 50L, 2L, 3L, true),   // min repaired to the remainder's 2
      ("t", 2L, 12L, 10L, 11L, false)))
    // and the decrement must equal the direct recompute exactly
    val direct = TextAnalysis.decrementalStats(
      docs.filter(!col("doc_id").isin(1L, 20L)), org.apache.spark.sql.functions.lit(false))
      .select("source", "n_docs", "sum_chars", "min_doc", "max_doc")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5)) == direct)
  }

  test("token shards tile the corpus contiguously and near-balanced (q147 laws)") {
    val rows = SparkEntry.queries("q147_token_shards")(spark, sf)
      .select("shard", "n_tokens", "first_doc", "last_doc")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.nonEmpty)
    // shards are contiguous, gap-free intervals in doc_id order
    assert(rows.map(_._1) == rows.indices.map(_.toLong))
    rows.sliding(2).foreach {
      case Seq((_, _, _, lastA), (_, _, firstB, _)) =>
        assert(lastA < firstB, "shard doc ranges overlap or reorder")
      case _ => ()
    }
    // token totals conserve the corpus
    val d = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.trim($"text"), "\\s+")).cast("long"))
      .as[Long].collect()
    assert(rows.map(_._2).sum == d.sum)
    // greedy boundary rule: every non-final shard is within one doc of
    // the 16Ki target
    val maxTok = d.max
    rows.dropRight(1).foreach { case (sid, nt, _, _) =>
      assert(math.abs(nt - 16384L) <= maxTok,
        s"shard $sid tokens $nt drifts more than one doc from target")
    }
  }

  test("DSIR weights rank the model's own target language first (q145 law)") {
    // the hashed-bucket importance model is FIT on the corpus's en
    // slice, so en docs must score higher on average than any other
    // language — the separation DSIR's resampling gate relies on.
    // Also: exactly one row per document (the weight table is total).
    val w = SparkEntry.queries("q145_dsir_weights")(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(w.count() == docs.count())
    val byLang = w.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(avg($"log_w").as("m"))
      .as[(String, Double)].collect().toMap
    val en = byLang("en")
    byLang.filterNot(_._1 == "en").foreach { case (l, m) =>
      assert(en > m, s"en mean $en not above $l mean $m")
    }
  }

  test("incremental stats: state merge equals direct recompute (q93 law)") {
    // the oracle proves this at sf0.01; this pins it at sf0.001 too —
    // the algebra must hold for ANY split, not one lucky fixture
    import org.apache.spark.sql.functions._
    val merged = SparkEntry.queries("q93_incremental_stats")(spark, sf)
    val docs = Tables.documents(spark, sf)
    val direct = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        sum($"n_chars" * $"n_chars").as("ss"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .select($"source", $"n_docs", $"sum_chars", $"min_doc", $"max_doc",
        ($"sum_chars".cast("double") / $"n_docs".cast("double")).as("mean_chars"),
        (($"ss".cast("double") / $"n_docs".cast("double")) -
          ($"sum_chars".cast("double") / $"n_docs".cast("double")) *
            ($"sum_chars".cast("double") / $"n_docs".cast("double"))).as("var_chars"))
      .orderBy("source")
    assert(merged.collect().toSeq == direct.collect().toSeq,
      "merged state diverged from direct recompute")
  }

  test("sequence packing: token conservation, ordered disjoint bins (q94 laws)") {
    import org.apache.spark.sql.functions._
    val bins = SparkEntry.queries("q94_sequence_pack")(spark, sf)
      .select("source", "bin", "n_tokens", "first_doc", "last_doc")
      .as[(String, Long, Long, Long, Long)].collect()
    val totals = Tables.documents(spark, sf)
      .groupBy("source")
      .agg(sum(size(split(trim($"text"), "\\s+")).cast("long")).as("t"))
      .as[(String, Long)].collect().toMap
    // conservation: packing moves every token into exactly one bin
    val packed = bins.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(packed == totals, s"token loss: ${totals.keySet.map(k => k -> (totals(k), packed.getOrElse(k, -1L)))}")
    // bins within a source hold disjoint, ordered doc-id ranges
    bins.groupBy(_._1).foreach { case (src, bs) =>
      val ordered = bs.sortBy(_._2)
      ordered.foreach { case (_, _, _, f, l) => assert(f <= l) }
      ordered.sliding(2).foreach {
        case Array((_, b1, _, _, l1), (_, b2, _, f2, _)) =>
          assert(b1 < b2 && l1 < f2, s"$src bins $b1/$b2 overlap or disorder")
        case _ => ()
      }
    }
  }

  test("corpus build: the funnel only ever narrows (q100 law)") {
    val rows = SparkEntry.queries("q100_corpus_build")(spark, sf)
      .select("n_raw", "n_quality", "n_exact", "n_near", "n_kept")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (raw, q, e, n, k) =>
      assert(raw >= q && q >= e && e >= n && n >= k && k >= 0,
        s"funnel must be monotone: $raw >= $q >= $e >= $n >= $k")
    }
    // every stage must actually bite somewhere on the fixture, or the
    // capstone is testing composition of no-ops
    val (raw, q, e, n, k) = rows.reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5))
    assert(q < raw, "quality filter never fired")
    assert(n < e || e < q, "neither dedup stage fired")
    assert(k < n, "mixture sampling never fired")
  }

  test("leakage-free split: no near-dup cluster straddles splits (q112 law)") {
    import org.apache.spark.sql.functions.countDistinct
    val asg = graft.dedup.Dedup.leakageFreeSplit(spark, sf).cache()
    try {
      // every document is assigned exactly once
      assert(asg.count() == Tables.documents(spark, sf).count())
      // structural leakage guard: a cluster maps to exactly ONE split
      val perCluster = asg.groupBy("cluster_id")
        .agg(countDistinct("split").as("n_splits"))
      assert(perCluster.filter($"n_splits" > 1).count() == 0,
        "a near-dup cluster straddles train/val/test")
      // the guard is non-vacuous on the fixture: some cluster has >= 2
      // docs, and all three splits are populated
      val maxSize = asg.groupBy("cluster_id").count()
        .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
      assert(maxSize >= 2, "fixture has no multi-doc cluster; law is vacuous")
      assert(asg.select("split").distinct().count() == 3)
    } finally asg.unpersist()
  }

  test("leakage-free split: LSH route == exact route assignment (q112 r8-verdict law)") {
    // q112's default pair source is the production
    // LSH route (q86 machinery). Both routes exact-verify candidates at
    // the same threshold, so they can differ only if banding misses a
    // qualifying pair — pin full assignment equality at tested scale.
    val lsh = graft.dedup.Dedup.leakageFreeSplit(spark, sf).cache()
    val exact = graft.dedup.Dedup.leakageFreeSplit(spark, sf, exactPairs = true).cache()
    try {
      assert(lsh.exceptAll(exact).isEmpty && exact.exceptAll(lsh).isEmpty,
        "LSH-route split assignment diverged from the exact-route twin")
    } finally { lsh.unpersist(); exact.unpersist() }
  }

  test("novelty profile conserves gram ownership (q151 laws)") {
    val rows = SparkEntry.queries("q151_novelty_profile")(spark, sf)
      .select("source", "n_docs", "total_grams", "novel_grams", "novelty_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // every gram has exactly ONE first owner, so per-source novel
    // counts partition the corpus's distinct-gram set
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .filter(size($"toks") >= 8)
      .withColumn("i", explode(sequence(lit(1), size($"toks") - 7)))
      .select(md5(array_join(slice($"toks", $"i", lit(8)), " ")).as("gram"))
    val distinctGrams = docs.distinct().count()
    assert(rows.map(_._4).sum == distinctGrams,
      "sum of per-source novel grams must equal the corpus distinct-gram count")
    rows.foreach { case (src, nd, tg, ng, ppm) =>
      assert(ng <= tg && ppm >= 0 && ppm <= 1000000L, s"$src out of range")
      assert(nd > 0 && tg > 0)
    }
  }

  test("source-overlap matrix is canonical and Jaccard-bounded (q152 laws)") {
    val rows = SparkEntry.queries("q152_source_overlap")(spark, sf)
      .select("source_a", "source_b", "shared_grams", "jaccard_ppm")
      .as[(String, String, Long, Long)].collect().toSeq
    // canonical pair order, no self-pairs, no duplicates
    rows.foreach { case (a, b, sh, j) =>
      assert(a < b, s"pair ($a,$b) not canonical")
      assert(sh > 0 && j >= 0 && j <= 1000000L)
    }
    assert(rows.map(r => (r._1, r._2)).distinct.size == rows.size)
  }

  test("vocabulary growth curve is cumulative and exhaustive (q153 laws)") {
    val rows = SparkEntry.queries("q153_vocab_growth")(spark, sf)
      .select("octile", "cum_vocab", "new_vocab")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == (1L to 8L))
    // cumulative counts never decrease and the increments reconcile
    rows.sliding(2).foreach {
      case Seq((_, c1, _), (_, c2, n2)) =>
        assert(c2 >= c1 && c2 - c1 == n2)
      case _ => ()
    }
    assert(rows.head._2 == rows.head._3)
    // octile 8's threshold is max(doc_id) itself, so the curve must end
    // at the corpus's total distinct-token count
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .distinct().count()
    assert(rows.last._2 == vocab)
  }

  test("context sweep: monotone pad/truncation and budget-bounded util (q155 laws)") {
    val rows = SparkEntry.queries("q155_context_sweep")(spark, sf)
      .select("source", "ctx_len", "n_docs", "n_tokens", "pad_tokens",
        "trunc_tokens", "util_ppm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byL = rs.sortBy(_._2)
      assert(byL.map(_._2) == Seq(512L, 1024L, 2048L, 4096L))
      // a longer context can only truncate less and pad more
      byL.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._6 <= a._6, s"$src truncation grew with L")
          assert(b._5 >= a._5, s"$src padding shrank with L")
        case _ => ()
      }
      byL.foreach { case (_, l, nd, nt, pad, tr, util) =>
        // kept + pad fills the sequence budget exactly
        assert((nt - tr) + pad == nd * l, s"$src L=$l budget not conserved")
        assert(util >= 0 && util <= 1000000L)
      }
    }
  }

  test("token spectrum partitions the vocabulary and the corpus mass (q156 laws)") {
    val rows = SparkEntry.queries("q156_token_spectrum")(spark, sf)
      .select("band", "n_types", "n_occurrences")
      .as[(Int, Long, Long)].collect().toSeq
    assert(rows.nonEmpty && rows.forall(_._1 >= 0))
    val toks = Tables.documents(spark, sf)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
    assert(rows.map(_._2).sum == toks.distinct().count(),
      "band type counts must partition the vocabulary")
    assert(rows.map(_._3).sum == toks.count(),
      "band occurrence mass must sum to the corpus token count")
    // a band-b type occurs in [2^b, 2^b+1) times, so mass is bounded
    rows.foreach { case (b, nt, no) =>
      assert(no >= nt * (1L << b) && no < nt * (1L << (b + 1)))
    }
  }

  test("length drift: TV bounds, split conservation, worst-band dominance (q158 laws)") {
    val rows = SparkEntry.queries("q158_length_drift")(spark, sf)
      .select("source", "n_stored", "n_batch", "tv_ppm", "worst_band",
        "worst_band_d_ppm")
      .as[(String, Long, Long, Long, Int, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val perSource = Tables.documents(spark, sf)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    rows.foreach { case (src, nOld, nNew, tv, _, worstD) =>
      // the two splits partition the source's documents
      assert(nOld + nNew == perSource(src), s"$src split not conserved")
      assert(nOld > 0 && nNew > 0, s"$src empty side survived the guard")
      // total variation over ppm shares lives in [0, 1e6]
      assert(tv >= 0 && tv <= 1000000L, s"$src tv out of range")
      // TV = floor(Σd/2) ≥ floor(worst_d/2), so the worst band can
      // never exceed twice the total (+1 for the floor)
      assert(worstD <= 2 * tv + 1, s"$src worst band exceeds 2·TV")
    }
    // the monitor is non-vacuous on the fixture: some source drifts
    assert(rows.exists(_._4 > 0), "all sources report zero drift")
  }

  test("score calibration partitions the corpus with bounded rates (q159 laws)") {
    val rows = SparkEntry.queries("q159_score_calibration")(spark, sf)
      .select("band", "n_docs", "n_pos", "pos_rate_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
    assert(rows.map(_._2).sum == docs.count(),
      "bands must partition the corpus")
    assert(rows.map(_._3).sum == docs.filter($"lang" === "en").count(),
      "positive counts must sum to the en-doc count")
    rows.foreach { case (b, n, p, r) =>
      assert(b >= 0 && p <= n && r >= 0 && r <= 1000000L)
    }
  }

  test("dedup attribution conserves the dropped-doc count (q160 laws)") {
    val rows = SparkEntry.queries("q160_dedup_attribution")(spark, sf)
      .select("keeper_source", "dup_source", "n_dup_docs", "tokens_saved")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(rows.nonEmpty, "fixture has no exact duplicates; matrix is vacuous")
    val d = Tables.documents(spark, sf)
      .select(md5(array_join(array_sort(array_distinct(
        split(trim($"text"), "\\s+"))), " ")).as("fp"))
    val total = d.count()
    val clusters = d.distinct().count()
    // every non-keeper doc is attributed exactly once
    assert(rows.map(_._3).sum == total - clusters,
      "attribution must cover exactly the dropped duplicates")
    rows.foreach { case (_, _, n, t) => assert(n > 0 && t >= 0) }
    assert(rows.map(r => (r._1, r._2)).distinct.size == rows.size)
  }

  test("corpus health report agrees with its standalone components (q162 law)") {
    val health = SparkEntry.queries("q162_corpus_health")(spark, sf)
      .select("source", "n_docs", "dup_docs", "novelty_ppm", "drift_tv_ppm")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(health.nonEmpty)
    // one row per source, volumes conserved
    val perSource = Tables.documents(spark, sf)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(health.keySet == perSource.keySet)
    health.foreach { case (src, (n, _, _, _)) => assert(n == perSource(src)) }
    // the dashboard's novelty and drift columns are the STANDALONE
    // queries' values — the shared-core guarantee, asserted
    val nov = SparkEntry.queries("q151_novelty_profile")(spark, sf)
      .select("source", "novelty_ppm").as[(String, Long)].collect().toMap
    val drift = SparkEntry.queries("q158_length_drift")(spark, sf)
      .select("source", "tv_ppm").as[(String, Long)].collect().toMap
    health.foreach { case (src, (_, _, novOpt, drOpt)) =>
      assert(novOpt == nov.get(src), s"$src novelty disagrees with q151")
      assert(drOpt == drift.get(src), s"$src drift disagrees with q158")
    }
    // dup counts sum to the corpus's dropped-duplicate total (q160's law)
    val d = Tables.documents(spark, sf)
      .select(md5(array_join(array_sort(array_distinct(
        split(trim($"text"), "\\s+"))), " ")).as("fp"))
    assert(health.values.map(_._2).sum == d.count() - d.distinct().count())
  }

  test("lang-ID scorecard conserves the corpus on both axes (q161 laws)") {
    val rows = SparkEntry.queries("q161_langid_prf")(spark, sf)
      .select("lang", "support", "predicted", "correct")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val total = Tables.documents(spark, sf).count()
    // every doc has exactly one true class and one predicted class
    assert(rows.map(_._2).sum == total, "supports must sum to the corpus")
    assert(rows.map(_._3).sum == total, "predictions must sum to the corpus")
    rows.foreach { case (l, s, p, c) =>
      assert(c <= s && c <= p, s"$l correct exceeds support or predicted")
    }
  }

  test("paragraph dedup conserves tokens and keeps each span once (q165 laws)") {
    val rows = SparkEntry.queries("q165_paragraph_dedup")(spark, sf)
      .select("doc_id", "n_tiles", "dup_tiles", "kept_tokens",
        "removed_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // recompute the tiling locally: tiles, tokens, distinct paragraphs
    val docs = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .as[(Long, Seq[String])].collect().toSeq
    val tiling = docs.map { case (id, toks) =>
      id -> toks.grouped(16).toSeq
    }.toMap
    // per-doc conservation: n_tiles = ceil(nt/16), kept+removed = nt
    rows.foreach { case (id, nTiles, dup, kept, removed) =>
      val tiles = tiling(id)
      assert(nTiles == tiles.size, s"doc $id tile count")
      assert(kept + removed == tiles.map(_.size).sum.toLong,
        s"doc $id token conservation")
      assert(dup <= nTiles)
    }
    assert(rows.map(_._1).toSet == tiling.keySet, "one row per doc")
    // global first-occurrence law: exactly one occurrence of every
    // distinct paragraph survives — kept tiles == distinct paragraphs
    val allParas = tiling.values.flatten.map(_.mkString(" ")).toSeq
    val keptTiles = rows.map(r => r._2 - r._3).sum
    assert(keptTiles == allParas.distinct.size.toLong,
      "kept tiles must equal distinct paragraphs")
    assert(rows.map(_._3).sum == allParas.size - allParas.distinct.size,
      "removed tiles must equal duplicate occurrences")
    assert(rows.map(_._3).sum > 0, "fixture should contain duplicate spans")
  }

  test("histogram percentiles equal percentile_disc semantics (q166 law)") {
    val rows = SparkEntry.queries("q166_token_percentiles")(spark, sf)
      .select("source", "n_docs", "p50", "p90", "p99", "max_tok")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val bySource = Tables.documents(spark, sf)
      .select($"source", size(split(trim($"text"), "\\s+")).cast("long")
        .as("n_tok"))
      .as[(String, Long)].collect().toSeq.groupBy(_._1)
      .map { case (s, vs) => s -> vs.map(_._2).sorted }
    assert(rows.map(_._1).toSet == bySource.keySet)
    rows.foreach { case (src, n, p50, p90, p99, mx) =>
      val vs = bySource(src)
      assert(n == vs.size.toLong)
      // percentile_disc(p): the value at 1-based rank ceil(p*N)
      def disc(num: Long, den: Long): Long =
        vs(((num * vs.size + den - 1) / den - 1).toInt)
      assert(p50 == disc(1, 2), s"$src p50")
      assert(p90 == disc(9, 10), s"$src p90")
      assert(p99 == disc(99, 100), s"$src p99")
      assert(mx == vs.last)
    }
  }

  test("winsorized stats clamp exactly at the p05/p95 fences (q167 laws)") {
    val rows = SparkEntry.queries("q167_winsorized_stats")(spark, sf)
      .select("source", "n_docs", "p05", "p95", "wins_sum", "n_lo", "n_hi",
        "wins_mean_milli")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows.nonEmpty)
    val bySource = Tables.documents(spark, sf)
      .select($"source", size(split(trim($"text"), "\\s+")).cast("long")
        .as("n_tok"))
      .as[(String, Long)].collect().toSeq.groupBy(_._1)
      .map { case (s, vs) => s -> vs.map(_._2).sorted }
    rows.foreach { case (src, n, p05, p95, ws, nLo, nHi, wm) =>
      val vs = bySource(src)
      def disc(num: Long, den: Long): Long =
        vs(((num * vs.size + den - 1) / den - 1).toInt)
      assert(p05 == disc(1, 20), s"$src p05")
      assert(p95 == disc(19, 20), s"$src p95")
      assert(ws == vs.map(v => math.max(p05, math.min(p95, v))).sum,
        s"$src winsorized sum")
      assert(nLo == vs.count(_ < p05) && nHi == vs.count(_ > p95))
      assert(wm == ws * 1000 / n, s"$src fixed-point mean")
      // the clamp never moves the winsorized mean outside the fences
      assert(wm >= p05 * 1000 && wm <= p95 * 1000)
    }
  }

  test("phrase search serves the true top trigram positionally (q168 laws)") {
    val rows = SparkEntry.queries("q168_phrase_search")(spark, sf)
      .select("doc_id", "phrase", "n_occ")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows.nonEmpty, "top trigram must occur somewhere")
    val docs = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .as[(Long, Seq[String])].collect().toSeq
    val grams = docs.flatMap { case (id, toks) =>
      toks.sliding(3).filter(_.size == 3).map(g => id -> g.mkString(" "))
    }
    val top = grams.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (g, c) => (-c, g) }.head._1
    assert(rows.forall(_._2 == top), "served phrase must be the top trigram")
    val expected = grams.filter(_._2 == top).groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    assert(rows.map(r => r._1 -> r._3).toMap == expected,
      "per-doc positional counts must equal the sliding-window counts")
  }

  test("weighted sample is the exact bottom-k of hash DIV weight (q169 laws)") {
    val rows = SparkEntry.queries("q169_weighted_sample")(spark, sf)
      .select("source", "rank", "doc_id", "n_tok", "priority")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // local recompute: md5 48-bit prefix DIV token count, bottom-5
    val docs = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0)
      .select($"source", $"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
      .as[(String, Long, Long)].collect().toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def prio(id: Long, w: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16) / w
    }
    val expected = docs.groupBy(_._1).flatMap { case (src, ds) =>
      ds.map { case (_, id, w) => (id, w, prio(id, w)) }
        .sortBy { case (id, _, p) => (p, id) }.take(5).zipWithIndex
        .map { case ((id, w, p), i) => (src, i + 1L, id, w, p) }
    }.toSet
    assert(rows.toSet == expected,
      "sample must equal the locally recomputed weighted bottom-k")
    // the weighting ENGAGES: heavier docs are over-represented vs the
    // unweighted (w=1) draw on the same hash stream
    val unweighted = docs.groupBy(_._1).flatMap { case (_, ds) =>
      ds.map { case (_, id, w) => (id, w, prio(id, 1L)) }
        .sortBy { case (id, _, p) => (p, id) }.take(5)
    }
    val meanW = rows.map(_._4).sum.toDouble / rows.size
    val meanU = unweighted.map(_._2).sum.toDouble / unweighted.size
    assert(meanW > meanU,
      s"weighted draw should prefer longer docs ($meanW !> $meanU)")
  }

  test("curriculum phases conserve the budget and order by quality (q174 laws)") {
    val rows = SparkEntry.queries("q174_curriculum_phases")(spark, sf)
      .select("phase", "n_docs", "n_tokens", "min_ttr", "max_ttr")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) == Seq(0L, 1L, 2L, 3L), "exactly four phases")
    val docs = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0)
      .select(split(trim($"text"), "\\s+").as("toks"))
      .select(size($"toks").cast("long").as("n"),
        size(array_distinct($"toks")).cast("long").as("d"))
      .as[(Long, Long)].collect().toSeq
    val total = docs.map(_._1).sum
    val maxDoc = docs.map(_._1).max
    // conservation: every doc lands in exactly one phase
    assert(rows.map(_._2).sum == docs.size.toLong)
    assert(rows.map(_._3).sum == total)
    // curriculum order: quality bands never interleave
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(a._5 <= b._4, s"phase ${a._1} overlaps ${b._1} in ttr")
    }
    // balance: a greedy cut misses T/4 by at most one straddling doc
    rows.foreach { case (p, _, t, _, _) =>
      assert(math.abs(t - total / 4) <= maxDoc + 4,
        s"phase $p budget $t strays from ${total / 4}")
    }
  }

  test("backoff LM scores exactly the held-out quarter (q175 laws)") {
    val rows = SparkEntry.queries("q175_backoff_lm")(spark, sf)
      .select("source", "n_docs", "n_bigrams", "n_backoff", "sum_sbits",
        "mean_sbits")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", split(trim($"text"), "\\s+").as("toks"))
      .as[(Long, String, Seq[String])].collect().toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def evalSide(id: Long): Boolean =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.head >= 'c'
    // eval-side coverage: per-source doc and bigram counts conserve
    val ev = docs.filter(d => evalSide(d._1) && d._3.size >= 2)
    val expDocs = ev.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expBi = ev.groupBy(_._2).view
      .mapValues(_.map(_._3.size.toLong - 1).sum).toMap
    rows.foreach { case (src, nd, nb, nbo, ss, ms) =>
      assert(nd == expDocs(src), s"$src eval doc count")
      assert(nb == expBi(src), s"$src eval bigram count")
      assert(nbo >= 0 && nbo <= nb && ms == ss / nb)
    }
    assert(rows.map(_._1).toSet == expDocs.keySet)
    // the backoff branch genuinely fires on the held-out quarter
    val trainBi = docs.filter(d => !evalSide(d._1) && d._3.size >= 2)
      .flatMap(_._3.sliding(2).filter(_.size == 2).map(g => (g(0), g(1))))
      .toSet
    val expBackoff = ev.flatMap(_._3.sliding(2).filter(_.size == 2))
      .count(g => !trainBi.contains((g(0), g(1)))).toLong
    assert(rows.map(_._4).sum == expBackoff, "backoff count must be exact")
    assert(expBackoff > 0, "fixture never backs off; branch is vacuous")
  }

  test("delete propagation conserves every store and re-owns, not drops (q176 laws)") {
    val rows = SparkEntry.queries("q176_delete_propagation")(spark, sf)
      .select("store", "rows_before", "rows_after", "rows_deleted",
        "rows_reowned")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(rows.keySet == Set("docs", "postings", "fingerprints"))
    // per-store conservation
    rows.foreach { case (st, (b, a, d, ro)) =>
      assert(b == a + d, s"$st not conserved")
      assert(ro >= 0 && ro <= a, s"$st reowned out of range")
    }
    // the delete bucket is exactly the md5-'f' sixteenth
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .as[(Long, Seq[String])].collect().toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val deleted = docs.filter(d => hex(d._1.toString).head == 'f')
      .map(_._1).toSet
    assert(rows("docs")._3 == deleted.size.toLong)
    // fingerprint store: entries survive while ANY holder survives,
    // and re-owned counts exactly the owner changes
    val byFp = docs.map { case (id, toks) =>
      (hex(toks.distinct.sorted.mkString(" ")), id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val surviving = byFp.view.mapValues(_.filterNot(deleted)).toMap
    assert(rows("fingerprints")._2 ==
      surviving.count(_._2.nonEmpty).toLong, "fp survival rule")
    val reowned = byFp.count { case (fp, holders) =>
      surviving(fp).nonEmpty && surviving(fp).head != holders.head
    }
    assert(rows("fingerprints")._4 == reowned.toLong, "exact re-own count")
    assert(reowned > 0, "fixture never re-owns; the subtle branch is vacuous")
  }

  test("interleave schedule is smooth in every prefix (q177 laws)") {
    val rows = SparkEntry.queries("q177_interleave_schedule")(spark, sf)
      .select("key", "source", "k", "doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(rows.size == 48)
    val docs = Tables.documents(spark, sf)
      .select($"source", $"doc_id").as[(String, Long)].collect().toSeq
    val n = docs.size.toLong
    val byS = docs.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val full = byS.toSeq.flatMap { case (src, ids) =>
      ids.zipWithIndex.map { case (id, i) =>
        val k = i + 1L
        (((2 * k - 1) * n) / (2 * ids.size), src, k, id)
      }
    }.sortBy(r => (r._1, r._2, r._3))
    assert(rows == full.take(48), "head-48 must equal the full schedule's")
    // smoothness: in every prefix of the FULL schedule, each source's
    // pick count stays within one of its proportional share — the
    // property that makes this ordering batch-safe
    val counts = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    full.zipWithIndex.foreach { case ((_, src, _, _), p0) =>
      counts(src) += 1
      val p = p0 + 1L
      byS.keys.foreach { s2 =>
        val share = p.toDouble * byS(s2).size / n
        assert(math.abs(counts(s2) - share) <= 1.0 + 1e-9,
          s"prefix $p: $s2 at ${counts(s2)} vs share $share")
      }
    }
  }

  test("doc keywords are the exact per-doc TF-IDF argmax (q178 laws)") {
    val rows = SparkEntry.queries("q178_doc_keywords")(spark, sf)
      .select("doc_id", "rank", "token", "tf", "df", "score_scaled")
      .as[(Long, Long, String, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .as[(Long, Seq[String])].collect().toSeq
    val n = docs.size.toLong
    val dfMap = docs.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expected = docs.flatMap { case (id, ts) =>
      val tf = ts.groupBy(identity).view.mapValues(_.size.toLong)
      tf.toSeq.map { case (t, c) =>
        (t, c, dfMap(t), c * (((n + 1) * 1000000L) / (dfMap(t) + 1)))
      }.sortBy { case (t, _, _, sc) => (-sc, t) }.take(3).zipWithIndex
        .map { case ((t, c, d, sc), i) => (id, i + 1L, t, c, d, sc) }
    }.toSet
    assert(rows.toSet == expected,
      "keyword table must equal the exact local TF-IDF recompute")
    // idf discriminates: the planted 'dup' marker (rare) must outrank
    // common corpus vocabulary somewhere
    assert(rows.exists(r => r._2 == 1 && r._5 * 10 < n),
      "no doc's top keyword is a rare term — idf is vacuous")
  }

  test("postings-size planner conserves and prices exactly (q179 laws)") {
    val rows = SparkEntry.queries("q179_postings_bytes")(spark, sf)
      .select("cls", "band", "n_tokens", "n_postings", "enc_bytes")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSet.subsetOf(Set("varint", "bitmap")))
    assert(rows.exists(_._1 == "varint") && rows.exists(_._1 == "bitmap"),
      "both encoding classes must engage on the fixture")
    val postings = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("t"))
      .distinct().as[(Long, String)].collect().toSeq
    val byTok = postings.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted).toMap
    // conservation across classes and bands
    assert(rows.map(_._3).sum == byTok.size.toLong, "token conservation")
    assert(rows.map(_._4).sum == postings.size.toLong,
      "posting conservation")
    // exact varint pricing for the rare class
    def vbytes(gap: Long): Long =
      (java.lang.Long.toBinaryString(gap).length + 6) / 7
    val rareExp = byTok.filter(_._2.size <= 256).toSeq.map {
      case (_, ids) =>
        val gaps = (ids.head + 1) +: ids.sliding(2).collect {
          case Seq(a, b) => b - a
        }.toSeq
        gaps.map(vbytes).sum
    }.sum
    assert(rows.filter(_._1 == "varint").map(_._5).sum == rareExp,
      "varint bytes must equal the exact gap recompute")
    // closed-form bitmap pricing for the hot class
    val maxDoc = postings.map(_._1).max
    val hotExp = byTok.count(_._2.size > 256).toLong * (maxDoc / 8 + 1)
    assert(rows.filter(_._1 == "bitmap").map(_._5).sum == hotExp,
      "bitmap bytes must equal tokens x (maxdoc/8 + 1)")
  }

  test("token_gram_md5s == the exploded md5(array_join(slice)) spelling (r13 kernel lockstep)") {
    graft.plans.TokenGramMd5s.register(spark)
    // real corpus docs + edge fixtures: exactly w tokens, w-1 tokens
    // (empty array), repeated grams (duplicates kept in order),
    // multi-byte tokens, single-token grams at w=1
    val fixture = Seq(
      (9001L, "a b c d e f g h"), (9002L, "a b c d e f g"),
      (9003L, "x y x y x y x y x y"), (9004L, "ß √ ü é ß √ ü é ß"),
      (9005L, "one"), (9006L, ""))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(fixture)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    Seq(1, 8, 13).foreach { w =>
      val ref = docs
        .filter(size(col("toks")) >= w)
        .withColumn("i", explode(sequence(lit(1), size(col("toks")) - (w - 1))))
        .select(col("doc_id"), col("i"),
          md5(array_join(slice(col("toks"), col("i"), lit(w)), " ")).as("g"))
      val ker = docs
        .filter(size(col("toks")) >= w)
        .select(col("doc_id"), posexplode(
          call_function(graft.plans.TokenGramMd5s.NAME, col("toks"), lit(w)))
          .as(Seq("p", "g")))
        .select(col("doc_id"), (col("p") + 1).as("i"), col("g"))
      val diff = ref.exceptAll(ker).count() + ker.exceptAll(ref).count()
      assert(diff == 0, s"w=$w: kernel diverges from the exploded spelling")
    }
    // short-array guard: n < w yields an EMPTY array, not null/crash
    val short = docs.filter(size(col("toks")) < 13)
      .select(size(call_function(graft.plans.TokenGramMd5s.NAME,
        col("toks"), lit(13))).as("n")).agg(max(col("n"))).head.getInt(0)
    assert(short == 0)
  }

  test("incrementalComponents == full recompute on a fixture with every merge case") {
    import graft.dedup.Dedup
    // old graph: {1,2,3} (chain), {10,11}, {20,21} (untouched tonight),
    // {30} never appears in any edge until tonight
    val oldE = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("a_id", "b_id")
    // new edges: old-old BRIDGE (3-10 merges two stored components),
    // brand-new pair (40-41), new node attaching to a stored component
    // (30-11), duplicate re-delivery of a stored edge (1-2)
    val newE = Seq((3L, 10L), (40L, 41L), (30L, 11L), (1L, 2L))
      .toDF("a_id", "b_id")
    val stored = Dedup.components(oldE)
    val got = Dedup.incrementalComponents(stored, newE)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val full = Dedup.components(oldE.unionByName(newE))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == full, s"incremental $got != recompute $full")
    // and the merge cases really happened: 1,2,3,10,11,30 share ONE
    // canonical (the bridge + attach), 40/41 form a fresh pair,
    // 20/21 kept their stored label untouched
    val m = got.toMap
    assert(Set(1L, 2L, 3L, 10L, 11L, 30L).map(m) == Set(1L))
    assert(m(40L) == 40L && m(41L) == 40L)
    assert(m(20L) == 20L && m(21L) == 20L)
  }
}

/** The reference spellings the codegen'd dedup kernels are
  * lockstep-tested against. */
object TextDedupSpec {

  /** Reference pipeline spelling of [[Dedup.minhashSignatures]]
    * (explode + k min-aggregates over the shingle index). */
  def minhashSignaturesPipeline(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(xxhash64(lit(i), col("g"))).as(s"s$i"))
    Dedup.shingleIndex(docs, n).groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Reference pipeline spelling of [[Dedup.minhashSignaturesTokens]]
    * (explode + k min-aggregates over the token w-gram index). */
  def minhashSignaturesTokensPipeline(docs: DataFrame, w: Int, k: Int): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val idx = Tables.fanOut(docs)
      .select(col("doc_id"), explode(TextDedupSpec.tokenShingles(toks, w)).as("g"))
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("g"))).as(s"s$i"))
    idx.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Reference HOF spelling of [[Dedup.simhash64]] (interpreted). */
  def simhash64Hof(textCol: String): Column = expr(
    s"""aggregate(
          zip_with(
            aggregate(
              transform(split(trim($textCol), '\\\\s+'), t -> xxhash64(t)),
              array_repeat(CAST(0 AS BIGINT), 64),
              (acc, h) -> zip_with(acc, sequence(0, 63),
                (a, b) -> a + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END)),
            sequence(0, 63),
            (v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b)
                      ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT), (x, y) -> x + y)""")

  /** Distinct character n-gram shingles of the named text column — the
    * interpreted reference spelling of the sorted_shingles kernel.
    * Guarded for |text| < n: Spark's sequence(1, 0) runs DESCENDING, so
    * the no-shingle case must short-circuit to an empty array. */
  def shingles(textCol: String, n: Int): Column =
    array_distinct(expr(
      s"""CASE WHEN length($textCol) < $n THEN CAST(array() AS ARRAY<STRING>)
          ELSE transform(sequence(1, length($textCol) - ${n - 1}),
                         i -> substring($textCol, i, $n)) END"""))

  /** Distinct word w-gram shingles of a whitespace-tokenized text
    * column — the unit of similarity production text dedup actually
    * uses (token 4/5-grams), in contrast to the character n-grams
    * of [[shingles]]. On a small-vocabulary corpus the distinction is dramatic:
    * the char-3-gram universe saturates (every doc contains most
    * shingles, so every pair looks ~0.45 similar and LSH buckets
    * degenerate), while token w-grams stay discriminative. `toksCol`
    * must already be the split token array. The interpreted
    * reference spelling of the sorted_token_shingles kernel. */
  def tokenShingles(toksCol: Column, w: Int): Column =
    array_distinct(when(size(toksCol) < w, expr("CAST(array() AS ARRAY<STRING>)"))
      .otherwise(transform(sequence(lit(1), size(toksCol) - (w - 1)),
        i => array_join(slice(toksCol, i, lit(w)), " "))))

  /** Rolling polynomial 5-gram hashes (base 257 mod 1e9+7) at every
    * character position — the Rabin-Karp hash family used by winnowing
    * fingerprinting (Schleimer et al., SIGMOD 2003): the HOF reference
    * spelling of the winnow_fp kernel's gram hashes. The window product
    * is unrolled so the oracle spelling is literally identical FOR ASCII
    * INPUT — Spark's
    * ascii() yields the signed first UTF-8 byte while DuckDB's unicode()
    * yields the code point, so callers must strip non-ASCII first (q46
    * normalizes with the same regexp on both sides); k is a
    * constant, so per-position evaluation is O(k)=O(1) per char — the
    * classic O(1) rolling update buys nothing at k=5 and would cost a
    * sequential dependency. */
  def rollingHashesExpr(textCol: String): String =
    // every ascii() is cast to BIGINT BEFORE its multiply: an INT×INT
    // product overflows ANSI arithmetic from code point 127 up (127 ×
    // 16974593 > Int.MaxValue) — printable ASCII survives only because
    // '~' is 126. Values are unchanged wherever the INT spelling didn't
    // overflow, and the hash is now total on any code point.
    s"""CASE WHEN length($textCol) < 5 THEN CAST(array() AS ARRAY<BIGINT>)
        ELSE transform(sequence(1, length($textCol) - 4), i ->
          (CAST(ascii(substring($textCol, i, 1)) AS BIGINT) * 4362470401 +
           CAST(ascii(substring($textCol, i + 1, 1)) AS BIGINT) * 16974593 +
           CAST(ascii(substring($textCol, i + 2, 1)) AS BIGINT) * 66049 +
           CAST(ascii(substring($textCol, i + 3, 1)) AS BIGINT) * 257 +
           CAST(ascii(substring($textCol, i + 4, 1)) AS BIGINT)) % 1000000007) END"""

  /** Winnowing selection: min hash of every w=4 window of consecutive
    * gram hashes, distinct — a document's O(len/w)-sized robust
    * fingerprint set (shared fingerprints ⇒ shared ≥k+w-1-char runs). */
  def winnowExpr(hashesCol: String): String =
    s"""CASE WHEN size($hashesCol) = 0 THEN CAST(array() AS ARRAY<BIGINT>)
        ELSE array_distinct(transform(sequence(1, greatest(size($hashesCol) - 3, 1)),
          i -> array_min(slice($hashesCol, i, 4)))) END"""
}
