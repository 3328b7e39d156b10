package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Exact.dsumd
import graft.operators.{Relational, Snapshots}

/** Property-based laws from SURVEY.md §5: normalize idempotence, diff
  * partition law, merge never degrades to sentinels, calendar length. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling in place of scalatest+scalacheck bridging
    * (not in the offline dependency set): N pinned-seed samples. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val symGen: Gen[String] = for {
    base <- Gen.alphaStr.map(_.take(8))
    suffix <- Gen.oneOf("", ".PA", ".XD", " ")
    pad <- Gen.oneOf("", " ", "  ")
  } yield pad + base + suffix

  test("normalizeSymbol is idempotent (S6 law)") {
    samples(Gen.listOfN(20, symGen), 8).filter(_.nonEmpty).foreach { syms =>
      val df = syms.toDF("s")
      val once = df.select(Relational.normalizeSymbol($"s").as("n"))
      val twice = once.select(Relational.normalizeSymbol($"n").as("n"))
      assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
    }
  }

  test("diff partition law: added ∪ deleted ∪ unchanged covers both snapshots (S13)") {
    val keyGen = Gen.listOf(Gen.choose(0, 60)).map(_.distinct)
    samples(Gen.zip(keyGen, keyGen), 6).foreach { case (prevK, curK) =>
      val prev = prevK.map(k => (s"T$k", s"name$k")).toDF("symbol", "name")
      val cur = curK.map(k => (s"T$k", s"name$k")).toDF("symbol", "name")
      val added = Snapshots.diffAdded(cur, prev, "symbol").count()
      val deleted = Snapshots.diffDeleted(cur, prev, "symbol").count()
      val unchanged = cur.join(prev, Seq("symbol"), "left_semi").count()
      assert(added + unchanged == curK.size)
      assert(deleted + unchanged == prevK.size)
    }
  }

  test("merge never overwrites a real value with a sentinel (S16 law)") {
    val nameGen = Gen.oneOf("Alpha Corp", "Beta Ltd", "No record found")
    val sectorGen = Gen.oneOf("Cement", "Banking", "Unknown")
    val rows = Gen.listOfN(12, for {
      i <- Gen.choose(0, 11); n <- nameGen; s <- sectorGen
    } yield (s"T$i", n, s, ""))
    samples(Gen.zip(rows, rows), 6).foreach { case (oldR, freshR) =>
      val old = oldR.distinctBy(_._1).toDF("symbol", "name", "sector", "url")
      val fresh = freshR.distinctBy(_._1).toDF("symbol", "name", "sector", "url")
      val merged = Snapshots.mergeUpsert(old, fresh).collect()
      val oldMap = oldR.distinctBy(_._1).map(r => r._1 -> r).toMap
      merged.foreach { m =>
        val o = oldMap(m.getString(0))
        // a real old name may never become the sentinel
        if (o._2 != "No record found")
          assert(m.getString(1) != "No record found", s"degraded ${m.getString(0)}")
        if (o._3 != "Unknown")
          assert(m.getString(2) != "Unknown")
      }
    }
  }

  test("rename blocking never loses a token-aligned similar pair (S14 law)") {
    // Law: for names made of whitespace tokens, any pair accepted by the
    // reference predicate via (a) a shared >3-char token or (b) token-
    // aligned containment is also proposed by the span-blocked equi-join
    // — i.e. blocked detectRenames equals the brute-force theta-join +
    // greedy 1:1 on such inputs.
    // all-words >3 chars and no word-in-word pairs: containment between
    // generated names is then always token-aligned — the envelope the
    // blocking documents (Snapshots.spanKeys)
    val word = Gen.oneOf("Alpha", "Beta", "Gamma", "Steel", "Cement",
      "Holdings", "Limited", "Group", "Intl", "Textile")
    val nameGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    samples(Gen.zip(Gen.listOfN(8, nameGen), Gen.listOfN(8, nameGen)), 6)
      .foreach { case (oldNames, newNames) =>
        val deleted = oldNames.distinct.zipWithIndex
          .map { case (n, i) => (f"O$i%02d", n) }.toDF("old_symbol", "old_name")
        val added = newNames.distinct.zipWithIndex
          .map { case (n, i) => (f"N$i%02d", n) }.toDF("new_symbol", "new_name")
        val blocked = Snapshots.detectRenames(deleted, added)
          .select("old_symbol", "new_symbol").as[(String, String)].collect().toSet
        // brute force: same predicate + same greedy 1:1, via cross join
        val pred =
          expr("instr(new_name, old_name) > 0") ||
          expr("instr(old_name, new_name) > 0") ||
          (length($"old_name") > 10 && length($"new_name") > 10 &&
            expr("exists(filter(split(old_name, ' '), w -> length(w) > 3), " +
                 "w -> instr(new_name, w) > 0)"))
        val cand = deleted.crossJoin(added).filter(pred)
        val w1 = org.apache.spark.sql.expressions.Window
          .partitionBy($"old_symbol").orderBy($"new_symbol")
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy($"new_symbol").orderBy($"old_symbol")
        val brute = cand
          .withColumn("r1", row_number().over(w1)).filter($"r1" === 1)
          .withColumn("r2", row_number().over(w2)).filter($"r2" === 1)
          .select("old_symbol", "new_symbol").as[(String, String)].collect().toSet
        assert(blocked == brute, s"blocked=$blocked brute=$brute")
      }
  }

  test("glued word-in-word vocabulary: blocked rename equals the documented envelope (S14)") {
    // Adversarial generator: the vocabulary deliberately contains GLUED
    // compounds ('PakSteel', 'SteelCo') whose substrings are also
    // standalone tokens ('Steel'), so the raw reference predicate's
    // instr() branches accept pairs the span-blocked engine documents
    // as excluded. Law: detectRenames equals the brute-force theta-join
    // restricted to the DOCUMENTED envelope — reference predicate AND a
    // shared token-aligned >3-char span — plus the same greedy 1:1.
    // This is the q11/q12 oracle's cand CTE semantics, property-pinned.
    val word = Gen.oneOf("Pak", "Steel", "PakSteel", "SteelCo", "Cement",
      "PakCementCo", "Holdings", "Limited", "Group", "SteelHoldings")
    val nameGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    def spans(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val toks = split(trim(c), " +")
      val n = size(toks)
      array_distinct(filter(
        flatten(transform(sequence(lit(1), n),
          i => transform(sequence(i, n),
            j => array_join(slice(toks, i, (j - i) + 1), " ")))),
        s => length(s) > 3))
    }
    var rawOnlyPairs = 0L // the generator must actually exercise the envelope
    samples(Gen.zip(Gen.listOfN(8, nameGen), Gen.listOfN(8, nameGen)), 6)
      .foreach { case (oldNames, newNames) =>
        val deleted = oldNames.distinct.zipWithIndex
          .map { case (n, i) => (f"O$i%02d", n) }.toDF("old_symbol", "old_name")
        val added = newNames.distinct.zipWithIndex
          .map { case (n, i) => (f"N$i%02d", n) }.toDF("new_symbol", "new_name")
        val blocked = Snapshots.detectRenames(deleted, added)
          .select("old_symbol", "new_symbol").as[(String, String)].collect().toSet
        val pred =
          expr("instr(new_name, old_name) > 0") ||
          expr("instr(old_name, new_name) > 0") ||
          (length($"old_name") > 10 && length($"new_name") > 10 &&
            expr("exists(filter(split(old_name, ' '), w -> length(w) > 3), " +
                 "w -> instr(new_name, w) > 0)"))
        val aligned = arrays_overlap(spans($"old_name"), spans($"new_name"))
        val raw = deleted.crossJoin(added).filter(pred)
        rawOnlyPairs += raw.filter(!aligned).count()
        val cand = raw.filter(aligned)
        val w1 = org.apache.spark.sql.expressions.Window
          .partitionBy($"old_symbol").orderBy($"new_symbol")
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy($"new_symbol").orderBy($"old_symbol")
        val envelope = cand
          .withColumn("r1", row_number().over(w1)).filter($"r1" === 1)
          .withColumn("r2", row_number().over(w2)).filter($"r2" === 1)
          .select("old_symbol", "new_symbol").as[(String, String)].collect().toSet
        assert(blocked == envelope, s"blocked=$blocked envelope=$envelope")
      }
    assert(rawOnlyPairs > 0,
      "adversarial vocabulary never produced a glued-only pair — the property is vacuous")
  }

  test("winnowing fingerprints are edit-robust and identity-stable (q46 law)") {
    val base = samples(Gen.listOfN(40, Gen.alphaLowerChar), 6)
      .map(_.mkString).filter(_.length == 40)
    base.foreach { text =>
      // single-char substitution in the middle
      val edited = text.updated(20, if (text(20) == 'z') 'a' else 'z')
      val df = Seq(("orig", text), ("same", text), ("edit", edited))
        .toDF("tag", "text")
        .withColumn("hs", expr(TextDedupSpec.rollingHashesExpr("text")))
        .withColumn("wfp", expr(TextDedupSpec.winnowExpr("hs")))
        .select($"tag", $"wfp")
      val fp = df.as[(String, Seq[Long])].collect().toMap
      assert(fp("orig") == fp("same"), "identical text ⇒ identical fingerprints")
      val o = fp("orig").toSet; val e = fp("edit").toSet
      // a 1-char edit touches ≤ k+w-1 = 8 gram positions ⇒ the windows
      // outside that region keep their minima: overlap must survive
      val overlap = o.intersect(e).size.toDouble / math.max(o.size, 1)
      assert(overlap >= 0.4, f"edit destroyed fingerprint overlap: $overlap%.2f")
    }
  }

  test("salted aggregation equals plain aggregation on arbitrary skew (q44 law)") {
    import graft.operators.Scale
    val rows = Gen.listOfN(300, for {
      k <- Gen.frequency(8 -> Gen.const("HOT"), 2 -> Gen.oneOf("a", "b", "c"))
      v <- Gen.choose(0.0, 1000.0)
    } yield (k, v))
    samples(rows, 4).foreach { data =>
      val df = data.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "rid")
      val salted = Scale.saltedAgg(df, "k", "v", salts = 8, saltSource = $"rid")
        .orderBy("k").collect().toSeq
      val plain = df.groupBy($"k")
        .agg(count(lit(1)).as("n"), dsumd($"v").as("sum"))
        .orderBy("k").collect().toSeq
      assert(salted == plain)
    }
  }

  test("calendar length = day span + 1 for arbitrary ranges (S19 law)") {
    val dayGen = Gen.choose(0, 1200)
    samples(Gen.zip(dayGen, Gen.choose(0, 400)), 8).foreach { case (startOff, span) =>
      val start = java.time.LocalDate.of(1995, 1, 1).plusDays(startOff)
      val end = start.plusDays(span)
      val n = operators.TimeSeries.calendar(spark, start.toString, end.toString).count()
      assert(n == span + 1)
    }
  }

  test("q108 boundary segments tile bins exactly and cover every doc") {
    val segs = SparkEntry.queries("q108_pack_boundaries")(spark, sf)
      .select($"source", $"bin", $"doc_id", $"local_off", $"seg_len")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(segs.nonEmpty)
    // per-doc coverage: segment lengths sum to the doc's token count
    val nTok = Tables.documents(spark, sf)
      .select($"doc_id", size(split(trim($"text"), "\\s+")).cast("long"))
      .as[(Long, Long)].collect().toMap
    segs.groupBy(_._3).foreach { case (doc, ss) =>
      assert(ss.map(_._5).sum == nTok(doc), s"doc $doc segments != n_tok")
    }
    // per-bin tiling: segments start at 0, are contiguous, never exceed 2048
    segs.groupBy(s => (s._1, s._2)).foreach { case ((src, bin), ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"bin ($src,$bin) must start at offset 0")
      sorted.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0)._4 + w(0)._5 == w(1)._4,
          s"bin ($src,$bin) segments must be contiguous")
      }
      val fill = sorted.last._4 + sorted.last._5
      assert(fill <= 2048, s"bin ($src,$bin) overfilled: $fill")
    }
  }

  test("q113 thirds are balanced, score-monotone, and rank-complete") {
    val rows = SparkEntry.queries("q113_surprisal_bucket")(spark, sf)
      .select($"doc_id", $"score", $"rank", $"bucket")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    // rank is the complete 1..N sequence (the two-phase offset+within-
    // score row_number reconstruction lost or duplicated nothing)
    assert(rows.map(_._3).sorted.toSeq == (1L to n))
    // bucket sizes differ by at most 1 (rank-arithmetic thirds)
    val sizes = rows.groupBy(_._4).values.map(_.length).toSeq
    assert(sizes.size == 3 && sizes.max - sizes.min <= 1, s"sizes=$sizes")
    // monotone: head scores never exceed middle scores, middle never tail
    def scores(b: Long) = rows.filter(_._4 == b).map(_._2)
    assert(scores(1).max <= scores(2).min, "head must score <= middle")
    assert(scores(2).max <= scores(3).min, "middle must score <= tail")
    // buckets are rank-contiguous (rank order reproduces bucket order)
    val byRank = rows.sortBy(_._3).map(_._4)
    assert(byRank.sameElements(byRank.sorted), "buckets must be rank-contiguous")
  }

  test("q120 epochs decorrelate and each is a permutation prefix") {
    val rows = SparkEntry.queries("q120_epoch_shuffle")(spark, sf).collect()
    val byEpoch = rows.groupBy(_.getAs[Long]("epoch"))
      .map { case (e, rs) => e -> rs.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Long]("doc_id")).toSeq }
    assert(byEpoch.keySet == Set(1L, 2L, 3L))
    byEpoch.values.foreach { ids =>
      assert(ids.length == 20 && ids.distinct.length == 20)
    }
    // different epochs must produce different orders (decorrelation is
    // the point of keying by epoch); identical prefixes would mean the
    // epoch never reached the permutation key
    assert(byEpoch(1L) != byEpoch(2L) && byEpoch(2L) != byEpoch(3L))
    // determinism: a second run reproduces every prefix exactly
    val again = SparkEntry.queries("q120_epoch_shuffle")(spark, sf).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"))).toSet
    assert(again == rows.map(r => (r.getAs[Long]("epoch"),
      r.getAs[Long]("rank"), r.getAs[Long]("doc_id"))).toSet)
  }

  test("q125 spans are maximal: separated, >= one gram long, coverage-exact") {
    val rows = SparkEntry.queries("q125_dup_span_manifest")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, spans) =>
      val sorted = spans.sortBy(_.getAs[Long]("span_start"))
      sorted.foreach { r =>
        assert(r.getAs[Long]("span_end") - r.getAs[Long]("span_start") >= 8)
        assert(r.getAs[Long]("n_grams") >= 1)
      }
      // maximality: islands merged everything mergeable, so consecutive
      // spans are STRICTLY separated (a touching pair would have merged)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("span_start") > a.getAs[Long]("span_end"),
            s"doc $doc has mergeable spans")
        case _ =>
      }
    }
  }

  test("q126 AUC equals the brute-force pairwise recomputation") {
    val auc = SparkEntry.queries("q126_filter_auc")(spark, sf).collect()(0)
    val scored = SparkEntry.queries("q113_surprisal_bucket")(spark, sf)
      .select($"doc_id", $"score").as[(Long, Long)].collect().toMap
    val langs = Tables.documents(spark, sf).select($"doc_id", $"lang")
      .as[(Long, String)].collect().toMap
    // keys.toSeq BEFORE map: mapping a Set of ids to scores would
    // deduplicate equal scores and silently shrink both samples
    val pos = scored.keys.toSeq.filter(d => langs(d) == "en").map(scored)
    val neg = scored.keys.toSeq.filterNot(d => langs(d) == "en").map(scored)
    assert(auc.getAs[Long]("n_pos") == pos.length &&
      auc.getAs[Long]("n_neg") == neg.length)
    // U counted pair by pair, ties at half weight, in 2x integer units
    val u2 = pos.iterator.map(p =>
      neg.iterator.map(n => if (p > n) 2L else if (p == n) 1L else 0L).sum).sum
    val expect = u2 * 1000000L / (2L * pos.length * neg.length)
    assert(auc.getAs[Long]("auc_micro") == expect,
      s"histogram AUC ${auc.getAs[Long]("auc_micro")} != pairwise $expect")
  }

  test("q123 fusion rows come from a leg and score exactly the RRF sum") {
    val rows = SparkEntry.queries("q123_hybrid_retrieval")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, qr) =>
      val sorted = qr.sortBy(_.getAs[Long]("rank"))
      val scores = sorted.map(_.getAs[Long]("rrf_scaled"))
      assert(scores.sameElements(scores.sorted.reverse), "rrf must be rank-ordered")
      sorted.foreach { r =>
        val rb = Option(r.getAs[java.lang.Long]("rank_b")).map(_.toLong)
        val rv = Option(r.getAs[java.lang.Long]("rank_v")).map(_.toLong)
        assert(rb.isDefined || rv.isDefined, "a fused doc must come from a leg")
        val expect = rb.map(x => 1000000L / (60 + x)).getOrElse(0L) +
          rv.map(x => 1000000L / (60 + x)).getOrElse(0L)
        assert(r.getAs[Long]("rrf_scaled") == expect, s"RRF mismatch in $r")
      }
    }
  }

  test("q119 buckets are tight powers of two and waste accounts exactly") {
    val rows = SparkEntry.queries("q119_pad_waste")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 64 && (b & (b - 1)) == 0, s"bucket $b not a pow2 >= 64")
      val nDocs = r.getAs[Long]("n_docs")
      val nTok = r.getAs[Long]("n_tokens")
      val nPad = r.getAs[Long]("n_pad")
      // every doc in the bucket fits it and (above the floor) would
      // not fit the next smaller bucket: b/2·n < n_tokens <= b·n
      assert(nTok + nPad == b * nDocs, "pad must complete the volume")
      assert(nTok <= b * nDocs)
      if (b > 64) assert(nTok > (b / 2) * nDocs, s"bucket $b not tight")
      val w = r.getAs[Long]("waste_milli")
      assert(w >= 0 && w < 1000)
    }
  }

  test("q138 temperature thresholds replay exactly from source masses") {
    // independent driver-side replay of the α = 1/2 allocation: exact
    // integer floor-sqrt weights, long totals, the same nested DIV
    // chain — pins the arithmetic the oracle hash also pins, from a
    // second implementation. (Pairwise thr monotonicity in T_s is NOT
    // a law: isqrt floor granularity can locally invert it near
    // squares — e.g. isqrt(1441)=37 vs isqrt(1466)=38.)
    val rows = SparkEntry.queries("q138_temperature_mixture")(spark, sf).collect()
    assert(rows.length >= 2)
    def isqrt(t: Long): Long = {
      val c = math.floor(math.sqrt(t.toDouble)).toLong
      val c2 = if (c * c > t) c - 1 else c
      if ((c2 + 1) * (c2 + 1) <= t) c2 + 1 else c2
    }
    val tot = rows.map(_.getAs[Long]("n_tokens")).sum
    val wsum = rows.map(r => isqrt(r.getAs[Long]("n_tokens"))).sum
    rows.foreach { r =>
      val t = r.getAs[Long]("n_tokens")
      val expect = math.min(65536L, ((tot / 2) * 65536L) / wsum * isqrt(t) / t)
      assert(r.getAs[Long]("thr") == expect, s"thr replay mismatch: $r")
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      if (r.getAs[Long]("thr") >= 65536L)
        assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs"),
          s"saturated source must keep everything: $r")
    }
    // and the allocation really damps: the kept-token share of the
    // LARGEST source under α=1/2 exceeds q97's uniform-share cut
    // (uniform is the harsher regime for over-represented sources)
    val big = rows.maxBy(_.getAs[Long]("n_tokens"))
    val q97 = SparkEntry.queries("q97_mixture_sample")(spark, sf).collect()
      .find(_.getAs[String]("source") == big.getAs[String]("source")).get
    assert(big.getAs[Long]("kept_tokens") >= q97.getAs[Long]("kept_tokens"),
      s"temperature must damp less than uniform on the largest source")
  }
}
