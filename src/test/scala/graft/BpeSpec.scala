package graft

import graft.operators.Bpe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("applyMerge merges left-to-right without overlap") {
    assert(Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
    assert(Bpe.applyMerge(Array("h", "u", "g", "s"), "u", "g").toSeq == Seq("h", "ug", "s"))
    assert(Bpe.applyMerge(Array("x"), "a", "b").toSeq == Seq("x"))
  }

  test("trainMerges learns the classic corpus's merge sequence") {
    // the standard BPE walkthrough corpus: hug×10 pug×5 pun×12 bun×4 hugs×5
    // round 1 pair counts: (u,g)=20 (h,u)=15 (p,u)=17 (u,n)=16 (b,u)=4 (g,s)=5
    // → merge (u,g); round 2: (u,n)=16 > (h,ug)=15 → (u,n); round 3: (h,ug)=15
    val wf = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L), ("hugs", 5L))
      .toDF("word", "cnt")
    val merges = Bpe.trainMerges(spark, wf, nMerges = 3)
    assert(merges == Seq((1, "u", "g", 20L), (2, "u", "n", 16L), (3, "h", "ug", 15L)),
      s"got $merges")
  }

  test("trainMerges stops early when the vocab is fully merged") {
    val wf = Seq(("ab", 3L)).toDF("word", "cnt")
    val merges = Bpe.trainMerges(spark, wf, nMerges = 10)
    assert(merges == Seq((1, "a", "b", 3L))) // after one merge, no pairs remain
  }

  test("incremental pair maintenance == full recompute at 50 merges (r7 #7)") {
    // a deterministic 24-word corpus with enough adjacency material for
    // 50 rounds; equality must hold through every tie-break and any
    // early exhaustion, or the delta bookkeeping is silently wrong
    val chars = "abcdefgh"
    val words = (0 until 24).map { i =>
      (0 until 6).map(j => chars((i * 7 + j * 3) % 8)).mkString
    }
    val wf = words.zipWithIndex.map { case (w, i) => (w, (i % 7 + 1).toLong) }
      .toDF("word", "cnt").groupBy("word")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    // localBudgetBytes = 0 forces the DISTRIBUTED delta loop — the law
    // this test exists to pin; the default stats gate would route this
    // demo vocab to the single-task path (equality pinned below)
    val inc = Bpe.trainMerges(spark, wf, nMerges = 50, localBudgetBytes = 0L)
    val ref = BpeSpec.trainMergesRecompute(spark, wf, nMerges = 50)
    assert(inc.nonEmpty && inc == ref,
      s"incremental/recompute diverged: ${inc.zip(ref).find(p => p._1 != p._2)}")
  }

  test("single-task route == distributed loop (r13 stats-gated degeneration)") {
    // same construction as the 50-merge law plus multi-byte symbols, so
    // the UTF8-binary tie-break is exercised across routes
    val chars = "abcdefgß√" // 1-, 2- and 3-byte UTF-8 code points
    val words = (0 until 24).map { i =>
      (0 until 6).map(j => chars((i * 7 + j * 3) % chars.length)).mkString
    }
    val wf = words.zipWithIndex.map { case (w, i) => (w, (i % 7 + 1).toLong) }
      .toDF("word", "cnt").groupBy("word")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    val local = Bpe.trainMerges(spark, wf, nMerges = 50) // under budget → single-task
    val dist = Bpe.trainMerges(spark, wf, nMerges = 50, localBudgetBytes = 0L)
    assert(local.nonEmpty && local == dist,
      s"routes diverged: ${local.zip(dist).find(p => p._1 != p._2)}")
  }

  test("q105 is deterministic and emits ranked merges over the corpus") {
    val a = SparkEntry.queries("q105_bpe_train")(spark, sf)
      .as[(Int, String, String, Long)].collect().toSeq
    val b = SparkEntry.queries("q105_bpe_train")(spark, sf)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(a.nonEmpty && a == b)
    assert(a.map(_._1) == (1 to a.length))
    // counts non-increasing is NOT guaranteed by BPE in general (a
    // merge can create a more frequent pair); rank order is the law
    assert(a.map(_._4).forall(_ > 0))
  }

  test("encode round-trips and merges only shorten (q118 mechanism)") {
    // encode under the classic corpus's learned merges: ug, un, h+ug
    val merges = Seq(("u", "g"), ("u", "n"), ("h", "ug"))
    def encode(w: String): Seq[String] = {
      var syms = w.split("").filter(_.nonEmpty)
      merges.foreach { case (l, r) => syms = Bpe.applyMerge(syms, l, r) }
      syms.toSeq
    }
    assert(encode("hug") == Seq("hug"))
    assert(encode("pug") == Seq("p", "ug"))
    assert(encode("pun") == Seq("p", "un"))
    assert(encode("hugs") == Seq("hug", "s"))
    assert(encode("bun") == Seq("b", "un"))
    // laws on arbitrary words: concatenation round-trips; token count
    // never exceeds char count; each extra merge never lengthens
    Seq("hugh", "gug", "ununun", "x", "snug").foreach { w =>
      assert(encode(w).mkString == w)
      assert(encode(w).length <= w.length)
      val progressive = merges.indices.map { k =>
        var syms = w.split("").filter(_.nonEmpty)
        merges.take(k + 1).foreach { case (l, r) => syms = Bpe.applyMerge(syms, l, r) }
        syms.length
      }
      assert(progressive.sameElements(progressive.sorted.reverse),
        s"$w: token count must be non-increasing in merges, got $progressive")
    }
  }

  test("q118 per-source accounting is consistent and deterministic") {
    val rows = SparkEntry.queries("q118_bpe_encode")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val words = r.getAs[Long]("n_words")
      val chars = r.getAs[Long]("n_chars")
      val bpe = r.getAs[Long]("n_bpe_tokens")
      // one token minimum per word; never more tokens than characters
      assert(bpe >= words && bpe <= chars, s"row $r")
      // fertility is the integer mean, so it lives in [1000, chars/words*1000]
      val f = r.getAs[Long]("fertility_milli")
      assert(f >= 1000 && f <= (chars * 1000) / words)
    }
    val again = SparkEntry.queries("q118_bpe_encode")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("stored merge table == in-query retrain (tokenizer-as-artifact, r9 verdict #3)") {
    import spark.implicits._
    val stored = Bpe.storedMerges(spark, sf)
    val wf = Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val retrained = Bpe.trainMerges(spark, wf, nMerges = 10)
      .map(m => (m._2, m._3))
    assert(stored == retrained,
      s"stored merge table diverged from retraining:\n  stored=$stored\n  retrained=$retrained")
    assert(stored.size == 10, "fixture corpus must yield the full 10 merges")
  }
}

object BpeSpec {

  /** Reference spelling of [[Bpe.trainMerges]]: full pair recount every
    * round, the lockstep oracle for the incremental maintenance —
    * O(vocab) per round where `trainMerges` is O(touched words). */
  def trainMergesRecompute(spark: SparkSession, wordFreq: DataFrame,
                           nMerges: Int): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    var vocab = Caches.pin(Bpe.symVocab(spark, wordFreq))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    while (round <= nMerges) {
      val top = Bpe.pairCounts(vocab).orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) round = nMerges + 1
      else {
        val (l, r, n) = top(0)
        merges += ((merges.length + 1, l, r, n))
        val next = Caches.pin(
          vocab.map { case (syms, c) => (Bpe.applyMerge(syms, l, r), c) })
        Caches.unpin(vocab)
        vocab = next
        round += 1
      }
    }
    merges.toSeq
  }
}
