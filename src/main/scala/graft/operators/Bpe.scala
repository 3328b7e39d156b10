package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** BPE vocabulary TRAINING (Sennrich et al. 2016) — the tokenizer-side
  * half of the training-data pipeline (q33 only counts with a fixed
  * BPE-ish regex; this LEARNS the merge table).
  *
  * Scale shape: the corpus is touched ONCE, by the word-frequency
  * aggregate; every merge round then runs on the (word, count) VOCAB
  * table — orders of magnitude smaller than the corpus and the reason
  * production BPE trainers are feasible at all. Pair counts are
  * DELTA-MAINTAINED across rounds: the full adjacency
  * aggregate runs once, and each round only re-counts the pairs of
  * words that CONTAIN the last merge — so per-round cost is
  * touched-words-sized, which is what lets nMerges scale past demo
  * size (a production 30k-merge vocabulary touches a vanishing
  * fraction of the vocab per round once common pairs are merged
  * away). Per round: one vocab-narrow filter, one touched-sized delta
  * aggregate, one 1-row argmax driver action (the learned merge IS
  * driver state by construction — it must be broadcast into the next
  * round's kernel).
  *
  * Determinism: ties on pair count break lexicographically, so the
  * merge sequence is a pure function of the corpus; BpeSpec pins the
  * incremental maintenance == full recompute at 50 merges and the
  * hand-computed classic-corpus sequence. (The ITERATIVE argmax is
  * not expressible in one DuckDB query, so the driver entries are
  * rows-only.)
  */
object Bpe {

  /** Apply one learned merge to a symbol sequence (left-to-right,
    * non-overlapping — the standard BPE application order). */
  private[graft] def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  private def hasAdjacent(syms: Array[String], l: String, r: String): Boolean = {
    var i = 0
    while (i + 1 < syms.length) {
      if (syms(i) == l && syms(i + 1) == r) return true
      i += 1
    }
    false
  }

  /** Full adjacency aggregate over a vocab — the round-0 count table
    * (and each round's table in the recompute reference spelling). */
  private[graft] def pairCounts(vocab: Dataset[(Array[String], Long)]): DataFrame =
    vocab.toDF("syms", "cnt")
      .select(posexplode(col("syms")).as(Seq("i", "l")), col("syms"), col("cnt"))
      .filter(col("i") < size(col("syms")) - 1)
      .select(col("l"), col("syms").getItem(col("i") + 1).as("r"), col("cnt"))
      .groupBy("l", "r").agg(sum(col("cnt")).as("n"))

  private[graft] def symVocab(spark: SparkSession, wordFreq: DataFrame): Dataset[(Array[String], Long)] = {
    import spark.implicits._
    wordFreq.select(col("word"), col("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (w.split("").filter(_.nonEmpty), c) }
  }

  /** Spark's `orderBy` on StringType compares UTF8String BINARY bytes;
    * the single-task argmax must break ties with the IDENTICAL order or
    * the two routes could diverge on a tied pair count. String.getBytes
    * (UTF-8) is the same encoding UTF8String.fromString performs
    * (including '?' replacement of unpaired surrogates), so unsigned
    * byte-wise comparison reproduces it exactly. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Single-task merge loop for vocabs under the plan-stat budget: the
    * distributed loop pays ~3 jobs PER ROUND
    * (argmax collect + two eager checkpoints) no matter how small the
    * vocab — on a demo-sized vocab that is pure scheduling overhead,
    * the same fixed-cost-per-round problem [[graft.dedup.Dedup]] solves
    * with componentsSingleTask. The whole loop runs in ONE executor
    * task over the in-memory vocab (NOT a driver collect — the vocab
    * never leaves the executors; only the ≤ nMerges merge rows do,
    * and the distributed route collects exactly the same rows one per
    * round). Semantics are the recompute reference's: full pair counts
    * per round, argmax with (n desc, l, r) UTF8-binary tie-break —
    * BpeSpec pins route equality on the corpus and the hand corpus. */
  private def trainMergesSingleTask(spark: SparkSession, wordFreq: DataFrame,
                                    nMerges: Int): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    wordFreq.select(col("word"), col("cnt")).as[(String, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val vocab = scala.collection.mutable.ArrayBuffer.empty[(Array[String], Long)]
        it.foreach { case (w, c) => vocab += ((w.split("").filter(_.nonEmpty), c)) }
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        def bump(l: String, r: String, d: Long): Unit = {
          val k = (l, r)
          val n = counts.getOrElse(k, 0L) + d
          if (n == 0L) counts.remove(k) else counts(k) = n
        }
        def addAdjacencies(syms: Array[String], c: Long): Unit = {
          var i = 0
          while (i + 1 < syms.length) { bump(syms(i), syms(i + 1), c); i += 1 }
        }
        vocab.foreach { case (syms, c) => addAdjacencies(syms, c) }
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        var round = 1
        while (round <= nMerges && counts.nonEmpty) {
          var best: ((String, String), Long) = null
          counts.foreach { e =>
            if (best == null || e._2 > best._2 ||
              (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
              best = e
          }
          val ((l, r), n) = best
          merges += ((round, l, r, n))
          var wi = 0
          while (wi < vocab.length) {
            val (syms, c) = vocab(wi)
            if (hasAdjacent(syms, l, r)) {
              addAdjacencies(syms, -c)
              val merged = applyMerge(syms, l, r)
              addAdjacencies(merged, c)
              vocab(wi) = (merged, c)
            }
            wi += 1
          }
          round += 1
        }
        merges.iterator
      }
      .collect().sortBy(_._1).toSeq
  }

  /** Learn `nMerges` BPE merges from a (word, count) vocab table with
    * delta-maintained pair counts. Returns (rank, left, right,
    * pair_count) — deterministic. Vocabs whose Catalyst plan-stat
    * estimate fits `localBudgetBytes` route to [[trainMergesSingleTask]]
    * (the overwhelmingly common case — vocabularies are corpus-SUBLINEAR;
    * a vocab that outgrows the budget takes the distributed delta loop
    * automatically). */
  def trainMerges(spark: SparkSession, wordFreq: DataFrame, nMerges: Int,
                  localBudgetBytes: Long = 64L * 1024 * 1024): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    if (wordFreq.queryExecution.optimizedPlan.stats.sizeInBytes <= localBudgetBytes)
      return trainMergesSingleTask(spark, wordFreq, nMerges)
    // pin both tables once; each round's lineage is then one delta deep
    // (Caches.pin, not raw localCheckpoint: superseded rounds release
    // mid-loop and whatever survives releases at query end)
    var vocab = graft.Caches.pin(symVocab(spark, wordFreq))
    var counts = graft.Caches.pin(pairCounts(vocab))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    while (round <= nMerges) {
      // 1-row argmax, deterministic tie-break — a bounded driver action
      val top = counts.orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) round = nMerges + 1 // vocab fully merged
      else {
        val (l, r, n) = top(0)
        merges += ((merges.length + 1, l, r, n))
        // only words CONTAINING the merged adjacency change — their
        // before/after pair multisets diff into count deltas; the
        // untouched vocab (the overwhelming majority once common pairs
        // are merged) contributes nothing to this round's aggregate
        val touched = vocab.filter { t: (Array[String], Long) => hasAdjacent(t._1, l, r) }
        val untouched = vocab.filter { t: (Array[String], Long) => !hasAdjacent(t._1, l, r) }
        val deltas = touched.flatMap { case (syms, c) =>
          val d = scala.collection.mutable.LinkedHashMap[(String, String), Long]()
          var i = 0
          while (i + 1 < syms.length) {
            val p = (syms(i), syms(i + 1)); d(p) = d.getOrElse(p, 0L) - c; i += 1
          }
          val merged = applyMerge(syms, l, r)
          i = 0
          while (i + 1 < merged.length) {
            val p = (merged(i), merged(i + 1)); d(p) = d.getOrElse(p, 0L) + c; i += 1
          }
          d.iterator.filter(_._2 != 0L).map { case ((a, b), dd) => (a, b, dd) }
        }.toDF("l", "r", "n")
        // cut the per-round lineage; pair-table-sized, never corpus.
        // The superseded round's blocks release the moment the new
        // checkpoint is materialized (eager), so the loop holds TWO
        // rounds of blocks at peak, not `round` of them.
        val nextCounts = graft.Caches.pin(counts.unionByName(deltas)
          .groupBy("l", "r").agg(sum(col("n")).as("n"))
          .filter(col("n") > 0))
        // coalesce BEFORE the checkpoint: union adds both sides'
        // partition counts, so without it vocab's partitioning DOUBLES
        // per round — exponential empty-task scheduling by round ~20
        val nextVocab = graft.Caches.pin(untouched
          .union(touched.map { case (syms, c) => (applyMerge(syms, l, r), c) })
          .coalesce(spark.sparkContext.defaultParallelism))
        graft.Caches.unpin(counts); graft.Caches.unpin(vocab)
        counts = nextCounts; vocab = nextVocab
        round += 1
      }
    }
    merges.toSeq
  }

  /** The corpus word-frequency table q105's training consumes —
    * shared with the merge-store build so the persisted tokenizer is
    * trained on exactly the q105 corpus. */
  private def wordFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Persist the trained tokenizer: the 10-round merge
    * training is TRAINED STATE, like the MinHash signature store — in
    * production the tokenizer is an artifact read from a store, not
    * retrained inside every encode job. Runs once per (process,
    * corpus) via Scratch.ensure; Bench charges it to the untimed build
    * phase (q118 in benchBuilds), so the q118 line times ENCODING. */
  def mergeStoreDir(s: SparkSession, dir: String): String = {
    val d = graft.Scratch.dirFor("bpe", dir)
    graft.Scratch.ensure(d) {
      import s.implicits._
      trainMerges(s, wordFreq(s, dir), nMerges = 10)
        .toDF("rank", "left", "right", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/merges")
    }
  }

  /** The stored merge table in rank order — a bounded driver action
    * (nMerges rows), the tokenizer-load step of every encode job. */
  def storedMerges(s: SparkSession, dir: String): Seq[(String, String)] = {
    import s.implicits._
    Tables.parquet(s, s"${mergeStoreDir(s, dir)}/merges")
      .orderBy("rank").select("left", "right")
      .as[(String, String)].collect().toSeq
  }

  val queries: Map[String, Q] = Map(
    // Learn the corpus's first 10 merges from the one-pass word
    // frequency table. Rows-only (iterative argmax has no single-query
    // DuckDB spelling); BpeSpec pins the algorithm on a hand-computed
    // corpus, the incremental == recompute law, and q105's output
    // shape/determinism.
    "q105_bpe_train" -> ((s, dir) => {
      import s.implicits._
      trainMerges(s, wordFreq(s, dir), nMerges = 10)
        .toDF("rank", "left", "right", "pair_count")
        .orderBy("rank")
    }),

    // BPE ENCODE — the apply half of q105's train: tokenize the corpus
    // under the learned merge table and report per-source token
    // accounting + fertility (bpe tokens per word, fixed-point). The
    // production trick that makes this corpus-scale cheap: encode the
    // DISTINCT-WORD VOCAB once (vocab-sized, 10 narrow merge kernels),
    // then equi-join word occurrences to their encoded length — the
    // corpus is never re-segmented per occurrence, and the vocab join
    // is stats-gated like every unbounded broadcast. Rows-only (the
    // learned table is corpus-state, not expressible in one DuckDB
    // query); BpeSpec pins exact encodings on the hand corpus plus the
    // merge-monotonicity and concatenation-round-trip laws.
    "q118_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val words = Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"),
          explode(split(trim(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      val wf = graft.Caches.cached(
        words.groupBy("word").agg(count(lit(1)).as("cnt")))
      // tokenizer-as-artifact: encode against the
      // STORED merge table; training happens once in the store build
      val merges = storedMerges(s, dir)
      val encoded = wf.select(col("word")).as[String].map { w =>
        var syms = w.split("").filter(_.nonEmpty)
        merges.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
        (w, syms.length.toLong)
      }.toDF("word", "n_bpe")
      words.join(Tables.maybeBroadcast(encoded), Seq("word"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          sum(col("n_bpe")).as("n_bpe_tokens"))
        .withColumn("fertility_milli",
          expr("(n_bpe_tokens * 1000) DIV n_words"))
        .orderBy("source")
    })
  )

  val oracles: Map[String, String] = Map.empty
}
