package graft.dedup

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over the documents corpus (BASELINE.json
  * north star; generalizes the reference's fuzzy rename heuristic,
  * scrape_tickers.py:612-614): character-shingle Jaccard (exact, via an
  * inverted shingle index), MinHash+LSH banding (the 100 TB scale path),
  * and 64-bit SimHash with Hamming-ball candidate search.
  *
  * Scale notes: nothing here ever self-joins the raw corpus. The exact
  * Jaccard path joins an inverted index (shingle → doc) with itself on
  * the shingle key — fine for bounded slices, quadratic in the worst
  * case, which is exactly why the MinHash path exists: one scan to build
  * k-min signatures (k cheap affine permutations of ONE xxhash64 per
  * shingle), band keys as the equi-join attribute, and only candidates
  * that collide in ≥1 band are verified with the exact measure. SimHash
  * follows the same pattern with 8-bit chunk collision as the band
  * (8 chunks ⇒ complete candidate recall for Hamming distance ≤ 7).
  */
object Dedup {

  /** Signature-table size (Catalyst plan-stat estimate) above which
    * [[lshSurvivors]] routes to the NARROW+SALTED cluster shape instead
    * of the WIDE carry-signatures shape — see its doc for the trade. */
  val DefaultNarrowBudgetBytes: Long = 512L * 1024 * 1024

  /** (doc_id, shingle) inverted index. fanOut first: the explode and
    * per-shingle hashing are the CPU-heavy part of every dedup path.
    * The gram array comes from the codegen'd sorted_shingles kernel
    * (exploded order differs from the old interpreted HOF, but every
    * consumer is a join/aggregate over the gram SET). */
  def shingleIndex(docs: DataFrame, n: Int): DataFrame = {
    graft.plans.SortedShingles.register(docs.sparkSession)
    Tables.fanOut(docs).select(col("doc_id"),
      explode(call_function(graft.plans.SortedShingles.NAME,
        col("text"), lit(n))).as("g"))
  }

  /** Exact pairwise Jaccard over an inverted index: |A∩B| via the
    * shingle join, sizes joined back, no corpus cross product. */
  def jaccardPairs(docs: DataFrame, n: Int): DataFrame =
    jaccardFromIndex(graft.Caches.cached(shingleIndex(docs, n)))

  /** The ONE inverted-index Jaccard spelling, shared by the char- and
    * token-shingle ground truths (a skew or cache fix applied here
    * cannot silently miss one of them). `idx` is a (doc_id, g) index,
    * cached by the caller (both join sides consume it). */
  private def jaccardFromIndex(idx: DataFrame): DataFrame = {
    val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = idx.as("x").join(idx.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "a_n"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "b_n"), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / (col("a_n") + col("b_n") - col("inter"))).as("jaccard"))
  }

  /** MinHash signatures: k independent hash orders via seeded
    * xxhash64(i, shingle), min-taken per doc. (Seed-mixing instead of
    * affine permutations: ANSI mode forbids wrapping multiplies, and
    * signed-min over any uniform hash family is a valid MinHash order.)
    *
    * Runs as the codegen'd [[graft.plans.MinHashSigsExpr]] — one
    * sliding-window pass per document, no shingle array, no explode, no
    * aggregate; the former explode + groupBy(min×k) spelling is the
    * executable reference the expression is lockstep-tested against
    * (TextDedupSpec). No optimizer barrier is needed between the
    * kernel project and the s0..s{k-1} split: CollapseProject's
    * cost-aware check refuses to inline a non-cheap producer referenced
    * k times, so the kernel stays in its own Project and runs once per
    * row (pinned by the PlanSpec kernel-once test). */
  def minhashSignatures(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val session = docs.sparkSession
    graft.plans.MinHashSigs.register(session)
    // fanOut BEFORE the kernel (single-file scans arrive as 1 partition)
    // and pre-filter on cheap length(text) >= n — filtering on the mh
    // column itself would be pushed below the project and evaluate the
    // kernel twice per row.
    Tables.fanOut(docs)
      .filter(length(col("text")) >= n) // len < n docs: dropped, like the explode did
      .select(col("doc_id"),
        call_function(graft.plans.MinHashSigs.NAME, col("text"), lit(n), lit(k)).as("mh"))
      .select(col("doc_id") +:
        (0 until k).map(i => col("mh").getItem(i).as(s"s$i")): _*)
  }

  /** The ONE spelling of the banding scheme: melt a signature table to
    * (doc_id, band, key, carry...) rows — band j's key is xxhash64 of
    * its r signature slots. Both candidate paths share this so the band
    * layout can never silently diverge between them. The result is
    * cached: the signature pipeline must run once, not once per side of
    * the self-join. */
  private[graft] def meltedBands(sigs: DataFrame, bands: Int, rows: Int,
                          carry: Seq[String]): DataFrame = {
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64((j * rows until (j + 1) * rows).map(i => col(s"s$i")): _*).as("key"))
    }
    graft.Caches.cached(
      sigs.select(col("doc_id") +: explode(array(bandCols: _*)).as("bk") +:
          carry.map(col): _*)
        .select(col("doc_id") +: col("bk.band").as("band") +: col("bk.key").as("key") +:
          carry.map(col): _*))
  }

  /** Full MinHash-LSH near-dup pipeline: band candidates → cheap
    * signature-agreement estimate prefilter → exact Jaccard verify.
    *
    * The corpus has high background similarity (avg 3-gram Jaccard
    * ≈ 0.45), so banding alone admits millions of weak candidates; the
    * estimate Σ[sig_i(a)=sig_i(b)]/k is a pure codegen'd column compare
    * (no arrays, no HOFs) that kills ~all of them. Estimate cutoff is
    * threshold−0.15 (≈2σ at k=32), so true pairs survive.
    *
    * Plan shape: signatures ride ALONG through the band self-join
    * (k longs per melted row — a few MB of extra shuffle at any corpus
    * size worth banding), so the prefilter runs streaming ON the join
    * output, BEFORE any materialization. The alternative — distinct the
    * raw pair stream, then re-attach signatures with two joins — pays a
    * full shuffle of millions of weak pairs plus two more probes per
    * pair just to throw ~all of them away; fused, the distinct only
    * ever sees prefilter survivors (~1000× fewer rows here). Per-doc
    * hub skew in the raw collision stream is a non-issue: the filter is
    * map-side, evaluated where the join emits. */
  def minhashNearDups(docs: DataFrame, n: Int, k: Int, bands: Int, threshold: Double,
                      narrowBudgetBytes: Long = DefaultNarrowBudgetBytes): DataFrame = {
    val sigs = graft.Caches.cached(minhashSignatures(docs, n, k))
    val clusterScale = overBudget(sigs, narrowBudgetBytes)
    // At cluster scale the pair stream feeds BOTH the verify join and
    // the survivor-id semi-join scoping the shingle-array build, so it
    // must be cached (uncached, the band-join pipeline would execute
    // per consumer); under the budget it has one consumer and caching
    // would only add a materialization barrier.
    val rawPairs = lshSurvivors(sigs, bands, k / bands, threshold, narrowBudgetBytes)
    val pairs = if (clusterScale) graft.Caches.cached(rawPairs) else rawPairs
    // fanOut: survivors are few in bytes but each costs a verify below;
    // AQE's byte-based coalescing would serialize them on 1-2 cores
    val fanned = Tables.fanOut(pairs)
    // exact verify: SORTED shingle arrays are computed ONCE per doc and
    // joined in; per-pair intersection is the codegen'd two-pointer
    // merge (graft.plans.SortedIntersectCount) — Spark's ArrayIntersect
    // evaluates interpreted with a hash set per call and dominates the
    // whole pipeline on millions of pairs.
    graft.plans.SortedIntersectCount.register(docs.sparkSession)
    graft.plans.SortedShingles.register(docs.sparkSession)
    graft.plans.SortedShinglesPacked.register(docs.sparkSession)
    // sorted distinct shingle arrays in ONE compiled pass. STATS-ROUTED
    // source (same budget as the survivors-join shape): past the budget
    // the build is scoped to SURVIVOR docs — candidate pairs touch a
    // small fraction of a large corpus, so a full-corpus array build
    // (and its ~gramSize× cache) would be the largest avoidable cost of
    // the pipeline at 100 TB. Under the budget the
    // full-corpus build wins instead: the fixture-scale A/B
    // (interleaved, sf0.1) measured the scoped shape ~1 s SLOWER because
    // its extra query stages (pair-cache barrier, id union, semi-join)
    // cost more than the ~0.5 s of kernel+cache they save on a 60k-doc
    // corpus. q86 pins the scoped shape on the real corpus.
    //
    // GRAM REPRESENTATION (less per-task work, narrower types): for
    // n <= 3 the grams are PACKED LONGS
    // (21-bit code points — injective on valid UTF-8), so the per-pair
    // merge compares primitives and the cached arrays are 8 bytes/gram;
    // counts and therefore the pair set + jaccard values are
    // bit-identical to the string spelling (TextDedupSpec lockstep +
    // q37 re-proven vs DuckDB at all three SFs this round). n > 3
    // keeps the UTF8String kernel.
    val kernel = if (n <= 3) graft.plans.SortedShinglesPacked.NAME
                 else graft.plans.SortedShingles.NAME
    val shSrc = if (clusterScale) survivorDocs(docs, pairs) else Tables.fanOut(docs)
    val shArr = graft.Caches.cached(shSrc
      .select(col("doc_id"),
        call_function(kernel, col("text"), lit(n)).as("sh")))
    verifyExactJaccard(fanned, shArr, threshold, leafExpansion = 8.0 * n)
  }

  /** Catalyst plan-stat routing test shared by the cluster-shape
    * switches ([[lshSurvivors]] wide/narrow, the verify-side array
    * scoping): free at plan time — the same statistic the broadcast
    * threshold reads. */
  private def overBudget(df: DataFrame, budgetBytes: Long): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes > budgetBytes

  /** `docs` restricted (left-semi) to ids appearing on either side of
    * the candidate pair stream — the survivor-proportional input of the
    * exact-verify array build. fanOut after the semi-join: the survivor
    * set is small, and the repartition spreads the CPU-heavy shingle
    * kernel over all cores. */
  private def survivorDocs(docs: DataFrame, pairs: DataFrame): DataFrame =
    Tables.fanOut(docs.join(
      // no .distinct() on the id side: the semi-join's hash build dedupes
      // keys anyway, and the distinct would add a full shuffle stage just
      // to shrink an already-bounded build input (2·|pairs| ids)
      pairs.select(col("a_id").as("doc_id"))
        .unionByName(pairs.select(col("b_id").as("doc_id"))),
      Seq("doc_id"), "left_semi"))

  /** Exact-Jaccard verification of a candidate pair stream against
    * per-doc SORTED shingle arrays (computed once, joined in; the
    * per-pair intersection is the codegen'd two-pointer merge). The
    * shingle-array table grows with the CORPUS, so the broadcast is
    * stats-gated ([[Tables.maybeBroadcast]]): hinted while the
    * estimate fits locally, unhinted past the budget so the planner
    * takes the id-keyed shuffle join — exactly the co-partitioned
    * shape a 1000-executor run wants. (An unconditional hint is never
    * demoted and would OOM the driver at corpus scale.) `leafExpansion`
    * carries the shingle blow-up factor into the size gate: the shingle
    * arrays are ~gramSize× the source text, which Catalyst's
    * default-size stats cannot see. */
  private def verifyExactJaccard(pairs: DataFrame, shArr: DataFrame,
                                 threshold: Double, leafExpansion: Double): DataFrame = {
    val withSh = pairs
      .join(Tables.maybeBroadcast(
        shArr.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        leafExpansion = leafExpansion), "a_id")
      .join(Tables.maybeBroadcast(
        shArr.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        leafExpansion = leafExpansion), "b_id")
    val inter = expr("sorted_intersect_count(a_sh, b_sh)")
    val uni = size(col("a_sh")) + size(col("b_sh")) - inter
    withSh
      // LENGTH FILTER (the q37 profile showed the
      // two-pointer merge is ~58% of the pipeline over ~1M est-
      // surviving pairs): J = I/(|A|+|B|−I) ≤ min/max, so J ≥ t
      // REQUIRES min(|A|,|B|) ≥ t·max(|A|,|B|) — the classic size
      // bound from the similarity-join literature (AllPairs/PPJoin).
      // A pure codegen'd size comparison evaluated BELOW the project,
      // so mismatched-length pairs never pay the merge kernel; implied
      // by the final predicate, so the pair set is bit-identical.
      // Spelled with the SAME fp-division shape as the final
      // `inter/uni >= threshold` predicate: fp division
      // is monotone and min/max >= I/union pointwise (I <= min,
      // union >= max), so min/max >= t whenever I/union >= t with the
      // identical rounding — the product spelling (`min*1.0 >= t*max`)
      // could round above min at an exact boundary and drop a pair the
      // final predicate keeps.
      .filter(least(size(col("a_sh")), size(col("b_sh"))).cast("double") /
        greatest(size(col("a_sh")), size(col("b_sh"))) >= lit(threshold))
      .select(col("a_id"), col("b_id"),
        (inter.cast("double") / uni).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact pairwise token w-gram Jaccard via [[jaccardFromIndex]] —
    * the ground truth the token LSH pipeline's recall is audited
    * against. The gram array comes from the codegen'd
    * sorted_token_shingles kernel (same gram SET as the interpreted
    * tokenShingles spelling, lockstep-pinned). */
  def jaccardPairsTokens(docs: DataFrame, w: Int): DataFrame = {
    graft.plans.SortedTokenShingles.register(docs.sparkSession)
    jaccardFromIndex(graft.Caches.cached(Tables.fanOut(docs)
      .select(col("doc_id"),
        explode(call_function(graft.plans.SortedTokenShingles.NAME,
          col("text"), lit(w))).as("g"))))
  }

  /** MinHash signatures over token w-grams. Runs as the codegen'd
    * [[graft.plans.MinHashSigsTokensExpr]] — tokenization, w-gram
    * assembly and k-seed hashing in one pass per document, no exploded
    * gram index, no aggregate, no shuffle (the former explode + k-min
    * pipeline is the executable reference it is lockstep-tested
    * against, TextDedupSpec). Docs with < w tokens return NULL from the
    * kernel and are filtered — the same corpus the explode dropped.
    * The kernel-once split relies on the same cost-aware
    * CollapseProject behavior as [[minhashSignatures]] (PlanSpec). */
  def minhashSignaturesTokens(docs: DataFrame, w: Int, k: Int): DataFrame = {
    graft.plans.MinHashSigsTokens.register(docs.sparkSession)
    // pre-filter on the token count, BEFORE the kernel — a filter on
    // the mh column itself would be pushed below the project and
    // evaluate the kernel twice per row (see minhashSignatures). The
    // predicate is exactly the kernel's null condition (< w tokens),
    // so no null signatures survive; TextDedupSpec pins the
    // tokenization parity this relies on. ACCEPTED COST:
    // this regex split tokenizes every doc once just to count, and the
    // kernel re-tokenizes — ~2× tokenize on the signature stage. The
    // alternatives are worse: a post-projection IS NOT NULL filter gets
    // pushed through both projects and re-evaluates the whole KERNEL
    // per row, and a cheap length-based pre-filter would let null
    // signatures reach banding, where xxhash64-of-null band keys
    // cluster every short doc into one mega bucket.
    Tables.fanOut(docs)
      .filter(size(split(trim(col("text")), "\\s+")) >= w)
      .select(col("doc_id"),
        call_function(graft.plans.MinHashSigsTokens.NAME,
          col("text"), lit(w), lit(k)).as("mh"))
      .select(col("doc_id") +:
        (0 until k).map(i => col("mh").getItem(i).as(s"s$i")): _*)
  }

  /** [[minhashNearDups]] with token w-gram shingles: the canonical
    * large-corpus text-dedup configuration (word-gram MinHash + LSH
    * banding + exact verify). Same band melt, estimate prefilter and
    * codegen'd verify as the char pipeline — only the shingle unit
    * differs. */
  def minhashNearDupsTokens(docs: DataFrame, w: Int, k: Int, bands: Int,
                            threshold: Double,
                            narrowBudgetBytes: Long = DefaultNarrowBudgetBytes): DataFrame = {
    val sigs = graft.Caches.cached(minhashSignaturesTokens(docs, w, k))
    val clusterScale = overBudget(sigs, narrowBudgetBytes)
    // pair cache + survivor-scoped array build stats-routed exactly as
    // in [[minhashNearDups]] — see its doc for the measured trade
    val rawPairs = lshSurvivors(sigs, bands, k / bands, threshold, narrowBudgetBytes)
    val pairs = if (clusterScale) graft.Caches.cached(rawPairs) else rawPairs
    val fanned = Tables.fanOut(pairs)
    graft.plans.SortedIntersectCount.register(docs.sparkSession)
    graft.plans.SortedTokenShingles.register(docs.sparkSession)
    val shSrc = if (clusterScale) survivorDocs(docs, pairs) else Tables.fanOut(docs)
    val shArr = graft.Caches.cached(shSrc
      .select(col("doc_id"),
        call_function(graft.plans.SortedTokenShingles.NAME,
          col("text"), lit(w)).as("sh")))
    verifyExactJaccard(fanned, shArr, threshold, leafExpansion = 8.0 * w)
  }

  /** Band-collision candidates surviving the signature-agreement
    * estimate prefilter (est = Σ[sig_i(a)=sig_i(b)]/k ≥ threshold−0.15,
    * ≈2σ at k=32): the pre-verify pair stream of [[minhashNearDups]],
    * factored out so stage timings can see it.
    *
    * TWO physical shapes, routed by corpus size. Unlike [[components]]
    * (whose edge count is needed anyway for the loop), no extra job is
    * spent here: routing reads Catalyst's propagated size estimate
    * (`optimizedPlan.stats.sizeInBytes` — the same statistic the
    * broadcast-join threshold uses), free at plan time:
    *
    *  - WIDE (≤ narrowBudget docs): signatures ride ALONG through the
    *    band self-join (k longs per melted row), so the prefilter runs
    *    streaming ON the join output before any materialization, and the
    *    distinct only ever sees prefilter survivors (~1000× fewer rows
    *    here). Correct while the melted table broadcasts: every PROBE
    *    task streams its own slice of even the heaviest band bucket
    *    (profiled at sf0.1: top bucket = 40% of the candidate stream),
    *    so emission is already parallel and salting measured flat.
    *
    *  - NARROW+SALTED (> narrowBudget docs): on a cluster where the
    *    band join must shuffle, carrying k signature columns through a
    *    salted (replicated) join would multiply the shuffle by the
    *    replication factor — the wrong trade. Instead the band join
    *    carries ONLY (doc_id, band, key), salted into `blocks` id-hash
    *    blocks so a mega-bucket's pair emission spreads over `blocks`
    *    reducers, then the post-distinct survivors get signatures
    *    re-attached by id-keyed joins for the same prefilter.
    *    ScaleSpec asserts pair-set equality of the two shapes. */
  def lshSurvivors(sigs: DataFrame, bands: Int, rows: Int, threshold: Double,
                   narrowBudgetBytes: Long = DefaultNarrowBudgetBytes): DataFrame = {
    // guard at the depth where k is DERIVED: a sigs table whose s-column
    // count disagrees with bands*rows would silently drop the trailing
    // signature columns from both the band keys and the estimate
    val nSig = sigs.columns.count(_.matches("s\\d+"))
    require(nSig == bands * rows,
      s"signature table has $nSig s-columns but bands*rows = ${bands * rows} — " +
        "a mismatch would silently drop trailing signatures from the estimate")
    val estBytes = sigs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes > narrowBudgetBytes) lshSurvivorsNarrow(sigs, bands, rows, threshold)
    else lshSurvivorsWide(sigs, bands, rows, threshold)
  }

  /** The ONE spelling of the signature-agreement estimate prefilter
    * (est = Σ[sig_i(a)=sig_i(b)]/k ≥ threshold−0.15, ≈2σ at k=32),
    * shared by both survivor shapes so the slack constant and the
    * agreement expression can never drift between them (ScaleSpec's
    * pair-set equality law depends on it). Input must carry a0..a{k-1}
    * / b0..b{k-1} signature columns. */
  private def estPrefilter(pairs: DataFrame, k: Int, threshold: Double): DataFrame = {
    val agree = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    pairs
      .withColumn("est", agree / lit(k.toDouble))
      .filter(col("est") >= threshold - 0.15)
      .select("a_id", "b_id")
  }

  /** sigs projected to (x_id, x0..x{k-1}) for prefilter attachment. */
  private def sideSigs(sigs: DataFrame, side: String, k: Int): DataFrame =
    sigs.select(col("doc_id").as(s"${side}_id") +:
      (0 until k).map(i => col(s"s$i").as(s"$side$i")): _*)

  /** THE salted self-join spelling, shared by every bucketed pair
    * generator (narrow LSH survivors, Hamming chunks): the x side
    * replicates into every block, the y side lands in its id-hash
    * block, so each (x, y) bucket pair meets in EXACTLY one block and
    * the output equals the unsalted join — salting only spreads a
    * mega-bucket's pair emission over `blocks` reducers. blocks = 1 is
    * the unsalted join, no salt columns added. */
  private[graft] def saltedSelfJoin(xs: DataFrame, ys: DataFrame, keys: Seq[String],
                             yIdCol: String, blocks: Int): DataFrame = {
    require(blocks >= 1, s"blocks=$blocks must be >= 1")
    if (blocks == 1) xs.join(ys, keys)
    else {
      val xsB = xs.withColumn("blk", explode(array((0 until blocks).map(lit(_)): _*)))
      val ysB = ys.withColumn("blk", pmod(xxhash64(col(yIdCol)), lit(blocks)).cast("int"))
      xsB.join(ysB, keys :+ "blk").drop("blk")
    }
  }

  /** WIDE survivors shape — see [[lshSurvivors]]. */
  def lshSurvivorsWide(sigs: DataFrame, bands: Int, rows: Int, threshold: Double): DataFrame = {
    val k = bands * rows
    val melted = meltedBands(sigs, bands, rows,
      carry = (0 until k).map(i => s"s$i"))
    val xs = melted.select(col("doc_id").as("a_id") +: col("band") +: col("key") +:
      (0 until k).map(i => col(s"s$i").as(s"a$i")): _*)
    val ys = melted.select(col("doc_id").as("b_id") +: col("band") +: col("key") +:
      (0 until k).map(i => col(s"s$i").as(s"b$i")): _*)
    estPrefilter(
      xs.join(ys, Seq("band", "key")).filter(col("a_id") < col("b_id")),
      k, threshold)
      .distinct()
  }

  /** NARROW+SALTED survivors shape — see [[lshSurvivors]]. Emits the
    * identical pair set as [[lshSurvivorsWide]] (ScaleSpec law): the
    * salt only splits each band bucket's pair emission across `blocks`
    * reducers — x-side rows replicate into every block, y-side rows
    * land in their id-hash block, so each (a, b) bucket pair meets in
    * exactly one block. */
  def lshSurvivorsNarrow(sigs: DataFrame, bands: Int, rows: Int, threshold: Double,
                         blocks: Int = 8): DataFrame = {
    val k = bands * rows
    val melted = meltedBands(sigs, bands, rows, carry = Nil)
    val xs = melted.select(col("doc_id").as("a_id"), col("band"), col("key"))
    val ys = melted.select(col("doc_id").as("b_id"), col("band"), col("key"))
    val cand = saltedSelfJoin(xs, ys, Seq("band", "key"), "b_id", blocks)
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    // signatures re-attach to post-distinct survivors only. The
    // signature table is corpus-sized, so the broadcast is stats-gated
    // (same reasoning as verifyExactJaccard): hinted locally, id-keyed
    // shuffle join past the budget — the co-partitioned cluster shape.
    estPrefilter(
      cand.join(Tables.maybeBroadcast(sideSigs(sigs, "a", k)), "a_id")
        .join(Tables.maybeBroadcast(sideSigs(sigs, "b", k)), "b_id"),
      k, threshold)
  }

  /** Persist the token w-gram MinHash signature table for a corpus —
    * the nightly store [[incrementalNearDupsTokens]] joins new batches
    * against. Signatures are deterministic per doc, so the store holds
    * exactly what a full-corpus run would compute for the same docs;
    * a nightly pipeline appends tonight's batch signatures after
    * admission so tomorrow's run sees them as corpus. */
  def writeSignatureStore(docs: DataFrame, dir: String, w: Int, k: Int): Unit =
    minhashSignaturesTokens(docs, w, k).write.mode("overwrite").parquet(dir)

  /** Incremental MinHash near-dup detection — the nightly production
    * shape that makes the signature investment pay off across runs:
    * signatures are computed for TONIGHT'S BATCH ONLY; the corpus side
    * rides in from the persisted store (one parquet scan, k longs per
    * doc — no re-tokenization of 100 TB). Candidates = batch-vs-store
    * ∪ batch-vs-batch band collisions; store-vs-store pairs were found
    * by earlier runs and are deliberately not re-derived. Same melt,
    * estimate prefilter and survivor-scoped exact verify as
    * [[minhashNearDupsTokens]] (`texts` must resolve the text of any
    * store or batch doc — the document store). Pairs are id-normalized
    * (a_id < b_id), so the result is EXACTLY the full-corpus pipeline's
    * pair set restricted to pairs touching ≥ 1 batch doc
    * (TextDedupSpec law). The store side melts NARROW-equivalent wide
    * here (batch side is small, so the join broadcasts the batch melt
    * at any store scale — candidate emission is store-partition-local);
    * a mega-batch would route through the same salted spelling as
    * [[lshSurvivorsNarrow]]. */
  def incrementalNearDupsTokens(storeDir: String, batch: DataFrame, texts: DataFrame,
                                w: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    val rows = k / bands
    require(rows * bands == k, s"k=$k must split into $bands bands")
    val storeSigs = Tables.parquet(spark, storeDir)
    val batchSigs = graft.Caches.cached(minhashSignaturesTokens(batch, w, k))
    val carry = (0 until k).map(i => s"s$i")
    val storeMelt = meltedBands(storeSigs, bands, rows, carry)
    val batchMelt = meltedBands(batchSigs, bands, rows, carry)
    def side(m: DataFrame, p: String): DataFrame =
      m.select(col("doc_id").as(s"${p}_id") +: col("band") +: col("key") +:
        (0 until k).map(i => col(s"s$i").as(s"$p$i")): _*)
    // batch-batch pairs collide in both orientations → keep a_id < b_id;
    // batch-store pairs have exactly one orientation (store docs never
    // appear on the a side), so no constraint — and no store-store pair
    // can ever form
    val ys = side(storeMelt, "b").withColumn("b_in_store", lit(true))
      .unionByName(side(batchMelt, "b").withColumn("b_in_store", lit(false)))
    val cand = side(batchMelt, "a").join(ys, Seq("band", "key"))
      .filter(col("b_in_store") || col("a_id") < col("b_id"))
    val pairs = graft.Caches.cached(estPrefilter(cand, k, threshold).distinct())
    graft.plans.SortedIntersectCount.register(spark)
    graft.plans.SortedTokenShingles.register(spark)
    // verify arrays are ALWAYS survivor-scoped here: the store text is
    // corpus-sized by definition of the incremental regime, so the
    // full-corpus build that wins at fixture scale is exactly the cost
    // this operator exists to avoid
    val shArr = graft.Caches.cached(survivorDocs(texts, pairs)
      .select(col("doc_id"),
        call_function(graft.plans.SortedTokenShingles.NAME,
          col("text"), lit(w)).as("sh")))
    verifyExactJaccard(Tables.fanOut(pairs), shArr, threshold, leafExpansion = 8.0 * w)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("jaccard"))
  }

  /** 64-bit SimHash from token-hash bit votes:
    * votes[b] = Σ_tokens (bit b of xxhash64(token) ? +1 : -1);
    * fingerprint bit b set iff votes[b] > 0. `textCol` is a column name
    * resolvable in the input plan.
    *
    * Runs as the codegen'd [[graft.plans.SimHash64Expr]] on the active
    * session — the HOF spelling is CodegenFallback/interpreted and pays
    * 64 lambda frames per token; it stays the executable spec the
    * expression is lockstep-tested against (TextDedupSpec). */
  def simhash64(textCol: String): Column = {
    graft.plans.SimHash64.register(SparkSession.active)
    call_function(graft.plans.SimHash64.NAME, col(textCol))
  }

  /** SimHash near-dups: 8-bit chunk collision proposes candidates
    * (equi-join, no cross product), Hamming ≤ maxDist verifies. With 8
    * chunks, pigeonhole guarantees every pair at distance ≤ 7 shares an
    * untouched chunk — candidate recall is COMPLETE for maxDist ≤ 7. */
  def simhashNearDups(docs: DataFrame, maxDist: Int): DataFrame =
    hammingPairs(
      Tables.fanOut(docs).select(col("doc_id"), simhash64("text").as("sig")),
      maxDist)

  /** Hamming-ball pair generation over ANY 64-bit-signature table
    * (doc_id, sig) — the chunk machinery of [[simhashNearDups]],
    * factored out so other fingerprint families (SimHash text sigs,
    * perceptual media hashes) share one implementation. Chunk collision
    * is the candidate equi-join key; pigeonhole makes recall COMPLETE
    * for maxDist ≤ chunks−1 (any pair within that distance leaves at
    * least one chunk untouched), and the exact Hamming filter makes
    * precision 1 — so ANY chunks setting with maxDist < chunks emits
    * the IDENTICAL pair set (spec-pinned), making `chunks` a pure
    * physical knob. Signatures of < 64 bits (e.g. the 63-bit media
    * aHash) work unchanged: the top chunk just spans fewer meaningful
    * bits.
    *
    * Scale knobs: the join key space is chunks · 2^(64/chunks) buckets,
    * so mean bucket pair cost is N²/2^(64/chunks) per chunk index —
    * FEWER chunks = exponentially smaller buckets but a narrower
    * completeness envelope. At corpus scale pick the smallest `chunks`
    * that still covers the target distance (maxDist 3 → 4 chunks of 16
    * bits: buckets 2^8 = 256× smaller than the 8×8 layout's);
    * `blocks` > 1 additionally salts the self-join
    * ([[saltedSelfJoin]]) so one mega-bucket's pair emission spreads
    * over `blocks` reducers without changing the pair set. */
  def hammingPairs(sigs: DataFrame, maxDist: Int, chunks: Int = 8,
                   blocks: Int = 1): DataFrame = {
    require(chunks >= 1 && 64 % chunks == 0, s"chunks=$chunks must divide 64")
    require(maxDist < chunks,
      s"maxDist=$maxDist exceeds the $chunks-chunk completeness envelope " +
        s"(pigeonhole holds to ${chunks - 1})")
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunked = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until chunks).map(j =>
          struct(lit(j).as("j"),
            shiftrightunsigned(col("sig"), width * j).bitwiseAND(lit(mask)).as("chunk"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.j").as("j"), col("c.chunk").as("chunk"))
    val chunksC = graft.Caches.cached(chunked) // the sig kernel is a full-corpus pass — run it once
    val xs = chunksC.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
      col("j"), col("chunk"))
    val ys = chunksC.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
      col("j"), col("chunk"))
    saltedSelfJoin(xs, ys, Seq("j", "chunk"), "b_id", blocks)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Connected components over a near-dup pair set by iterative
    * min-label propagation with POINTER JUMPING: each round every node
    * adopts the smallest label among itself and its neighbours, then
    * additionally the label OF its label (path halving), so rounds
    * needed are O(log diameter), not diameter — a 10k-link near-dup
    * chain converges in ~14 rounds instead of 10k. This is the
    * canonical-document selection step of a dedup pipeline (cluster
    * near-dups, keep the min-id representative).
    *
    * Labels are always ids of nodes in the same component, so the
    * label-of-label lookup is a self-equi-join on the labels table.
    * Fixpoint = every edge has equal labels on both ends = exact
    * transitive closure (what the q49 oracle computes); if maxIter
    * rounds ever exhaust without converging this THROWS rather than
    * silently returning partial clusters that would hash-mismatch.
    *
    * Scale shape: each round is two hash-shuffle joins on node id plus
    * a map-side-combined min aggregate; the per-round `count()` is the
    * loop-termination aggregate every iterative Spark algorithm needs
    * (a 1-value driver action, not a data collect), and
    * `localCheckpoint` truncates the growing lineage (cluster
    * deployments would use checkpoint(dir)).
    *
    * Small graphs skip the loop entirely: a verified near-dup pair set
    * is orders of magnitude smaller than its corpus, and the iterative
    * path pays ~0.5 s of plan-compile + job-schedule PER ROUND no
    * matter how few edges remain — on a 1k-edge graph that is pure
    * overhead. When the (exact, already-needed-for-routing) edge count
    * fits `localBudget`, the closure runs as ONE executor task: edges
    * repartition(1) into a union-find over a hash map (≈48 B/edge ⇒
    * the 8M default is ~400 MB of task heap, well inside an executor).
    * This is NOT a driver collect — no edge ever leaves the executors;
    * it is the single-task degenerate case of the same shuffle, and at
    * 100 TB a pair graph that outgrows the budget routes to the loop
    * automatically. */
  def components(pairs: DataFrame, maxIter: Int = 20,
                 localBudget: Long = 8L * 1000 * 1000,
                 uniquePairs: Boolean = false): DataFrame = {
    val sess = pairs.sparkSession
    // `uniquePairs`: caller vouches the pair stream is duplicate-free
    // with a_id < b_id (every producer ending in a distinct()/groupBy
    // over (a_id, b_id) qualifies). Then the symmetrized union is
    // ALREADY distinct — branch 1 has src < dst, branch 2 src > dst —
    // and the defensive dedup below would burn a pair-stream-sized
    // exchange + hash aggregate to remove nothing (no shuffle on data
    // already unique). Correctness never depends on
    // it: components of a multigraph equal components of its support,
    // so a wrong vouch costs loop work, not answers; the default stays
    // safe for un-vouched streams (e.g. incrementalComponents'
    // quotient edges, which genuinely collide).
    val sym = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
    val edges = graft.Caches.cached(if (uniquePairs) sym else sym.distinct())
    // Size the iterative shuffle to the GRAPH, not the session default:
    // near-dup pair graphs are orders of magnitude smaller than the
    // corpus, and every round pays per-task scheduling on every shuffle
    // partition (localCheckpoint pins the static plan, so AQE cannot
    // coalesce the empty ones). The edge count is the loop's bounded
    // driver aggregate anyway — reuse it. ~1M edges per partition.
    val nEdges = edges.count()
    if (nEdges <= localBudget) return componentsSingleTask(edges)
    graft.Session.withShuffleWidth(sess, w => math.max(2L, math.min(w, nEdges / 1000000L + 1))) {
    var pinned = graft.Caches.pin(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var labels: DataFrame = pinned
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
        .select(col("src").as("nid"), col("nbr_min"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("mid_label"))
      // pointer jump: my new label ← label of the node my label points
      // to. Skipped in round 1, where labels are still the identity map
      // and the join would be a no-op shuffle.
      val updated = graft.Caches.pin(
        if (iter == 0) stepped.select(col("id"), col("label"),
          col("mid_label").as("new_label"))
        else {
          val parents = labels.select(col("id").as("p_id"), col("label").as("p_label"))
          stepped.join(parents, stepped("mid_label") === parents("p_id"), "left")
            .select(col("id"), col("label"),
              least(col("mid_label"), coalesce(col("p_label"), col("mid_label"))).as("new_label"))
        })
      changed = updated.filter(col("new_label") < col("label")).count()
      // round N's blocks are dead once N+1 is materialized and the
      // changed-count read — release now, not at JVM exit
      graft.Caches.unpin(pinned)
      pinned = updated
      labels = updated.select(col("id"), col("new_label").as("label"))
      iter += 1
    }
    if (changed > 0) {
      // the final allowed round may have COMPLETED convergence (changed
      // counts that round's movement, not the state after it) — accept
      // iff every edge now has equal labels on both ends, the actual
      // fixpoint condition; throw only on true non-convergence.
      val l1 = labels.select(col("id").as("src_id"), col("label").as("src_lbl"))
      val l2 = labels.select(col("id").as("dst_id"), col("label").as("dst_lbl"))
      val unsettled = edges
        .join(l1, edges("src") === l1("src_id"))
        .join(l2, edges("dst") === l2("dst_id"))
        .filter(col("src_lbl") =!= col("dst_lbl")).count()
      if (unsettled > 0)
        throw new IllegalStateException(
          s"components() did not converge after $maxIter rounds ($unsettled edges still " +
            "label-mismatched) — component diameter exceeds 2^rounds; raise maxIter")
    }
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
    }
  }

  /** Merge tonight's NEW edges into a STORED component labeling
    * without re-running the closure over the old edge set (see
    * q207). `stored` = (doc_id, canonical_id) from a previous
    * [[components]] run; `newEdges` = (a_id, b_id). Returns the full
    * labeling of stored nodes ∪ new-edge endpoints, equal to
    * components(oldEdges ∪ newEdges) — min-id canonicals compose
    * through the quotient, so the equality is exact. Cost: two hash
    * joins of the new edges against the label table plus a closure
    * over the QUOTIENT graph (≤ one node per touched label — tonight's
    * churn, not the corpus). */
  def incrementalComponents(storedIn: DataFrame, newEdgesIn: DataFrame): DataFrame = {
    // both inputs are consumed by several branches below (labels: the
    // two quotient joins + the anti-join + the union; edges: the two
    // joins + the endpoint union) — cache them so an expensive caller
    // lineage is never re-evaluated 4x; both are churn/label-sized,
    // never the corpus
    val stored = graft.Caches.cached(storedIn)
    val newEdges = graft.Caches.cached(newEdgesIn)
    val sA = stored.select(col("doc_id").as("na"), col("canonical_id").as("la"))
    val sB = stored.select(col("doc_id").as("nb"), col("canonical_id").as("lb"))
    val quotient = newEdges
      .join(sA, col("a_id") === col("na"), "left")
      .join(sB, col("b_id") === col("nb"), "left")
      .select(coalesce(col("la"), col("a_id")).as("a_id"),
        coalesce(col("lb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    val relabel = components(quotient)
      .select(col("doc_id").as("old_label"), col("canonical_id").as("new_label"))
    // endpoints the stored labeling has never seen start as singletons
    val fresh = newEdges.select(col("a_id").as("doc_id"))
      .unionByName(newEdges.select(col("b_id").as("doc_id"))).distinct()
      .join(stored.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("canonical_id", col("doc_id"))
    val all = stored.unionByName(fresh)
    all.join(relabel, all("canonical_id") === relabel("old_label"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("canonical_id")).as("canonical_id"))
  }

  /** Single-task exact closure for pair graphs under the budget: plain
    * union-find with path compression, min member id per root as the
    * canonical label (identical semantics to the converged loop — the
    * result is order-independent, so one unordered pass is enough).
    * Runs ON an executor via mapPartitions, not on the driver. */
  private def componentsSingleTask(edges: DataFrame): DataFrame = {
    val sess = edges.sparkSession
    import sess.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
        }
        // every union points the larger root at the smaller, and each
        // node entered as its own root — so by induction the final root
        // of a component IS its minimum member id. Keys are snapshotted
        // first: find() path-compresses (writes map values), and
        // mutating a HashMap mid-iteration is unspecified even when
        // only values change.
        val ids = parent.keys.toArray
        ids.iterator.map(id => (id, find(id)))
      }
      .toDF("doc_id", "canonical_id")
  }

  val queries: Map[String, Q] = Map(
    // Exact n-gram Jaccard near-dups on a bounded slice (oracle-checked).
    "q36_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select("doc_id", "text")
      jaccardPairs(docs, 3)
        .filter(col("jaccard") >= 0.7)
        .orderBy("a_id", "b_id")
    }),

    // MinHash+LSH near-dup detection over the FULL corpus (scale path;
    // approximate candidate set ⇒ rows-only check + DedupSpec recall).
    "q37_minhash_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      minhashNearDups(docs, n = 3, k = 32, bands = 8, threshold = 0.7)
        .orderBy("a_id", "b_id")
    }),

    // CLUSTER-SHAPE VARIANT of q37: identical parameters, but
    // narrowBudgetBytes = 0 pins BOTH beyond-budget routes — the
    // NARROW+SALTED survivors join AND the survivor-scoped exact-verify
    // array build — so the plan a 100 TB run would actually execute
    // gets a CORRECTNESS entry on the real corpus, not only ScaleSpec/
    // PlanSpec fixture laws. The pair set provably equals the wide
    // shape's (ScaleSpec), so rows == q37's; rows-only like q37.
    "q86_lsh_narrow_salted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      minhashNearDups(docs, n = 3, k = 32, bands = 8, threshold = 0.7,
        narrowBudgetBytes = 0L)
        .orderBy("a_id", "b_id")
    }),

    // SimHash near-dup detection, full corpus (approximate ⇒ rows-only
    // check; agreement with MinHash asserted in DedupSpec).
    "q41_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      simhashNearDups(docs, maxDist = 7).orderBy("a_id", "b_id")
    }),

    // CAPSTONE: the full corpus-scale dedup pipeline in one query —
    // MinHash+LSH candidates → exact-Jaccard verify → connected
    // components → keep the min-id representative per cluster → per-
    // source survivor accounting. This is the composition a 100 TB
    // dedup run actually executes end-to-end; every stage is the
    // bucketed/verified shape (never corpus²). LSH candidate recall is
    // probabilistic ⇒ rows-only + TextDedupSpec laws (canonical = min
    // member; survivors + removed = corpus).
    "q65_canonical_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
      // cache: components() symmetrizes pairs with a self-union — an
      // uncached pair set would run the whole LSH+verify pipeline once
      // per union branch. Token 5-grams, not char 3-grams: the
      // production text-dedup unit, and the discriminative one on this
      // corpus (see tokenShingles doc).
      val pairs = graft.Caches.cached(minhashNearDupsTokens(docs.select("doc_id", "text"),
        w = 5, k = 32, bands = 8, threshold = 0.7))
      val clustered = components(pairs, uniquePairs = true) // (doc_id, canonical_id); LSH verify pairs are distinct a<b
      val removed = clustered.filter(col("doc_id") =!= col("canonical_id"))
        .select("doc_id")
      val survivors = docs.join(removed, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_survivors"))
      // totals are the base side: a source whose every doc is removed
      // must still report n_survivors = 0, not vanish from the output
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(survivors, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          (col("n_docs") - coalesce(col("n_survivors"), lit(0L))).as("n_removed"))
        .orderBy("source")
    }),

    // CAPSTONE TWIN, exact envelope: the SAME pipeline composition as
    // q65 (candidate pairs → components → min-id canonical → per-source
    // accounting) with the probabilistic LSH candidate stage swapped
    // for the exact token-5-gram inverted-index Jaccard — every stage
    // deterministic, so unlike q65 the full chain gets a DuckDB oracle
    // (hash-matched), proving the composition logic itself. q65 keeps
    // the production LSH parameters; this pins the machinery they feed.
    "q85_exact_dedup_chain" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
      // cached: components() symmetrizes pairs with a self-union (same
      // reason as q65)
      val pairs = graft.Caches.cached(
        jaccardPairsTokens(docs.select("doc_id", "text"), 5)
          .filter(col("jaccard") >= 0.7))
      // uniquePairs: jaccardPairsTokens ends in a groupBy(a_id, b_id)
      val clustered = components(pairs, uniquePairs = true)
      val removed = clustered.filter(col("doc_id") =!= col("canonical_id"))
        .select("doc_id")
      val survivors = docs.join(removed, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_survivors"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(survivors, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          (col("n_docs") - coalesce(col("n_survivors"), lit(0L))).as("n_removed"))
        .orderBy("source")
    }),

    // INCREMENTAL near-dup vs a persisted signature store — the
    // nightly-batch regime (q73's admission ladder, lifted from exact
    // bag-of-words identity to the near-dup regime): ~1/4 of the corpus
    // arrives as "tonight's batch" (same decorrelated md5 split as
    // q73), the rest's token-5-gram signatures are read back from
    // parquet, and only batch-touching pairs are derived. Rows-only
    // (LSH candidates are probabilistic) + the TextDedupSpec lockstep
    // law: output == the full-corpus q65-parameter pipeline's pairs
    // restricted to pairs touching >= 1 batch doc. The store builds
    // ONCE per process (Scratch — collision-free per-run path): rep
    // 1 pays the cold store write, rep 2+ times the
    // batch side only, which is exactly what a nightly run pays.
    "q88_incremental_minhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val store = docs.filter(!h.isin("0", "1", "2", "3"))
      val batch = docs.filter(h.isin("0", "1", "2", "3"))
      val storeDir = graft.Scratch.ensure(graft.Scratch.dirFor("sigstore", dir)) {
        writeSignatureStore(store, graft.Scratch.dirFor("sigstore", dir), w = 5, k = 32)
      }
      incrementalNearDupsTokens(storeDir, batch, docs,
        w = 5, k = 32, bands = 8, threshold = 0.7)
        .orderBy("a_id", "b_id")
    }),

    // QUALITY-PREFERRING canonical selection — the survivor policy most
    // production dedup runs actually want: within a near-dup cluster,
    // keep the doc with the MOST CONTENT (max token count, doc_id
    // tie-break), not the accidental min-id member (a truncated or
    // boilerplate-padded variant can carry the smallest id). Exact
    // token-5-gram chain (q85's proven spelling) → components → ONE
    // map-side-combined aggregate per cluster: min_by over a
    // (-n_tok, doc_id) struct picks the keeper with no per-cluster
    // window and no second shuffle — at 100 TB the keeper choice rides
    // the same exchange the cluster accounting pays. Fully
    // deterministic ⇒ DuckDB hash-matched (closure CTE + row_number
    // keeper twin).
    "q135_quality_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      val pairs = graft.Caches.cached(
        jaccardPairsTokens(docs.select("doc_id", "text"), 5)
          .filter(col("jaccard") >= 0.7))
      val members = components(pairs, uniquePairs = true) // groupBy(a,b) output
        .join(docs.select("doc_id", "n_tok"), Seq("doc_id"))
      members
        .groupBy(col("canonical_id").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("n_tok")).as("cluster_tok"),
          max(col("n_tok")).as("keep_tok"),
          min_by(col("doc_id"),
            struct((-col("n_tok")).as("a"), col("doc_id").as("b"))).as("keep_id"))
        .select(col("cluster_id"), col("keep_id"), col("n_members"),
          col("cluster_tok"), col("keep_tok"))
        .orderBy("cluster_id")
    }),

    // Near-dup clustering: connected components over the exact Jaccard
    // pair set → (doc, canonical representative) — the "keep one per
    // cluster" step. Oracle = DuckDB recursive CTE transitive closure.
    "q49_neardup_components" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select("doc_id", "text")
      // cached for the same union-branch reason as q65
      val pairs = graft.Caches.cached(
        jaccardPairs(docs, 3).filter(col("jaccard") >= 0.7))
      components(pairs, uniquePairs = true).orderBy("doc_id") // groupBy(a,b) output
    }),

    // INCREMENTAL connected-components maintenance — the graph member
    // of the maintenance family (q93 sums, q205 order statistics, q181
    // sketches): tonight's NEW near-dup edges must merge into the
    // STORED component labeling without re-running the closure over
    // the whole edge history. The algebra: collapse each new edge
    // through the stored labels (absent endpoints keep their own id),
    // run components over that QUOTIENT graph — bounded by the labels
    // touched tonight, not the stored graph — and compose labels:
    // final(node) = quotient(stored(node)). Min-id canonicals compose
    // exactly (min over a quotient component of old minima ∪ new ids =
    // the global min), so the result hash-matches the oracle's FULL
    // recursive closure over every edge — incremental == recompute,
    // proven through the join of two label generations. The old/new
    // split keys on (a+b) mod 3 so old-old, bridging, and brand-new
    // edges all occur (DedupSpec pins a hand-built fixture with each
    // case).
    "q207_incremental_components" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select("doc_id", "text")
      val pairs = graft.Caches.cached(
        jaccardPairs(docs, 3).filter(col("jaccard") >= 0.7)
          .select("a_id", "b_id"))
      val newE = pairs.filter((col("a_id") + col("b_id")) % 3 === 0)
      val oldE = pairs.filter((col("a_id") + col("b_id")) % 3 =!= 0)
      // oldE is a filtered subset of a groupBy(a,b) stream: unique a<b;
      // incrementalComponents caches the stored labeling itself
      incrementalComponents(components(oldE, uniquePairs = true), newE)
        .orderBy("doc_id")
    }),

    // Duplicate-cluster-size histogram — the shape report a dedup run
    // prints (how much of the duplication is pairs vs mega-clusters
    // decides whether "keep one per cluster" loses data): q49's exact
    // pairs → components → per-canonical cluster size → (size,
    // n_clusters, n_docs). Every cluster has >= 2 members by
    // construction (components only sees docs that appear in a pair).
    // Scale: the histogram aggregates the COMPONENTS output (one row
    // per clustered doc), never the corpus; cluster sizes shuffle as
    // (canonical → count) map-side-combined partials.
    "q95_cluster_histogram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select("doc_id", "text")
      val pairs = graft.Caches.cached(
        jaccardPairs(docs, 3).filter(col("jaccard") >= 0.7))
      components(pairs, uniquePairs = true) // groupBy(a,b) output
        .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (col("cluster_size") * count(lit(1))).as("n_docs"))
        .orderBy("cluster_size")
    }),

    // LEAKAGE-FREE train/val/test split — the split step of corpus
    // assembly done at CLUSTER granularity: near-duplicate documents
    // must land in the SAME split, or eval measures memorization of
    // train (row-wise random splitting leaks every dup pair that
    // straddles the cut). Clusters come from the PRODUCTION pair
    // route — q86's budget-routed MinHash+LSH survivors + exact
    // verify (see leakageFreeSplit's doc; the exact inverted-index
    // chain is the spec twin and the oracle spelling). Each doc's
    // split is decided by the md5 of its CLUSTER id (q97's 2-hex
    // threshold mechanism: <'cc' train ~80%, <'e6' val ~10%, else
    // test), so membership in a cluster fully determines the split —
    // straddle-freedom is structural, and TextDedupSpec pins it plus
    // LSH-route == exact-route assignment equality. Scale shape:
    // banded candidates, never an unceilinged gram self-join; the
    // split decision adds one projection, and the accounting
    // aggregates (source, split) — never the corpus twice.
    "q112_leakage_free_split" -> ((s, dir) => {
      val assigned = leakageFreeSplit(s, dir)
      assigned.groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("n_tok")).as("n_tokens"))
        .orderBy("source", "split")
    })
  )

  /** (doc_id, source, n_tok, cluster_id, split) for every document:
    * near-dup closure, unclustered docs are their own cluster, split
    * chosen by md5(cluster_id) thresholds. Shared by q112 and the
    * straddle-freedom / route-equality laws in TextDedupSpec.
    *
    * PAIR ROUTE: the default candidate source is the
    * PRODUCTION one — [[minhashNearDupsTokens]], i.e. q86's
    * budget-routed narrow+salted LSH survivors join followed by the
    * exact-Jaccard verify — because train/val/test assembly is a
    * production-semantics consumer and the exact inverted-index
    * self-join it used to ride has no df ceiling (a corpus-frequent
    * 5-gram fans out quadratically in its posting at 100 TB). The
    * exact chain stays available via `exactPairs = true` as the spec
    * twin: both routes verify candidates with the SAME exact measure
    * at the SAME threshold, so they differ only if LSH banding misses
    * a qualifying pair — TextDedupSpec pins assignment equality of the
    * two routes at tested scale, and the q112 oracle (the exact chain
    * in SQL) hash-matching tri-SF re-proves it on the driver's gate. */
  def leakageFreeSplit(s: SparkSession, dir: String,
                       exactPairs: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val pairs = graft.Caches.cached(
      if (exactPairs)
        jaccardPairsTokens(docs.select("doc_id", "text"), 5)
          .filter(col("jaccard") >= 0.7)
      else
        minhashNearDupsTokens(docs.select("doc_id", "text"),
          w = 5, k = 32, bands = 8, threshold = 0.7))
    val h = substring(md5(col("cluster_id").cast("string")), 1, 2)
    docs.join(components(pairs, uniquePairs = true), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("canonical_id"), col("doc_id")))
      .withColumn("split",
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
      .select("doc_id", "source", "n_tok", "cluster_id", "split")
  }

  /** Full min-label closure over the exact-Jaccard pair graph
    * (doc_id < 200, 3-gram shingles, τ = 0.7) — shared by q49 (direct
    * components) and q207 (incremental maintenance of the same
    * labeling; incremental == recompute is the point). */
  private val fullClosureSql: String =
    """WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
                FROM (SELECT doc_id, text,
                        unnest(generate_series(1, length(text) - 2)) AS i
                      FROM docs)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM inter
           JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
           WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.7),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         r(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.id)
         SELECT id AS doc_id, MIN(label) AS canonical_id
         FROM r GROUP BY id ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "q36_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
                FROM (SELECT doc_id, text,
                        unnest(generate_series(1, length(text) - 2)) AS i
                      FROM docs)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id,
           CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = a_id
                    JOIN sizes sb ON sb.doc_id = b_id
         WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.7
         ORDER BY a_id, b_id""",
    // Exact token-5-gram twin of the q65 composition: inverted-index
    // Jaccard pairs → recursive-CTE transitive closure → min-label
    // canonical → per-source accounting. Token w-grams mirror
    // tokenShingles: whitespace-split, w-window joined by ' ', distinct.
    "q85_exact_dedup_chain" ->
      """WITH RECURSIVE tk AS (
           SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sh AS (SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 4),
               i -> array_to_string(toks[i:i+4], ' '))) AS g
           FROM tk WHERE len(toks) >= 5)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM inter
           JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
           WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.7),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         r(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.id),
         canon AS (SELECT id, MIN(label) AS canonical FROM r GROUP BY id),
         removed AS (SELECT id FROM canon WHERE canonical <> id)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rm.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN rm.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         FROM documents d LEFT JOIN removed rm ON d.doc_id = rm.id
         GROUP BY source ORDER BY source""",
    // q85's closure + per-cluster keeper via row_number over
    // (n_tok DESC, doc_id) — the window twin of Spark's min_by struct
    "q135_quality_canonical" ->
      """WITH RECURSIVE tk AS (
           SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sh AS (SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 4),
               i -> array_to_string(toks[i:i+4], ' '))) AS g
           FROM tk WHERE len(toks) >= 5)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM inter
           JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
           WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.7),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         r(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.id),
         canon AS (SELECT id, MIN(label) AS canonical FROM r GROUP BY id),
         mem AS (
           SELECT c.canonical AS cluster_id, c.id AS doc_id,
             CAST(len(str_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_tok
           FROM canon c JOIN documents d ON d.doc_id = c.id),
         agg AS (
           SELECT cluster_id, COUNT(*) AS n_members,
             CAST(SUM(n_tok) AS BIGINT) AS cluster_tok,
             CAST(MAX(n_tok) AS BIGINT) AS keep_tok
           FROM mem GROUP BY 1),
         keep AS (
           SELECT cluster_id, doc_id AS keep_id FROM (
             SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY n_tok DESC, doc_id) AS rn
             FROM mem) WHERE rn = 1)
         SELECT a.cluster_id, k.keep_id, a.n_members, a.cluster_tok, a.keep_tok
         FROM agg a JOIN keep k USING (cluster_id) ORDER BY a.cluster_id""",
    // q85's closure + cluster-keyed md5 split (q97's threshold
    // mechanism at 2 hex chars): <'cc' train, <'e6' val, else test
    "q112_leakage_free_split" ->
      """WITH RECURSIVE tk AS (
           SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sh AS (SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 4),
               i -> array_to_string(toks[i:i+4], ' '))) AS g
           FROM tk WHERE len(toks) >= 5)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM inter
           JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
           WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.7),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         r(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.id),
         canon AS (SELECT id, MIN(label) AS canonical FROM r GROUP BY id),
         asg AS (
           SELECT d.source,
             CAST(len(str_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_tok,
             COALESCE(c.canonical, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN canon c ON c.id = d.doc_id),
         sp AS (
           SELECT source, n_tok, cluster_id,
             CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
           FROM asg)
         SELECT source, split, COUNT(*) AS n_docs,
           COUNT(DISTINCT cluster_id) AS n_clusters,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         FROM sp GROUP BY source, split ORDER BY source, split""",
    "q49_neardup_components" -> fullClosureSql,
    // incremental == recompute: the oracle IS the full closure over
    // every edge (old ∪ new = the same exact pair set)
    "q207_incremental_components" -> fullClosureSql,
    // q49's closure + a two-level rollup: canonical → size → histogram
    "q95_cluster_histogram" ->
      """WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
                FROM (SELECT doc_id, text,
                        unnest(generate_series(1, length(text) - 2)) AS i
                      FROM docs)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM inter
           JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
           WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.7),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         r(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.id),
         canon AS (SELECT id, MIN(label) AS canonical_id FROM r GROUP BY id),
         cl AS (SELECT canonical_id, COUNT(*) AS cluster_size
                FROM canon GROUP BY 1)
         SELECT cluster_size, COUNT(*) AS n_clusters,
           cluster_size * COUNT(*) AS n_docs
         FROM cl GROUP BY 1 ORDER BY cluster_size"""
  )
}
