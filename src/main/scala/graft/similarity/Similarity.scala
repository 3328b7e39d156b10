package graft.similarity

import graft.{PinnedOps, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (BASELINE.json north star):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the 100 TB scale path.
  *
  * Scale notes: the exact path broadcasts the (small) query set and
  * streams the corpus once — O(|Q|·N·d) with no corpus self-join. The
  * LSH path computes per-table sign-bucket signatures in one compiled
  * pass (graft.plans.SignLsh), then joins on (table, bucket), so
  * candidate generation is equi-join
  * shuffle-partitioned by bucket — no cross product anywhere. All
  * arithmetic is decimal-pinned where the oracle compares values
  * (see graft.functions.Exact).
  */
object Similarity {

  /** Fixed-point scale for exact cross-engine dot products: element
    * products are floored to 1e-14 resolution and summed as longs —
    * order-independent, exactly representable (|e| < 0.53 ⇒ the 64-term
    * sum stays < 2^53), and the identical formula runs in the oracle. */
  val FP = 1e14

  /** Scaled-long dot product: Σ floor(a_i·b_i·1e14), exact + portable.
    * Runs as the codegen'd [[graft.plans.DotScaled]] expression on the
    * active session — the HOF spelling (aggregate∘zip_with) is
    * CodegenFallback/interpreted and dominates pair-dense similarity
    * plans. Both spellings are the same IEEE arithmetic, so oracle
    * hashes are unchanged. */
  def dotScaled(a: Column, b: Column): Column = {
    graft.plans.DotScaled.register(SparkSession.active)
    call_function(graft.plans.DotScaled.NAME, a, b)
  }

  /** Vector norm, computed ONCE per row (pair-wise ops must not
    * recompute norms per pair — 3× the HOF work). */
  def norm(v: Column): Column = sqrt(dotScaled(v, v).cast("double") / FP)

  /** cosine = dot/(|a||b|) from a precomputed-norm pair: dot is the only
    * per-pair HOF, every intermediate deterministic. A zero-norm
    * (all-zero) vector has no direction: its cosine is defined as 0
    * rather than NaN — Spark sorts NaN ABOVE every real double, so an
    * unguarded 0/0 would make a single zero vector the rank-1 "neighbor"
    * of every query in every desc-ordered top-k. The oracle spellings
    * carry the same CASE. */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise((dotScaled(a, b).cast("double") / FP) / (na * nb))

  private def fanOut(df: DataFrame): DataFrame = Tables.fanOut(df)

  /** Deterministic random hyperplanes (seeded) for sign-LSH —
    * delegates to the one canonical generator shared with the codegen'd
    * sign_lsh kernel. */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    graft.plans.SignLsh.hyperplanes(bits, dim, seed)

  /** Sign signature of an embedding under the given planes (bit i =
    * sign of v · planes(i)) — the interpreted REFERENCE spelling of the
    * codegen'd sign_lsh kernel; SimilaritySpec pins their lockstep.
    * Bucket width = planes.length (callers use 6-8 bit tables). */
  def signature(v: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(v, typedlit(p.toSeq), (x, r) => x.cast("double") * r),
        lit(0.0), (acc, t) => acc + t)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Multiprobe sign-LSH ANN top-k (Lv et al.): the corpus indexes ONE
    * bucket per table; each query probes its own bucket plus all
    * `bits` one-bit-flip neighbours, exact cosine re-ranks the union.
    * `isQuery` selects the query rows out of the indexed corpus, so
    * signatures are computed in a single corpus pass. Probing the
    * Hamming-1 ball of a SMALL bucket beats enlarging the bucket: the
    * corpus side stays 1/2^bits-occupied per table and only the query
    * side fans out (bits+1 keys per table). */
  def multiprobeTopK(corpus: DataFrame, isQuery: Column, tables: Int, bits: Int,
                     k: Int): DataFrame = {
    val e = signIndex(corpus, tables, bits)
    val flips = flipMasks(bits)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("t"),
        explode(transform(flips, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    // the probe side is STATS-GATED, not hinted unconditionally:
    // isQuery is an arbitrary Column, so a predicate selecting a
    // corpus-scale subset would otherwise force a never-demoted
    // corpus×tables×(bits+1) broadcast (the same hazard
    // maybeBroadcast guards everywhere else). The gate sees the corpus
    // LEAF times the known fan-out factor (filter selectivity is
    // invisible to non-CBO stats, so it errs corpus-sized); where the
    // static hint is dropped for a genuinely bounded query set, AQE
    // re-plans the shuffle join back to broadcast from the stage's
    // ACTUAL size at runtime — safety costs nothing locally.
    val cand = e.join(
        Tables.maybeBroadcast(q, leafExpansion = 8.0 * tables * (bits + 1)),
        Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        col("q_emb"), col("embedding"), col("q_norm"), col("nrm"))
      .distinct()
      .select(col("q_id"), col("c_id"),
        cosinePre(col("q_emb"), col("embedding"), col("q_norm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Multiprobe sign-LSH threshold pairs: one side indexes its exact
    * bucket, the other probes its Hamming-1 ball, so any pair whose
    * buckets differ by ≤1 bit in ANY table collides; exact cosine
    * verifies, so every emitted pair is true (precision 1). */
  def multiprobePairs(corpus: DataFrame, tables: Int, bits: Int,
                      threshold: Double): DataFrame = {
    val e = signIndex(corpus, tables, bits)
    val flips = flipMasks(bits)
    val a = e.select(col("t"), col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_n"))
    val b = e.select(col("t"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_n"),
      explode(transform(flips, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    a.join(b, Seq("t", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_emb"), col("b_emb"), col("a_n"), col("b_n"))
      .distinct()
      .select(col("a_id"), col("b_id"),
        cosinePre(col("a_emb"), col("b_emb"), col("a_n"), col("b_n")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** THE sign-LSH index frame: one (vec_id, embedding, nrm, t, bucket)
    * row per vector per table — shared by the top-k and pairs
    * multiprobe paths so the index shape can never drift between them
    * (same single-spelling rule as the IVF helpers). */
  private def signIndex(corpus: DataFrame, tables: Int, bits: Int): DataFrame = {
    graft.plans.SignLsh.register(corpus.sparkSession)
    fanOut(corpus)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
        posexplode(call_function(graft.plans.SignLsh.NAME,
          col("embedding"), lit(tables), lit(bits))).as(Seq("t", "bucket")))
  }

  /** The Hamming-1 probe masks: the identity plus every one-bit flip. */
  private def flipMasks(bits: Int): Column =
    array((lit(0L) +: (0 until bits).map(b => lit(1L << b))): _*)

  /** Brute-force exact top-k: broadcast queries × corpus, window top-k.
    * Norms are computed once per vector before the pair fan-out. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"))
    val c = fanOut(corpus).select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosinePre(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic one-Lloyd-step cell assignment: seed clusters are
    * `vec_id % nCells`, centroids are exact rationals (scaled-long
    * numerator sums — order-independent reduction) divided once into
    * doubles, and the reassignment distance is a LEFT-ASSOCIATED
    * dims-term IEEE sum (identical grouping in both engines ⇒
    * bit-identical doubles ⇒ identical argmins, ties broken by cell
    * id). Returns (vec_id, cell). Scale shape: the centroid table is
    * nCells×dims (tiny, broadcast); the corpus is scanned once and the
    * per-vector argmin map-side-combines as min(struct(dist, cell)) —
    * the only exchange carries one row per vector. Shared by q79 (the
    * Lloyd-step query is exactly this plus a per-cell rollup) and
    * q90's semantic-dedup cells; the q79 oracle mirrors the spelling
    * term for term. */
  /** The one-Lloyd-step centroid table (c_cluster, c0..c{dims-1}) of
    * [[lloydAssign]] — factored out so q186's query-side cell ranking
    * probes the SAME centroids the corpus assignment used. */
  private[graft] def lloydCents(e: DataFrame, nCells: Int, dims: Int): DataFrame = {
    def x(i: Int): Column =
      element_at(col("embedding"), i + 1).cast("double")
    val nums = e
      .select((col("vec_id") % nCells).as("cluster") +: (0 until dims).map(i =>
        floor(x(i) * 1e6).cast("long").as(s"sx$i")): _*)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), (0 until dims).map(i =>
        sum(col(s"sx$i")).as(s"s$i")): _*)
    nums.select(col("cluster").as("c_cluster") +:
      (0 until dims).map(i =>
        ((col(s"s$i").cast("double") / 1e6) / col("n")).as(s"c$i")): _*)
  }

  /** LEFT-ASSOCIATED squared-L2 of `embCol` against a lloydCents row
    * (the q79 bit-stability discipline). */
  private[graft] def lloydDist(embCol: String, dims: Int): Column =
    (0 until dims).map { i =>
      val xi = element_at(col(embCol), i + 1).cast("double")
      (xi - col(s"c$i")) * (xi - col(s"c$i"))
    }.reduce(_ + _)

  private[graft] def lloydAssign(e0: DataFrame, nCells: Int = 8,
                                 dims: Int = 64): DataFrame = {
    val e = e0.select("vec_id", "embedding")
    lloydAssignWith(e, lloydCents(e, nCells, dims), dims)
  }

  /** Cell assignment against GIVEN centroids — factored out of
    * [[lloydAssign]] so the persisted-index append path
    * ([[appendToPqIndex]]) can assign a nightly batch against the
    * STORED coarse centroids instead of re-deriving them from the
    * batch (which would silently put appended vectors in a different
    * cell geometry than the base corpus). */
  private[graft] def lloydAssignWith(e0: DataFrame, cents: DataFrame,
                                     dims: Int): DataFrame =
    lloydAssignKeep(e0, cents, dims, Nil)

  /** Remove the shuffle outright: the centroid table is
    * BOUNDED (nCells rows — 8/16 in every caller, including the
    * store-read append path), so inline it as literals and assign in
    * ONE stream-through projection. The former shape — corpus×nCells
    * crossJoin fan-out → per-vector argmin exchange → (in q90/q96-style
    * consumers) a join back onto the corpus — carried the whole corpus
    * through an exchange at every scale; this shape carries nothing.
    * The bounded `.collect()` replaces the broadcast of the same rows.
    * Arithmetic is unchanged: the same LEFT-ASSOCIATED (x_i − c_i)²
    * IEEE sum against the same double values, and `least` over
    * (dist, cell) structs is the same lexicographic argmin as
    * min(struct(dist, cell)) ⇒ bit-identical cells and dists
    * (SimilaritySpec pins the route equality on the live corpus).
    * `keep` carries extra e0 columns through, so consumers that need
    * the embedding alongside the cell (q90) skip the join-back. */
  private[graft] def lloydAssignKeep(e0: DataFrame, cents: DataFrame,
                                     dims: Int, keep: Seq[String]): DataFrame = {
    val ds = lloydDistsSorted(cents, dims, col("embedding"))
    e0.select((col("vec_id") +: keep.map(col)) :+
        ds.getItem(0).as("m"): _*)
      .select(Seq(col("vec_id")) ++ keep.map(col) ++ Seq(
        col("m.c_cluster").as("cell"), col("m.cdist").as("dist")): _*)
  }

  /** The per-vector (cdist, c_cluster) distance array against the
    * BOUNDED centroid table, sorted ascending — the centroids ride
    * inlined into the codegen'd [[graft.plans.LloydDists]] kernel
    * (bounded collect: nCells rows, the same values the broadcast
    * shipped; the kernel is the same left-associated IEEE sum and the
    * same lexicographic argmin order). Shared by [[lloydAssignKeep]]
    * (nearest = element 0) and q218 (two nearest). */
  private[graft] def lloydDistsSorted(cents: DataFrame, dims: Int,
                                      emb: Column): Column = {
    val rows = cents.collect().sortBy(_.getAs[Long]("c_cluster"))
    require(rows.nonEmpty, "lloydDistsSorted: empty centroid table")
    val centArr = rows.toSeq.map(r => (0 until dims).map(i => r.getAs[Double](s"c$i")))
    val cellArr = rows.toSeq.map(_.getAs[Long]("c_cluster"))
    graft.plans.LloydDists.register(cents.sparkSession)
    call_function(graft.plans.LloydDists.NAME, emb,
      typedLit(centArr), typedLit(cellArr))
  }

  /** PQ codebooks: per-(seed-cell) scaled-long sums over all dims in
    * ONE corpus aggregate, projected into nSub subspace rows of
    * (cluster, ss, c0..c{subDim-1}) — nCodes·nSub rows total
    * (broadcast-sized). The q79 exact-rational mean discipline. */
  private[graft] def pqCents(e: DataFrame, nSub: Int, subDim: Int, nCodes: Int): DataFrame = {
    val dims = nSub * subDim
    def x(i: Int): Column = element_at(col("embedding"), i + 1).cast("double")
    val nums = e
      .select((col("vec_id") % nCodes).as("cluster") +:
        (0 until dims).map(i => floor(x(i) * 1e6).cast("long").as(s"sx$i")): _*)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        (0 until dims).map(i => sum(col(s"sx$i")).as(s"s$i")): _*)
    nums.select(
      col("cluster") +: col("n") +:
        Seq(explode(array((0 until nSub).map(ss =>
          struct(lit(ss).as("ss") +: (0 until subDim).map(j =>
            ((col(s"s${ss * subDim + j}").cast("double") / 1e6) / col("n"))
              .as(s"c$j")): _*)): _*)).as("sc")): _*)
      .select(col("cluster") +: col("sc.ss").as("ss") +:
        (0 until subDim).map(j => col(s"sc.c$j").as(s"c$j")): _*)
  }

  /** Subspace distance of `embCol` to a pqCents row, LEFT-ASSOCIATED
    * (the q79 bit-stability discipline); the element index rides the
    * row's own ss column. */
  private def pqSubDist(embCol: String, subDim: Int): Column =
    (0 until subDim).map { j =>
      val xi = element_at(col(embCol), col("ss") * subDim + j + 1)
        .cast("double")
      (xi - col(s"c$j")) * (xi - col(s"c$j"))
    }.reduce(_ + _)

  /** Encode: corpus × broadcast codebook rows collapsed by ONE
    * map-side-combined (vec, subspace) argmin → (vec_id, ss, code). */
  private[graft] def pqCodes(e: DataFrame, cents: DataFrame, subDim: Int): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("dist", pqSubDist("embedding", subDim))
      .groupBy(col("vec_id"), col("ss"))
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("ss"), col("m.cluster").as("code"))

  /** ADC distance table (q_id, ss, code, gd): per-query subspace
    * distances to every codebook entry, floored to 1e-6 BIGINT
    * granules so downstream sums are order-independent. */
  private[graft] def pqDtable(qv: DataFrame, cents: DataFrame, subDim: Int): DataFrame =
    qv.crossJoin(broadcast(cents))
      .withColumn("gd", floor(pqSubDist("q_emb", subDim) * lit(1e6)).cast("long"))
      .select(col("q_id"), col("ss"), col("cluster").as("code"), col("gd"))

  val queries: Map[String, Q] = Map(
    // Exact cosine top-5 neighbors for a fixed 10-vector query set.
    "q38_cosine_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      topK(e.filter(col("vec_id") < 10), e, 5)
        .orderBy("q_id", "rank")
    }),

    // Matryoshka TWO-STAGE serving — the production pattern q148's
    // recall sweep motivates: stage 1 ranks every candidate by the
    // 16-dim PREFIX dot (the Matryoshka head — ¼ of the arithmetic)
    // and keeps top-32 per query, stage 2 pays full-dimension exact
    // cosine only for the 32 survivors. Both ranks compile to
    // WindowGroupLimit (per-partition pruning before the q_id
    // exchange, PlanSpec-pinned). Fully deterministic: the prefix dot
    // is the same integer-scaled sum as the exact route, so the whole
    // two-stage serve — including which candidates survive —
    // hash-matches the oracle spelling it verbatim. Scale: stage 1 is
    // the only corpus-sized pass and it runs at prefix-width cost;
    // stage 2 touches 32 rows/query.
    "q209_matryoshka_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          norm(col("embedding")).as("q_norm"))
      val c = fanOut(e).select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      val wP = Window.partitionBy(col("q_id"))
        .orderBy(col("pdot").desc, col("c_id"))
      val survivors = c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("pdot",
          dotScaled(slice(col("q_emb"), 1, 16), slice(col("c_emb"), 1, 16)))
        .withColumn("prank", row_number().over(wP))
        .filter(col("prank") <= 32)
      val wF = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id"))
      survivors
        .select(col("q_id"), col("c_id"),
          cosinePre(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm"))
            .as("cos"))
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("c_id"), col("cos"),
          col("rank").cast("int").as("rank"))
        .orderBy("q_id", "rank")
    }),

    // Embedding near-dup pairs above a cosine threshold, bounded slice.
    "q39_embedding_neardup" -> ((s, dir) => {
      val e = fanOut(Tables.embeddings(s, dir).filter(col("vec_id") < 300))
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_n"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_n"))
      a.join(broadcast(b), col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          cosinePre(col("a_emb"), col("b_emb"), col("a_n"), col("b_n")).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy("a_id", "b_id")
    }),

    // Scale path: MULTIPROBE multi-table sign-LSH ANN — 12 independent
    // 8-bit hyperplane tables; the CORPUS indexes one bucket per table,
    // the QUERY probes its own bucket plus all 8 one-bit-flip neighbours
    // (Lv et al.'s multiprobe trick); exact cosine re-rank over the
    // union. (Approximate ⇒ no SQL oracle; recall asserted in
    // SimilaritySpec against q38.)
    // Sizing, measured on the fixture (RecallSweep): this corpus's
    // true top-5 neighbors sit at modest cosine (~0.4-0.6), where
    // single-probe tables waste candidates — plain 24-table×5-bit needs
    // 54% of the corpus as candidates for recall 0.76, while multiprobe
    // 12×8 reaches the same 0.76 at 37%: probing the Hamming-1 ball of
    // a SMALL bucket beats enlarging the bucket, because the corpus
    // side stays 1/256-occupied per table and only the query fans out.
    "q40_ann_lsh" -> ((s, dir) => {
      multiprobeTopK(Tables.embeddings(s, dir), col("vec_id") < 10,
        tables = 12, bits = 8, k = 5)
        .orderBy("q_id", "rank")
    }),

    // ANN quality evaluation — recall@5 of the sign-LSH index against
    // the exact top-5, per query: the measurement loop every ANN
    // deployment runs before trusting an index (tune tables/bits until
    // this report clears the bar). Composes the two registered queries;
    // the join is per-(query, neighbor) — no corpus data moves.
    // (Scores the approximate op ⇒ rows-only; SimilaritySpec pins the
    // report against an independently computed intersection.)
    "q81_ann_recall" -> ((s, dir) => {
      // cached: ex feeds both the hit semi-join and the n_exact
      // aggregate — uncached, the whole exact top-k pipeline (the most
      // expensive subtree here) would execute twice
      val ex = graft.Caches.cached(
        queries("q38_cosine_topk")(s, dir).select(col("q_id"), col("c_id")))
      val an = queries("q40_ann_lsh")(s, dir).select(col("q_id"), col("c_id"))
      val hits = ex.join(an, Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      ex.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_exact").cast("double")).as("recall"))
        .orderBy("q_id")
    }),

    // Scale path #2: IVF coarse-quantized ANN — 16 deterministic
    // centroids, 6-cell probe, exact re-rank. (Approximate ⇒ rows-only.)
    // nprobe=6/16 measures recall@5 = 0.78 on the fixture (up from 0.34
    // at nprobe=2); 6/16 of a 500-vector corpus looks wide, but the
    // probe FRACTION is a fixture artifact: a production IVF sizes
    // centroids ~√N, so a fixed nprobe scans nprobe·N/√N = nprobe·√N
    // vectors — vanishing as a fraction of the corpus as N grows.
    "q43_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      ivfTopK(e, e.filter(col("vec_id") < 10), nCentroids = 16, k = 5, nprobe = 6)
        .orderBy("q_id", "rank")
    }),

    // Scale path for q39's threshold near-dup: MULTIPROBE sign-LSH
    // bucket collision proposes candidate pairs (equi-join on (table,
    // bucket) — never the corpus² broadcast q39 uses at local scale),
    // exact cosine verifies. One side indexes its exact 8-bit bucket,
    // the other probes its Hamming-1 ball, so any pair whose buckets
    // differ by ≤1 bit in ANY of the 8 tables collides (measured pair
    // recall 0.71 on the fixture vs 0.33 for single-probe 8×6 — same
    // reasoning as q40: small buckets + query-side fan-out beats big
    // buckets). Every emitted pair is a TRUE ≥-threshold pair
    // (precision 1 by construction — SimilaritySpec asserts q48 ⊆ q39);
    // candidate recall is probabilistic, floored in the spec.
    // (Approximate ⇒ rows-only.)
    "q48_embedding_neardup_lsh" -> ((s, dir) => {
      multiprobePairs(Tables.embeddings(s, dir).filter(col("vec_id") < 300),
        tables = 8, bits = 8, threshold = 0.4)
        .orderBy("a_id", "b_id")
    }),

    // PRODUCTION SERVING PATH for q43's IVF: build the PERSISTED index
    // (writeIvfIndex — the assignment pass a 100 TB deployment runs
    // ONCE at ingest, cells laid out as partition directories), then
    // serve top-k touching only the probed cells' files — the vector
    // analogue of the reference's latest-snapshot partition pruning
    // (update_ticker_info.py:47-54). Output is exactly the transient
    // q43 computation (parity + partition-pruning asserted in
    // SimilaritySpec on THIS query's plan), so rows-only like q43.
    // Bench note: the index builds ONCE per process (Scratch.ensure —
    // collision-free per-run path), so rep 1 pays the
    // cold build and rep 2+ times SERVING — production amortizes the
    // build across every query after it, and the bench line now
    // reflects that.
    "q87_ivf_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val idxDir = graft.Scratch.ensure(graft.Scratch.dirFor("ivf", dir)) {
        writeIvfIndex(e, graft.Scratch.dirFor("ivf", dir), nCentroids = 16)
      }
      ivfTopKIndexed(s, idxDir, e.filter(col("vec_id") < 10), k = 5, nprobe = 6)
        .orderBy("q_id", "rank")
    }),

    // INCREMENTAL SERVING PATH: q87's persisted index built on the
    // initial corpus slice, tonight's batch appended against the
    // STORED centroids (no corpus re-read, no retrain), then served.
    // Build-then-append == one-shot union assignment under the same
    // centroids (SimilaritySpec pins content + serving equality), so
    // this entry is rows-only like q87/q43 — the approximation is the
    // IVF probe, not the append. Queries probe from the ORIGINAL slice
    // so results exercise cross-generation candidates (old query, new
    // neighbors).
    "q103_ivf_append_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val idxDir = graft.Scratch.ensure(graft.Scratch.dirFor("ivfa", dir)) {
        val d = graft.Scratch.dirFor("ivfa", dir)
        writeIvfIndex(e.filter(col("vec_id") < 400), d, nCentroids = 16)
        appendToIvfIndex(s, d, e.filter(col("vec_id") >= 400))
      }
      ivfTopKIndexed(s, idxDir, e.filter(col("vec_id") < 10), k = 5, nprobe = 6)
        .orderBy("q_id", "rank")
    }),

    // One full Lloyd iteration (assign → update → REassign) — q56 is
    // the update half; this closes the loop, oracle-exactly. Seed
    // assignment is vec_id % 8; centroids are exact rationals
    // (scaled-long numerator sums, so the reduction is
    // order-independent) divided once into doubles; the reassignment
    // distance is a LEFT-ASSOCIATED 64-term IEEE sum (identical
    // grouping in both engines ⇒ bit-identical doubles ⇒ identical
    // argmins, ties broken by cluster id). Scale shape: centroid table
    // is k×d (tiny, broadcast); reassignment scans the corpus once and
    // map-side-combines the per-vector argmin, so the only exchange
    // carries one (id, winner) row per vector — the same per-iteration
    // cost profile a production k-means on 100 TB has, with no
    // driver-side vector math.
    "q79_kmeans_step" -> ((s, dir) => {
      lloydAssign(Tables.embeddings(s, dir))
        .groupBy(col("cell").as("cluster"))
        .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_vec_id"))
        .orderBy("cluster")
    }),

    // SEMANTIC DEDUP CAPSTONE (SemDeDup regime, Abbas et al. 2023 —
    // cluster the embedding space, then pay the quadratic cosine ONLY
    // within a cell): deterministic one-Lloyd-step cells → within-cell
    // exact cosine pairs at >= 0.4 → connected components → keep the
    // min-id representative → per-cell accounting. Every stage is the
    // hash-matched spelling of an existing query (q79 assignment, q39
    // cosine, q49 closure, q65 accounting), so unlike LSH-candidate
    // dedup the WHOLE semantic chain carries a DuckDB oracle. Scale
    // shape: the pair join shuffles both sides once on `cell` and is
    // quadratic only within a cell — at 100 TB you raise nCells until
    // cells fit an executor (the SemDeDup bound); components sees only
    // survivor pairs; accounting aggregates before joining.
    "q90_semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      // Assignment keeps the embedding column inline, so the former
      // e ⋈ lloydAssign(e) join-back (one corpus exchange each side at
      // scale) is gone — see lloydAssignKeep
      val withCell = graft.Caches.cached(
        lloydAssignKeep(e, lloydCents(e, 8, 64), 64, Seq("embedding"))
          .select(col("vec_id"), col("embedding"), col("cell"),
            norm(col("embedding")).as("nrm")))
      def side(p: String): DataFrame = withCell.select(
        col("vec_id").as(s"${p}_id"), col("cell"),
        col("embedding").as(s"${p}_emb"), col("nrm").as(s"${p}_nrm"))
      // cached: components() symmetrizes pairs with a self-union
      val pairs = graft.Caches.cached(side("a").join(side("b"), Seq("cell"))
        .filter(col("a_id") < col("b_id"))
        .filter(cosinePre(col("a_emb"), col("b_emb"),
          col("a_nrm"), col("b_nrm")) >= 0.4)
        .select("a_id", "b_id"))
      // uniquePairs: one cell per vector, so the a<b cell join emits each pair once
      val removed = graft.dedup.Dedup.components(pairs, uniquePairs = true)
        .filter(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id").as("vec_id"))
      val survivors = withCell.join(removed, Seq("vec_id"), "left_anti")
        .groupBy(col("cell")).agg(count(lit(1)).as("n_survivors"))
      // totals are the base side: a cell whose every vector is removed
      // must still report n_survivors = 0, not vanish (q65 pattern)
      withCell.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        .join(survivors, Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          (col("n_vecs") - coalesce(col("n_survivors"), lit(0L))).as("n_removed"))
        .orderBy("cell")
    }),

    // PROTOTYPICALITY PRUNING (SSL-prototypes regime, Sorscher et al.
    // 2022 — q90's sibling in the data-pruning trilogy: dedup removes
    // redundancy, prototype selection keeps the m most CENTRAL
    // examples per cluster as the coreset): lloydAssign's cells carry
    // each vector's distance to its own centroid; rank within cell by
    // (dist, vec_id) and keep the top 10. Deterministic end to end —
    // the distance is the same left-associated IEEE sum q79's oracle
    // hash-proves — so the coreset is DuckDB-oracle-checked exactly.
    // Scale shape: one corpus scan for assignment (broadcast
    // centroids), one rank window partitioned by CELL (each partition
    // is corpus/nCells — at 100 TB raise nCells, same knob as q90);
    // output is m × nCells rows.
    "q96_prototype_coreset" -> ((s, dir) => {
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col("dist").asc, col("vec_id").asc)
      lloydAssign(Tables.embeddings(s, dir))
        .withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 10)
        .select(col("cell"), col("rank"), col("vec_id"), col("dist"))
        .orderBy("cell", "rank")
    }),

    // MATRYOSHKA TRUNCATION SWEEP (Kusupati et al. 2022): how much
    // retrieval quality survives serving only a PREFIX of each
    // embedding — the dimensionality-vs-recall trade an embedding
    // store tunes before committing to a truncated index. For d ∈
    // {8, 16, 32}, exact cosine top-10 under the first d dims, scored
    // as overlap with the full-64-dim top-10 per query. Every leg is
    // the q38 exact-top-k machinery on sliced arrays (same
    // decimal-pinned dot, same zero-norm guard, same tie-break), so
    // the whole sweep is oracle-checked — no sampling, no
    // approximation. Scale shape: three broadcast-query scans (the
    // q38 shape × |dims|); overlap joins on (q_id, c_id) are
    // top-k-sized, never corpus-sized.
    "q148_matryoshka_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val full = graft.Caches.cached(topK(e.filter(col("vec_id") < 10), e, 10)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit")))
      Seq(8, 16, 32).map { d =>
        val t = e.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
        topK(t.filter(col("vec_id") < 10), t, 10)
          .select(lit(d).as("dims"), col("q_id"), col("c_id"))
      }.reduce(_ unionAll _)
        .join(full, Seq("q_id", "c_id"), "left")
        .groupBy("dims", "q_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .orderBy("dims", "q_id")
    }),

    // MMR DIVERSITY RE-RANK (Carbonell & Goldstein 1998) — the
    // redundancy-aware selection step a retrieval-augmented pipeline
    // runs AFTER top-k: from each query's 10 best candidates, greedily
    // keep 5 maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    // kept with λ = 1/2, so near-duplicate hits stop crowding out
    // coverage. Everything is EXACT integer arithmetic — vectors are
    // q69's int8 codes, relevance and inter-candidate similarity are
    // integer dot products, and with λ = 1/2 the argmax of λ·rel −
    // (1−λ)·sim equals the argmax of the all-integer rel − max_sim
    // (mmr2x, 2× the classic score) — so the greedy trajectory is
    // deterministic (ties → smaller vec_id) and the DuckDB oracle
    // replays it pick for pick. Scale shape: the corpus sees ONE
    // broadcast-query scan (the q38 shape, PlanSpec-allowlisted);
    // after the top-10 cut the greedy is per-query LOCAL (one fold
    // over ≤10 candidates), so no global barrier exists past the cut
    // no matter the corpus or query-set size.
    "q154_mmr_rerank" -> ((s, dir) => {
      graft.plans.DotLong.register(s)
      val mx = expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
      val qArr = expr(
        """transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 127.0 / mxabs + 0.5) AS BIGINT))""")
      val zeros = expr("transform(embedding, x -> CAST(0 AS BIGINT))")
      val codes = graft.Caches.cached(Tables.fanOut(Tables.embeddings(s, dir))
        .withColumn("mxabs", mx)
        .select(col("vec_id"),
          when(col("mxabs") === 0.0, zeros).otherwise(qArr).as("q")))
      val queries = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      // codegen'd integer dot (plans/DotLong); the HOF spelling is the
      // interpreted lockstep reference, pinned equal in SimilaritySpec
      val idot = "dot_long(%s, %s)"
      val wRel = Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("vec_id").asc)
      val cand = graft.Caches.cached(
        codes.filter(col("vec_id") >= 10).crossJoin(broadcast(queries))
          .select(col("query_id"), col("vec_id"),
            expr(idot.format("q", "qq")).as("rel"), col("q"))
          .withColumn("rn", row_number().over(wRel)).filter(col("rn") <= 10)
          .select("query_id", "vec_id", "rel", "q"))
      // The greedy itself is PER-QUERY LOCAL once the top-10 cut is
      // made — ≤10 candidates and ≤45 pairwise dots per query — so it
      // runs as ONE fold over each query's candidate array (nested
      // HOFs + the dot_long kernel), not as 4 driver-sequenced rounds
      // of global joins: k global barriers would serialize every
      // query behind the slowest round, while this shape is
      // embarrassingly parallel after a single groupBy. The fold is
      // interpreted (HOFs are CodegenFallback) but touches only the
      // bounded post-cut arrays, never the corpus.
      val pickStruct =
        "STRUCT<rank: INT, vec_id: BIGINT, rel: BIGINT, mmr2x: BIGINT, q: ARRAY<BIGINT>>"
      val picks = s"""
        aggregate(
          sequence(1, 5),
          CAST(array() AS ARRAY<$pickStruct>),
          (acc, k) -> array_append(acc,
            aggregate(
              transform(
                filter(cs, c -> NOT exists(acc, p -> p.vec_id = c.vec_id)),
                c -> named_struct(
                  'rank', CAST(k AS INT),
                  'vec_id', c.vec_id,
                  'rel', c.rel,
                  'mmr2x', c.rel - (CASE WHEN size(acc) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE aggregate(acc, CAST(-4611686018427387904 AS BIGINT),
                           (m, p) -> greatest(m, dot_long(c.q, p.q))) END),
                  'q', c.q)),
              CAST(NULL AS $pickStruct),
              (best, c) -> CASE WHEN best IS NULL THEN c
                                WHEN c.mmr2x > best.mmr2x THEN c
                                WHEN c.mmr2x = best.mmr2x
                                     AND c.vec_id < best.vec_id THEN c
                                ELSE best END)))"""
      cand.groupBy("query_id")
        .agg(collect_list(struct(col("vec_id"), col("rel"), col("q"))).as("cs"))
        .select(col("query_id"), expr(picks).as("picks"))
        .select(col("query_id"), expr("inline(picks)"))
        .filter(col("vec_id").isNotNull) // a <5-candidate query pads with NULL picks
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("rel"), col("mmr2x"))
        .orderBy("query_id", "rank")
    }),

    // HARD-NEGATIVE MINING — the contrastive-training-data extractor:
    // per query, its best SAME-label neighbor (the positive) and its
    // best DIFFERENT-label neighbor (the hard negative — the lure a
    // contrastive loss most needs to see), plus the cosine margin
    // between them. Uses the labeled embeddings table's label column
    // and q38's exact decimal-pinned cosine spelling, so the whole
    // report is hash-checked; ties break to the smaller candidate id
    // on both engines. Scale shape: one broadcast-query corpus scan
    // (the q38 shape), then ONE map-side-combined per-query aggregate
    // — the same-label/different-label argmaxes are FILTERed max_by's
    // inside a single groupBy, no window, no second scan.
    "q157_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          norm(col("embedding")).as("q_norm"), col("label").as("q_label"))
      val c = fanOut(e.filter(col("vec_id") >= 10))
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          norm(col("embedding")).as("c_norm"), col("label").as("c_label"))
      val scored = c.crossJoin(broadcast(q))
        .select(col("q_id"), col("c_id"),
          cosinePre(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")).as("cos"),
          (col("c_label") === col("q_label")).as("same"))
      val pick = "max_by(named_struct('id', c_id, 'cos', cos), " +
        "named_struct('c', cos, 'v', -c_id)) FILTER (WHERE %s)"
      scored.groupBy("q_id")
        .agg(expr(pick.format("same")).as("p"),
          expr(pick.format("NOT same")).as("n"))
        .select(col("q_id"),
          col("p.id").as("pos_id"), col("p.cos").as("pos_cos"),
          col("n.id").as("neg_id"), col("n.cos").as("neg_cos"),
          (col("p.cos") - col("n.cos")).as("margin"))
        .orderBy("q_id")
    }),

    // PER-LABEL EMBEDDING DISPERSION — the dataset-diversity probe a
    // curation team reads before balancing classes: for each label,
    // the mean squared distance of its vectors to their own centroid,
    // computed EXACTLY via the algebraic identity n·Σ||x||² − ||Σx||²
    // over 1e-6-scaled integer coordinates — no centroid division, no
    // sqrt, no doubles cross the engines. A label with collapsed
    // dispersion is near-duplicate mass wearing one tag; an outsized
    // one is probably mislabeled. ||x||² rides the dot_long kernel
    // (its second call site). Scale shape: one narrow pass for the
    // per-vector norms + one posexplode into a (label, dim)-keyed
    // map-side-combined sum (64·|labels| keys) — nothing quadratic,
    // nothing corpus-sized past the scans. Overflow bound: with
    // |x| ≤ 1, n·Σ||x||² ≤ n²·64·10¹² ⇒ safe to ~380k vectors/label
    // in int64 (document scale knob: raise the label granularity or
    // drop to 1e-3 scaling past that).
    "q164_label_dispersion" -> ((s, dir) => {
      graft.plans.DotLong.register(s)
      val e = graft.Caches.cached(Tables.fanOut(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("label"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
          .as("f")))
      val a = e.select(col("label"),
        call_function(graft.plans.DotLong.NAME, col("f"), col("f")).as("sq"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum(col("sq")).as("ssq"))
      val b = e.select(col("label"), posexplode(col("f")).as(Seq("d", "v")))
        .groupBy("label", "d").agg(sum(col("v")).as("sx"))
        .groupBy("label").agg(sum(expr("sx * sx")).as("s2"))
      a.join(b, Seq("label"))
        .select(col("label"), col("n_vecs"),
          (col("n_vecs") * col("ssq") - col("s2")).as("disp_num"),
          expr("(n_vecs * ssq - s2) DIV (n_vecs * n_vecs)").as("msd_e12"))
        .orderBy("label")
    }),

    // INTER-LABEL SEPARATION MATRIX — q164's complement: the pairwise
    // distance between label CENTROIDS, the between-class half of a
    // Fisher-style separability read on the embedding space. Means
    // are 1e-6 fixed-point integers via bias-then-DIV — (S + n·2e6)
    // DIV n − 2e6 keeps the numerator nonnegative so Spark's
    // truncating DIV and DuckDB's flooring // agree (the q145
    // negative-division dodge) — and the Σ_d diff² rollup stays
    // ≤ 4e12·64 ≪ int64. Scale shape: the per-(label, dim) sum is
    // map-side-combined (|labels|·64 keys); the pair join on dim and
    // the final rollup run on that BOUNDED table — corpus size only
    // touches the first reduce.
    "q171_label_separation" -> ((s, dir) => {
      val e = Tables.fanOut(Tables.embeddings(s, dir))
        .select(col("label"), expr(
          """transform(embedding, x ->
             CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))""")
          .as("f"))
        .select(col("label"), posexplode(col("f")).as(Seq("d", "v")))
        .groupBy("label", "d")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"))
        .withColumn("m", expr("(sx + n * 2000000) DIV n - 2000000"))
      val a = e.select(col("label").as("label_a"), col("d"),
        col("n").as("n_a"), col("m").as("m_a"))
      val b = e.select(col("label").as("label_b"), col("d").as("d2"),
        col("n").as("n_b"), col("m").as("m_b"))
      a.join(b, col("d") === col("d2") && col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
          sum((col("m_a") - col("m_b")) * (col("m_a") - col("m_b")))
            .as("sep_e12"))
        .select(col("label_a").cast("long").as("label_a"),
          col("label_b").cast("long").as("label_b"),
          col("n_a"), col("n_b"), col("sep_e12"))
        .orderBy("label_a", "label_b")
    }),

    // CLUSTER-BALANCED QUOTA SAMPLING — the third member of the q90/q96
    // data-pruning family: instead of deduping or keeping prototypes,
    // draw a 20% corpus sample whose CLUSTER MIX matches the full
    // corpus (the balanced-sampling step curation pipelines run after
    // clustering so no semantic region is over/under-represented).
    // Quotas are Hamilton largest-remainder apportionment — base_c =
    // ⌊K·n_c/N⌋, the K−Σbase leftovers go to the cells with the
    // largest remainders (tie: cell id) — which is EXACT integer
    // arithmetic, so the whole allocation is oracle-checkable; the
    // within-cell draw is the q60 md5-key order (reproducible
    // pseudo-randomness, no RNG). Scale shape: the quota table is
    // nCells rows (its windows run on that bounded table, not the
    // corpus); the within-cell rank partitions by cell — corpus/nCells
    // rows per task, the same raise-nCells knob as q90/q96; the quota
    // join back is an nCells-row broadcast.
    "q146_cluster_quota_sample" -> ((s, dir) => {
      val wCells = Window.partitionBy(lit(1))
      val assigned = graft.Caches.cached(
        lloydAssign(Tables.embeddings(s, dir)).select("vec_id", "cell"))
      val quotas = assigned.groupBy("cell").agg(count(lit(1)).as("n_c"))
        .withColumn("n", sum(col("n_c")).over(wCells))
        .withColumn("k", expr("n DIV 5"))
        .withColumn("base", expr("(k * n_c) DIV n"))
        .withColumn("rem", expr("(k * n_c) % n"))
        .withColumn("l", col("k") - sum(col("base")).over(wCells))
        .withColumn("rk", row_number().over(
          wCells.orderBy(col("rem").desc, col("cell"))))
        .select(col("cell"), col("n_c"),
          (col("base") +
            when(col("rk") <= col("l"), 1L).otherwise(0L)).as("quota"))
      val picks = assigned.withColumn("rn", row_number().over(
        Window.partitionBy(col("cell"))
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))))
      val sel = picks.join(broadcast(quotas.select("cell", "quota")), Seq("cell"))
        .filter(col("rn") <= col("quota"))
        .groupBy("cell").agg(count(lit(1)).as("n_selected"),
          sum(col("vec_id")).as("sel_sum"),
          min(col("vec_id")).as("sel_min"), max(col("vec_id")).as("sel_max"))
      quotas.join(sel, Seq("cell"), "left")
        .select(col("cell"), col("n_c").as("n_vecs"), col("quota"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          coalesce(col("sel_sum"), lit(0L)).as("sel_sum"),
          coalesce(col("sel_min"), lit(-1L)).as("sel_min"),
          coalesce(col("sel_max"), lit(-1L)).as("sel_max"))
        .orderBy("cell")
    }),

    // Per-cluster centroid computation — the k-means update step an IVF
    // index trains with, as one exact distributed aggregate: posexplode
    // the vectors, scaled-long sum per (cluster, dim) (order-independent
    // ⇒ cross-engine exact), divide once. One shuffle on (cluster, dim)
    // with map-side partials; at 100 TB this is THE shape for centroid
    // updates — no driver-side vector math, no collect.
    "q56_embedding_centroid" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select((col("vec_id") % 8).as("cluster"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), (col("pos") + 1).as("dim"))
        .agg(count(lit(1)).as("n"),
          ((sum(floor(col("v").cast("double") * lit(FP)).cast("long")).cast("double") / FP)
            / count(lit(1))).as("centroid"))
        .orderBy("cluster", "dim")
    }),

    // Symmetric int8 quantization — the vector-compression step an
    // embedding store applies before ANN serving (per-vector scale =
    // 127/max|x|, round-half-up). Pure per-row array math, no shuffle;
    // the compare surface is integer checksums (sum/min/max of the
    // quantized codes), exact on both engines because every step is
    // the same IEEE double formula. Zero vectors quantize to all-zero
    // codes rather than dividing by zero.
    "q69_quantize" -> ((s, dir) => {
      val mx = expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
      val qArr = expr(
        """transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 127.0 / mxabs + 0.5) AS BIGINT))""")
      val zeros = expr("transform(embedding, x -> CAST(0 AS BIGINT))")
      Tables.embeddings(s, dir).filter(col("vec_id") < 200)
        .withColumn("mxabs", mx)
        .withColumn("q", when(col("mxabs") === 0.0, zeros).otherwise(qArr))
        .select(col("vec_id"), size(col("embedding")).as("n_dims"),
          col("mxabs").cast("double").as("max_abs"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
          expr("CAST(array_min(q) AS INT)").as("q_min"),
          expr("CAST(array_max(q) AS INT)").as("q_max"))
        .orderBy("vec_id")
    }),

    // Johnson–Lindenstrauss random projection 64-d → 8-d: the standard
    // dimensionality cut before clustering/ANN at 100 TB (Achlioptas
    // 2003 ±1 database-friendly projections). The sign matrix is
    // DETERMINISTIC — sign(j,k) = parity of the first hex char of
    // md5("j:k") — so both engines derive the identical matrix with no
    // RNG, no shipped table; elements are floored to 1e-6 fixed point
    // first, so each projected coordinate is an exact integer sum.
    // Scale shape: ONE narrow per-row pass through the codegen'd
    // random_project kernel (each element read once, all 8 sums
    // accumulated in a primitive long[] — the interpreted HOF
    // reference in SimilaritySpec takes 8 CodegenFallback folds), then a
    // posexplode Generate to long form (no d×8 join, no shuffle
    // before the output sort). At a 1000-executor scale-up the pass
    // stays embarrassingly parallel.
    "q115_random_projection" -> ((s, dir) => {
      graft.plans.RandomProject.register(s)
      Tables.fanOut(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          call_function(graft.plans.RandomProject.NAME,
            col("embedding"), lit(8), lit(64)).as("proj8"))
        .select(col("vec_id"), posexplode(col("proj8")).as(Seq("k", "proj")))
        .select(col("vec_id"), col("k").cast("long").as("k"), col("proj"))
        .orderBy("vec_id", "k")
    }),

    // Index drift report — the rebuild advisor for the q103 append
    // loop: after appends, how far has each cell's TRUE centroid moved
    // from the one the index was built with, and how much of the cell
    // is new? Spelled STATE-FREE (the q85/q65 exact-twin pattern) so
    // the whole computation is oracle-checkable: base = the build-time
    // stride blocks ((vec_id DIV 8) % 2 = 0 — every cell keeps base
    // members by construction), cells = the q56 cluster notion
    // (vec_id % 8). Drift compares the two per-cell means EXACTLY as
    // integer rationals with a common denominator — max_d |sa_d·n2 −
    // sb_d·n1| DIV (n1·n2), in 1e-6 element units — so no double sum
    // ever crosses engines. Policy: rebuild when the new-vector share
    // exceeds 25% OR the max per-dim mean shift exceeds 0.002. Scale
    // shape: ONE map-side-combined aggregate over the corpus (128
    // conditional sums + counts per cell), then bounded per-cell
    // arithmetic; overflow bound documented at the drift spelling —
    // n_cell·5.3e5·n_cell must fit int64 ⇒ ~4·10^6 vectors/cell.
    "q121_index_drift" -> ((s, dir) => {
      val dims = 64
      def fx(i: Int): Column =
        floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e6))
          .cast("long")
      val agg = Tables.fanOut(Tables.embeddings(s, dir))
        .select((col("vec_id") % 8).as("cell") +:
          (expr("(vec_id DIV 8) % 2 = 0").as("base")) +:
          (0 until dims).map(i => fx(i).as(s"x$i")): _*)
        .groupBy("cell")
        .agg(count(lit(1)).as("n2"),
          sum(when(col("base"), 1L).otherwise(0L)).as("n1") +:
            (0 until dims).flatMap(i => Seq(
              sum(when(col("base"), col(s"x$i")).otherwise(0L)).as(s"sa$i"),
              sum(col(s"x$i")).as(s"sb$i"))): _*)
      val num = (0 until dims).map(i =>
        abs(col(s"sa$i") * col("n2") - col(s"sb$i") * col("n1")))
      agg
        .withColumn("mx", greatest(num: _*))
        .withColumn("drift_micro", expr("mx DIV (n1 * n2)"))
        .select(col("cell"), col("n1").as("n_base"),
          (col("n2") - col("n1")).as("n_new"),
          expr("((n2 - n1) * 1000) DIV n2").as("new_share_milli"),
          col("drift_micro"),
          (col("drift_micro") > 2000 ||
            expr("((n2 - n1) * 1000) DIV n2") > 250).as("rebuild"))
        .orderBy("cell")
    }),

    // PRODUCT QUANTIZATION + ADC SERVING (Jégou et al. 2011) — the
    // vector-compression serving path between q69's whole-vector int8
    // and q87's IVF: the 64-d space splits into 8 subspaces of 8 dims;
    // each subspace gets a 256-entry codebook (q79's deterministic
    // one-Lloyd-step means over vec_id % 256 seed cells, per
    // subspace — the classic PQ 8-bit-code configuration), every
    // vector encodes to 8 one-byte codes (argmin subspace
    // distance, cluster-id tie-break), and a query is served by
    // Asymmetric Distance Computation: its 8×16 distance table is
    // precomputed once, a candidate's distance is the SUM OF 8 TABLE
    // LOOKUPS — the corpus pays code bytes, not float reads. Every
    // number that crosses an aggregation is fixed-point: table entries
    // floor to 1e-6 granules (BIGINT) so the 8-term ADC sum is
    // order-independent, and the codebook/assignment arithmetic is
    // q79's bit-stable left-associated spelling — fully deterministic
    // ⇒ DuckDB hash-matched. Scale shape: codebooks are 2048 rows
    // (broadcast); encoding is corpus × 2048 broadcast rows collapsed
    // by ONE map-side-combined (vec, subspace) argmin; serving joins
    // codes to the 20480-row broadcast distance table on (subspace,
    // code) and sums per (query, vec) — one exchange; the top-10 rank
    // compiles to WindowGroupLimit. Serving rides the PERSISTED index:
    // [[writePqIndex]] trains codebooks and encodes
    // the corpus ONCE per process (Scratch.ensure, charged to Bench's
    // untimed build phase), and the query reads codes + codebooks —
    // the production profile, where re-encoding the corpus per query
    // batch is the 100 TB scale-killer. The state-free spelling
    // survives as [[pqAdcStateFree]]; SimilaritySpec pins store ==
    // state-free bit-equality, so the unchanged DuckDB oracle still
    // hash-matches. Recall vs exact top-10 is pinned in SimilaritySpec.
    "q185_pq_adc_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val idxDir = graft.Scratch.ensure(graft.Scratch.dirFor("pq", dir)) {
        writePqIndex(e, graft.Scratch.dirFor("pq", dir))
      }
      pqAdcTopKIndexed(s, idxDir,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        k = 10)
        .orderBy("q_id", "rank")
    }),

    // IVF + PQ COMPOSITION (the FAISS IVFPQ serving shape — Jégou et
    // al. 2011, §IV): coarse cells prune the corpus BEFORE ADC pays
    // anything — each query ranks the 8 one-Lloyd-step cell centroids
    // (q79's assignment spelling, shared via lloydCents/lloydDist) and
    // probes only its best 2; PQ codes (q185's 8×256 codebooks, shared
    // helpers) serve ADC top-10 WITHIN the probed cells only. Fully
    // deterministic (argmin tie-breaks by cluster id, granule-integer
    // ADC sums) ⇒ DuckDB hash-matched — unlike q87's cosine-IVF the
    // whole probe+serve chain carries an oracle. Scale shape: the cell
    // list and both broadcast tables are bounded (8 cents / 2048
    // codebook rows / 20480 ADC rows); candidates = corpus ×
    // (nprobe/nCells) via a cell equi-join, codes attach by vec_id,
    // and the only corpus-sized exchange is the (q, vec) ADC sum; at
    // 100 TB the probed-cell code scan IS the read bound — the reason
    // production ANN is IVFPQ, not flat PQ (q185's corpus-wide scan).
    "q186_ivfpq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      // SAME store as q185 — one index, two serving modes (flat ADC
      // scan vs cell-pruned probe), exactly one build per process
      val idxDir = graft.Scratch.ensure(graft.Scratch.dirFor("pq", dir)) {
        writePqIndex(e, graft.Scratch.dirFor("pq", dir))
      }
      ivfpqTopKIndexed(s, idxDir,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        k = 10, nprobe = 2)
        .orderBy("q_id", "rank")
    }),

    // INCREMENTAL PQ SERVING (the persisted index's append half — the q103
    // contract on the PQ side): the index builds on the initial corpus
    // slice, tonight's batch is encoded against the STORED codebooks
    // and assigned against the STORED coarse centroids
    // ([[appendToPqIndex]] — batch cost, never corpus cost), then the
    // IVFPQ probe serves across both generations. Unlike q103 (cosine
    // re-rank ⇒ rows-only) the whole chain here is integer-granule
    // deterministic, so build+append+serve hash-matches a DuckDB
    // oracle that trains every table on the build slice and encodes
    // the FULL corpus against it — build-then-append == one-shot-
    // under-stored-tables is checked by the correctness gate itself.
    // EMBEDDING HEALTH AUDIT — per-dimension corpus statistics (mean,
    // variance, range for each of the 64 dims): the drift/collapse
    // gauge an embedding pipeline watches (a dim whose variance
    // collapses to 0 is dead; a shifted mean signals an encoder
    // regression — the q121 drift report's per-dimension sibling).
    // Exactness: moments accumulate as GRANULE-INTEGER sums
    // (floor(x·1e6), floor(x²·1e12) — the cosSql discipline), so the
    // corpus-wide reduction is order-independent and hash-matches;
    // mean/variance are derived by identical IEEE expression trees on
    // both engines. Granule-vs-cardinality: 1e12 square-granules hold
    // to ~9M rows/dim in a signed long — beyond that a deployment
    // drops to 1e10 or splits the sum (documented trade, ANSI mode
    // throws loudly rather than wrapping). Scale shape: one
    // posexplode pass, map-side-combined into 64 groups — no joins,
    // no windows.
    "q219_embedding_dim_stats" -> ((s, dir) => {
      val e = Tables.fanOut(Tables.embeddings(s, dir))
      e.select(posexplode(col("embedding")).as(Seq("i", "xf")))
        .select((col("i") + 1).cast("long").as("dim"),
          col("xf").cast("double").as("x"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x") * lit(1e6)).cast("long")).as("sx_micro"),
          sum(floor(col("x") * col("x") * lit(1e12)).cast("long")).as("sxx_pico"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"))
        .select(col("dim"), col("n"), col("sx_micro"), col("sxx_pico"),
          (col("sx_micro").cast("double") / lit(1e6) / col("n")).as("mean_x"),
          ((col("sxx_pico").cast("double") / lit(1e12) / col("n")) -
            (col("sx_micro").cast("double") / lit(1e6) / col("n")) *
            (col("sx_micro").cast("double") / lit(1e6) / col("n"))).as("var_x"),
          col("min_x"), col("max_x"))
        .orderBy("dim")
    }),

    // CLUSTERING-QUALITY EVALUATION — simplified silhouette over the
    // q79 Lloyd cells (Rousseeuw 1987's score with the centroid
    // approximation that makes it O(n·cells) instead of O(n²)): per
    // vector, d1 = distance to its own (nearest) centroid, d2 = to the
    // second-nearest; s = (d2−d1)/d2 ∈ [0,1], floored to 1e-6 integer
    // granules so the per-cell rollup is order-independent — the whole
    // chain rides the SAME left-associated bit-stable distances as
    // q79/q186, so it hash-matches DuckDB end to end. The per-vector
    // collect is BOUNDED at nCells=8 structs. Scale shape: one corpus
    // × 8-centroid broadcast pass, one vec-grain reduce, one
    // cell-grain rollup — no pairwise anything. This is the "is the
    // clustering any good" gauge the IVF/SemDeDup/coreset family
    // (q87/q90/q96) assumes but never measured.
    "q218_silhouette" -> ((s, dir) => {
      val e = Tables.fanOut(Tables.embeddings(s, dir))
        .select("vec_id", "embedding")
      val cents = lloydCents(e, nCells = 8, dims = 64)
      // The nCells=8 centroid table rides inlined in the codegen'd
      // lloyd_dists kernel, so the two-nearest pick is one in-row sorted
      // array — the former corpus×8 crossJoin fan-out and the per-vector
      // collect_list exchange are gone; the kernel sorts by
      // the same (cdist, c_cluster) struct comparator as the old sorted
      // collect_list ⇒ bit-identical (d1, d2, cell).
      val two = e
        .withColumn("ds", lloydDistsSorted(cents, 64, col("embedding")))
        .select(col("vec_id"),
          col("ds").getItem(0).getField("c_cluster").as("cell"),
          col("ds").getItem(0).getField("cdist").as("d1"),
          col("ds").getItem(1).getField("cdist").as("d2"))
        .filter(col("d2") > 0) // degenerate duplicate centroids only
      two
        .select(col("cell"),
          floor(lit(1e6) * (col("d2") - col("d1")) / col("d2"))
            .cast("long").as("s_micro"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("s_micro")).as("sum_s_micro"),
          (sum(col("s_micro")).cast("double") / count(lit(1)) / lit(1e6))
            .as("mean_sil"),
          min(col("s_micro")).as("min_s_micro"),
          max(col("s_micro")).as("max_s_micro"))
        .orderBy("cell")
    }),

    "q215_pq_append_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val idxDir = graft.Scratch.ensure(graft.Scratch.dirFor("pqa", dir)) {
        val d = graft.Scratch.dirFor("pqa", dir)
        writePqIndex(e.filter(col("vec_id") < 400), d)
        appendToPqIndex(s, d, e.filter(col("vec_id") >= 400))
      }
      ivfpqTopKIndexed(s, idxDir,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        k = 10, nprobe = 2)
        .orderBy("q_id", "rank")
    }),

    // DECREMENTAL PQ SERVING — the RTBF path ([[deleteFromPqIndex]]):
    // the index builds on the full corpus, a deterministic deletion
    // set (vec_id % 7 == 3, spread across every cell) is removed by
    // partition-scoped rewrite WITHOUT retraining, and the IVFPQ probe
    // serves the survivors. Hash-matched against an oracle that trains
    // on the FULL corpus but restricts candidates to survivors —
    // exactly the decremental contract (stored geometry unchanged,
    // deleted vectors unreachable). Deleted ids still QUERY (RTBF
    // forbids returning them, not serving their owner); the gate's
    // hash proves none of them ever appears as a candidate.
    "q226_pq_delete_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val idxDir = graft.Scratch.ensure(graft.Scratch.dirFor("pqd", dir)) {
        val d = graft.Scratch.dirFor("pqd", dir)
        writePqIndex(e, d)
        deleteFromPqIndex(s, d,
          e.filter(col("vec_id") % 7 === 3).select("vec_id"))
      }
      ivfpqTopKIndexed(s, idxDir,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        k = 10, nprobe = 2)
        .orderBy("q_id", "rank")
    })
  )

  /** IVF (inverted-file) ANN: deterministic coarse centroids, cell
    * assignment by max cosine, nprobe-cell probe + exact re-rank; the
    * query set is caller-chosen (a vec_id DataFrame), like [[topK]]. The cell
    * assignment is one broadcast pass (corpus × C centroids); queries
    * only scan their 2 nearest cells — at scale each cell is a
    * partition-pruned slice, so probe cost is corpus/C × nprobe.
    * Centroids here are a deterministic id-stride sample (k-means would
    * drift with RNG; the structure, not the clustering quality, is what
    * the operator contributes), strided over the CORPUS's own id range —
    * the max(vec_id) lookup is a 1-value driver action on an aggregated
    * row (the documented bounded-collect pattern), so centroids cover
    * any corpus, not a hard-coded fixture range. */
  def ivfTopK(e: org.apache.spark.sql.DataFrame, queries: org.apache.spark.sql.DataFrame,
              nCentroids: Int, k: Int, nprobe: Int): DataFrame =
    strideCentroids(e, nCentroids) match {
      case None => // empty corpus: max() is NULL, not a row to index
        e.sparkSession.emptyDataFrame // 0 rows in, 0 rows out
          .select(lit(0L).as("q_id"), lit(0L).as("c_id"),
            lit(0.0).as("cos"), lit(0).as("rank"))
      case Some(cents) =>
        // assignment: rank cells per corpus vector once (corpus × C).
        // Probes rank the QUERY embeddings directly (tiny × C) rather
        // than semi-joining the corpus ranking — so out-of-corpus query
        // vectors (the normal ANN serving case) probe correctly instead
        // of silently vanishing; in-corpus queries rank identically
        // either way.
        val assigned = rankCells(Tables.fanOut(e), cents)
          .filter(col("crank") === 1)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            col("nrm").as("c_norm"), col("cent_id").as("cell"))
        val probes = rankCells(queries.select("vec_id", "embedding"), cents)
          .filter(col("crank") <= nprobe)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_norm"), col("cent_id").as("cell"))
        rerankProbedCells(assigned, probes, k)
    }

  /** THE stride-derived coarse centroid table over the corpus id range
    * (deterministic — k-means would drift with RNG; the structure, not
    * clustering quality, is what the operator contributes); None for an
    * empty corpus. The max(vec_id) lookup is a 1-value driver action on
    * an aggregated row (the documented bounded-collect pattern). Shared
    * by the transient and persisted IVF paths so centroid derivation
    * can never drift between them. */
  private def strideCentroids(e: DataFrame, nCentroids: Int): Option[DataFrame] = {
    val maxRow = e.agg(max(col("vec_id"))).head
    if (maxRow.isNullAt(0)) None
    else {
      val stride = math.max((maxRow.getLong(0) + 1) / nCentroids, 1L)
      val centroidIds = (0 until nCentroids).map(_ * stride)
      Some(e.filter(col("vec_id").isin(centroidIds: _*))
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
          norm(col("embedding")).as("cent_norm")))
    }
  }

  /** THE cell-ranking pass: every vector of `vecs` cosine-scored
    * against the (broadcast) centroid table, rank-numbered per vector
    * (ties by cent_id) → (vec_id, embedding, nrm, cent_id, crank).
    * Shared by assignment (crank = 1) and probing (crank ≤ nprobe) in
    * both IVF paths. */
  private[graft] def rankCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val withNorm = vecs.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val scored = withNorm.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
        cosinePre(col("embedding"), col("cent_emb"), col("nrm"), col("cent_norm")).as("ccos"))
    val byVec = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    scored.withColumn("crank", row_number().over(byVec))
  }

  /** THE probed-cell exact re-rank: candidates = assigned corpus rows
    * in any probed cell, exact cosine, window top-k. Shared by both
    * IVF paths. */
  private def rerankProbedCells(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), col("q_emb"), col("c_emb"),
        col("q_norm"), col("c_norm"))
      .distinct()
      .select(col("q_id"), col("c_id"),
        cosinePre(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Build a PERSISTED IVF index: the corpus assigned to its nearest
    * coarse cell (same stride-derived centroids and cosine assignment
    * as [[ivfTopK]]) and written `partitionBy("cell")`, centroids
    * alongside. This is the production serving layout the in-query
    * [[ivfTopK]] computes transiently: at 100 TB the assignment pass
    * runs ONCE at ingest, and every query afterwards touches only its
    * probed cells' files via partition pruning (see
    * [[ivfTopKIndexed]]). */
  def writeIvfIndex(e: DataFrame, dir: String, nCentroids: Int): Unit = {
    val cents = strideCentroids(e, nCentroids)
      .getOrElse(throw new IllegalArgumentException("cannot index an empty corpus"))
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    rankCells(Tables.fanOut(e), cents)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/index")
  }

  /** Incremental IVF maintenance — the nightly-ingest analogue of
    * [[graft.dedup.Dedup.writeSignatureStore]] for the vector side:
    * assign ONLY the new batch against the index's STORED centroids
    * and append its cell rows to the partitioned layout. No corpus
    * re-read, no centroid re-train — at 100 TB the nightly cost is
    * batch-sized, and because assignment depends only on (vector,
    * stored centroids), build-then-append is EXACTLY the one-shot
    * assignment of the union corpus under the same centroids
    * (SimilaritySpec pins that equality, content and serving).
    * Centroid drift across many appends is the documented trade: a
    * production deployment retrains centroids on rotation (the
    * [[graft.streaming.Streaming.retireAndCompact]] maintenance
    * window) and rebuilds — the append path never does it silently. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       batch: DataFrame): Unit = {
    val cents = Tables.parquet(spark, s"$dir/centroids")
    rankCells(Tables.fanOut(batch.select("vec_id", "embedding")), cents)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id").as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/index")
  }

  /** Serve top-k from a persisted IVF index: rank cells per query
    * against the stored centroids (broadcast, C rows), then scan ONLY
    * the probed cells — `isin` over the cell partition column prunes
    * the index directories, so scan cost is (nprobe/C)·corpus
    * regardless of corpus size (SimilaritySpec asserts the partition
    * filter reaches the scan and results equal the transient
    * [[ivfTopK]]). The probed-cell collect is bounded by
    * nprobe × |queries| values — a documented bounded driver action,
    * never corpus data. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                     queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = Tables.parquet(spark, s"$dir/centroids")
    val probes = rankCells(queries.select("vec_id", "embedding"), cents)
      .filter(col("crank") <= nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("cent_id").as("cell"))
    val probeCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: <= nprobe * |queries|
    val idx = Tables.parquet(spark, s"$dir/index")
      .filter(col("cell").isin(probeCells: _*)) // partition-pruned scan
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_norm"), col("cell"))
    rerankProbedCells(idx, probes, k)
  }

  /** Build a PERSISTED PQ/IVFPQ index (the q87
    * `writeIvfIndex` pattern applied to the PQ family): codebook
    * training (pqCents) and the full-corpus encode (pqCodes) run ONCE
    * at ingest and land in a store; every query afterwards reads
    * codes + codebooks instead of re-training per serve. Layout:
    *   $dir/coarse     — nCells coarse centroids (c_cluster, c0..c{d-1})
    *   $dir/codebooks  — nSub·nCodes PQ codebook rows (cluster, ss, c0..)
    *   $dir/codes      — (vec_id, ss, code) partitionBy(cell), so the
    *                     IVFPQ probe prunes cell DIRECTORIES exactly
    *                     like [[ivfTopKIndexed]]'s index
    * At 100 TB this is the difference between a per-query corpus
    * re-encode and a code-table scan bounded by
    * nprobe/nCells of the corpus. All three artifacts are the same
    * deterministic computations the state-free spellings run
    * (scaled-long rational means, argmin with cluster-id tie-break),
    * and doubles round-trip parquet bit-exactly — so store-served
    * results are BIT-IDENTICAL to the state-free twins (SimilaritySpec
    * pins it; the DuckDB oracles stand unchanged). */
  def writePqIndex(e0: DataFrame, dir: String, nSub: Int = 8, subDim: Int = 8,
                   nCodes: Int = 256, nCells: Int = 8): Unit = {
    val dims = nSub * subDim
    val e = graft.Caches.cached(Tables.fanOut(e0.select("vec_id", "embedding")))
    val coarse = lloydCents(e, nCells, dims)
    coarse.coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
    val books = pqCents(e, nSub, subDim, nCodes)
    books.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    val cells = lloydAssignWith(e, coarse, dims).select("vec_id", "cell")
    pqCodes(e, books, subDim).join(cells, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Nightly-ingest maintenance for a PQ index — the q103 contract on
    * the PQ side: encode ONLY the batch against the STORED codebooks
    * and assign it against the STORED coarse centroids, then append
    * its code rows to the partitioned layout. No corpus re-read, no
    * codebook retrain — batch cost, not corpus cost. Because encode
    * and assignment depend only on (vector, stored tables),
    * build-then-append equals the one-shot encode of the union corpus
    * under the same stored tables (SimilaritySpec pins content AND
    * serving equality). Codebook drift across appends is the same
    * documented trade as [[appendToIvfIndex]]: retrain-and-rebuild is
    * a maintenance-window rotation, never a silent side effect. */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      batch: DataFrame): Unit = {
    val coarse = Tables.parquet(spark, s"$dir/coarse")
    val dims = coarse.columns.length - 1 // c_cluster + c0..c{dims-1}
    val books = Tables.parquet(spark, s"$dir/codebooks")
    val subDim = books.columns.length - 2 // cluster, ss, c0..c{subDim-1}
    val e = graft.Caches.cached(
      Tables.fanOut(batch.select("vec_id", "embedding")))
    val cells = lloydAssignWith(e, coarse, dims).select("vec_id", "cell")
    pqCodes(e, books, subDim).join(cells, Seq("vec_id"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** RIGHT-TO-BE-FORGOTTEN deletes for the PQ index — the decremental
    * member of the store lifecycle (build [[writePqIndex]] / append
    * [[appendToPqIndex]] / DELETE / serve), the q149/q176 discipline
    * on the vector side: codebooks and coarse centroids are NOT
    * retrained (a delete must not silently reshape the geometry every
    * surviving code was encoded under — retraining is the rotation
    * rebuild's job), and the rewrite touches ONLY the cell partitions
    * that contain deleted vectors (bounded cell-list collect, dynamic
    * partition overwrite; survivors are localCheckpoint-pinned before
    * their own partitions are overwritten). A cell whose rows are all
    * deleted is removed explicitly — dynamic overwrite only replaces
    * partitions present in the new data, so an emptied cell would
    * otherwise silently keep its old files. At 100 TB a nightly RTBF
    * batch costs (affected cells / nCells) of the code table, never a
    * corpus re-encode. */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        ids: DataFrame): Unit = {
    val del = ids.select(col("vec_id"))
    val codes = Tables.parquet(spark, s"$dir/codes")
    // the partition column round-trips as INT (directory-name
    // inference), so pin it to long before the bounded collects
    val cells = codes.join(del, Seq("vec_id"), "left_semi")
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: <= nCells values
    if (cells.isEmpty) return
    val survivors = codes
      .filter(col("cell").isin(cells: _*))
      .join(del, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("ss"), col("code"), col("cell"))
      .pinned() // pin BEFORE overwriting the partitions being read
    val keptCells = survivors.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet // bounded: <= nCells values
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try survivors.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")
    finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // fully-emptied cells: no survivor rows → dynamic overwrite never
    // touched their directories; remove them or deleted vectors would
    // come back from the dead on the next scan
    val emptied = cells.filterNot(keptCells)
    if (emptied.nonEmpty) {
      import org.apache.hadoop.fs.Path
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { c => fs.delete(new Path(s"$dir/codes/cell=$c"), true); () }
    }
  }

  /** Flat PQ-ADC top-k served from a persisted index: the per-query
    * distance table comes from the STORED codebooks (broadcast,
    * nSub·nCodes rows) and the corpus-sized input is the stored CODE
    * table (nSub ints per vector — the 32× read shrink that makes
    * flat-PQ scans viable), never the embeddings. One exchange: the
    * (q, vec) ADC sum; the top-k rank compiles to WindowGroupLimit. */
  def pqAdcTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                       qv: DataFrame, k: Int): DataFrame = {
    val books = Tables.parquet(spark, s"$dir/codebooks")
    val subDim = books.columns.length - 2
    val codes = Tables.parquet(spark, s"$dir/codes")
    val dtable = broadcast(pqDtable(qv, books, subDim))
    val scored = codes.join(dtable, Seq("ss", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("gd")).as("adc_micro"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_micro").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc_micro"))
  }

  /** IVFPQ top-k served from a persisted index: queries rank the
    * STORED coarse centroids (broadcast, nCells rows), and the code
    * scan opens ONLY the probed cells' partition directories — the
    * probed-cell collect is bounded by nprobe × |queries| values, the
    * documented bounded driver action of [[ivfTopKIndexed]]. Scan
    * cost is (nprobe/nCells) of an already-32×-shrunk code table. */
  def ivfpqTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                       qv0: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val coarse = Tables.parquet(spark, s"$dir/coarse")
    val dims = coarse.columns.length - 1
    val books = Tables.parquet(spark, s"$dir/codebooks")
    val subDim = books.columns.length - 2
    val qv = graft.Caches.cached(qv0)
    val wc = Window.partitionBy("q_id")
      .orderBy(col("cdist").asc, col("c_cluster").asc)
    val probed = graft.Caches.cached(
      qv.crossJoin(broadcast(coarse))
        .withColumn("cdist", lloydDist("q_emb", dims))
        .withColumn("crk", row_number().over(wc))
        .filter(col("crk") <= nprobe)
        .select(col("q_id"), col("c_cluster").as("cell")))
    val probeCells = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: <= nprobe * |queries|
    val codes = Tables.parquet(spark, s"$dir/codes")
      .filter(col("cell").isin(probeCells: _*)) // partition-pruned scan
    val dtable = broadcast(pqDtable(qv, books, subDim))
    val scored = codes.join(broadcast(probed), Seq("cell"))
      .join(dtable, Seq("q_id", "ss", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("gd")).as("adc_micro"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_micro").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc_micro"))
  }

  /** Oracle CTE: exact pairwise cosine with the same decimal pinning.
    * DuckDB 1.0 can't lateral-join range() on a column, so indices come
    * from unnest(generate_series(1, 64)) (embeddings are 64-dim). */
  private[graft] def cosSql(aFilter: String, bFilter: String, pairPred: String): String =
    s"""WITH a AS (SELECT vec_id, embedding FROM embeddings $aFilter),
        b AS (SELECT vec_id, embedding FROM embeddings $bFilter),
        norms AS (
          SELECT vec_id,
            sqrt(CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * 1e14) AS BIGINT)) AS DOUBLE) / 1e14) AS nrm
          FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings)
          GROUP BY vec_id),
        dots AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            SUM(CAST(floor(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                         * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * 1e14) AS BIGINT)) AS dot
          FROM a, b, (SELECT unnest(generate_series(1, 64)) AS i) idx
          WHERE $pairPred
          GROUP BY 1, 2),
        cosines AS (
          SELECT a_id, b_id,
            CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
                 ELSE (CAST(dot AS DOUBLE) / 1e14) / (na.nrm * nb.nrm) END AS cos
          FROM dots JOIN norms na ON na.vec_id = a_id
                    JOIN norms nb ON nb.vec_id = b_id)
     """

  /** The cosSql shape truncated to the first `d` dims (norms AND dot
    * both over the prefix — the Matryoshka contract), CTEs suffixed by
    * `d` so several widths compose in one statement. */
  private def truncTopSql(d: Int): String =
    s"""norms$d AS (
          SELECT vec_id,
            sqrt(CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * 1e14) AS BIGINT)) AS DOUBLE) / 1e14) AS nrm
          FROM (SELECT vec_id, unnest(embedding[1:$d]) AS e FROM embeddings)
          GROUP BY vec_id),
        dots$d AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            SUM(CAST(floor(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                         * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * 1e14) AS BIGINT)) AS dot
          FROM qv a, embeddings b, (SELECT unnest(generate_series(1, $d)) AS i) idx
          WHERE a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        top$d AS (
          SELECT a_id, b_id FROM (
            SELECT d.a_id, d.b_id,
              row_number() OVER (PARTITION BY d.a_id ORDER BY
                CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
                     ELSE (CAST(d.dot AS DOUBLE) / 1e14) / (na.nrm * nb.nrm) END DESC,
                d.b_id) AS rank
            FROM dots$d d JOIN norms$d na ON na.vec_id = d.a_id
                          JOIN norms$d nb ON nb.vec_id = d.b_id)
          WHERE rank <= 10)"""

  val oracles: Map[String, String] = Map(
    "q148_matryoshka_recall" -> {
      val widths = Seq(8, 16, 32)
      val ctes = (widths :+ 64).map(truncTopSql).mkString(",\n        ")
      val legs = widths.map { d =>
        s"""SELECT $d AS dims, t.a_id AS q_id,
              CAST(SUM(CASE WHEN f.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
            FROM top$d t LEFT JOIN top64 f
              ON t.a_id = f.a_id AND t.b_id = f.b_id
            GROUP BY 1, 2"""
      }.mkString("\n            UNION ALL\n            ")
      s"""WITH qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        $ctes
        SELECT dims, q_id, n_overlap FROM ($legs)
        ORDER BY dims, q_id"""
    },
    // q69's quantization CTE verbatim (whole table), integer-dot
    // relevance and candidate-pair sims, then the greedy MMR replayed
    // pick for pick as unrolled CTEs: pk = the argmax of rel − max sim
    // to everything in s(k−1), tie broken by vec_id — the exact
    // trajectory the Spark loop walks
    "q154_mmr_rerank" -> {
      val picks = (2 to 5).map { k =>
        s"""p$k AS (
             SELECT query_id, $k AS rank, vec_id, rel, mmr2x FROM (
               SELECT r.query_id, r.vec_id, r.rel, r.rel - ms.max_sim AS mmr2x,
                 row_number() OVER (PARTITION BY r.query_id
                   ORDER BY r.rel - ms.max_sim DESC, r.vec_id) AS rn
               FROM cand r
               JOIN (SELECT s.query_id, s.a, MAX(s.sim) AS max_sim
                     FROM sims s JOIN s${k - 1} kk
                       ON kk.query_id = s.query_id AND kk.vec_id = s.b
                     GROUP BY 1, 2) ms
                 ON ms.query_id = r.query_id AND ms.a = r.vec_id
               WHERE NOT EXISTS (SELECT 1 FROM s${k - 1} kk
                 WHERE kk.query_id = r.query_id AND kk.vec_id = r.vec_id))
             WHERE rn = 1),
           s$k AS (SELECT query_id, vec_id FROM s${k - 1}
                   UNION ALL SELECT query_id, vec_id FROM p$k)"""
      }.mkString(",\n         ")
      val union = (1 to 5).map(k => s"SELECT * FROM p$k").mkString(" UNION ALL ")
      s"""WITH m AS (
           SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
               AS max_abs
           FROM embeddings),
         c AS (
           SELECT vec_id,
             CASE WHEN max_abs = 0
               THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
               ELSE list_transform(embedding, x ->
                 CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS BIGINT)) END AS q
           FROM m),
         qs AS (SELECT vec_id AS query_id, q AS qq FROM c WHERE vec_id < 10),
         rel AS (
           SELECT qs.query_id, c.vec_id,
             CAST(SUM(c.q[CAST(i AS INT)] * qs.qq[CAST(i AS INT)]) AS BIGINT) AS rel
           FROM c, qs, (SELECT unnest(generate_series(1, 64)) AS i) idx
           WHERE c.vec_id >= 10
           GROUP BY 1, 2),
         cand AS (
           SELECT query_id, vec_id, rel FROM (
             SELECT query_id, vec_id, rel,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, vec_id) AS rn
             FROM rel) WHERE rn <= 10),
         cq AS (SELECT cand.query_id, cand.vec_id, c.q
                FROM cand JOIN c USING (vec_id)),
         sims AS (
           SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
             CAST(SUM(a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)]) AS BIGINT) AS sim
           FROM cq a JOIN cq b
             ON a.query_id = b.query_id AND a.vec_id <> b.vec_id,
             (SELECT unnest(generate_series(1, 64)) AS i) idx
           GROUP BY 1, 2, 3),
         p1 AS (
           SELECT query_id, 1 AS rank, vec_id, rel, rel AS mmr2x FROM (
             SELECT query_id, vec_id, rel,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, vec_id) AS rn
             FROM cand) WHERE rn = 1),
         s1 AS (SELECT query_id, vec_id FROM p1),
         $picks
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id, rel, mmr2x
         FROM ($union) ORDER BY query_id, rank"""
    },
    // q38's cosine CTEs with the corpus-only candidate pool, labels
    // joined in, and per-(query, same-label-flag) argmaxes pivoted to
    // one row per query; margin computed as the same two-term IEEE
    // subtraction as the Spark column
    "q157_hard_negatives" -> (cosSql("WHERE vec_id < 10", "WHERE vec_id >= 10",
      "a.vec_id <> b.vec_id") +
      """, lab AS (SELECT vec_id, label FROM embeddings),
         sc AS (
           SELECT c.a_id, c.b_id, c.cos, (lb.label = la.label) AS same
           FROM cosines c JOIN lab la ON la.vec_id = c.a_id
                          JOIN lab lb ON lb.vec_id = c.b_id),
         rk AS (
           SELECT a_id, b_id, cos, same,
             row_number() OVER (PARTITION BY a_id, same
               ORDER BY cos DESC, b_id) AS rn
           FROM sc)
         SELECT a_id AS q_id,
           MAX(CASE WHEN same AND rn = 1 THEN b_id END) AS pos_id,
           MAX(CASE WHEN same AND rn = 1 THEN cos END) AS pos_cos,
           MAX(CASE WHEN NOT same AND rn = 1 THEN b_id END) AS neg_id,
           MAX(CASE WHEN NOT same AND rn = 1 THEN cos END) AS neg_cos,
           MAX(CASE WHEN same AND rn = 1 THEN cos END)
             - MAX(CASE WHEN NOT same AND rn = 1 THEN cos END) AS margin
         FROM rk GROUP BY 1 ORDER BY q_id"""),
    // same 1e-6 scaled-integer coordinates; dispersion by the identity
    // n·Σ||x||² − ||Σx||², all BIGINT
    "q164_label_dispersion" ->
      """WITH f AS (
           SELECT vec_id, label,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS f
           FROM embeddings),
         el AS (
           SELECT label, vec_id, unnest(f) AS v,
             generate_subscripts(f, 1) AS d
           FROM f),
         a AS (
           SELECT label, COUNT(DISTINCT vec_id) AS n_vecs,
             CAST(SUM(v * v) AS BIGINT) AS ssq
           FROM el GROUP BY 1),
         sx AS (SELECT label, d, CAST(SUM(v) AS BIGINT) AS sx
                FROM el GROUP BY 1, 2),
         b AS (SELECT label, CAST(SUM(sx * sx) AS BIGINT) AS s2
               FROM sx GROUP BY 1)
         SELECT a.label, a.n_vecs,
           (a.n_vecs * a.ssq - b.s2) AS disp_num,
           (a.n_vecs * a.ssq - b.s2) // (a.n_vecs * a.n_vecs) AS msd_e12
         FROM a JOIN b USING (label) ORDER BY a.label""",
    // same 1e-6 scaled coordinates; the bias-then-divide mean keeps
    // both engines in floor-division territory (nonneg numerator);
    // subscript base (0 vs 1) never leaves the join key
    "q171_label_separation" ->
      """WITH f AS (
           SELECT label,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS f
           FROM embeddings),
         el AS (
           SELECT label, unnest(f) AS v, generate_subscripts(f, 1) AS d
           FROM f),
         g AS (
           SELECT label, d, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sx
           FROM el GROUP BY 1, 2),
         m AS (
           SELECT label, d, n,
             (sx + n * 2000000) // n - 2000000 AS m
           FROM g)
         SELECT CAST(a.label AS BIGINT) AS label_a,
           CAST(b.label AS BIGINT) AS label_b,
           CAST(MAX(a.n) AS BIGINT) AS n_a, CAST(MAX(b.n) AS BIGINT) AS n_b,
           CAST(SUM((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS sep_e12
         FROM m a JOIN m b ON a.d = b.d AND a.label < b.label
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q38_cosine_topk" -> (cosSql("WHERE vec_id < 10", "", "a.vec_id <> b.vec_id") +
      """SELECT a_id AS q_id, b_id AS c_id, cos, rank FROM (
           SELECT a_id, b_id, cos,
             CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS INT) AS rank
           FROM cosines) WHERE rank <= 5 ORDER BY q_id, rank"""),
    "q209_matryoshka_serve" ->
      """WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
         b AS (SELECT vec_id, embedding FROM embeddings),
         pdots AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             SUM(CAST(floor(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                          * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * 1e14) AS BIGINT)) AS pdot
           FROM a, b, (SELECT unnest(generate_series(1, 16)) AS i) idx
           WHERE a.vec_id <> b.vec_id
           GROUP BY 1, 2),
         surv AS (
           SELECT a_id, b_id FROM pdots
           QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY pdot DESC, b_id) <= 32),
         norms AS (
           SELECT vec_id,
             sqrt(CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * 1e14) AS BIGINT)) AS DOUBLE) / 1e14) AS nrm
           FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings)
           GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             SUM(CAST(floor(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                          * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * 1e14) AS BIGINT)) AS dot
           FROM surv JOIN a ON a.vec_id = surv.a_id
                     JOIN b ON b.vec_id = surv.b_id,
                (SELECT unnest(generate_series(1, 64)) AS i) idx
           GROUP BY 1, 2),
         cosines AS (
           SELECT a_id, b_id,
             CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
                  ELSE (CAST(dot AS DOUBLE) / 1e14) / (na.nrm * nb.nrm) END AS cos
           FROM dots JOIN norms na ON na.vec_id = a_id
                     JOIN norms nb ON nb.vec_id = b_id)
         SELECT a_id AS q_id, b_id AS c_id, cos, rank FROM (
           SELECT a_id, b_id, cos,
             CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS INT) AS rank
           FROM cosines) WHERE rank <= 5 ORDER BY q_id, rank""",
    "q39_embedding_neardup" -> (cosSql("WHERE vec_id < 300", "WHERE vec_id < 300", "a.vec_id < b.vec_id") +
      """SELECT a_id, b_id, cos FROM cosines WHERE cos >= 0.4 ORDER BY a_id, b_id"""),
    "q69_quantize" ->
      """WITH m AS (
           SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
               AS max_abs
           FROM embeddings WHERE vec_id < 200),
         q AS (
           SELECT vec_id, max_abs, len(embedding) AS n_dims,
             CASE WHEN max_abs = 0
               THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
               ELSE list_transform(embedding, x ->
                 CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS BIGINT)) END AS q
           FROM m)
         SELECT vec_id, CAST(n_dims AS INT) AS n_dims,
           CAST(max_abs AS DOUBLE) AS max_abs,
           CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(q, 'min') AS INT) AS q_min,
           CAST(list_aggregate(q, 'max') AS INT) AS q_max
         FROM q ORDER BY vec_id""",
    // projection spelling mirrors Spark element for element: 1e-6
    // fixed-point floor, md5("j:k") first-hex-char parity sign, exact
    // integer sums; the oracle's unnest+group replays Spark's
    // fold-left HOF (integer addition is order-independent)
    "q115_random_projection" ->
      """WITH e AS (
           SELECT vec_id, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS j
           FROM embeddings),
         f AS (
           SELECT vec_id, j,
             CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS vf
           FROM e),
         g AS (
           SELECT f.*, k.k
           FROM f CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) k),
         s AS (
           SELECT vec_id, k,
             SUM(CASE WHEN substr(md5(CAST(j AS VARCHAR) || ':' ||
                                      CAST(k AS VARCHAR)), 1, 1)
                      IN ('0','2','4','6','8','a','c','e')
                      THEN vf ELSE -vf END) AS proj
           FROM g GROUP BY 1, 2)
         SELECT vec_id, CAST(k AS BIGINT) AS k, CAST(proj AS BIGINT) AS proj
         FROM s ORDER BY vec_id, k""",
    "q56_embedding_centroid" ->
      """SELECT vec_id % 8 AS cluster, CAST(i AS INT) AS dim, COUNT(*) AS n,
           (CAST(SUM(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1e14)
                          AS BIGINT)) AS DOUBLE) / 1e14) / COUNT(*) AS centroid
         FROM (SELECT vec_id, embedding, unnest(generate_series(1, 64)) AS i
               FROM embeddings)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // generated 128-sum spelling mirroring the query's one-pass
    // aggregate; every SUM is cast back to BIGINT (HUGEINT lesson) and
    // the drift stays an integer rational — no double crosses engines
    "q121_index_drift" -> {
      val dims = 64
      val fxs = (0 until dims).map(i =>
        s"CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT) AS fx$i")
        .mkString(", ")
      val sums = (0 until dims).flatMap(i => Seq(
        s"CAST(SUM(CASE WHEN (vec_id // 8) % 2 = 0 THEN fx$i ELSE 0 END) AS BIGINT) AS sa$i",
        s"CAST(SUM(fx$i) AS BIGINT) AS sb$i")).mkString(", ")
      val nums = (0 until dims).map(i => s"abs(sa$i * n2 - sb$i * n1)")
        .mkString(", ")
      s"""WITH f AS (
           SELECT vec_id % 8 AS cell, vec_id, $fxs FROM embeddings),
         g AS (
           SELECT cell, COUNT(*) AS n2,
             CAST(SUM(CASE WHEN (vec_id // 8) % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             $sums
           FROM f GROUP BY 1),
         d AS (SELECT cell, n1, n2, greatest($nums) AS mx FROM g)
         SELECT cell, n1 AS n_base, n2 - n1 AS n_new,
           ((n2 - n1) * 1000) // n2 AS new_share_milli,
           mx // (n1 * n2) AS drift_micro,
           (mx // (n1 * n2) > 2000
             OR ((n2 - n1) * 1000) // n2 > 250) AS rebuild
         FROM d ORDER BY cell"""
    },
    "q79_kmeans_step" -> {
      // generated 64-term spellings; addition stays LEFT-ASSOCIATED to
      // mirror the Spark reduce exactly (see the query's doc comment)
      val dims = 64
      val sumCols = (0 until dims).map(i =>
        s"SUM(CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS s$i")
        .mkString(", ")
      val centCols = (0 until dims).map(i =>
        s"(CAST(s$i AS DOUBLE) / 1e6) / n AS c$i").mkString(", ")
      val distExpr = (0 until dims).map(i =>
        s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i) * " +
          s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i)").mkString(" + ")
      s"""WITH nums AS (
           SELECT vec_id % 8 AS cluster, COUNT(*) AS n, $sumCols
           FROM embeddings GROUP BY 1),
         cents AS (SELECT cluster AS c_cluster, n, $centCols FROM nums),
         d AS (
           SELECT e.vec_id, c.c_cluster, $distExpr AS dist
           FROM embeddings e CROSS JOIN cents c),
         r AS (
           SELECT vec_id, c_cluster,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, c_cluster ASC) AS rk
           FROM d)
         SELECT c_cluster AS cluster, COUNT(*) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
         FROM r WHERE rk = 1 GROUP BY 1 ORDER BY 1"""
    },
    "q96_prototype_coreset" -> {
      // q79's generated assignment spelling, keeping the winning dist;
      // then a per-cell prototype rank
      val dims = 64
      val sumCols = (0 until dims).map(i =>
        s"SUM(CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS s$i")
        .mkString(", ")
      val centCols = (0 until dims).map(i =>
        s"(CAST(s$i AS DOUBLE) / 1e6) / n AS c$i").mkString(", ")
      val distExpr = (0 until dims).map(i =>
        s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i) * " +
          s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i)").mkString(" + ")
      s"""WITH nums AS (
           SELECT vec_id % 8 AS cluster, COUNT(*) AS n, $sumCols
           FROM embeddings GROUP BY 1),
         cents AS (SELECT cluster AS c_cluster, n, $centCols FROM nums),
         d AS (
           SELECT e.vec_id, c.c_cluster, $distExpr AS dist
           FROM embeddings e CROSS JOIN cents c),
         rk AS (
           SELECT vec_id, c_cluster, dist,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, c_cluster ASC) AS rn
           FROM d),
         assigned AS (
           SELECT vec_id, c_cluster AS cell, dist FROM rk WHERE rn = 1),
         proto AS (
           SELECT cell, vec_id, dist,
             row_number() OVER (PARTITION BY cell
               ORDER BY dist ASC, vec_id ASC) AS rank
           FROM assigned)
         SELECT CAST(cell AS BIGINT) AS cell, CAST(rank AS INT) AS rank,
           vec_id, dist
         FROM proto WHERE rank <= 10 ORDER BY cell, rank"""
    },
    "q146_cluster_quota_sample" -> {
      // q79's generated assignment spelling + Hamilton largest-remainder
      // quota arithmetic (all-integer) + the q60 md5-order draw
      val dims = 64
      val sumCols = (0 until dims).map(i =>
        s"SUM(CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS s$i")
        .mkString(", ")
      val centCols = (0 until dims).map(i =>
        s"(CAST(s$i AS DOUBLE) / 1e6) / n AS c$i").mkString(", ")
      val distExpr = (0 until dims).map(i =>
        s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i) * " +
          s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i)").mkString(" + ")
      s"""WITH nums AS (
           SELECT vec_id % 8 AS cluster, COUNT(*) AS n, $sumCols
           FROM embeddings GROUP BY 1),
         cents AS (SELECT cluster AS c_cluster, n, $centCols FROM nums),
         d AS (
           SELECT e.vec_id, c.c_cluster, $distExpr AS dist
           FROM embeddings e CROSS JOIN cents c),
         rk AS (
           SELECT vec_id, c_cluster,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, c_cluster ASC) AS rn
           FROM d),
         assigned AS (SELECT vec_id, c_cluster AS cell FROM rk WHERE rn = 1),
         stats AS (SELECT cell, COUNT(*) AS n_c FROM assigned GROUP BY 1),
         tot AS (
           SELECT cell, n_c,
             CAST(SUM(n_c) OVER () AS BIGINT) AS n
           FROM stats),
         qb AS (
           SELECT cell, n_c, n, n // 5 AS k,
             ((n // 5) * n_c) // n AS base,
             ((n // 5) * n_c) % n AS rem
           FROM tot),
         quotas AS (
           SELECT cell, n_c,
             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, cell ASC)
                      <= k - CAST(SUM(base) OVER () AS BIGINT)
                    THEN 1 ELSE 0 END AS quota
           FROM qb),
         picks AS (
           SELECT cell, vec_id,
             row_number() OVER (PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
           FROM assigned),
         sel AS (
           SELECT p.cell, COUNT(*) AS n_selected,
             CAST(SUM(p.vec_id) AS BIGINT) AS sel_sum,
             MIN(p.vec_id) AS sel_min, MAX(p.vec_id) AS sel_max
           FROM picks p JOIN quotas q ON p.cell = q.cell AND p.rn <= q.quota
           GROUP BY 1)
         SELECT CAST(q.cell AS BIGINT) AS cell, q.n_c AS n_vecs,
           CAST(q.quota AS BIGINT) AS quota,
           COALESCE(s.n_selected, 0) AS n_selected,
           COALESCE(s.sel_sum, 0) AS sel_sum,
           COALESCE(s.sel_min, -1) AS sel_min,
           COALESCE(s.sel_max, -1) AS sel_max
         FROM quotas q LEFT JOIN sel s ON q.cell = s.cell
         ORDER BY q.cell"""
    },
    "q90_semantic_dedup" -> {
      // q79's generated assignment spellings + cosSql's decimal-pinned
      // cosine + q49's recursive closure, composed; every piece is
      // individually hash-matched by its own query
      val dims = 64
      val sumCols = (0 until dims).map(i =>
        s"SUM(CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS s$i")
        .mkString(", ")
      val centCols = (0 until dims).map(i =>
        s"(CAST(s$i AS DOUBLE) / 1e6) / n AS c$i").mkString(", ")
      val distExpr = (0 until dims).map(i =>
        s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i) * " +
          s"(CAST(embedding[${i + 1}] AS DOUBLE) - c$i)").mkString(" + ")
      s"""WITH RECURSIVE nums AS (
           SELECT vec_id % 8 AS cluster, COUNT(*) AS n, $sumCols
           FROM embeddings GROUP BY 1),
         cents AS (SELECT cluster AS c_cluster, n, $centCols FROM nums),
         d AS (
           SELECT e.vec_id, c.c_cluster, $distExpr AS dist
           FROM embeddings e CROSS JOIN cents c),
         rk AS (
           SELECT vec_id, c_cluster,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, c_cluster ASC) AS rn
           FROM d),
         assigned AS (SELECT vec_id, c_cluster AS cell FROM rk WHERE rn = 1),
         norms AS (
           SELECT vec_id,
             sqrt(CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * 1e14) AS BIGINT)) AS DOUBLE) / 1e14) AS nrm
           FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings)
           GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             SUM(CAST(floor(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                          * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * 1e14) AS BIGINT)) AS dot
           FROM embeddings a JOIN assigned aa ON aa.vec_id = a.vec_id
                JOIN assigned ab ON ab.cell = aa.cell
                JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id,
                (SELECT unnest(generate_series(1, 64)) AS i) idx
           GROUP BY 1, 2),
         cosines AS (
           SELECT a_id, b_id,
             CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
                  ELSE (CAST(dot AS DOUBLE) / 1e14) / (na.nrm * nb.nrm) END AS cos
           FROM dots JOIN norms na ON na.vec_id = a_id
                     JOIN norms nb ON nb.vec_id = b_id),
         pairs AS (SELECT a_id, b_id FROM cosines WHERE cos >= 0.4),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         r(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.id),
         removed AS (SELECT id AS vec_id FROM r GROUP BY id HAVING MIN(label) <> id),
         base AS (SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY 1),
         surv AS (
           SELECT a.cell, COUNT(*) AS n_survivors
           FROM assigned a LEFT JOIN removed rm ON rm.vec_id = a.vec_id
           WHERE rm.vec_id IS NULL GROUP BY 1)
         SELECT CAST(base.cell AS BIGINT) AS cell, base.n_vecs,
           COALESCE(surv.n_survivors, CAST(0 AS BIGINT)) AS n_survivors,
           base.n_vecs - COALESCE(surv.n_survivors, CAST(0 AS BIGINT)) AS n_removed
         FROM base LEFT JOIN surv ON surv.cell = base.cell ORDER BY cell"""
    },
    "q185_pq_adc_topk" ->
      s"""WITH ${pqSqlCtes()},
         sc AS (
           SELECT qd.q_id, codes.vec_id,
             CAST(SUM(gd) AS BIGINT) AS adc_micro
           FROM codes JOIN qd USING (ss, code) GROUP BY 1, 2),
         r AS (
           SELECT q_id, vec_id, adc_micro,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adc_micro ASC, vec_id ASC) AS rank
           FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, vec_id, adc_micro
         FROM r WHERE rank <= 10 ORDER BY q_id, rank""",
    // q185's PQ CTEs + the q79-spelling coarse cells and a 2-cell
    // probe rank; ADC runs only over probed-cell candidates
    "q186_ivfpq_topk" -> ivfpqSql(""),
    // the same statement with every trained table (codebooks, coarse
    // centroids) derived from the BUILD slice only, while codes and
    // cell assignment cover the FULL corpus — exactly what
    // build-then-append leaves in the store
    "q215_pq_append_serve" -> ivfpqSql("WHERE vec_id < 400"),
    // full-corpus trained tables, candidates restricted to survivors —
    // the decremental contract (no retrain, deleted ids unreachable)
    "q226_pq_delete_serve" -> ivfpqSql("", "WHERE a.vec_id % 7 <> 3"),
    "q219_embedding_dim_stats" ->
      """WITH pts AS (
           SELECT CAST(i AS BIGINT) AS dim,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
           FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i))
         SELECT dim, COUNT(*) AS n,
           CAST(SUM(CAST(floor(x * 1e6) AS BIGINT)) AS BIGINT) AS sx_micro,
           CAST(SUM(CAST(floor(x * x * 1e12) AS BIGINT)) AS BIGINT) AS sxx_pico,
           CAST(SUM(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS mean_x,
           CAST(SUM(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 / COUNT(*)
             - (CAST(SUM(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*))
             * (CAST(SUM(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*)) AS var_x,
           MIN(x) AS min_x, MAX(x) AS max_x
         FROM pts GROUP BY dim ORDER BY dim""",
    // the q186 coarse-cell CTEs + second-nearest ranking; the floor
    // and the single division mirror the Spark spelling token for token
    "q218_silhouette" ->
      s"""WITH ${cellSqlCtes()},
         rk AS (
           SELECT vec_id, c_cluster, cdist,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cdist ASC, c_cluster ASC) AS crn
           FROM cd),
         two AS (
           SELECT a.vec_id, a.c_cluster AS cell, a.cdist AS d1, b.cdist AS d2
           FROM rk a JOIN rk b ON a.vec_id = b.vec_id
           WHERE a.crn = 1 AND b.crn = 2 AND b.cdist > 0),
         sil AS (
           SELECT cell,
             CAST(floor(1e6 * (d2 - d1) / d2) AS BIGINT) AS s_micro
           FROM two)
         SELECT cell, COUNT(*) AS n_vecs,
           CAST(SUM(s_micro) AS BIGINT) AS sum_s_micro,
           CAST(SUM(s_micro) AS DOUBLE) / COUNT(*) / 1e6 AS mean_sil,
           CAST(MIN(s_micro) AS BIGINT) AS min_s_micro,
           CAST(MAX(s_micro) AS BIGINT) AS max_s_micro
         FROM sil GROUP BY cell ORDER BY cell"""
  )

  /** The IVFPQ oracle statement, parameterized on the build-slice
    * filter applied to TRAINED state (codebooks + coarse centroids);
    * "" = trained on the whole corpus (q186), a filter = the
    * incremental-append contract (q215). */
  private def ivfpqSql(buildWhere: String, candWhere: String = ""): String =
    s"""WITH ${pqSqlCtes(buildWhere)},
         ${cellSqlCtes(buildWhere)},
         qcd AS (
           SELECT q.vec_id AS q_id, c.c_cluster, ${cellDistSql("q")} AS cdist
           FROM embeddings q CROSS JOIN ccents c WHERE q.vec_id < 10),
         probed AS (
           SELECT q_id, c_cluster AS cell FROM (
             SELECT q_id, c_cluster, cdist,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cdist ASC, c_cluster ASC) AS crk
             FROM qcd) WHERE crk <= 2),
         cand AS (
           SELECT p.q_id, a.vec_id
           FROM probed p JOIN assigned a USING (cell) $candWhere),
         sc AS (
           SELECT cand.q_id, cand.vec_id,
             CAST(SUM(gd) AS BIGINT) AS adc_micro
           FROM cand JOIN codes USING (vec_id)
             JOIN qd ON qd.q_id = cand.q_id AND qd.ss = codes.ss
               AND qd.code = codes.code
           GROUP BY 1, 2),
         r AS (
           SELECT q_id, vec_id, adc_micro,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adc_micro ASC, vec_id ASC) AS rank
           FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, vec_id, adc_micro
         FROM r WHERE rank <= 10 ORDER BY q_id, rank"""

  /** Generated PQ SQL CTEs (nums/cents/d/rk/codes/qd) shared by the
    * q185/q186 oracles — mirrors pqCents/pqSubDist/pqCodes/pqDtable
    * term for term: per-cell scaled-long sums over all 64 dims, 8
    * subspace codebook projections UNION ALL'd, LEFT-ASSOCIATED
    * subspace distances with the element index riding the row's ss,
    * ADC granules floored to BIGINT so downstream sums are
    * order-independent. */
  private def pqSqlCtes(buildWhere: String = ""): String = {
    val nSub = 8; val subDim = 8; val nCodes = 256; val dims = 64
    val sumCols = (0 until dims).map(i =>
      s"SUM(CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS s$i")
      .mkString(", ")
    val centSel = (0 until nSub).map { ss =>
      val cs = (0 until subDim).map(j =>
        s"(CAST(s${ss * subDim + j} AS DOUBLE) / 1e6) / n AS c$j").mkString(", ")
      s"SELECT cluster, $ss AS ss, $cs FROM nums"
    }.mkString("\n           UNION ALL ")
    def distExpr(tbl: String) = (0 until subDim).map(j =>
      s"(CAST($tbl.embedding[c.ss * $subDim + ${j + 1}] AS DOUBLE) - c.c$j) * " +
        s"(CAST($tbl.embedding[c.ss * $subDim + ${j + 1}] AS DOUBLE) - c.c$j)")
      .mkString(" + ")
    s"""nums AS (
           SELECT vec_id % $nCodes AS cluster, COUNT(*) AS n, $sumCols
           FROM embeddings $buildWhere GROUP BY 1),
         cents AS (
           $centSel),
         d AS (
           SELECT e.vec_id, c.ss, c.cluster, ${distExpr("e")} AS dist
           FROM embeddings e CROSS JOIN cents c),
         rk AS (
           SELECT vec_id, ss, cluster, dist,
             row_number() OVER (PARTITION BY vec_id, ss
               ORDER BY dist ASC, cluster ASC) AS rn
           FROM d),
         codes AS (SELECT vec_id, ss, cluster AS code FROM rk WHERE rn = 1),
         qd AS (
           SELECT q.vec_id AS q_id, c.ss, c.cluster AS code,
             CAST(floor((${distExpr("q")}) * 1e6) AS BIGINT) AS gd
           FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10)"""
  }

  /** LEFT-ASSOCIATED 64-term squared-L2 against a ccents row —
    * mirrors lloydDist. */
  private def cellDistSql(tbl: String): String = (0 until 64).map(i =>
    s"(CAST($tbl.embedding[${i + 1}] AS DOUBLE) - c.cc$i) * " +
      s"(CAST($tbl.embedding[${i + 1}] AS DOUBLE) - c.cc$i)").mkString(" + ")

  /** Generated coarse-cell CTEs (cnums/ccents/cd/crk2/assigned) —
    * the q79 assignment spelling (vec_id % 8 seeds), column names
    * cc-prefixed to coexist with the PQ CTEs. */
  private def cellSqlCtes(buildWhere: String = ""): String = {
    val dims = 64
    val sumCols = (0 until dims).map(i =>
      s"SUM(CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS cs$i")
      .mkString(", ")
    val centCols = (0 until dims).map(i =>
      s"(CAST(cs$i AS DOUBLE) / 1e6) / cn AS cc$i").mkString(", ")
    s"""cnums AS (
           SELECT vec_id % 8 AS c_cluster, COUNT(*) AS cn, $sumCols
           FROM embeddings $buildWhere GROUP BY 1),
         ccents AS (SELECT c_cluster, cn, $centCols FROM cnums),
         cd AS (
           SELECT e.vec_id, c.c_cluster, ${cellDistSql("e")} AS cdist
           FROM embeddings e CROSS JOIN ccents c),
         crk2 AS (
           SELECT vec_id, c_cluster,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cdist ASC, c_cluster ASC) AS crn
           FROM cd),
         assigned AS (SELECT vec_id, c_cluster AS cell FROM crk2 WHERE crn = 1)"""
  }
}
