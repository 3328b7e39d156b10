package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions (the 100 TB posture, SURVEY.md §7.4.7):
  * dimension joins must broadcast, scans must push filters and prune
  * columns, and no operator may collect the corpus to the driver. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("flagship join broadcasts the dimension sides (q02)") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "customer/nation should broadcast")
  }

  test("parquet scans push filters down (q01, q06)") {
    val p1 = plan("q01_pricing_summary")
    val pushed = p1.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("IsNotNull(l_shipdate)") &&
        pushed.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the scan:\n$p1")
  }

  test("scans prune to the referenced columns only (q02 lineitem)") {
    val p = plan("q02_revenue_by_nation")
    val lineitemScan = p.linesIterator.find(l => l.contains("lineitem") && l.contains("FileScan"))
    assert(lineitemScan.exists(l =>
      l.contains("l_orderkey") && !l.contains("l_shipdate")),
      s"lineitem ReadSchema should exclude unused columns:\n${lineitemScan.getOrElse("")}")
  }

  test("semi/anti joins plan as joins, not subquery re-scans (q05, q06)") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("whole-stage codegen covers the aggregation pipeline (q01)") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect() // materialize so AQE finalizes the physical plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(200))
    // "*(n)" prefixes mark WholeStageCodegen stages in the simple form
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(2000))
  }

  test("rename detection is a blocked equi-join, never a cross product (q11)") {
    val p = plan("q11_rename_detect")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q11 must block candidates via equi-join on name spans:\n$p")
  }

  test("range join compiles to a hash join on the band key, not a nested loop (q47)") {
    val p = plan("q47_range_join")
    assert(p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"uniform-band range join must be an equi-join:\n$p")
  }

  test("no query plans a cartesian or nested-loop join, except documented baselines") {
    // deliberate exceptions, each a BOUNDED cross product against a
    // broadcast side that is dimension-sized by construction, with the
    // number of cross-product operators its plan carries. A query may
    // not carry more than its bound (absent means 0), and every entry
    // must still carry one, so the list is no wider than the tree needs.
    val allowed = Map(
      // suppliers × 60-day calendar grid (gap detection)
      "q17_gap_detect" -> 1,
      // exact-cosine BASELINES (broadcast query/slice side); their
      // scale paths are q40/q48
      "q38_cosine_topk" -> 1,
      "q39_embedding_neardup" -> 1,
      // corpus × 16 broadcast centroids (IVF assignment pass)
      "q43_ann_ivf" -> 2,
      // event-type dimension × 30-day calendar grid (fill-forward
      // resample target frame, same shape as q17's grid)
      "q59_fill_forward" -> 1,
      // recall evaluation COMPOSES the q38 baseline, so its plan embeds
      // q38's documented broadcast cross product
      "q81_ann_recall" -> 2,
      // query-side cell ranking × 16 broadcast stored centroids (the
      // serve half of q43's documented assignment shape)
      "q87_ivf_serve" -> 2,
      // postings × the broadcast 1-row global-stats (N, avgdl) row;
      // every other join in the query is an equi-join
      "q92_bm25_topk" -> 1,
      // the same serve shape as q87 over the append-maintained index
      // (plus the batch-assignment pass, q43's shape)
      "q103_ivf_append_serve" -> 2,
      // scored-bigram vocab × the broadcast 1-row corpus-total row
      // (q92's 1-row-stats shape); the bigram↔unigram scoring joins are
      // equi-joins on the token
      "q110_phrase_pmi" -> 1,
      // token stream × the broadcast 1-row corpus-total row and per-doc
      // scores × the broadcast 1-row doc-count row (both q92's
      // 1-row-stats shape); the vocab join is an equi-join
      "q113_surprisal_bucket" -> 13,
      // COMPOSES both documented baselines: q38's broadcast query-set
      // cross product (vector leg) and q92's 1-row global-stats row
      // (BM25 leg); the fusion join itself is a (query_id, doc_id)
      // equi-join
      "q123_hybrid_retrieval" -> 2,
      // reuses q113's surprisal score, hence its 1-row corpus-total
      // broadcast; everything above it is aggregates
      "q126_filter_auc" -> 2,
      // chunk-BM25 serve: the same 1-row (n_chunks, avgdl) stats
      // broadcast as q92; every other join is an equi-join
      "q130_rag_index_build" -> 1,
      // bigram stream × the broadcast 1-row vocabulary-size row (q92's
      // 1-row-stats shape); the context/bigram-count joins are
      // equi-joins
      "q142_bigram_lm_score" -> 1,
      // the 256-row bucket model × the broadcast 1-row (N_raw,
      // N_target) totals (q92's 1-row-stats shape); the
      // doc-bucket/model join is an equi-join
      "q145_dsir_weights" -> 1,
      // four q38-shaped broadcast-query scans (corpus × the 10-vector
      // query set), one per truncation width
      "q148_matryoshka_recall" -> 4,
      // q92's scorer over merged index state: the same broadcast 1-row
      // (n_docs, avgdl) stats row
      "q150_incremental_postings" -> 1,
      // the 1-row max(doc_id) threshold base broadcast against the
      // distinct-token first-occurrence table (q142 shape)
      "q153_vocab_growth" -> 1,
      // one q38-shaped broadcast-query scan (corpus × the 10-vector
      // quantized query set) feeding the MMR greedy
      "q154_mmr_rerank" -> 1,
      // the same q38-shaped broadcast-query scan feeding the labeled
      // positive/hard-negative argmaxes
      "q157_hard_negatives" -> 1,
      // surprisalPerDoc's broadcast 1-row token-total (the q113/q126
      // shape, shared helper)
      "q159_score_calibration" -> 1,
      "q172_copurchase_lift" -> 1, // 1-row order-count broadcast (q142 pattern)
      "q174_curriculum_phases" -> 1, // 1-row token-budget broadcast
      "q175_backoff_lm" -> 1, // 1-row (train-bigrams, vocab) stats broadcast
      "q177_interleave_schedule" -> 1, // 1-row corpus-size broadcast
      "q178_doc_keywords" -> 1, // 1-row doc-count broadcast
      "q179_postings_bytes" -> 1, // 1-row doc-id-ceiling broadcast
      "q180_rfm_segments" -> 9, // 1-row reference-date + fence broadcasts
      // corpus × 2048 broadcast codebook rows (the q43 assignment
      // shape) + the 20480-row broadcast ADC table (that one IS an
      // equi-join on (ss, code))
      "q185_pq_adc_topk" -> 1,
      // composes q185's codebook scan; the candidate/ADC joins are
      // equi-joins
      "q186_ivfpq_topk" -> 3,
      // one q38-shaped broadcast-query scan (corpus × the 10-vector
      // query set); stage 2 runs on 32 rows/query
      "q209_matryoshka_serve" -> 1,
      // q186's serve shape over the appended store: query set × 8
      // stored coarse centroids (broadcast); code/ADC joins are
      // equi-joins
      "q215_pq_append_serve" -> 3,
      // q215's serve shape over the delete-maintained store
      "q226_pq_delete_serve" -> 3,
      // 1-row global-mean broadcast (the q142/q178 threshold pattern)
      "q234_important_parts" -> 1,
      // 1-row max-frequency broadcast keying the Prefix rank offsets
      // (the q142/q178 1-row-stats pattern)
      "q256_zipf_slope" -> 1,
      // 1-row corpus-token-total broadcast (the q113/q126 shape); the
      // vocab and source-total joins are equi-joins
      "q257_kl_drift" -> 1,
      // 1-row corpus-mass broadcast (same 1-row-stats shape); the
      // spread join is a vocab equi-join
      "q258_source_ablation" -> 1,
      // 1-row bigram-type-total broadcast; continuation joins are vocab
      // equi-joins
      "q259_kneser_ney_counts" -> 1)
    val pass = Catalogue.pass(spark, sf)
    val unbounded = pass.records.toSeq.sortBy(_._1).collect {
      case (name, r) if r.crossProducts > allowed.getOrElse(name, 0) =>
        s"$name plans ${r.crossProducts} cross products, bound ${allowed.getOrElse(name, 0)}; " +
          s"it must generate candidates, not cross products:\n${r.plan.take(4000)}"
    }
    val stale = allowed.keys.toSeq.sorted.filter { name =>
      !pass.failed.contains(name) && pass.records.get(name).forall(_.crossProducts == 0)
    }.map(name => s"$name is allowlisted but plans no cross product: drop its entry")
    val bad = unbounded ++ stale ++ pass.failures
    if (bad.nonEmpty) fail(bad.mkString("\n"))
  }

  test("semantic dedup's quadratic stage keys on cell, never a cartesian (q90)") {
    val p = plan("q90_semantic_dedup")
    // lloydAssign's corpus × 8 broadcast centroid grid planizes as
    // BroadcastNestedLoopJoin (bounded by construction — whitelisted
    // above); what must NEVER appear is a true CartesianProduct: the
    // within-cell pair stage and both accounting joins are equi-joins
    // on the cell / vec_id keys. (The unmaterialized plan tree repeats
    // cached subtrees, so shapes are asserted, not node counts.)
    assert(!p.contains("CartesianProduct"),
      s"q90's pair stage must equi-join on cell:\n${p.take(4000)}")
    assert(p.contains("cell"), s"pair/accounting joins must key on cell:\n${p.take(2000)}")
  }

  test("quantization is per-row math: only the output sort exchanges (q69)") {
    val p = plan("q69_quantize")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"q69 must not shuffle beyond the deterministic output sort:\n$p")
  }

  test("Q21 shape: semi and anti legs plan as equi-joins on the order key (q122)") {
    val p = plan("q122_waiting_suppliers")
    // the suppkey inequality must ride the orderkey equi-join as a
    // residual condition — never downgrade either leg to a nested loop
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"q122 must keep explicit semi/anti legs:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q122's legs degraded to a non-equi join:\n${p.take(3000)}")
  }

  test("epoch-shuffle rank filter compiles to WindowGroupLimit (q120)") {
    val p = plan("q120_epoch_shuffle")
    // rank <= 20 must prune per-partition BEFORE the window exchange —
    // without WindowGroupLimit the plan fully sorts the corpus per
    // epoch to serve a 20-row prefix
    assert(p.contains("WindowGroupLimit"),
      s"q120's rank filter must push into the window as a group limit:\n${p.take(3000)}")
  }

  test("paragraph-dedup first-occurrence reduce combines map-side (q165)") {
    val p = plan("q165_paragraph_dedup")
    // the whole skew argument: a corpus-wide mega-duplicated paragraph
    // must combine BEFORE the exchange (partial min(struct)), not sort
    // all its occurrences in one reducer as a window rank would
    assert(p.contains("partial_min"),
      s"q165's argmin must partial-aggregate before the exchange:\n${p.take(3000)}")
  }

  test("weighted-sample rank filter compiles to WindowGroupLimit (q169)") {
    val p = plan("q169_weighted_sample")
    // same contract as q120: the per-source bottom-5 must prune
    // per-partition before the exchange, never globally sort the corpus
    assert(p.contains("WindowGroupLimit"),
      s"q169's rank filter must push into the window as a group limit:\n${p.take(3000)}")
  }

  test("keyword extraction rank filter compiles to WindowGroupLimit (q178)") {
    val p = plan("q178_doc_keywords")
    assert(p.contains("WindowGroupLimit"),
      s"q178's per-doc top-3 must push into the window as a group limit:\n${p.take(3000)}")
  }

  test("PQ/IVFPQ top-10 rank filters compile to WindowGroupLimit (q185, q186)") {
    // serving a bounded prefix must prune per-partition before the
    // (q_id) window exchange — the q120/q169/q178 contract on the ANN
    // serving pair
    Seq("q185_pq_adc_topk", "q186_ivfpq_topk").foreach { n =>
      val p = plan(n)
      assert(p.contains("WindowGroupLimit"),
        s"$n's rank filter must push into the window as a group limit:\n${p.take(3000)}")
    }
  }

  test("q209's two ranking stages both compile to WindowGroupLimit") {
    // stage-1 prefix-dot prefilter (top-32) and stage-2 exact rerank
    // (top-5) must each prune per-partition before their exchange
    val p = plan("q209_matryoshka_serve")
    val n = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(n >= 2, s"expected >=2 WindowGroupLimit, found $n:\n${p.take(3000)}")
  }

  test("disjunctive predicate splits and pushes per side (q194)") {
    // the three-branch OR spans both join sides; CNF extraction must
    // leave each side's residual OR on its own SCAN: the quantity
    // disjunction on lineitem, the brand/size disjunction on part —
    // pushdown is the entire point of the Q19 shape
    val p = plan("q194_disjunctive_scan")
    val li = p.linesIterator.find(l => l.contains("FileScan") && l.contains("lineitem"))
      .getOrElse(fail(s"no lineitem scan:\n${p.take(3000)}"))
    val pt = p.linesIterator.find(l => l.contains("FileScan") && l.contains("/part"))
      .getOrElse(fail(s"no part scan:\n${p.take(3000)}"))
    assert(li.contains("Or(") && li.contains("l_quantity"),
      s"quantity OR must reach the lineitem scan:\n$li")
    assert(pt.contains("Or(") && pt.contains("p_brand"),
      s"brand/size OR must reach the part scan:\n$pt")
  }

  test("q208's maintenance ranks all compile to WindowGroupLimit") {
    // three ranking passes (stored top-k, delta top-k, merged re-rank):
    // every one must prune per-partition before its exchange
    val p = plan("q208_topk_maintenance")
    val n = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(n >= 3, s"expected >=3 WindowGroupLimit, found $n:\n${p.take(3000)}")
  }

  test("q198 rides the blocked affine scan: no Window, carry path engaged") {
    // the whole point of affineScanExc is that NO window task ever
    // holds a full series: the plan must contain the block column
    // (multi-block route engaged at span=8) and no Window operator at
    // all (the recurrence runs in the codegen kernels, not a window)
    val p = plan("q198_ema_scan")
    assert(p.contains("__afsBlk0"),
      s"q198 must engage the blocked carry path:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"the affine scan must not fall back to a window:\n${p.take(3000)}")
  }

  test("phrase-search posting legs are term-filtered before the positional join (q168)") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.catalyst.plans.Inner
    // the (doc, pos±k) equi-joins may move only the three phrase
    // terms' posting lists. The term filter runs BEFORE the shared postings cache (the cached frame holds only the
    // three matched lists, bounded by 3·df — not the corpus positional
    // index), so structurally: every input of every positional inner
    // join must read the term-filtered cache (an InMemoryTableScan whose
    // CACHED plan joins the broadcast phrase row), never a bare
    // corpus-sized posting scan.
    // AdaptiveSparkPlanExec is a leaf wrapper — collect() would walk
    // nothing; unwrap to the current inner plan first
    val phys = SparkEntry.queries("q168_phrase_search")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val positional = phys.collect {
      case j: BaseJoinExec if j.joinType == Inner && j.leftKeys.size >= 2 => j
    }
    assert(positional.size >= 2,
      s"expected the two (doc, pos) positional equi-joins in q168's plan:\n$phys")
    positional.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        val cacheScans = side.collect { case c: InMemoryTableScanExec => c }
        assert(cacheScans.nonEmpty,
          s"positional-join input must read the term-filtered postings cache:\n$side")
        cacheScans.foreach { c =>
          // the cached plan roots at its own AdaptiveSparkPlanExec (a
          // leaf wrapper for collect) — unwrap before walking
          val cachedPlan = c.relation.cachedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }
          assert(cachedPlan.collect { case b: BaseJoinExec => b }.nonEmpty,
            s"postings cache must be term-filtered against the broadcast phrase row " +
              s"BEFORE materialization (corpus-sized cache otherwise):\n$cachedPlan")
        }
      }
    }
  }

  test("gap detection pushes its window filter into the fact scan (q17)") {
    val p = plan("q17_gap_detect")
    // fragments asserted independently: pushed-filter ORDER inside the
    // rendered list is not contractual across Spark versions
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("IsNotNull(l_shipdate)") &&
        pushed.contains("GreaterThanOrEqual(l_shipdate"),
      s"the 60-day window must reach the lineitem scan, not the post-distinct filter:\n$p")
  }

  test("correlated scalar subquery decorrelates to an aggregate join (q84)") {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val df = SparkEntry.queries("q84_scalar_subquery")(spark, sf)
    val lp = df.queryExecution.optimizedPlan
    val subs = lp.collect { case p =>
      p.expressions.flatMap(_.collect { case s: SubqueryExpression => s }) }.flatten
    assert(subs.isEmpty,
      s"the per-part average must decorrelate into a join, not re-run per row:\n$lp")
    val scans = df.queryExecution.executedPlan.toString.linesIterator
      .count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(scans <= 2,
      "lineitem must scan at most twice (fact side + per-part aggregate)")
  }

  test("minhash kernel evaluates once per row, not once per split column") {
    // minhashSignatures relies on CollapseProject's cost-aware check to
    // keep the kernel out of the k getItem projections — if a Spark
    // upgrade ever starts inlining non-cheap multi-referenced producers,
    // the kernel would silently run k=32 times per row
    // n=4/k=24 are used by NO query: a cached plan fragment from another
    // suite would otherwise substitute an InMemoryRelation here and hide
    // the kernel project this test inspects
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val sigs = graft.dedup.Dedup.minhashSignatures(docs, 4, 24)
    val phys = sigs.queryExecution.executedPlan.toString
    assert("minhashsigsexpr".r.findAllIn(phys).length == 1,
      s"expected exactly one kernel call in the physical plan:\n${phys.take(2000)}")
    val sigsTok = graft.dedup.Dedup.minhashSignaturesTokens(docs, 4, 24)
    val physTok = sigsTok.queryExecution.executedPlan.toString
    assert("minhashsigstokensexpr".r.findAllIn(physTok).length == 1,
      s"expected exactly one token-kernel call in the physical plan:\n${physTok.take(2000)}")
  }

  test("verify-side shingle arrays: survivor-scoped past the budget, full-corpus under it") {
    // past the cluster-shape budget the exact-verify array build must
    // sit ABOVE a left-semi join against the candidate-pair id set —
    // a full-corpus build (and its ~gramSize× cache) would be the last
    // corpus-proportional cost of the flagship dedup pipeline at 100 TB.
    // UNDER the budget the full-corpus build
    // must remain (the scoped shape's extra stages measured ~1 s slower
    // on the fixture — see minhashNearDups doc). The build is a cached
    // intermediate, so it is asserted through its InMemoryRelation's
    // cached physical plan. n=4/k=24 are used by no query
    // (cache-collision guard, as in the kernel-once test).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def shArrPlan(df: org.apache.spark.sql.DataFrame, kernel: String): String =
      df.queryExecution.optimizedPlan.collect { case imr: InMemoryRelation =>
        (imr.cachedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case other => other
        }).toString
      }.find(_.contains(kernel))
        .getOrElse(fail(s"$kernel array build must be a cached intermediate"))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    try {
      val charScoped = shArrPlan(
        graft.dedup.Dedup.minhashNearDups(docs, 4, 24, 8, 0.7, narrowBudgetBytes = 0L),
        "sortedshinglesexpr")
      assert(charScoped.contains("LeftSemi"),
        s"past the budget, char shingle arrays must be semi-join-scoped:\n${charScoped.take(3000)}")
      val tokScoped = shArrPlan(
        graft.dedup.Dedup.minhashNearDupsTokens(docs, 4, 24, 8, 0.7, narrowBudgetBytes = 0L),
        "sortedtokenshinglesexpr")
      assert(tokScoped.contains("LeftSemi"),
        s"past the budget, token shingle arrays must be semi-join-scoped:\n${tokScoped.take(3000)}")
      Caches.releaseAll()
      val charLocal = shArrPlan(
        graft.dedup.Dedup.minhashNearDups(docs, 4, 24, 8, 0.7), "sortedshinglesexpr")
      assert(!charLocal.contains("LeftSemi"),
        "under the budget the full-corpus build must remain (no semi-join stages)")
    } finally Caches.releaseAll()
  }

  test("incremental dedup reduces the corpus side before anti-joining (q73)") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val lp = SparkEntry.queries("q73_incremental_dedup")(spark, sf)
      .queryExecution.optimizedPlan
    // the anti-join sits INSIDE the cached vsCorpus intermediate, so it
    // must be found through each InMemoryRelation's cached PHYSICAL plan
    // (unwrapping the AQE root). The distinct on corpus fingerprints must
    // sit inside the anti-join's build side — a string-level
    // HashAggregate check would also match the final source rollup and
    // miss a removed pre-reduction.
    val cachedPlans = lp.collect { case imr: InMemoryRelation =>
      imr.cachedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case other => other
      }
    }
    val antis = cachedPlans.flatMap(_.collect {
      case j: BaseJoinExec if j.joinType == LeftAnti => j })
    assert(antis.nonEmpty, s"corpus collision must be an anti-join:\n$lp")
    assert(antis.exists(_.right.collectFirst { case a: BaseAggregateExec => a }.isDefined),
      s"anti-join build side must be the distinct-fingerprint aggregate:\n${antis.head}")
  }

  test("cross-doc span counting is aggregate + semi-join, no pair fan-out (q72)") {
    val p = plan("q72_dup_spans")
    assert(p.contains("LeftSemi"),
      s"shared-gram membership must be a semi-join, not an inner fan-out:\n$p")
  }

  test("Lloyd reassignment inlines the centroid table — no corpus re-key (q79)") {
    // the bounded k×d centroid table rides inside the codegen'd
    // lloyd_dists kernel (literal centroids), so assignment is one
    // stream-through projection: no broadcast, no join, and the ONLY
    // exchanges are the per-cell rollup + the bounded output sort. A
    // join or extra exchange here would re-key the corpus.
    val p = plan("q79_kmeans_step")
    assert(p.contains("lloyd_dists"),
      s"assignment must run the inlined lloyd_dists kernel:\n$p")
    assert(!p.contains("Join"),
      s"assignment must not join the corpus against the centroids:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"assignment + rollup must shuffle only the per-cell partials (got $exchanges exchanges):\n$p")
  }

  test("no operator collects the corpus to the driver") {
    // every query plan must keep its row movement inside Spark; query
    // functions themselves are lazy. (This checks only that each plan
    // analyses; it does not bound the rows a query pulls to the driver.)
    val pass = Catalogue.pass(spark, sf)
    val unbuilt = pass.records.toSeq.sortBy(_._1).collect {
      case (name, r) if !r.analyzed => s"$name must build a lazy plan"
    }
    val bad = unbuilt ++ pass.failures
    if (bad.nonEmpty) fail(bad.mkString("\n"))
  }
}
