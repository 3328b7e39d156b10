package graft

/** Plan pins for the TOP-10 TIMED BENCH LINES: each of the most
  * expensive queries in the committed bench artifact keeps ONE named
  * load-bearing physical shape, so a silent planner regression (a Spark
  * upgrade, a stats change, an accidental hint removal) fails CI
  * instead of quietly showing up as a slower bench artifact later.
  * The catalogue pass (PlanSpec's per-query cross-product bound,
  * PlanFingerprintSpec's operator multisets) nets every query's plan at
  * coarse grain; this suite pins what makes the expensive queries fast,
  * not just not-broken.
  *
  * Pins assert shapes that are stable at the spec's fixture scale and
  * load-bearing at any scale (top-k operators, kernel-in-join, anti-
  * join admission, map-side-combined aggregates) — NOT broadcast-vs-SMJ
  * choices, which legitimately flip with stats. */
class BenchPlanSpec extends SparkSpec {

  /** Finalized (post-AQE) physical plan text. */
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    Caches.releaseAll()
    p
  }

  test("q114 top-20 is a bounded heap (TakeOrderedAndProject), never a global sort") {
    assert(plan("q114_graph_mass_rank").contains("TakeOrderedAndProject"))
  }

  test("q107 probes the Bloom filter in a kernel and verifies with a semi-join") {
    val p = plan("q107_bloom_decontaminate")
    assert(p.contains("MapPartitions"), "Bloom probe must be a narrow kernel, not a join")
    assert(p.contains("LeftSemi"), "exact verify must stay a semi-join")
  }

  test("q37 exact verify is the codegen'd two-pointer kernel INSIDE the banded join") {
    val p = plan("q37_minhash_lsh")
    assert(p.contains("sortedintersectcount"),
      "the exact-Jaccard verify must ride the join condition (codegen'd kernel)")
  }

  test("q151 first-occurrence index is a map-side-combined min, not a window") {
    val p = plan("q151_novelty_profile")
    assert(p.contains("partial_min"),
      "gram first-occurrence must partial-aggregate (map-side combine)")
  }

  test("q185 PQ top-k is a WindowGroupLimit (per-query rank pushdown)") {
    assert(plan("q185_pq_adc_topk").contains("WindowGroupLimit"))
  }

  test("q100 dedup keeper selection is a WindowGroupLimit, never a full window sort") {
    assert(plan("q100_corpus_build").contains("WindowGroupLimit"))
  }

  test("q193 diversity check plans its exclusion as an anti-join") {
    assert(plan("q193_supplier_diversity").contains("LeftAnti"))
  }

  test("q214 routes the fixture-scale graph to the single-task power iteration") {
    // the stats route: below the 8M-edge budget the whole fixpoint runs
    // as one executor task (a MapPartitions kernel) — ~85 driver-
    // scheduled shuffle rounds on a one-task graph is pure overhead
    assert(plan("q214_pagerank").contains("MapPartitions"))
  }

  test("q178 per-doc keyword top-3 is a WindowGroupLimit") {
    assert(plan("q178_doc_keywords").contains("WindowGroupLimit"))
  }

  test("q73 incremental admission anti-joins the persisted store") {
    assert(plan("q73_incremental_dedup").contains("LeftAnti"))
  }
}
