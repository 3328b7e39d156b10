package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Opt-in scale-stress suite: every envelope claim in
  * the flagship pipelines is normally tested at fixture scale; this
  * suite re-tests the claims on a 10× corpus with a DELIBERATELY skewed
  * key and asserts the designed routes actually engage there —
  * stats-gated shapes flip, plans stay cartesian-free, answers stay
  * exact. Excluded from the default run (tests cancel via `assume`
  * unless SPARK_GRAFT_STRESS=1):
  *
  *   SPARK_GRAFT_STRESS=1 sbt "testOnly graft.StressSpec"
  *
  * The corpus: the 500-doc fixture replicated 10× by doc_id offset,
  * plus one HOT document cloned 100× — a skewed LSH bucket (identical
  * signatures land all 100 clones in one bucket per band), a skewed
  * group key, and a C(100,2)-pair verify burst, all shapes a uniform
  * fixture never exercises.
  */
class StressSpec extends SparkSpec {
  import spark.implicits._

  /** The opt-in switch: `=1` runs the suite. */
  private val StressVar = "SPARK_GRAFT_STRESS"
  private def stress = sys.env.get(StressVar).contains("1")

  /** 10× replicated corpus + 100 clones of one hot doc (doc_ids are
    * disjoint across replicas and clones). */
  private lazy val corpus10x: DataFrame = {
    val base = Tables.documents(spark, sf).select("doc_id", "text", "source")
    // explode, not crossJoin: the fixture's own plan must stay
    // cartesian-free (it is embedded in the plans the tests audit)
    val replicas = base
      .withColumn("rep", explode(sequence(lit(0), lit(9))))
      .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        col("text"), col("source"))
    val hotText = base.orderBy("doc_id").select("text").as[String].head()
    val hot = spark.range(100)
      .select((col("id") + 50000000L).as("doc_id"),
        lit(hotText).as("text"), lit("hot").as("source"))
    // plain .cache(), NOT Caches.cached: each test's
    // `finally Caches.releaseAll()` would unpersist a registered
    // suite-lifetime fixture after the first test, recomputing the 10x
    // explode+union uncached in every later test. The suite's session
    // teardown releases the plain cache.
    val df = replicas.unionByName(hot)
    df.cache()
    df
  }

  test("near-dup LSH at 10x + hot bucket: banded route, no cartesian, hot cluster fully recovered") {
    assume(stress, "set SPARK_GRAFT_STRESS=1 to run the scale-stress suite")
    try {
      // cluster shape forced (narrowBudgetBytes=0): the NARROW+SALTED
      // survivors join AND the survivor-scoped verify — the plan a
      // 100 TB run executes (the q86 pin, now on the skewed 10x corpus)
      val scoped = graft.dedup.Dedup.minhashNearDups(
        corpus10x.select("doc_id", "text"), n = 3, k = 32, bands = 8,
        threshold = 0.7, narrowBudgetBytes = 0L)
      val p = scoped.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"banding must never degenerate to a cross product:\n${p.take(3000)}")
      // the stats route FLIPPED where designed: the survivor-scoped
      // array build shows as a semi-join in the cluster-shape plan...
      assert(p.contains("LeftSemi"),
        "budget=0 must engage the survivor-scoped verify (semi-join)")
      // ...and the default (in-budget at this size) shape has none
      val wide = graft.dedup.Dedup.minhashNearDups(
        corpus10x.select("doc_id", "text"), n = 3, k = 32, bands = 8,
        threshold = 0.7)
      assert(!wide.queryExecution.executedPlan.toString.contains("LeftSemi"),
        "in-budget corpus must keep the full-corpus array build")
      val pairs = Caches.cached(scoped.select("a_id", "b_id"))
      // identical clones collide in EVERY band: all C(100,2) hot pairs
      // must survive the estimate prefilter and exact-verify at J=1.0
      val hotPairs = pairs
        .filter(col("a_id") >= 50000000L && col("b_id") >= 50000000L).count()
      assert(hotPairs == 100L * 99 / 2,
        s"hot cluster must be fully recovered, got $hotPairs")
      // route parity on the skewed corpus: cluster shape == wide shape
      val wideSet = wide.select("a_id", "b_id")
      assert(pairs.exceptAll(wideSet).isEmpty && wideSet.exceptAll(pairs).isEmpty,
        "budget routing must never change the pair set")
    } finally Caches.releaseAll()
  }

  test("exact dedup at 10x + hot key: hash-groupBy collapses the skewed key exactly") {
    assume(stress, "set SPARK_GRAFT_STRESS=1 to run the scale-stress suite")
    try {
      val deduped = corpus10x.groupBy("text")
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      val p = deduped.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"))
      // every base text appears in all 10 replicas; the hot text gets
      // 100 more copies on top of its replicated 10 (if unique in base)
      val expectedDistinct = Tables.documents(spark, sf)
        .select(countDistinct(col("text"))).as[Long].head()
      assert(deduped.count() == expectedDistinct,
        "dedup must collapse replicas AND the hot clones onto base texts")
      val maxCopies = deduped.agg(max(col("n_copies"))).as[Long].head()
      assert(maxCopies >= 110L, s"hot key must carry its 100 clones, got $maxCopies")
    } finally Caches.releaseAll()
  }

  test("salted aggregation at 10x + hot key is bit-identical to the plain groupBy") {
    assume(stress, "set SPARK_GRAFT_STRESS=1 to run the scale-stress suite")
    try {
      val src = corpus10x.select(col("source"),
        length(col("text")).cast("double").as("v"), col("doc_id"))
      val salted = graft.operators.Scale
        .saltedAgg(src, "source", "v", salts = 16, saltSource = col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val plain = src.groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,4)")).cast("decimal(38,4)")
            .cast("double").as("sum"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(salted == plain,
        "salting must be bit-identical under skew (exact decimal partials)")
    } finally Caches.releaseAll()
  }

  test("pageRank route flip: forced distributed loop equals the single-task route on the same graph") {
    assume(stress, "set SPARK_GRAFT_STRESS=1 to run the scale-stress suite")
    try {
      val edges = graft.operators.Analytics.copurchaseEdges(spark, sf)
      val sym = edges.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
      def ranks(localBudget: Long): Map[Long, Double] =
        graft.operators.Analytics
          .pageRank(sym, damping = 0.85, tol = 1e-4, maxIter = 100,
            localBudget = localBudget)
          .collect() // bounded: node-count rows, fixture graph
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val single = ranks(localBudget = Long.MaxValue) // always single-task
      val looped = ranks(localBudget = 0L)            // always the distributed loop
      assert(single.keySet == looped.keySet)
      // same algebra, different fp fold order: agree to 1e-9 per node
      single.foreach { case (id, r) =>
        assert(math.abs(r - looped(id)) < 1e-9, s"node $id: $r vs ${looped(id)}")
      }
    } finally Caches.releaseAll()
  }
}
