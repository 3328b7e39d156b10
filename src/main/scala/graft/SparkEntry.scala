package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Queries and oracles live next to the operator modules they exercise
  * (graft.operators.*, graft.dedup.*, graft.similarity.*, ...); this
  * object only concatenates their maps for the driver harness.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    operators.Relational.queries ++ operators.Snapshots.queries ++
      operators.TimeSeries.queries ++ operators.TextAnalysis.queries ++
      operators.TextRetrieval.queries ++ operators.TextScoring.queries ++
      operators.CorpusHealth.queries ++
      dedup.Dedup.queries ++ similarity.Similarity.queries ++
      multimodal.Multimodal.queries ++ operators.Analytics.queries ++
      operators.Scale.queries ++ streaming.Streaming.queries ++
      operators.Sketches.queries ++ operators.Sketches.queries2 ++
      operators.Bpe.queries ++ sources.StatsStore.queries ++
      operators.Quality.queries

  /** Fixed-size SEMANTICS AUDITS, excluded from Bench's timing set (but
    * always in Verify/CORRECTNESS — the correctness gate still runs every
    * one of these):
    *  - q101/q132/q133/q134 drive REAL streaming loops (checkpointed
    *    restarts, state stores) over deterministic fixtures — their wall
    *    time is streaming-checkpoint fixed overhead by construction, and
    *    timing them would charge the throughput bench minutes for
    *    fixture-sized data;
    *  - q86 deliberately re-runs the q37 pipeline through the
    *    beyond-budget 100 TB route (pair-cache barrier + salted narrow
    *    survivors + survivor-scoped arrays) purely as a scale-shape pin —
    *    a pin, not a throughput query, and its one-rep timing is the
    *    noisiest line of a run.
    * SPARK_GRAFT_ONLY still selects any of them explicitly for dev
    * timing. */
  val benchExcluded: Set[String] = Set("q101_admission_loop",
    "q86_lsh_narrow_salted", "q132_store_lifecycle",
    "q133_stream_pack", "q134_stream_scd2", "q137_stream_sessions",
    "q141_stream_interval_join", "q143_stream_ohlc", "q197_stream_dedup",
    "q200_stream_ema", "q203_stream_outer_join", "q222_stream_trend",
    "q246_stream_funnel", "q251_stream_kanon_gate",
    "q255_stream_stratified_sample")

  /** Queries whose construction triggers a MEMOIZED per-process build
    * (media container encode, persisted IVF/range/Z-order/bloom/
    * signature stores). Bench invokes each once in the UNTIMED setup
    * phase so the build is charged to setup, not to
    * whichever query the map happens to iterate first (a first-touch
    * media-encode charge once showed as a 3.4× phantom regression of
    * q104). Membership here does NOT exclude a query
    * from timing; it only pre-pays its shared fixture. */
  val benchBuilds: Seq[String] = Seq(
    "q42_multimodal_features",   // syntheticMedia container encode
    "q87_ivf_serve",             // persisted IVF index
    "q103_ivf_append_serve",     // IVF append layout
    "q106_stats_pruned_scan",    // range store + manifest
    "q111_zorder_scan",          // Z-order store + manifest
    "q127_bloom_pruned_scan",    // bloom store + manifest
    "q88_incremental_minhash",   // MinHash signature store
    "q185_pq_adc_topk",          // persisted PQ index (codebooks+codes)
    "q186_ivfpq_topk",           // same store as q185 (shared build)
    "q215_pq_append_serve",      // PQ index append layout
    "q118_bpe_encode",           // persisted BPE merge table
    "q217_trend_maintenance",    // persisted daily-revenue MV state
    "q226_pq_delete_serve",      // PQ index delete layout
    "q213_triangles",            // co-purchase edge store (shared by
                                 // q241/q247/q248)
    "q252_graph_append_serve",   // incrementally maintained pair-count
                                 // store (build + append)
    "q114_graph_mass_rank",      // trade edge store (shared by
                                 // q214/q227)
    "q253_dangling_mass")        // customer→part edge store

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++ operators.Snapshots.oracles ++
      operators.TimeSeries.oracles ++ operators.TextAnalysis.oracles ++
      operators.TextRetrieval.oracles ++ operators.TextScoring.oracles ++
      operators.CorpusHealth.oracles ++
      dedup.Dedup.oracles ++ similarity.Similarity.oracles ++
      multimodal.Multimodal.oracles ++ operators.Analytics.oracles ++
      operators.Scale.oracles ++ streaming.Streaming.oracles ++
      operators.Sketches.oracles ++ sources.StatsStore.oracles ++
      operators.Quality.oracles
}
