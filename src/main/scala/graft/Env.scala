package graft

/** The ONE spelling of every environment variable `src/main` reads.
  * Bench/Verify (and any dev tool) must reference these constants
  * instead of inline string literals — a transposed-case typo in a
  * literal (e.g. "SPARK_GRAft_...") silently reads nothing and is
  * invisible in review.
  */
object Env {
  val SfDir    = "SPARK_GRAFT_SF_DIR"
  val Cpus     = "SPARK_GRAFT_CPUS"
  val Reps     = "SPARK_GRAFT_REPS"
  val Only     = "SPARK_GRAFT_ONLY"
  val BenchOut = "SPARK_GRAFT_BENCH_OUT" // =BENCH_QUERIES.json: update the committed artifact
  val DataDir  = "SPARK_GRAFT_DATA_DIR" // graft.Main's pipeline data root
}
