package object graft {
  /** Signature of every driver-checkable query: (session, sf dir) => result.
    * See SparkEntry and Bench.walk. */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** `.pinned()` — the registered spelling of `.localCheckpoint()` for
    * TRANSIENT checkpoints (see [[Caches.pin]]): chain-position
    * drop-in, so converting a raw checkpoint to a released one doesn't
    * restructure the expression. */
  implicit class PinnedOps[T](private val ds: org.apache.spark.sql.Dataset[T]) {
    def pinned(): org.apache.spark.sql.Dataset[T] = Caches.pin(ds)
  }
}
