package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Registry for operator-internal `.cache()`s AND `.localCheckpoint()`s
  * so harnesses can release them between queries.
  *
  * Dedup/similarity pipelines legitimately cache shared intermediates
  * (signatures, shingle indexes) that are consumed several times within
  * ONE query's plan — but a 42-query run that never unpersists them
  * accumulates every query's intermediates in the storage layer
  * (memory + spilled disk) for the life of the session. Operators
  * register caches here; Verify/Bench call [[releaseAll]] after each
  * query's consuming action completes.
  *
  * Checkpoints need the same discipline but a DIFFERENT release path:
  * `localCheckpoint()` pins its materialized blocks on an internal RDD
  * that `Dataset.unpersist()` does NOT touch, so a 238-query run of
  * iterative loops (PageRank rounds, BFS levels, BPE merge rounds,
  * store-overwrite pins) leaks every round's blocks into the block
  * manager for the life of the JVM. [[pin]] checkpoints a frame and
  * remembers the underlying RDD (extracted from the resulting
  * `LogicalRDD` leaf); [[unpin]] frees a SUPERSEDED checkpoint
  * mid-loop (safe once its successor is eagerly materialized — eager
  * is the `localCheckpoint()` default, so the successor's blocks no
  * longer reference the predecessor's lineage); [[releaseAll]] frees
  * whatever survives to query end.
  *
  * NOT routed through here: the per-process media-decode memo
  * ([[graft.multimodal.Multimodal]]) — a deliberately CROSS-query
  * fixture whose blocks must survive releaseAll (a released
  * localCheckpoint is unrecoverable: the lineage is truncated, so a
  * later read fails instead of recomputing).
  */
object Caches {
  private val active = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private val pinnedRdds = scala.collection.mutable.LinkedHashMap[Long, Seq[RDD[_]]]()
  private var nextToken = 0L
  // frame (by identity) → registry token, so unpin can find the RDDs
  // of the exact frame a loop supersedes
  private val tokenOf = new java.util.IdentityHashMap[Dataset[_], java.lang.Long]()

  /** Cache `df` and remember it for later release. A plan that is
    * already cached belongs to whoever cached it: it is returned as is
    * and not registered, so a release here never drops another owner's
    * cache. */
  def cached(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.cache()
      active += df
    }
    df
  }

  /** `df.localCheckpoint()` (eager) with the checkpoint's internal RDD
    * registered for release — the drop-in spelling for every TRANSIENT
    * (within-one-query) checkpoint. */
  def pin[T](df: Dataset[T]): Dataset[T] = {
    val cp = df.localCheckpoint() // eager: materializes before we register
    val rdds: Seq[RDD[_]] = cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    synchronized {
      val tok = nextToken; nextToken += 1
      pinnedRdds(tok) = rdds
      tokenOf.put(cp, tok)
    }
    cp
  }

  /** Free a SUPERSEDED pinned checkpoint now instead of at query end —
    * the in-loop release for iterative algorithms, whose round-N blocks
    * are dead the moment round N+1's checkpoint is materialized.
    * No-op for frames not produced by [[pin]] (or already released). */
  def unpin(df: Dataset[_]): Unit = synchronized {
    Option(tokenOf.remove(df)).foreach { tok =>
      pinnedRdds.remove(tok).foreach(_.foreach(_.unpersist(blocking = false)))
    }
  }

  /** Unpersist every registered cache and pinned checkpoint
    * (non-blocking) and forget them. Safe to call while nothing is
    * registered. */
  def releaseAll(): Unit = synchronized {
    active.foreach(_.unpersist(blocking = false))
    active.clear()
    pinnedRdds.valuesIterator.foreach(_.foreach(_.unpersist(blocking = false)))
    pinnedRdds.clear()
    tokenOf.clear()
  }

  /** Number of currently registered pinned-checkpoint entries — the
    * Bench leak diagnostic reads this between queries (it should be 0
    * right after releaseAll). */
  def pinnedCount: Int = synchronized(pinnedRdds.size)

  // LIFO stack of open scoped() frames — detects interleaved scopes,
  // which the watermark scheme cannot tolerate (scope A exiting after
  // scope B opened would free B's pins; unrecoverable for checkpoints).
  private val scopeStack = scala.collection.mutable.ArrayBuffer[Long]()
  private var nextScopeId = 0L

  /** Run `body` and release ONLY the caches/pins it registered — the
    * per-micro-batch cleanup for streaming foreachBatch bodies. A
    * global releaseAll there would also free pins made OUTSIDE the
    * batch (unrecoverable for checkpoints: truncated lineage cannot
    * recompute), so batch cleanup must be scoped to the batch's own
    * registrations. Marks are registration-order watermarks, which is
    * only sound for strictly nested (LIFO) scopes: interleaved scopes
    * (two threads, or non-nested overlap) would release each other's
    * pins. Exit therefore ASSERTS LIFO order and throws on
    * interleaving instead of silently freeing foreign registrations.
    * A releaseAll() inside the body legitimately shrinks the registry
    * below the entry watermark, so the cleanup clamps to the current
    * length rather than removing a negative count. */
  def scoped[A](body: => A): A = {
    val (cacheMark, tokenMark, scopeId) = synchronized {
      val id = nextScopeId; nextScopeId += 1
      scopeStack += id
      (active.length, nextToken, id)
    }
    // track the body's own failure so a LIFO violation detected in the
    // cleanup never REPLACES it — the root cause must propagate, with
    // the violation attached as a suppressed exception
    var primary: Throwable = null
    try body
    catch { case t: Throwable => primary = t; throw t }
    finally synchronized {
      if (scopeStack.isEmpty || scopeStack.last != scopeId) {
        // Another scope opened inside ours and hasn't exited (or a
        // foreign thread interleaved). Releasing by watermark now would
        // free ITS pins — refuse loudly instead of corrupting state.
        scopeStack -= scopeId
        val violation = new IllegalStateException(
          s"Caches.scoped exit out of LIFO order (scope $scopeId; open: ${scopeStack.mkString(",")}) — " +
            "interleaved scopes would release each other's pinned checkpoints")
        if (primary != null) primary.addSuppressed(violation)
        else throw violation
      } else {
        scopeStack.remove(scopeStack.length - 1)
        // clamp: body may have called releaseAll(), shrinking below the mark
        val from = math.min(cacheMark, active.length)
        active.drop(from).foreach(_.unpersist(blocking = false))
        active.remove(from, active.length - from)
        pinnedRdds.keys.filter(_ >= tokenMark).toList.foreach { t =>
          pinnedRdds.remove(t).foreach(_.foreach(_.unpersist(blocking = false)))
        }
        val it = tokenOf.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue >= tokenMark) it.remove()
      }
    }
  }
}
