package graft

/** Mechanical laws for the checkpoint-release registry (the bench
  * back-half drift fix lives or dies on these semantics):
  * pin materializes and registers, unpin/releaseAll actually remove
  * the checkpoint's blocks from the block manager, and scoped cleanup
  * frees ONLY its own registrations (an outer pin must survive a
  * streaming micro-batch's cleanup and stay readable — a released
  * checkpoint is unrecoverable, so over-release is a correctness bug,
  * not a perf bug). */
class CachesSpec extends SparkSpec {
  import spark.implicits._

  private def persistentCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("pin registers a released-on-unpin checkpoint; data survives until then") {
    Caches.releaseAll()
    val base = persistentCount
    val df = Caches.pin((1 to 100).toDF("x"))
    assert(persistentCount > base, "pin must persist the checkpoint RDD")
    assert(Caches.pinnedCount >= 1)
    assert(df.count() == 100) // readable while pinned
    Caches.unpin(df)
    assert(persistentCount == base, "unpin must free the checkpoint's RDD")
    assert(Caches.pinnedCount == 0)
    // double-unpin and unpin of a never-pinned frame are no-ops
    Caches.unpin(df)
    Caches.unpin((1 to 3).toDF("y"))
    assert(persistentCount == base)
  }

  test("releaseAll frees every surviving pin and cache") {
    Caches.releaseAll()
    val base = persistentCount
    val a = Caches.pin((1 to 10).toDF("x"))
    val b = Caches.pin((1 to 20).toDF("x"))
    Caches.cached((1 to 30).toDF("x")).count()
    assert(a.count() == 10 && b.count() == 20)
    assert(Caches.pinnedCount == 2)
    Caches.releaseAll()
    assert(Caches.pinnedCount == 0)
    // non-blocking unpersist: poll briefly for the block manager to drain
    val deadline = System.nanoTime() + 10_000_000_000L
    while (persistentCount > base && System.nanoTime() < deadline) Thread.sleep(50)
    assert(persistentCount == base,
      s"releaseAll must drain the block manager (still ${persistentCount - base} extra)")
  }

  test("cached leaves a plan cached outside the registry to its owner") {
    Caches.releaseAll()
    val owned = (1 to 11).toDF("x").cache()
    try {
      assert(Caches.cached((1 to 11).toDF("x")).count() == 11)
      Caches.releaseAll()
      assert(owned.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "releaseAll dropped a cache that Caches.cached did not make")
    } finally owned.unpersist()
  }

  test("scoped releases ONLY its own registrations — outer pins survive and stay readable") {
    Caches.releaseAll()
    val outer = Caches.pin((1 to 50).toDF("x"))
    val innerSeen = Caches.scoped {
      val inner = Caches.pin((1 to 7).toDF("x"))
      Caches.cached((1 to 9).toDF("x")).count()
      inner.count()
    }
    assert(innerSeen == 7)
    assert(Caches.pinnedCount == 1, "only the outer pin may survive the scope")
    // the outer checkpoint must still be READABLE (a released checkpoint
    // cannot recompute — this is the correctness half of the law)
    assert(outer.count() == 50)
    Caches.releaseAll()
  }

  test("scoped releases its registrations even when the body throws") {
    Caches.releaseAll()
    intercept[RuntimeException] {
      Caches.scoped {
        Caches.pin((1 to 5).toDF("x"))
        throw new RuntimeException("batch failure")
      }
    }
    assert(Caches.pinnedCount == 0, "a failed batch must not leak its pins")
  }

  test("scoped tolerates a releaseAll() inside the body (watermark clamps, r11 advice)") {
    Caches.releaseAll()
    Caches.cached((1 to 4).toDF("x")).count() // registration BELOW the scope's mark
    val out = Caches.scoped {
      Caches.cached((1 to 6).toDF("x")).count()
      Caches.releaseAll() // shrinks the registry below the entry watermark
      Caches.cached((1 to 8).toDF("x")).count() // re-registration inside the scope
      42
    }
    // before the clamp this finally block threw IndexOutOfBounds from
    // active.remove(mark, negativeCount) and masked the body's result
    assert(out == 42)
    assert(Caches.pinnedCount == 0)
    Caches.releaseAll()
  }

  test("scoped THROWS on interleaved (non-LIFO) scopes instead of freeing foreign pins (r11 verdict #4)") {
    Caches.releaseAll()
    // properly NESTED scopes across threads are LIFO and stay legal
    Caches.scoped { Caches.scoped { 1 } }
    // interleave: scope A exits while scope B (opened inside A on
    // another thread) is still open — the watermark release would free
    // B's pins, so A's exit must refuse loudly
    val bOpened = new java.util.concurrent.CountDownLatch(1)
    val aExited = new java.util.concurrent.CountDownLatch(1)
    @volatile var bResult = 0
    val ex = intercept[IllegalStateException] {
      Caches.scoped {
        val t = new Thread(() => {
          bResult = Caches.scoped {
            bOpened.countDown()
            aExited.await() // hold B open across A's exit
            7
          }
        })
        t.setDaemon(true); t.start()
        bOpened.await()
      }
    }
    assert(ex.getMessage.contains("LIFO"))
    aExited.countDown()
    // B's own exit is clean and the registry stays usable afterwards
    val deadline = System.nanoTime() + 5_000_000_000L
    while (bResult == 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(bResult == 7)
    assert(Caches.scoped { Caches.cached((1 to 3).toDF("x")).count() } == 3)
    assert(Caches.pinnedCount == 0)
    Caches.releaseAll()
  }
}
