package graft

/** Per-process scratch roots for query-built store fixtures (persisted
  * IVF indexes, range/Z-order/bloom skipping stores).
  *
  * Three properties, each fixing a concrete defect class (q127's store
  * collisions and stale stores):
  *  - paths derive from the SANITIZED full source-dir path, never its
  *    hashCode — two different sf dirs can no longer collide onto one
  *    store;
  *  - the root carries the process id, so two concurrent runs can never
  *    race one store's mode("overwrite") writes against the other's
  *    reads, and a store can never go stale across code versions — a
  *    fresh process always builds fresh;
  *  - builds MEMOIZE per process ([[ensure]]): the first invocation
  *    pays the build, every later rep of the same query (and any other
  *    query sharing the fixture) measures SERVING — the production
  *    cost profile (build once at ingest, serve many), which is what
  *    the bench lines should time.
  *
  * The root is removed on JVM exit; within a run the stores are
  * bounded by the fixture corpus size.
  */
object Scratch {
  /** Recursive delete — THE shared spelling (shutdown hook, manifest
    * reclaim, and the streaming audits' temp-dir cleanup all call it;
    * three private copies drifted before this was hoisted). */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  private val root: String = {
    val r = s"${System.getProperty("java.io.tmpdir")}/graft_run_${ProcessHandle.current().pid()}"
    sys.addShutdownHook { rmTree(new java.io.File(r)) }
    r
  }

  /** Stable per-(process, kind, source-dir) store path. The sanitized
    * readable segment is for humans; INJECTIVITY comes from the md5
    * digest of the RAW path (sanitization alone maps every
    * non-[A-Za-z0-9._-] char to '_', so "/a/b" and "/a_b" collided —
    * and ensure() would then silently serve the first dir's prebuilt
    * store for the second). */
  def dirFor(kind: String, srcDir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(srcDir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"$root/${kind}_${srcDir.replaceAll("[^A-Za-z0-9._-]", "_")}_$digest"
  }

  private val built = new java.util.concurrent.ConcurrentHashMap[String, Unit]()

  /** Run `build` at most once per path per process (later callers —
    * including concurrent ones, which block until the first completes —
    * serve the already-built store). Returns the path. */
  def ensure(path: String)(build: => Unit): String = {
    built.computeIfAbsent(path, _ => { build; () })
    path
  }
}

/** Generation-pointer manifest for multi-generation stores (the q252
  * co-purchase append store): a store root holds sibling generation
  * directories (`gen0`, `gen1`, ...) plus one MANIFEST file naming the
  * generation readers should serve. Writers build the NEW generation as
  * a sibling, [[flip]] the pointer LAST (write-to-temp + atomic rename,
  * so a racing reader sees either the old or the new pointer, never a
  * torn file), then [[reclaim]] the superseded directory. On a cluster
  * the same protocol runs against the object store's atomic-put
  * manifest; only the rename primitive changes.
  *
  * Reclaim contract: the pointer flip redirects FUTURE reads only — a
  * scan that already resolved the old generation keeps reading its
  * files. [[reclaim]] is therefore safe only single-writer with
  * quiesced readers (the q252 shape: build and flip inside
  * [[Scratch.ensure]] BEFORE any serve resolves the manifest). A
  * deployment with concurrent long scans defers reclaim past a grace
  * window (or to compaction), exactly like any snapshot-table vacuum;
  * the `require` below protects the pointer, not in-flight scans. */
object StoreManifest {
  private def manifest(root: String) = java.nio.file.Paths.get(root, "MANIFEST")

  /** Point the store's readers at generation `gen` (atomic replace). */
  def flip(root: String, gen: String): Unit = {
    val tmp = java.nio.file.Paths.get(root, s".MANIFEST.tmp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.write(tmp, gen.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, manifest(root),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The generation the manifest currently points at. */
  def current(root: String): String =
    new String(java.nio.file.Files.readAllBytes(manifest(root)), "UTF-8").trim

  /** Delete a SUPERSEDED generation directory — call only after [[flip]]
    * has pointed readers elsewhere. Refuses to delete the generation the
    * manifest still serves. */
  def reclaim(root: String, gen: String): Unit = {
    require(current(root) != gen,
      s"refusing to reclaim the served generation '$gen' of $root")
    Scratch.rmTree(new java.io.File(s"$root/$gen"))
  }
}
