package graft

/** Per-batch INTERNAL plan net for the streaming audit loops.
  * PlanFingerprintSpec deliberately skips the audit
  * queries — their outer plan is a constant scan of the folded result —
  * so the plans that carry the actual operator shapes (state
  * restore/save, per-batch dedup/anti-join chains, stream joins) had
  * no regression net. This spec runs every audit loop at sf0.001 with
  * [[graft.tools.StreamPlans]] collection enabled: each foreachBatch
  * closure fingerprints its running micro-batch's IncrementalExecution
  * plan, and the per-loop fingerprint SETS are diffed against the
  * committed STREAMPLANS.json.
  *
  * Update workflow (intended plan changes), same as PLANS.json:
  *   SPARK_GRAFT_PLANS_UPDATE=1 sbt "testOnly graft.StreamPlanFingerprintSpec"
  * then review the STREAMPLANS.json git diff alongside the change.
  *
  * Runs on the shared suite session, as PlanFingerprintSpec does.
  */
class StreamPlanFingerprintSpec extends SparkSpec {

  /** Loops whose fingerprints are intentionally changing THIS change;
    * empty at rest. */
  private val intendedChanges: Set[String] = Set.empty

  private val artifact = "STREAMPLANS.json"
  private val Entry = """"([^"]+)"\s*:\s*\[([^\]]*)\]""".r
  private val Str = """"((?:[^"\\]|\\.)*)"""".r

  private def readArtifact(): Map[String, Seq[String]] = {
    val p = java.nio.file.Paths.get(artifact)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else Entry.findAllMatchIn(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .map(m => m.group(1) -> Str.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq)
      .toMap
  }

  test("every audit loop's per-batch plan fingerprint set matches the committed STREAMPLANS.json") {
    graft.tools.StreamPlans.enable()
    try {
      // construction RUNS each audit's full loop (checkpointed replays
      // included); recording happens inside the foreachBatch closures
      graft.streaming.Streaming.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try { fn(spark, sf); () } finally Caches.releaseAll()
      }
      // incrementalAppend is the one foreachBatch loop no audit query
      // drives (its audits are StreamingSpec's P2 tests) — run one
      // deterministic two-chunk replay here so its internal plans are
      // netted with the rest
      val tmp = java.nio.file.Files.createTempDirectory("spfs_p2").toString
      try {
        import org.apache.spark.sql.functions.col
        val ev = Tables.events(spark, sf)
          .select("event_id", "ts", "value").orderBy("event_id")
        val schema = ev.schema
        Seq(ev.limit(200), ev.limit(400)).zipWithIndex.foreach { case (chunk, i) =>
          chunk.write.mode("overwrite").parquet(s"$tmp/landing/c$i")
          graft.streaming.Streaming.incrementalAppend(
            spark, s"$tmp/landing/c$i", s"$tmp/store", s"$tmp/ckpt$i", schema)
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
        Caches.releaseAll()
      }
    } finally graft.tools.StreamPlans.disable()
    val current = graft.tools.StreamPlans.collected
    assert(current.nonEmpty, "no per-batch plans were recorded — the " +
      "foreachBatch record() hooks or the active-query lookup broke")
    if (sys.env.get("SPARK_GRAFT_PLANS_UPDATE").contains("1")) {
      val json = current.toSeq.sortBy(_._1)
        .map { case (k, fps) =>
          fps.map("\"" + _ + "\"").mkString(s"""  "$k": [""", ", ", "]")
        }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
        json.getBytes("UTF-8"))
      info(s"regenerated $artifact with ${current.size} loops")
    } else {
      val pinned = readArtifact()
      assert(pinned.nonEmpty,
        s"$artifact missing or empty — regenerate: SPARK_GRAFT_PLANS_UPDATE=1 " +
          "sbt \"testOnly graft.StreamPlanFingerprintSpec\"")
      val drifted = current.toSeq.sortBy(_._1).collect {
        case (loop, fps) if !intendedChanges(loop) &&
          pinned.get(loop).exists(_ != fps) =>
          s"$loop:\n  pinned : ${pinned(loop).mkString(" | ")}\n  current: ${fps.mkString(" | ")}"
      }
      val missing = current.keySet.filterNot(pinned.contains)
        .filterNot(intendedChanges).toSeq.sorted
      val stale = (pinned.keySet -- current.keySet).toSeq.sorted
      assert(drifted.isEmpty,
        s"${drifted.size} loop(s) changed internal micro-batch shape — " +
          "if intended, whitelist + regenerate (see scaladoc):\n" +
          drifted.mkString("\n"))
      assert(missing.isEmpty,
        s"new loops lack pinned fingerprints (regenerate $artifact): ${missing.mkString(", ")}")
      assert(stale.isEmpty,
        s"$artifact pins loops that no longer record (regenerate): ${stale.mkString(", ")}")
    }
  }
}
