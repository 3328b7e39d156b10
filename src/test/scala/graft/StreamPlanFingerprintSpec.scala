package graft

/** Per-batch INTERNAL plan net for the streaming audit loops.
  * PlanFingerprintSpec deliberately skips the audit queries — their
  * outer plan is a constant scan of the folded result — so the plans
  * that carry the actual operator shapes (state restore/save,
  * per-batch dedup/anti-join chains, stream joins) are netted here.
  * [[Catalogue.pass]] runs every audit loop at sf0.001, plus one
  * `incrementalAppend` replay, with [[graft.tools.StreamPlans]]
  * collection enabled: each foreachBatch closure fingerprints its
  * running micro-batch's IncrementalExecution plan, and the per-loop
  * fingerprint SETS are diffed against the committed STREAMPLANS.json.
  *
  * Update workflow (intended plan changes), same as PLANS.json:
  *   SPARK_GRAFT_PLANS_UPDATE=1 sbt "testOnly graft.StreamPlanFingerprintSpec"
  * then review the STREAMPLANS.json git diff alongside the change.
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
    val pass = Catalogue.pass(spark, sf)
    // a loop that threw recorded only part of its batches
    val thrown = (pass.failed.filter { case (name, _) => SparkEntry.auditQueries(name) } ++
      pass.replayFailure.map("the incrementalAppend replay" -> _))
      .toSeq.sorted.map { case (name, cause) => s"$name threw $cause" }
    if (thrown.nonEmpty) fail(thrown.mkString("\n"))
    val current = pass.streamPlans
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
