package graft

/** The whole-surface plan-regression net: every query's
  * physical-plan operator multiset is pinned in the committed
  * PLANS.json; a join-strategy flip, a new shuffle, or a lost pushdown
  * in any of the 245 non-audit queries fails this suite the day it
  * happens instead of surfacing as a slow bench line later.
  * BenchPlanSpec still pins the exact load-bearing SHAPE of the top-10
  * timed queries; this spec pins everything else at multiset grain.
  * The fingerprints come from [[Catalogue.pass]], which builds every
  * query once for all the whole-catalogue checks.
  *
  * Intended plan changes: add the query names to [[intendedChanges]]
  * while developing, then regenerate the artifact under the same
  * session config the check runs with —
  *   SPARK_GRAFT_PLANS_UPDATE=1 sbt "testOnly graft.PlanFingerprintSpec"
  * (the whole pass, audit loops included) — review the PLANS.json git
  * diff alongside the code change, commit both, and EMPTY the
  * whitelist again (it must be empty at rest so the net stays whole).
  *
  * The artifact pins the plans under the engine's one session config
  * ([[Session]]), which the drivers and every suite share; a suite that
  * leaves a cache or a runtime conf behind would show up here as drift.
  */
class PlanFingerprintSpec extends SparkSpec {

  /** Queries whose fingerprints are intentionally changing THIS change;
    * empty at rest. */
  private val intendedChanges: Set[String] = Set.empty

  private val artifact = "PLANS.json"
  private val Entry = """"([^"]+)"\s*:\s*"([^"]*)"""".r

  private def readArtifact(): Map[String, String] = {
    val p = java.nio.file.Paths.get(artifact)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else Entry.findAllMatchIn(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  test("every query's physical-plan operator multiset matches the committed PLANS.json") {
    // audit queries are not pinned: their construction RUNS a full
    // streaming/lifecycle replay and their returned plan is a constant
    // result scan with no regression signal (see Catalogue.auditQueries)
    val pass = Catalogue.pass(spark, sf)
    val current = pass.records.toSeq.sortBy(_._1).collect {
      case (name, r) if !Catalogue.auditQueries(name) => name -> r.fingerprint
    }
    if (sys.env.get("SPARK_GRAFT_PLANS_UPDATE").contains("1")) {
      assert(pass.failed.isEmpty, s"not regenerating $artifact over failed queries:\n" +
        pass.failures.mkString("\n"))
      val json = current
        .map { case (k, v) => s"""  "$k": "$v"""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
        json.getBytes("UTF-8"))
      info(s"regenerated $artifact with ${current.size} fingerprints")
    } else {
      val pinned = readArtifact()
      assert(pinned.nonEmpty,
        s"$artifact missing or empty — regenerate: SPARK_GRAFT_PLANS_UPDATE=1 " +
          "sbt \"testOnly graft.PlanFingerprintSpec\"")
      val drifted = current.collect {
        case (name, fp) if !intendedChanges(name) &&
          pinned.get(name).exists(_ != fp) =>
          s"$name:\n  pinned : ${pinned(name)}\n  current: $fp"
      }
      val missing = current.collect {
        case (name, _) if !pinned.contains(name) && !intendedChanges(name) => name
      }
      val stale = (pinned.keySet -- current.map(_._1) -- pass.failed.keySet).toSeq.sorted
      val bad = Seq(
        drifted.nonEmpty ->
          (s"${drifted.size} quer${if (drifted.size == 1) "y" else "ies"} changed physical shape — " +
            "if intended, whitelist + regenerate (see scaladoc):\n" + drifted.mkString("\n")),
        missing.nonEmpty ->
          s"new queries lack pinned fingerprints (regenerate $artifact): ${missing.mkString(", ")}",
        stale.nonEmpty ->
          s"$artifact pins queries that no longer exist (regenerate): ${stale.mkString(", ")}",
        pass.failed.nonEmpty -> pass.failures.mkString("\n")).collect { case (true, msg) => msg }
      if (bad.nonEmpty) fail(bad.mkString("\n"))
    }
  }
}
