package graft.tools

/** Physical-plan operator-multiset fingerprints.
  *
  * BenchPlanSpec pins one load-bearing shape per top-10 timed query;
  * the fingerprint nets every other query: a join-strategy flip or a
  * new shuffle would otherwise only surface as a slow bench line. Every
  * query's UNEXECUTED physical plan is reduced to the multiset of its
  * operator names ("BroadcastHashJoin:2|Exchange:3|FileScan:4|..."),
  * committed to PLANS.json, and diffed by PlanFingerprintSpec on every
  * suite run. The multiset deliberately ignores expression ids, paths,
  * and argument text (all process- or round-varying) and keeps exactly
  * what a plan regression changes: which operators appear, how many
  * times.
  *
  * Update workflow (intended plan changes): run
  *   SPARK_GRAFT_PLANS_UPDATE=1 sbt "testOnly graft.PlanFingerprintSpec"
  * which regenerates PLANS.json under the SAME session config the
  * check runs with, then review the git diff of PLANS.json alongside
  * the code change that caused it.
  */
object PlanFingerprint {
  // an operator line after tree decoration: optional ":  +- " glue,
  // optional "*(n) " codegen-stage marker, then the node name
  private val OpLine = """^[:\s+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9_]*).*$""".r

  /** Operator-name multiset of a physical plan's toString. */
  def multiset(planString: String): Map[String, Int] =
    planString.linesIterator.flatMap {
      case OpLine(op) => Some(op)
      case _ => None
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Canonical fingerprint string: "op:count|op:count" sorted by op —
    * human-diffable in the committed artifact, stable across runs. */
  def fingerprint(planString: String): String =
    multiset(planString).toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString("|")
}
