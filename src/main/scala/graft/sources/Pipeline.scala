package graft.sources

/** S20: sequential stage orchestration with the reference's exact
  * control flow (main.py:55-115): ordered stages, abort-on-failure for
  * critical stages (sync — main.py:96-98), continue-past-failure for
  * the rest (update-info — main.py:102-104). Pure driver-side control
  * flow over engine jobs; scheduling stays external (cron /
  * Trigger.AvailableNow), as in the reference (README.md:93-102).
  */
object Pipeline {

  final case class Stage(name: String, critical: Boolean)(val run: () => Boolean)

  /** `seconds` is the stage's wall time; `cause` the exception a
    * failed stage threw (None when it returned false or did not run). */
  final case class StageResult(name: String, ran: Boolean, succeeded: Boolean,
                               seconds: Double = 0.0, cause: Option[Throwable] = None)

  /** Run stages in order. A critical failure aborts the remainder
    * (reported as ran=false); non-critical failures are recorded, with
    * the exception if one was thrown, and execution continues. */
  def run(stages: Seq[Stage]): Seq[StageResult] = {
    val results = Seq.newBuilder[StageResult]
    var aborted = false
    stages.foreach { st =>
      if (aborted) results += StageResult(st.name, ran = false, succeeded = false)
      else {
        // NonFatal only: InterruptedException / fatal errors must
        // propagate — converting a cancellation into an ordinary stage
        // failure would clear the interrupt and keep the pipeline
        // running through the remaining stages
        val t0 = System.nanoTime()
        val (ok, cause) =
          try (st.run(), None)
          catch { case scala.util.control.NonFatal(e) => (false, Some(e)) }
        results += StageResult(st.name, ran = true, succeeded = ok,
          (System.nanoTime() - t0) / 1e9, cause)
        if (!ok && st.critical) aborted = true
      }
    }
    results.result()
  }
}
