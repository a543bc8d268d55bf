package graft

/** The probes' min-of-two measure discipline, in one copy so a fix to it
  * (the pass-2 error recording) cannot drift between probe mains. The
  * session, noop materialization and JSON formatting are
  * [[GraftSession]]'s and [[Json]]'s. */
private[graft] object ProbeHarness {

  /** A min-of-two measurement. Pass 1's payload (shuffle bytes, row
    * count) is always the canonical reading; a pass-2 failure or
    * payload lands in its OWN fields so a JSON consumer that treats
    * `error` as "this measurement failed" cannot misclassify a query
    * whose pass-1 timing and payload are valid (ADVICE r8 #2), and so
    * probes can compare pass-1 vs pass-2 payloads — a row count that
    * differs between passes is a nondeterminism signal worth its own
    * record, not silent discard. */
  final case class Measured[P](sec: Double, payload: P,
      error: Option[String], remeasureError: Option[String],
      payload2: Option[P])

  /** Min-of-two-passes wall time around `once`, which runs the measured
    * work and returns (seconds, payload, error). Byte and row counts
    * reproduce exactly; only wall time is noisy — so pass 1's payload
    * is canonical and pass 2 exists to denoise the timing. A pass-2
    * failure keeps pass 1's timing but is RECORDED (under
    * `remeasureError`, never `error`): a silently single-pass number
    * would claim denoising it never got, and a reproducible re-run
    * failure is exactly what a probe exists to surface. */
  def minOfTwo[P](once: () => (Double, P, Option[String])): Measured[P] = {
    val (t1, p1, e1) = once()
    if (e1.isDefined) Measured(t1, p1, e1, None, None)
    else {
      val (t2, p2, e2) = once()
      Measured(if (e2.isEmpty) math.min(t1, t2) else t1, p1, None,
        e2.map("second pass failed (first pass timing kept): " + _),
        if (e2.isEmpty) Some(p2) else None)
    }
  }
}
