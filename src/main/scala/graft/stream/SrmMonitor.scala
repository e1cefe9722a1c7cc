package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

/** One keyed arrival for the SRM guardrail: the event's calendar day and
  * its user — arm assignment (user parity, the q_chi_square convention)
  * derives inside the monitor so the stream ships only the raw event. */
final case class SrEvent(day: Long, userId: Long)

/** One emitted SRM point — the same shape as a q_srm output row: per-day
  * distinct active users per arm, the 50/50 χ² in ppm, and the
  * 3.841459-threshold invalidation flag. */
final case class SrPoint(day: Long, n_even: Long, n_odd: Long,
                         chi2_ppm: Long, srm_flag: Long)

/** Streaming sample-ratio-mismatch guardrail — the keyed-state twin of the
  * oracle-gated batch `q_srm` (queries/GroupAC.scala), and the form every
  * experiment platform actually runs: SRM must fire DURING the day, not in
  * tomorrow's batch job, because every metric read after a mismatched day
  * is invalid.
  *
  * Keyed by calendar day; state is the two arms' exact distinct-user sets,
  * so the fold is a set union — commutative and idempotent, which gives
  * this monitor the strongest invariance contract in the family:
  * order-invariant, split-invariant, AND duplicate-delivery-invariant
  * (an at-least-once upstream cannot move the statistic — re-delivering
  * an event is a no-op union). SrmMonitorSpec pins all three against the
  * registered batch query, bit-exact (the χ² is pure integer arithmetic:
  * 10⁶·(nₐ−n_b)² div (nₐ+n_b), the q_srm formula).
  *
  * State is O(distinct users per day) per key — the price of the EXACT
  * batch contract (count-distinct admits no smaller exact state). The
  * deployment form is [[trackEvicting]]: a day idle past its retention
  * retires its state; at corpus scale the standard degradation is a KMV/HLL
  * register per arm (see `StreamingKmv` / `StreamingHll`), trading the
  * bit-exact twin contract for O(k) state — the batch query remains the
  * exact reference either way.
  */
object SrmMonitor {

  /** (even-arm users, odd-arm users). */
  type S = (Set[Long], Set[Long])

  def fold(prior: Option[S], rows: Iterator[SrEvent]): S =
    rows.foldLeft(prior.getOrElse((Set.empty[Long], Set.empty[Long]))) {
      case ((even, odd), e) =>
        if (java.lang.Math.floorMod(e.userId, 2L) == 0L) (even + e.userId, odd)
        else (even, odd + e.userId)
    }

  /** The q_srm row for one day's state — integer-exact, truncating
    * division (Spark `div` ≡ the oracle's `//` on non-negatives). */
  def point(day: Long, s: S): SrPoint = {
    val (na, nb) = (s._1.size.toLong, s._2.size.toLong)
    val chi2 = (BigInt(1000000) * (na - nb) * (na - nb) / (na + nb)).toLong
    SrPoint(day, na, nb, chi2, if (chi2 > 3841459L) 1L else 0L)
  }

  private val keyed = KeyedFold.points((e: SrEvent) => e.day)(fold, point)

  /** Streaming guardrail: one point per touched day per micro-batch. */
  def track(ds: Dataset[SrEvent]): Dataset[SrPoint] = keyed.track(ds)

  /** The evicting form's state handler, exposed for TestGroupState specs:
    * a day idle past its retention retires its distinct-user sets (the
    * last point emitted while the day was live is its final SRM verdict);
    * otherwise fold, emit, re-arm. */
  private[graft] def evictingHandler(idleMs: Long)(
      day: Long, rows: Iterator[SrEvent],
      state: GroupState[S]): Iterator[SrPoint] =
    keyed.evictingHandler(idleMs)(day, rows, state)

  /** [[track]] with BOUNDED state — the deployment form: per-day
    * distinct-user sets retire once the day has been idle for
    * `idleRetention` (ProcessingTimeTimeout — calendar days stop receiving
    * events shortly after they end, so state stays O(active days), not
    * O(history)). Emissions are identical to [[track]] while a day is
    * live; a late straggler after retirement restarts that day's count
    * from empty rather than extending a silently-halved set, and the
    * duplicate-delivery invariance within a day's lifetime is unchanged
    * (set union). The NoTimeout [[track]] remains the bit-exact-twin form
    * the spec pins against the batch query. */
  def trackEvicting(ds: Dataset[SrEvent],
                    idleRetention: java.time.Duration): Dataset[SrPoint] =
    keyed.trackEvicting(ds, idleRetention)

  /** Batch twin over a bounded dataset: the final point per day. */
  def trackBatch(ds: Dataset[SrEvent]): Dataset[SrPoint] = keyed.trackBatch(ds)
}
