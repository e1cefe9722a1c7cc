package graft.stream

import org.apache.spark.sql.Dataset

/** One value arrival for the smoother: (user, event-time µs, arrival
  * tiebreak id, value). */
final case class EwmaEvent(user_id: Long, us: Long, event_id: Long,
                           value: Double)

/** One emitted smoother point: the user's updated EWMA after a
  * micro-batch that carried arrivals for it. */
final case class EwmaPoint(user_id: Long, n_events: Long, ewma: Double)

/** Streaming per-key exponential moving average — the keyed-state twin of
  * the oracle-gated batch `q_ewma` (queries/GroupY.scala): per user,
  * y ← (x + 3·y)/4 folded over the value stream, α = 1/4 dyadic so every
  * step is the same three exact IEEE ops the batch fold and the DuckDB
  * recursive CTE perform. State is O(1) per key — (y, n) — and a point is
  * emitted only for keys a micro-batch actually touched: the smoothed
  * signal a monitoring pipeline consumes, not a per-trigger rescan.
  *
  * Ordering contract: arrivals are sorted by (event-time, event_id)
  * WITHIN each micro-batch, so any in-order arrival stream — however it
  * is split across triggers — folds bit-identically to the batch query
  * (EwmaMonitorSpec pins this across splits). A CROSS-batch late event
  * cannot be retroactively inserted into an O(1) fold (the recurrence
  * weights every later point); it is folded at its arrival position —
  * the standard streaming-EWMA semantics (smooth the arrival stream) —
  * and the operator therefore diverges from the batch fold exactly when
  * arrival order crosses micro-batch boundaries out of event-time order.
  * Callers needing batch equivalence under disorder buffer at the
  * source (the same stance SessionMaterializer documents for split late
  * runs).
  *
  * Batch-twin caveat: `q_ewma` folds each key's last-1024-event TAIL (its
  * bounded-memory contract) while this O(1) streaming state never
  * truncates; the two are bit-equal whenever per-key history is ≤ 1024
  * events and differ by less than one ulp beyond that (a point 1024 steps
  * old carries weight (3/4)^1024 ≈ 1e-128).
  */
object EwmaMonitor {

  /** (current smoothed value, events folded). */
  type S = (Double, Long)

  /** Fold one micro-batch's arrivals for a key, sorted by event time. */
  def fold(prior: Option[S], rows: Iterator[EwmaEvent]): S = {
    val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
    sorted.foldLeft(prior.getOrElse((0.0, 0L))) { case ((y, n), e) =>
      (if (n == 0L) e.value else (e.value + 3.0 * y) / 4.0, n + 1)
    }
  }

  private val keyed = KeyedFold.points((e: EwmaEvent) => e.user_id)(fold,
    (user: Long, s: S) => EwmaPoint(user, s._2, s._1))

  /** Streaming smoother: one point per touched key per micro-batch. */
  def track(ds: Dataset[EwmaEvent]): Dataset[EwmaPoint] = keyed.track(ds)

  /** Batch twin over a bounded dataset: the final point per key. */
  def trackBatch(ds: Dataset[EwmaEvent]): Dataset[EwmaPoint] = keyed.trackBatch(ds)
}
