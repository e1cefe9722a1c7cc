package graft.stream

import org.apache.spark.sql.Dataset

/** One emitted Holt point: the user's updated (level, trend) and the
  * one-step-ahead forecast after a micro-batch that carried arrivals. */
final case class HoltPoint(user_id: Long, n_events: Long,
                           level: Double, trend: Double, forecast_1: Double)

/** Streaming per-key Holt linear-trend smoothing — the keyed-state twin of
  * the oracle-gated batch `q_holt` (queries/GroupY.scala): per user,
  * l ← (x + 3(l+b))/4, b ← (l′−l)/2 + b/2 (α = 1/4, β = 1/2, both dyadic),
  * initialized l₁ = x₁, b₁ = 0. Every step is the same fixed sequence of
  * exact IEEE ops the batch fold and the DuckDB recursive CTE perform (the
  * l′ subexpression feeds the trend update IDENTICALLY), so for in-order
  * arrivals the stream folds bit-identically to the batch query under ANY
  * micro-batch split (HoltMonitorSpec pins this). This is the smoother the
  * monitoring loop wants where [[EwmaMonitor]]'s flat EWMA lags trending
  * signals: `forecast_1 = l + b` anticipates the next point instead of
  * trailing it.
  *
  * State is O(1) per key — (l, b, n) — and a point is emitted only for
  * keys a micro-batch actually touched. Ordering contract: identical to
  * [[EwmaMonitor]] — arrivals sort by (event-time, event_id) WITHIN each
  * micro-batch; a CROSS-batch late event folds at its arrival position
  * (the declared streaming semantics; buffer at the source for batch
  * equivalence under disorder). Batch-twin caveat shared with EwmaMonitor:
  * `q_holt` folds each key's last-1024-event TAIL (its bounded-memory
  * contract) while the O(1) streaming state never truncates; the two are
  * bit-equal whenever per-key history is ≤ 1024 events and differ below
  * one ulp beyond that (perturbations decay at spectral radius
  * √(3/4) ≈ 0.87 per step).
  */
object HoltMonitor {

  /** (level, trend, events folded). */
  type S = (Double, Double, Long)

  /** Fold one micro-batch's arrivals for a key, sorted by event time. */
  def fold(prior: Option[S], rows: Iterator[EwmaEvent]): S = {
    val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
    sorted.foldLeft(prior.getOrElse((0.0, 0.0, 0L))) { case ((l, b, n), e) =>
      if (n == 0L) (e.value, 0.0, 1L)
      else {
        val lp = (e.value + 3.0 * (l + b)) / 4.0
        (lp, (lp - l) / 2.0 + b / 2.0, n + 1)
      }
    }
  }

  private val keyed = KeyedFold.points((e: EwmaEvent) => e.user_id)(fold,
    (user: Long, s: S) => HoltPoint(user, s._3, s._1, s._2, s._1 + s._2))

  /** Streaming smoother: one point per touched key per micro-batch. */
  def track(ds: Dataset[EwmaEvent]): Dataset[HoltPoint] = keyed.track(ds)

  /** Batch twin over a bounded dataset: the final point per key. */
  def trackBatch(ds: Dataset[EwmaEvent]): Dataset[HoltPoint] = keyed.trackBatch(ds)
}
