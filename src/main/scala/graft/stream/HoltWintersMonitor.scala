package graft.stream

import org.apache.spark.sql.Dataset

/** One keyed arrival for the seasonal smoother: `key` is the series
  * (event type, metric name), `us`/`event_id` order arrivals within a
  * micro-batch, `value` is the observation (a daily mean when the
  * upstream mirrors the batch query's axis). */
final case class HwEvent(key: String, us: Long, event_id: Long, value: Double)

/** One emitted Holt–Winters point: updated (level, trend), the
  * one-step-ahead seasonal forecast, and the learned seasonal spread. */
final case class HwPoint(key: String, n_events: Long, level: Double,
                         trend: Double, forecast_1: Double,
                         seasonal_amplitude: Double)

/** Streaming per-key Holt–Winters additive seasonal smoothing (period 7)
  * — the keyed-state twin of the oracle-gated batch `q_holt_winters`
  * (queries/GroupZ.scala), completing the smoother family's batch/stream
  * symmetry next to [[EwmaMonitor]] (flat) and [[HoltMonitor]] (trend):
  *
  *   l′ = ((x − s_old) + 3(l + b))/4        (α = 1/4)
  *   b′ = (l′ − l)/2 + b/2                  (β = 1/2)
  *   s′ = (x − l′)/2 + s_old/2              (γ = 1/2)
  *
  * initialized l₁ = x₁, b₁ = 0, s = 0⁷ (seasonal indices learned in
  * place). All three smoothing constants are dyadic and every step is
  * the same fixed sequence of exact IEEE ops the batch `aggregate` fold
  * and the DuckDB recursive CTE (7-slot LIST state) perform, so for
  * in-order arrivals the stream folds bit-identically to the batch query
  * under ANY micro-batch split (HoltWintersMonitorSpec pins this against
  * the REGISTERED query's output). `forecast_1 = (l + b) + s_next`
  * anticipates both the trend and the next slot's seasonal offset — the
  * smoother the monitoring loop wants exactly when q_seasonal_strength
  * says the weekly cycle carries signal.
  *
  * State is O(period) per key — (l, b, s[7], n) — and a point is emitted
  * only for keys a micro-batch actually touched. Ordering contract:
  * identical to [[EwmaMonitor]]/[[HoltMonitor]] — arrivals sort by
  * (event-time, event_id) WITHIN each micro-batch; a cross-batch late
  * event folds at its arrival position (the declared streaming
  * semantics; buffer at the source for batch equivalence under
  * disorder). Unlike the raw-event smoothers there is no 1024-tail
  * caveat: the batch query folds the FULL (calendar-bounded) daily-mean
  * series, and so does the O(period) state.
  */
object HoltWintersMonitor {

  val Period = 7

  /** (level, trend, seasonal slots, events folded). */
  type S = (Double, Double, Array[Double], Long)

  /** Fold one micro-batch's arrivals for a key, sorted by event time.
    * Slot selection matches the batch fold exactly: the k-th value
    * (0-based n values already folded) reads and rewrites slot n % 7. */
  def fold(prior: Option[S], rows: Iterator[HwEvent]): S = {
    val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
    sorted.foldLeft(prior.getOrElse(
      (0.0, 0.0, Array.fill(Period)(0.0), 0L))) {
      case ((l, b, sv, n), e) =>
        if (n == 0L) (e.value, 0.0, sv, 1L)
        else {
          val slot = (n % Period).toInt
          val sOld = sv(slot)
          val lp = ((e.value - sOld) + 3.0 * (l + b)) / 4.0
          val bp = (lp - l) / 2.0 + b / 2.0
          val sp = (e.value - lp) / 2.0 + sOld / 2.0
          val next = sv.clone(); next(slot) = sp
          (lp, bp, next, n + 1)
        }
    }
  }

  private def point(key: String, s: S): HwPoint = {
    val (l, b, sv, n) = s
    HwPoint(key, n, l, b,
      (l + b) + sv((n % Period).toInt), // the NEXT slot's offset
      sv.max - sv.min)
  }

  private val keyed = KeyedFold.points((e: HwEvent) => e.key)(fold, point)

  /** Streaming smoother: one point per touched key per micro-batch. */
  def track(ds: Dataset[HwEvent]): Dataset[HwPoint] = keyed.track(ds)

  /** Batch twin over a bounded dataset: the final point per key. */
  def trackBatch(ds: Dataset[HwEvent]): Dataset[HwPoint] = keyed.trackBatch(ds)
}
