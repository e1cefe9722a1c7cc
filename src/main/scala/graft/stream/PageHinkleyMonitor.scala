package graft.stream

import org.apache.spark.sql.Dataset

/** One keyed arrival for the drift detector: the observation plus the
  * operator-chosen test parameters (slack `delta`, alarm threshold
  * `lambda`) riding with the stream — in deployment they come from a
  * config join upstream; the batch-equivalence spec derives them the way
  * `q_page_hinkley` does (δ = μ/8, λ = μ/2 of the series mean). */
final case class PhEvent(key: String, us: Long, event_id: Long,
                         value: Double, delta: Double, lambda: Double)

/** One emitted Page–Hinkley point — the batch query's output shape. */
final case class PhPoint(key: String, n_events: Long, adapted_mean: Double,
                         ph_value: Double, max_excursion: Double,
                         alarm_count: Long)

/** Streaming per-key Page–Hinkley drift detection — the keyed-state twin
  * of the oracle-gated batch `q_page_hinkley` (queries/GroupAA.scala),
  * and the operator this test was BORN as (Page 1954 is a sequential
  * procedure; the batch query replays it over a bounded axis):
  *
  *   mean_t = mean_{t−1} + (x_t − mean_{t−1})/t     (running mean)
  *   g_t    = g_{t−1} + ((x_t − mean_t) − δ)
  *   M_t    = min(M_{t−1}, g_t);  alarm when g_t − M_t > λ
  *
  * initialized mean₁ = x₁, g₁ = −δ, M₁ = g₁. Every step is the same
  * fixed sequence of exact IEEE ops as the batch `aggregate` fold and
  * its recursive-CTE oracle, so for in-order arrivals the stream folds
  * bit-identically to the batch query under ANY micro-batch split
  * (PageHinkleyMonitorSpec pins this against the REGISTERED query).
  * Unlike [[EwmaMonitor]]'s fixed-reference smoothing, the adapting
  * mean makes this the detector for SLOW drifts that re-center a CUSUM.
  *
  * State is O(1) per key — (mean, g, min, n, alarms, maxExc) — and a
  * point is emitted only for keys a micro-batch actually touched.
  * Ordering contract: identical to the other monitors — arrivals sort
  * by (event-time, event_id) WITHIN each micro-batch; cross-batch late
  * events fold at arrival position. No truncation caveat: the state is
  * O(1) exact, matching the batch fold over the full series.
  */
object PageHinkleyMonitor {

  /** (mean, g, min g so far, events folded, alarms, max excursion). */
  type S = (Double, Double, Double, Long, Long, Double)

  /** Fold one micro-batch's arrivals for a key, sorted by event time —
    * op order mirrors the batch fold and the CTE exactly. */
  def fold(prior: Option[S], rows: Iterator[PhEvent]): S = {
    val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
    sorted.foldLeft(prior.getOrElse(
      (0.0, 0.0, 0.0, 0L, 0L, Double.NegativeInfinity))) {
      case ((mean, g, mn, n, alarms, mx), e) =>
        val (meanP, gP, mnP) =
          if (n == 0L) {
            val g1 = 0.0 + ((e.value - e.value) - e.delta)
            (e.value, g1, g1)
          } else {
            val m = mean + (e.value - mean) / (n + 1).toDouble
            val gg = g + ((e.value - m) - e.delta)
            (m, gg, math.min(mn, gg))
          }
        val exc = gP - mnP
        (meanP, gP, mnP, n + 1,
          alarms + (if (exc > e.lambda) 1L else 0L),
          math.max(mx, exc))
    }
  }

  private def point(key: String, s: S): PhPoint =
    PhPoint(key, s._4, s._1, s._2, s._6, s._5)

  private val keyed = KeyedFold.points((e: PhEvent) => e.key)(fold, point)

  /** Streaming detector: one point per touched key per micro-batch. */
  def track(ds: Dataset[PhEvent]): Dataset[PhPoint] = keyed.track(ds)

  /** Batch twin over a bounded dataset: the final point per key. */
  def trackBatch(ds: Dataset[PhEvent]): Dataset[PhPoint] = keyed.trackBatch(ds)
}
