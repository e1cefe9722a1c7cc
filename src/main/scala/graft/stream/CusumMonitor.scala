package graft.stream

import org.apache.spark.sql.Dataset

/** One keyed arrival for the CUSUM chart: the observation plus the
  * chart's reference mean `mu` riding with the stream (slack k = μ/8
  * and decision threshold h = μ/2 derive from it, the batch query's
  * dyadic constants) — in deployment μ comes from a config join or a
  * trained baseline; the batch-equivalence spec derives it the way
  * `q_cusum` does (the series' own exact mean). */
final case class CuEvent(key: String, us: Long, event_id: Long,
                         value: Double, mu: Double)

/** One emitted CUSUM point: the running statistic, its historical max
  * (with the FIRST arrival position attaining it), and the alarm count. */
final case class CuPoint(key: String, n_events: Long, cusum: Double,
                         max_cusum: Double, max_at: Long, alarm_count: Long)

/** Streaming per-key one-sided CUSUM — the keyed-state twin of the
  * oracle-gated batch `q_cusum` (queries/GroupZ.scala), completing the
  * SPC family's batch/stream symmetry next to [[PageHinkleyMonitor]]
  * (adaptive reference) — CUSUM watches deviation from a FIXED μ:
  *
  *   s_t = max(0, s_{t−1} + (x_t − μ − μ/8)),  s₁ = max(0, x₁ − μ − μ/8)
  *   alarm when s_t > μ/2
  *
  * Every step is the same fixed sequence of exact IEEE ops as the batch
  * `aggregate` fold and its recursive-CTE oracle, so for in-order
  * arrivals the stream folds bit-identically to the batch query under
  * ANY micro-batch split (CusumMonitorSpec pins this against the
  * REGISTERED query). `max_at` is the FIRST arrival (by `us`) attaining
  * the historical max — the batch query's min-day-at-max, reproduced
  * because the fold visits arrivals in ascending order.
  *
  * State is O(1) per key; a point is emitted only for keys a
  * micro-batch actually touched. Ordering contract: identical to the
  * other monitors — arrivals sort by (event-time, event_id) WITHIN each
  * micro-batch; cross-batch late events fold at arrival position.
  */
object CusumMonitor {

  /** (cusum, max, us at first max, events folded, alarms). */
  type S = (Double, Double, Long, Long, Long)

  /** Fold one micro-batch's arrivals for a key, sorted by event time —
    * op order mirrors the batch fold and the CTE exactly. */
  def fold(prior: Option[S], rows: Iterator[CuEvent]): S = {
    val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
    sorted.foldLeft(prior.getOrElse((0.0, 0.0, 0L, 0L, 0L))) {
      case ((cs, mx, mxAt, n, alarms), e) =>
        val step = e.value - e.mu - e.mu / 8.0
        val csP = math.max(0.0, if (n == 0L) step else cs + step)
        val isMax = n == 0L || csP > mx
        (csP,
          if (isMax) csP else mx,
          if (isMax) e.us else mxAt,
          n + 1,
          alarms + (if (csP > e.mu / 2.0) 1L else 0L))
    }
  }

  private def point(key: String, s: S): CuPoint =
    CuPoint(key, s._4, s._1, s._2, s._3, s._5)

  private val keyed = KeyedFold.points((e: CuEvent) => e.key)(fold, point)

  /** Streaming chart: one point per touched key per micro-batch. */
  def track(ds: Dataset[CuEvent]): Dataset[CuPoint] = keyed.track(ds)

  /** Batch twin over a bounded dataset: the final point per key. */
  def trackBatch(ds: Dataset[CuEvent]): Dataset[CuPoint] = keyed.trackBatch(ds)
}
