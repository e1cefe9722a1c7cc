package graft.stream

import org.apache.spark.sql.{Dataset, Encoders}

/** One event entering the monitor: `key` is the monitored series (event
  * type), `mi` its event-time minute bucket (epoch minutes). */
final case class MinuteArrival(key: String, mi: Long)

/** One finalized minute: `c` events, `trail_sum` over the 10 preceding
  * finalized minutes (event-time range [mi−10, mi−1] — ten minute
  * buckets inclusive), burst iff
  * c·10 > trail_sum·3 with a non-empty trail — exactly q_burst_detect's
  * integer contract. */
final case class BurstRow(key: String, mi: Long, c: Long, trail_sum: Long,
                          is_burst: Long)

/** Streaming burst detector — the keyed-state twin of the batch
  * q_burst_detect window query, for the ingest-time view where the alarm
  * must fire within a micro-batch of the spike, not at the next batch
  * re-scan.
  *
  * Contract (pinned by `BurstMonitorSpec` against the REGISTERED batch
  * query on real fixture streams):
  *   - per key, arrivals are event-time ordered ACROSS micro-batches at
  *     minute granularity (the replay-from-log / single-writer regime;
  *     disorder WITHIN a minute is irrelevant — only counts fold). A row
  *     for a minute at or below the last finalized minute is dropped and
  *     counted in state, never silently;
  *   - a minute finalizes when a strictly later minute arrives for the
  *     key (the sentinel the batch twin appends at flush): its count is
  *     frozen, its trailing window read, its row emitted once;
  *   - state per key is BOUNDED: the ≤10-minute finalized window, the
  *     open minutes of the current batch, a drop counter — independent of
  *     stream length.
  */
object BurstMonitor {

  /** (last finalized minute or MinValue, finalized (mi, c) ring ≤ 10,
    * open minute counts, late-drop counter). */
  type State = (Long, Seq[(Long, Long)], Map[Long, Long], Long)

  val empty: State = (Long.MinValue, Nil, Map.empty, 0L)

  /** Number of trailing minutes in the alarm window. */
  val TrailMinutes = 10

  /** Fold one batch of arrivals; finalize and emit every minute strictly
    * below the newest open minute. `flush` additionally finalizes the
    * open tail (the batch twin's end-of-input). */
  def transition(key: String, rows: Iterator[MinuteArrival], prior: State,
                 flush: Boolean): (Seq[BurstRow], State) = {
    var (lastFin, ring, open, dropped) = prior
    rows.foreach { a =>
      if (a.mi <= lastFin) dropped += 1
      else open = open.updated(a.mi, open.getOrElse(a.mi, 0L) + 1L)
    }
    val out = Seq.newBuilder[BurstRow]
    if (open.nonEmpty) {
      val maxOpen = open.keys.max
      val toFinal = open.keys.filter(mi => flush || mi < maxOpen).toSeq.sorted
      toFinal.foreach { mi =>
        val c = open(mi)
        val trail = ring.collect {
          case (m, cc) if m >= mi - TrailMinutes && m <= mi - 1 => cc
        }.sum
        out += BurstRow(key, mi, c, trail,
          if (trail > 0 && c * 10 > trail * 3) 1L else 0L)
        ring = (ring :+ (mi, c)).filter(_._1 > mi - TrailMinutes)
        lastFin = mi
        open -= mi
      }
    }
    (out.result(), (lastFin, ring, open, dropped))
  }

  private val keyed = KeyedFold[String, MinuteArrival, State, BurstRow](_.key)(
    (key, rows, prior) => transition(key, rows, prior.getOrElse(empty), flush = false))

  /** Streaming monitor: finalized minutes stream out as they close. */
  def monitor(ds: Dataset[MinuteArrival]): Dataset[BurstRow] = keyed.track(ds)

  /** Batch twin — identical transition with an end-of-input flush, so one
    * pass over a complete frame reproduces q_burst_detect exactly. */
  def monitorBatch(ds: Dataset[MinuteArrival]): Dataset[BurstRow] =
    ds.groupByKey(_.key)(Encoders.STRING).flatMapGroups(
      (key: String, rows: Iterator[MinuteArrival]) =>
        transition(key, rows, empty, flush = true)._1.iterator)(Encoders.product[BurstRow])
}
