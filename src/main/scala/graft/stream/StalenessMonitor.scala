package graft.stream

import org.apache.spark.sql.Dataset

/** One effective change entering the monitor (pk non-empty; deletes or
  * upserts with a non-null After — the q_index_staleness population). */
final case class PkChange(pk: String, lsn: Long, op: String)

/** One freshness transition: the pk's index-vs-WAL status changed. */
final case class StatusChange(pk: String, status: String, cur_lsn: Long)

/** Streaming index-freshness monitor — the keyed-state twin of the batch
  * q_index_staleness audit, deriving index membership from the SAME rule
  * the batch query declares: the vector index holds, per pk, the FIRST
  * change the snapshot load applied (minimum LSN among changes with
  * `lsn % 10 == 1` — the fixture's snapshot-batch marker, shared by both
  * formulations so the two stay equivalent by construction, not by
  * accident of the fixture's LSN layout); the WAL keeps moving. Per pk
  * the state is three values (indexed LSN = min over marked changes or
  * none, latest LSN, latest op) folded with min/max — ORDER-FREE, so
  * re-delivered and out-of-order chunks converge to the same statuses
  * (the MergeStream convergence property, here for the freshness
  * dimension). All five batch statuses are modeled: fresh / stale /
  * missing (never indexed, still live) / ghost (deleted upstream, still
  * indexed) / gone (never indexed, deleted). A row is emitted only when
  * the pk's status CHANGES, so the output is the freshness transition
  * log an alerting pipeline consumes, not a per-batch rescan.
  * StalenessMonitorSpec pins final statuses against the REGISTERED batch
  * query and split-invariance.
  */
object StalenessMonitor {

  /** The batch audit's index-membership rule (q_index_staleness's
    * `lsn % 10 = 1` snapshot marker). */
  def indexed(lsn: Long): Boolean = lsn % 10 == 1

  /** Sentinel for "no indexed change seen" (min-folds correctly). */
  val NoIndex: Long = Long.MaxValue

  /** (index LSN = min marked seen or NoIndex, current LSN = max seen,
    * op at current LSN). */
  type S = (Long, Long, String)

  def status(s: S): String = {
    val hasIdx = s._1 != NoIndex
    if (s._3 != "d") {
      if (hasIdx && s._2 == s._1) "fresh"
      else if (hasIdx) "stale"
      else "missing"
    } else if (hasIdx) "ghost" else "gone"
  }

  /** Fold one change — commutative in LSN (min over marked / max overall;
    * the op follows the max), so arrival order never matters. */
  def step(s: Option[S], c: PkChange): S = {
    val cIdx = if (indexed(c.lsn)) c.lsn else NoIndex
    s match {
      case None => (cIdx, c.lsn, c.op)
      case Some((idx, cur, op)) =>
        val (nCur, nOp) = if (c.lsn > cur) (c.lsn, c.op) else (cur, op)
        (math.min(idx, cIdx), nCur, nOp)
    }
  }

  /** Fold a batch; emit a transition row iff the status changed (or the
    * pk is new). Shared by the stream and its batch twin. */
  def transition(pk: String, rows: Iterator[PkChange],
                 prior: Option[S]): (Seq[StatusChange], S) = {
    val before = prior.map(status)
    var s = prior
    rows.foreach { c => s = Some(step(s, c)) }
    val st = s.get
    val now = status(st)
    val out =
      if (before.contains(now)) Nil
      else Seq(StatusChange(pk, now, st._2))
    (out, st)
  }

  private val keyed = KeyedFold((c: PkChange) => c.pk)(transition)

  /** Streaming monitor: three values of state per pk, transition rows out. */
  def monitor(ds: Dataset[PkChange]): Dataset[StatusChange] = keyed.track(ds)

  /** Batch twin: one pass, final status per pk. */
  def monitorBatch(ds: Dataset[PkChange]): Dataset[StatusChange] =
    keyed.trackBatch(ds)
}
