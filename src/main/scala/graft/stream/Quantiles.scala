package graft.stream

import org.apache.spark.sql.Dataset

/** One value observation entering the sketch (group = the summary key,
  * e.g. event_type; values pre-quantized to longs by the caller so the
  * sketch itself is exact integer state). */
final case class ValueArrival(group: String, value: Long)

/** One quantile estimate after a micro-batch: `value`'s true rank in the
  * group's stream so far is within ±⌈εn⌉ of `rank` (the GK guarantee);
  * `n` = arrivals folded, `entries` = sketch size when emitted. */
final case class QuantileEstimate(group: String, q: Double, value: Long,
                                  rank: Long, n: Long, entries: Int)

/** Streaming quantiles — the Greenwald–Khanna sketch (SIGMOD 2001) as a
  * keyed-state operator: per group, a bounded summary of (value, g, Δ)
  * tuples answering any quantile query within εn rank error, using
  * O((1/ε)·log(εn)) entries regardless of stream length. The streaming
  * twin of the exact batch percentile queries (q_percentiles /
  * q_outlier_mad): at ingest time an exact per-batch sort-and-rank is a
  * full shuffle per micro-batch; this folds arrivals into keyed state and
  * reads estimates off the summary.
  *
  * Deterministic by construction (no randomness anywhere): insertion
  * position, Δ assignment, and the compress sweep are pure functions of
  * the arrival order, so a replayed stream reproduces the sketch
  * bit-for-bit. QuantilesSpec pins the rank guarantee against exact batch
  * ranks on fixture value streams split across micro-batches, and the
  * sublinear state bound under a 100k-value churn.
  */
object Quantiles {

  /** GK tuple: smallest value it covers, g = rank span vs predecessor,
    * delta = max rank uncertainty within the span. */
  final case class Tuple(v: Long, g: Long, delta: Long)

  /** (arrivals folded, sorted GK tuples). */
  type Summary = (Long, Vector[Tuple])

  val DefaultEps = 0.01

  /** Insert one value (GK INSERT): new tuple (v, 1, ⌊2εn⌋) at its sorted
    * position — 0 uncertainty at the extremes. */
  def insert(s: Summary, value: Long, eps: Double): Summary = {
    val (n, ts) = s
    val i = ts.indexWhere(_.v >= value)
    val t =
      if (i <= 0 || i == ts.size || ts.isEmpty)
        Tuple(value, 1L, 0L) // new min, max, or first entry
      else
        Tuple(value, 1L, math.floor(2 * eps * n).toLong.max(0L))
    val at = if (i < 0) ts.size else i
    (n + 1, ts.patch(at, Seq(t), 0))
  }

  /** GK COMPRESS: one right-to-left sweep merging adjacent tuples while
    * the merged span keeps the invariant g + Δ ≤ 2εn. Extremes never
    * merge away (their Δ = 0 spans anchor rank 1 and n). */
  def compress(s: Summary, eps: Double): Summary = {
    val (n, ts) = s
    if (ts.size < 3) return s
    val cap = math.floor(2 * eps * n).toLong
    val out = scala.collection.mutable.ArrayBuffer[Tuple](ts.last)
    var i = ts.size - 2
    while (i >= 1) { // never merge the minimum (index 0) into its successor
      val t = ts(i)
      val succ = out.head
      if (t.g + succ.g + succ.delta <= cap)
        out(0) = succ.copy(g = succ.g + t.g)
      else
        out.prepend(t)
      i -= 1
    }
    out.prepend(ts.head)
    (n, out.toVector)
  }

  /** Rank estimate for quantile q (GK QUANTILE): the first tuple whose
    * max possible rank exceeds r + εn, stepped back one. */
  def query(s: Summary, q: Double, eps: Double): Option[(Long, Long)] = {
    val (n, ts) = s
    if (ts.isEmpty) return None
    val r = math.max(1L, math.ceil(q * n).toLong)
    val bound = r + math.floor(eps * n).toLong
    var rmin = 0L
    var i = 0
    var prev = ts.head
    var prevRmin = ts.head.g
    while (i < ts.size) {
      val t = ts(i)
      rmin += t.g
      if (rmin + t.delta > bound) {
        return Some((prev.v, prevRmin))
      }
      prev = t; prevRmin = rmin
      i += 1
    }
    Some((ts.last.v, rmin))
  }

  private val Qs = Seq(0.1, 0.5, 0.9, 0.99)

  /** Fold a batch of arrivals (insert + one compress per arrival batch of
    * ⌊1/(2ε)⌋, the GK schedule); emit the post-batch estimates at the
    * standard quantiles. */
  def transition(group: String, rows: Iterator[ValueArrival],
                 prior: Option[Summary], eps: Double = DefaultEps)
      : (Seq[QuantileEstimate], Summary) = {
    var s = prior.getOrElse((0L, Vector.empty[Tuple]))
    val period = math.max(1, math.floor(1.0 / (2 * eps)).toInt)
    var sinceCompress = 0
    var any = false
    rows.foreach { a =>
      any = true
      s = insert(s, a.value, eps)
      sinceCompress += 1
      if (sinceCompress >= period) { s = compress(s, eps); sinceCompress = 0 }
    }
    if (!any) (Nil, s)
    else {
      s = compress(s, eps)
      val out = Qs.flatMap { q =>
        query(s, q, eps).map { case (v, r) =>
          QuantileEstimate(group, q, v, r, s._1, s._2.size)
        }
      }
      (out, s)
    }
  }

  private def keyed(eps: Double) = KeyedFold((a: ValueArrival) => a.group)(
    transition(_: String, _: Iterator[ValueArrival], _: Option[Summary], eps))

  /** Streaming sketch: one bounded summary per group, estimates emitted
    * per (group, micro-batch with arrivals). */
  def track(ds: Dataset[ValueArrival], eps: Double = DefaultEps)
      : Dataset[QuantileEstimate] = keyed(eps).track(ds)

  /** Batch twin — one summary pass per group over the whole frame. */
  def trackBatch(ds: Dataset[ValueArrival], eps: Double = DefaultEps)
      : Dataset[QuantileEstimate] = keyed(eps).trackBatch(ds)
}
