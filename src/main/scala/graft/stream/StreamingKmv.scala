package graft.stream

import graft.ops.expr.Fnv1a64

import org.apache.spark.sql.Dataset

/** One distinct-count observation entering the sketch (group = the
  * estimate key, e.g. language; value = the element being counted,
  * e.g. a token). */
final case class KmvArrival(group: String, value: String)

/** One post-batch estimate: `n_tracked` = hashes currently in the summary
  * (≤ k), `est` = the KMV distinct estimate — exact (= n_tracked) until
  * the summary fills, ⌊(k−1)·2⁶⁴ / h_k⌋ once it has. */
final case class KmvEstimate(group: String, n_tracked: Long, est: Long)

/** Streaming KMV distinct-count sketch — the k-minimum-values estimator
  * (Bar-Yossef et al. 2002; the q_kmv_distinct batch formula) as a
  * keyed-state operator: per group, the k smallest distinct unsigned
  * codepoint-FNV hashes, FOREVER k longs of state regardless of stream
  * length — the ingest-time twin of the exact `countDistinct` queries
  * (q_vocab_growth / q_agg_distinct), where an exact distinct shuffle per
  * micro-batch would rescan unbounded history.
  *
  * Unlike SpaceSaving ([[HeavyHitters]]), whose summary depends on arrival
  * order, the KMV state is a commutative idempotent monoid (union, keep the
  * k smallest): ANY micro-batch partitioning of the same elements converges
  * to bit-identical state and estimate — KmvSpec pins batch-split
  * invariance, agreement with the q_kmv_distinct batch formula, bounded
  * state, and the estimate's error on fixture vocabularies.
  */
object StreamingKmv {

  /** Sorted (unsigned ascending) distinct hashes, size ≤ k. */
  type Summary = Seq[Long]

  val DefaultK = 16

  private def unsignedLt(a: Long, b: Long): Boolean =
    java.lang.Long.compareUnsigned(a, b) < 0

  /** Fold one element's hash into the summary: insert if distinct and
    * within the k smallest (unsigned order). */
  def step(s: Summary, h: Long, k: Int): Summary =
    if (s.contains(h)) s
    else {
      val merged = (s :+ h).sortWith(unsignedLt)
      if (merged.size > k) merged.take(k) else merged
    }

  /** The KMV estimate for a summary: exact below k, ⌊(k−1)·2⁶⁴/h_k⌋ at
    * capacity (h_k read as unsigned — the q_kmv_distinct HUGEINT
    * contract). */
  def estimate(s: Summary, k: Int): Long =
    if (s.size < k) s.size.toLong
    else {
      val hk = BigInt(s.last) & ((BigInt(1) << 64) - 1)
      ((BigInt(k - 1) << 64) / hk).toLong
    }

  /** Fold a batch of arrivals; emit the post-batch estimate. Shared by the
    * stream and its batch twin so KmvSpec's equivalence is structural. */
  def transition(group: String, rows: Iterator[KmvArrival],
                 prior: Option[Summary], k: Int = DefaultK):
      (Seq[KmvEstimate], Summary) = {
    var s = prior.getOrElse(Seq.empty[Long])
    var any = false
    rows.foreach { a =>
      any = true
      s = step(s, Fnv1a64.hashCodePoints(a.value), k)
    }
    if (!any) (Nil, s)
    else (Seq(KmvEstimate(group, s.size.toLong, estimate(s, k))), s)
  }

  private def keyed(k: Int) = KeyedFold((a: KmvArrival) => a.group)(
    transition(_: String, _: Iterator[KmvArrival], _: Option[Summary], k))

  /** Streaming tracker: k longs of state per group, one estimate emitted
    * per (group, micro-batch with arrivals). */
  def track(ds: Dataset[KmvArrival], k: Int = DefaultK): Dataset[KmvEstimate] =
    keyed(k).track(ds)

  /** Batch twin — one summary pass per group over the whole frame. */
  def trackBatch(ds: Dataset[KmvArrival], k: Int = DefaultK): Dataset[KmvEstimate] =
    keyed(k).trackBatch(ds)
}
