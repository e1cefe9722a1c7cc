package graft.stream

import graft.ops.expr.Fnv1a64

import org.apache.spark.sql.Dataset

/** One distinct-count observation entering the HLL sketch. */
final case class HllArrival(group: String, value: String)

/** One post-batch estimate: empty-register count + the raw HLL estimate
  * (rounded to 4, the q_hll_distinct output contract). */
final case class HllEstimate(group: String, v_empty: Long, est: Double)

/** Streaming HyperLogLog — the keyed-state twin of the oracle-gated batch
  * `q_hll_distinct` (queries/GroupY.scala): 256 one-byte registers per
  * group FOREVER, regardless of stream length. Exactly the same sketch
  * contract — FNV fold finalized through [[graft.ops.expr.Mix64]] (the
  * raw fold's low bits are not rank-grade — see the batch query), bucket
  * = mixed low byte, rank = trailing zeros of h ≫ 8 (+1, capped 57),
  * estimate = α·m²/Σ2^−M with exact power-of-two register sums — so for
  * ASCII values the streamed registers equal the batch query's register
  * for register (spec-pinned, including the rounded estimate).
  *
  * Like [[StreamingKmv]] (and unlike SpaceSaving), the state is a
  * commutative idempotent monoid — registers merge by elementwise MAX —
  * so ANY micro-batch partitioning, re-ordering, or at-least-once
  * re-delivery of the same elements converges to bit-identical registers
  * and estimate. That is the property that makes it safe directly behind
  * a replayed CDC source.
  */
object StreamingHll {

  val NumRegisters = 256

  /** (bucket, rank) of one element hash — the q_hll_distinct layout. */
  def bucketRank(h: Long): (Int, Int) = {
    val bucket = (h & 255L).toInt
    val x = h >>> 8
    val r = if (x == 0L) 57 else java.lang.Long.numberOfTrailingZeros(x) + 1
    (bucket, r)
  }

  /** Raw HLL estimate from registers — operation-for-operation the batch
    * query's math: Σ in exact BigDecimal (2⁵⁷ per empty register), one
    * double divide, round 4. */
  def estimate(regs: Array[Byte]): HllEstimateValues = {
    val vEmpty = regs.count(_ == 0)
    val sAll = regs.filter(_ != 0)
      .map(m => BigDecimal(1L << (57 - m))).sum +
      BigDecimal(vEmpty) * BigDecimal(1L << 57)
    val raw = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 *
      (1L << 57).toDouble / sAll.toDouble
    HllEstimateValues(vEmpty.toLong,
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  final case class HllEstimateValues(vEmpty: Long, est: Double)

  /** Fold a batch; emit one estimate iff it carried arrivals. The prior
    * register array is COPIED before mutation (state objects must not be
    * mutated in place). Shared by stream and batch twin. */
  def transition(group: String, rows: Iterator[HllArrival],
                 prior: Option[Array[Byte]]):
      (Seq[HllEstimate], Array[Byte]) = {
    val regs = prior.map(_.clone()).getOrElse(new Array[Byte](NumRegisters))
    var any = false
    rows.foreach { a =>
      any = true
      val (b, r) = bucketRank(
        graft.ops.expr.Mix64.mix(Fnv1a64.hash("hll:" + a.value)))
      if (r > regs(b)) regs(b) = r.toByte
    }
    if (!any) (Nil, regs)
    else {
      val e = estimate(regs)
      (Seq(HllEstimate(group, e.vEmpty, e.est)), regs)
    }
  }

  private val keyed = KeyedFold((a: HllArrival) => a.group)(transition)

  /** Streaming tracker: 256 bytes of state per group, one estimate per
    * (group, micro-batch with arrivals). */
  def track(ds: Dataset[HllArrival]): Dataset[HllEstimate] = keyed.track(ds)

  /** Batch twin — one register pass per group over the whole frame. */
  def trackBatch(ds: Dataset[HllArrival]): Dataset[HllEstimate] =
    keyed.trackBatch(ds)
}
