package graft.stream

import graft.ops.expr.Fnv1a64

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

/** One keyed arrival for the streaming bootstrap: the metric value plus
  * the row's deterministic replicate-hash key (for lineitem the batch
  * query's `"bs:" + (l_orderkey·8 + l_linenumber) + ":"` — any stable
  * unique row key works; determinism of the CI is determinism of this
  * string). */
final case class PbEvent(key: String, rowkey: String, value: Double)

/** One emitted bootstrap point — the same shape as a q_poisson_bootstrap
  * output row: point mean plus the (2nd, 15th)-order-statistic 87.5% CI
  * over the 16 deterministic Poisson(1) replicates. */
final case class PbPoint(key: String, n_rows: Long, mean_qty: Double,
                         boot_lo: Double, boot_hi: Double)

/** Streaming per-key Poisson-bootstrap confidence interval — the
  * keyed-state twin of the oracle-gated batch `q_poisson_bootstrap`
  * (queries/GroupAB.scala). This is the monitor the one-pass bootstrap
  * exists FOR (Chamandy et al. 2012 built it for streams): because each
  * row's 16 replicate weights are drawn deterministically from the row's
  * own hash, the sufficient state per key is just
  *
  *   (n, Σdec₆(x))  +  16 × (Σ w_b·dec₆(x), Σ w_b)
  *
  * — a COMMUTATIVE MONOID (exact decimal sums), so unlike the sequential
  * SPC monitors the fold is order-invariant as well as split-invariant:
  * any micro-batch partition of any permutation of the rows yields the
  * BIT-IDENTICAL CI (PoissonBootstrapMonitorSpec pins both, against the
  * registered batch query). Weight rule (shared with the batch side):
  * bucket = fnv1a64(rowkey ∥ chr(48+b)) mod 16 → pmf quantization
  * {6,6,3,1}/16 → weight {0,1,2,3}; the 16 codes are distinct mod 16, so
  * per row the bucket map is a bijection over replicates (the BALANCED
  * bootstrap — see GroupAB's aliasing note). Emission divides the exact
  * decimal accumulators in double
  * (the batch op order) and takes the (2,15) order statistics of the 16
  * replicate means ranked by (mean, b).
  *
  * State is O(1) per key (17 decimals + 17 longs); at scale this is the
  * always-on "metric + CI" dashboard fed straight from the CDC stream,
  * with no resample shuffle and no second pass.
  */
object PoissonBootstrapMonitor {

  /** Replicate codes ascii 48..63 — distinct mod 16 (the balanced-design
    * contract shared with the batch query). */
  private val RepChars = (48 to 63).map(_.toChar).mkString

  /** Replicate weight of one row under replicate b — the registered rule. */
  def weight(rowkey: String, b: Int): Long = {
    val bucket = java.lang.Math.floorMod(Fnv1a64.hash(rowkey + RepChars(b)), 16L)
    if (bucket < 6) 0L else if (bucket < 12) 1L else if (bucket < 15) 2L else 3L
  }

  /** dec₆: the double → DECIMAL(25,6) cast both engines apply before
    * accumulating (HALF_UP at scale 6 — Spark's Decimal cast rounding). */
  private def dec6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** (n, Σdec₆(x), per-replicate Σw·dec₆(x), per-replicate Σw). */
  final case class S(n: Long, base: BigDecimal,
                     wsum: Vector[BigDecimal], wtot: Vector[Long])

  private val zero =
    S(0L, BigDecimal(0), Vector.fill(16)(BigDecimal(0)), Vector.fill(16)(0L))

  /** Fold arrivals into the state — commutative and associative, so no
    * per-batch sort is needed (contrast the sequential monitors).
    * Accumulates into local arrays and wraps into the immutable state ONCE
    * per group call: the per-row `Vector.updated` form copied up to 32
    * 16-slot vectors per arriving row on the hot streaming path. The sum
    * order per slot is unchanged (BigDecimal + is exact), so the emitted
    * point stays bit-identical. */
  def fold(prior: Option[S], rows: Iterator[PbEvent]): S = {
    val p = prior.getOrElse(zero)
    var n = p.n
    var base = p.base
    val ws = p.wsum.toArray
    val wt = p.wtot.toArray
    rows.foreach { e =>
      val d = dec6(e.value)
      var b = 0
      while (b < 16) {
        val w = weight(e.rowkey, b)
        if (w != 0L) {
          ws(b) = ws(b) + d * w
          wt(b) += w
        }
        b += 1
      }
      n += 1
      base = base + d
    }
    if (n == p.n) p else S(n, base, ws.toVector, wt.toVector)
  }

  /** Emit the batch-shape point: exact accumulators divided in double,
    * CI = (2nd, 15th) order statistics of the replicate means ranked by
    * (mean, replicate index) — the batch window's exact tiebreak. */
  def point(key: String, s: S): PbPoint = {
    val mbs = (0 until 16).map { b =>
      (s.wsum(b).toDouble / s.wtot(b).toDouble, b)
    }.sorted
    PbPoint(key, s.n, s.base.toDouble / s.n.toDouble,
      mbs(1)._1, mbs(14)._1)
  }

  private val keyed = KeyedFold.points((e: PbEvent) => e.key)(fold, point)

  /** Streaming CI: one point per touched key per micro-batch. */
  def track(ds: Dataset[PbEvent]): Dataset[PbPoint] = keyed.track(ds)

  /** The evicting form's state handler, exposed for TestGroupState specs:
    * on timeout the key's state retires (the last point it emitted while
    * active IS the key's final CI — nothing new to say at eviction);
    * otherwise fold, emit, and re-arm the idle timer. */
  private[graft] def evictingHandler(idleMs: Long)(
      key: String, rows: Iterator[PbEvent],
      state: GroupState[S]): Iterator[PbPoint] =
    keyed.evictingHandler(idleMs)(key, rows, state)

  /** [[track]] with BOUNDED state — the deployment form: emissions are
    * identical to [[track]] while a key is live, but a key that receives
    * nothing for `idleRetention` retires its state (ProcessingTimeTimeout:
    * no watermark column needed on the input, and late stragglers after
    * retirement start a fresh—rather than silently wrong—accumulation).
    * The NoTimeout [[track]] remains the bit-exact-twin form the spec pins
    * against the batch query; a long-running deployment should use this
    * one so finished keys don't grow state without bound. */
  def trackEvicting(ds: Dataset[PbEvent],
                    idleRetention: java.time.Duration): Dataset[PbPoint] =
    keyed.trackEvicting(ds, idleRetention)

  /** Batch twin over a bounded dataset: the final point per key. */
  def trackBatch(ds: Dataset[PbEvent]): Dataset[PbPoint] = keyed.trackBatch(ds)
}
