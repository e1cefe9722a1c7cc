package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** One labeled vector entering the monitor: components already quantized
  * to floor(x·2²⁴) longs ([[graft.ops.expr.VecQuant]] contract). */
final case class LabeledVec(label: Int, q: Seq[Long])

/** Per-label centroid snapshot after a micro-batch: `n` vectors seen so
  * far, `centroid` = floor(Σq/n) per component (the exact integer form
  * q_embedding_drift / Ivf training use), and `drift_e6` = ⌊cos·10⁶⌋
  * between this batch's running centroid and the previous batch's (10⁶ on
  * the first batch — nothing to drift from). */
final case class CentroidUpdate(label: Int, n: Long, centroid: Seq[Long],
                                drift_e6: Long)

/** Streaming embedding-drift monitor — the per-batch twin of the batch
  * q_embedding_drift matrix, and the observability hook the reference's
  * embed stage (E1) lacks: as labeled vectors stream through the pipeline,
  * keep ONE bounded state entry per label (count + exact component sums —
  * dim+1 longs, independent of stream length) and emit after every
  * micro-batch how far each label's running centroid moved. A label whose
  * drift_e6 drops below threshold signals an upstream model/provider
  * change before it poisons a vector index.
  *
  * Integer sums are associative, so the running centroid is independent of
  * batch boundaries and arrival order — the final state equals the batch
  * computation over the same rows (CentroidMonitorSpec pins this), which
  * is what makes the monitor's output trustworthy under redelivery and
  * repartitioning.
  */
object CentroidMonitor {

  /** Quantized-cosine drift between two integer centroids, ⌊cos·10⁶⌋;
    * 10⁶ when either is the zero vector (no direction to compare). */
  def cosE6(a: Seq[Long], b: Seq[Long]): Long = {
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    if (na == 0L || nb == 0L) 1000000L
    else math.floor(dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      * 1000000.0).toLong
  }

  /** Per-label state: vectors seen, exact quantized component sums. */
  type State = (Long, Seq[Long])

  private def centroidOf(n: Long, sums: Seq[Long]): Seq[Long] =
    sums.map(s => math.floor(s.toDouble / n.toDouble).toLong)

  /** Fold a batch of vectors into the prior state; emits the post-batch
    * snapshot with drift vs the prior centroid. Shared by the stream and
    * its batch twin so the spec's equivalence is structural. */
  def transition(label: Int, rows: Iterator[LabeledVec],
                 prior: Option[State]): (Option[CentroidUpdate], State) = {
    var n = prior.map(_._1).getOrElse(0L)
    var sums = prior.map(_._2).getOrElse(Seq.empty)
    val prevCentroid = prior.map { case (pn, ps) => centroidOf(pn, ps) }
    var any = false
    rows.foreach { v =>
      // dimension guard: zip silently truncates to the SHORTER vector, so
      // one empty/short embedding would permanently collapse the label's
      // sums (and pin drift at the 1.0 sentinel, masking real drift).
      // Mismatched vectors are skipped — they cannot belong to the same
      // embedding space as the established state.
      if (v.q.nonEmpty && (sums.isEmpty || v.q.length == sums.length)) {
        any = true
        sums = if (sums.isEmpty) v.q
               else sums.zip(v.q).map { case (s, x) => s + x }
        n += 1
      }
    }
    if (!any) (None, (n, sums))
    else {
      val c = centroidOf(n, sums)
      val drift = prevCentroid.map(cosE6(_, c)).getOrElse(1000000L)
      (Some(CentroidUpdate(label, n, c, drift)), (n, sums))
    }
  }

  /** Labeled quantized vectors from an embeddings frame (batch or stream). */
  def labeledVecs(embeddings: DataFrame): Dataset[LabeledVec] = {
    implicit val enc = Encoders.product[LabeledVec]
    embeddings
      .select(col("label").cast("int").as("label"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * lit(graft.ops.expr.VecQuant.Scale))
            .cast("long")).as("q"))
      .as[LabeledVec]
  }

  private val keyed = KeyedFold[Int, LabeledVec, State, CentroidUpdate](_.label)(
    transition(_, _, _) match { case (out, next) => (out.toSeq, next) })

  /** Streaming monitor: one bounded state entry per label, one
    * [[CentroidUpdate]] per (label, micro-batch with arrivals). */
  def monitor(ds: Dataset[LabeledVec]): Dataset[CentroidUpdate] = keyed.track(ds)

  /** Batch twin — one update per label over the whole frame. */
  def monitorBatch(ds: Dataset[LabeledVec]): Dataset[CentroidUpdate] =
    keyed.trackBatch(ds)
}
