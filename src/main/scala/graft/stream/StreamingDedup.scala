package graft.stream

import graft.ops.DedupOps

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One banded view of a document entering the dedup stream: `bucket` is the
  * MinHash band key (lang folded in), `sig` the full 16-perm signature. */
final case class DocSig(doc_id: Long, bucket: Long, sig: Seq[Long])

/** An online near-dup verdict: `doc_id` estimated-similar to the bucket
  * representative `dup_of` with signature agreement `est_jac`. */
final case class DupHit(doc_id: Long, dup_of: Long, est_jac: Double)

/** Online near-duplicate detection at ingest — the streaming twin of the
  * batch MinHash pipeline (q_dedup_minhash / q_incremental_dedup): key the
  * stream by MinHash band bucket, keep ONE representative per bucket in
  * keyed state, and flag every later arrival whose signature agrees with
  * the representative on ≥ `minAgree` of the 16 permutations (the standard
  * unbiased Jaccard estimator). State is bounded by construction — one
  * (id, 16-long signature) per bucket, regardless of how many documents
  * stream through — which is what makes the operator viable on an
  * unbounded 100 TB ingest where per-bucket member lists would grow
  * without limit. Exact-verification pipelines feed the flagged pairs to
  * the batch verifier ([[graft.ops.DedupOps.jaccardSorted]]) downstream.
  */
object StreamingDedup {

  val NumPerms = 16
  val NumBands = 8
  val RowsPerBand = 2

  /** Documents → one [[DocSig]] per (doc, band), batch or stream. Banding
    * matches the batch pipeline: 16 salted-hash perms, 8 bands × 2 rows,
    * lang folded into the bucket key. */
  def bandedDocs(docs: DataFrame): Dataset[DocSig] = {
    implicit val enc = Encoders.product[DocSig]
    docs
      .select(col("doc_id"), col("lang"),
        DedupOps.sortedTokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) > 0) // degenerate all-sentinel signatures out
      .withColumn("sig", DedupOps.minhashSignature(col("toks"), NumPerms))
      .withColumn("band",
        explode(DedupOps.bandKeys(col("sig"), NumBands, RowsPerBand)))
      .select(col("doc_id"),
        xxhash64(concat_ws("|", col("lang"), col("band"))).as("bucket"),
        col("sig"))
      .as[DocSig]
  }

  /** Signature-agreement Jaccard estimate: matching perms / total perms. */
  def estJaccard(a: Seq[Long], b: Seq[Long]): Double =
    a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble /
      NumPerms

  /** Per-bucket transition shared by the stream and its batch twin: the
    * first document to reach an empty bucket becomes its representative
    * (micro-batch arrivals tie-break by doc_id, so replays agree); every
    * other arrival is compared against the representative only. */
  def transition(rows: Iterator[DocSig], prior: Option[(Long, Seq[Long])],
                 minAgree: Double): (Seq[DupHit], Option[(Long, Seq[Long])]) = {
    val sorted = rows.toSeq.sortBy(_.doc_id)
    var rep = prior
    val hits = Seq.newBuilder[DupHit]
    sorted.foreach { d =>
      rep match {
        case None => rep = Some((d.doc_id, d.sig))
        case Some((repId, repSig)) if d.doc_id != repId =>
          val est = estJaccard(d.sig, repSig)
          if (est >= minAgree) hits += DupHit(d.doc_id, repId, est)
        case _ => ()
      }
    }
    (hits.result(), rep)
  }

  private def keyed(minAgree: Double) =
    new KeyedFold[Long, DocSig, (Long, Seq[Long]), DupHit](_.bucket, (_, rows, prior) =>
      transition(rows, prior, minAgree) match { case (hits, rep) => (hits.iterator, rep) })

  /** Streaming flag pass: one bounded state entry per band bucket. A
    * document appears in up to [[NumBands]] buckets, so it can emit up to
    * [[NumBands]] hits — [[consolidate]] collapses them to the best one. */
  def flagDuplicates(ds: Dataset[DocSig], minAgree: Double = 0.5): Dataset[DupHit] =
    keyed(minAgree).track(ds)

  /** Batch twin of [[flagDuplicates]] — identical verdicts when the whole
    * corpus arrives as one batch (the equivalence the spec pins). */
  def flagDuplicatesBatch(ds: Dataset[DocSig], minAgree: Double = 0.5): Dataset[DupHit] =
    keyed(minAgree).trackBatch(ds)

  /** Collapse multi-bucket hits to one verdict per document: best estimate,
    * then lowest representative id — a partitioned window, never global. */
  def consolidate(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("est_jac").desc, col("dup_of"))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "dup_of", "est_jac")
  }
}
