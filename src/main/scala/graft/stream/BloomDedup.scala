package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** One document entering the exact-dup gate: `group` shards the filter,
  * `fp` is the content fingerprint (xxhash64 of the normalized text). */
final case class DocFp(doc_id: Long, group: Long, fp: Long)

/** The gate's verdict: `maybe_dup` is true when every probed bit was
  * already set — i.e. the fingerprint was PROBABLY seen before. */
final case class BloomVerdict(doc_id: Long, fp: Long, maybe_dup: Boolean)

/** Ingest-time exact-duplicate gate with O(1) state: a sharded Bloom
  * filter as `flatMapGroupsWithState`.
  *
  * The exact-dedup batch pass (q_dedup_exact) keys unbounded state by
  * fingerprint — one entry per distinct document forever, which is the
  * right call for a replayable table but not for a fire-and-forget ingest
  * gate on an unbounded stream. This operator keeps a FIXED [[BitsPerGroup]]-bit
  * filter per shard group (fingerprints shard by `pmod(fp, numGroups)`,
  * so a re-delivered fingerprint always lands on the same filter), probes
  * [[NumProbes]] bit positions derived by splitting the 64-bit
  * fingerprint, and answers:
  *
  *  - **no false negatives**: a fingerprint that streamed through before
  *    set its bits, so its re-arrival always reports `maybe_dup` —
  *    exactly-once admission survives any re-delivery;
  *  - **bounded false positives**: a fresh fingerprint reports
  *    `maybe_dup` only when all [[NumProbes]] probed bits collide with
  *    prior traffic — the classic (1−e^(−kn/m))^k bound, ~0.1% at the
  *    spec's load factor and tunable by sizing `numGroups`;
  *  - **bounded state forever**: numGroups × [[BitsPerGroup]] bits total
  *    regardless of stream length — the property the spec pins against a
  *    100k-document churn.
  *
  * Downstream, `maybe_dup` rows detour to the exact verifier (the
  * q_dedup_exact semantics over a keyed store); clean rows skip that
  * store entirely — at 100 TB ingest the gate keeps the expensive exact
  * path off >99% of traffic.
  */
object BloomDedup {

  /** 2^15 bits (4 KiB) per shard group. */
  val BitsPerGroup = 1 << 15
  /** Probes per fingerprint: 4 disjoint 15-bit slices of the 64-bit fp. */
  val NumProbes = 4

  /** Documents → sharded fingerprints, batch or stream. The fingerprint
    * is xxhash64 over the normalized text (lang folded in, matching the
    * batch exact-dedup key). */
  def fingerprints(docs: DataFrame, numGroups: Int): Dataset[DocFp] = {
    implicit val enc = Encoders.product[DocFp]
    docs
      .select(col("doc_id"),
        xxhash64(concat_ws("|", col("lang"), lower(col("text")))).as("fp"))
      .withColumn("group", pmod(col("fp"), lit(numGroups.toLong)))
      .select("doc_id", "group", "fp")
      .as[DocFp]
  }

  /** Bit positions probed for a fingerprint: [[NumProbes]] disjoint
    * 15-bit slices of the 64-bit value (no re-hashing — slices of a
    * well-mixed hash are independent enough for the FP bound, and the
    * derivation is trivially replayable). */
  def probes(fp: Long): Array[Int] =
    Array.tabulate(NumProbes)(j => ((fp >>> (j * 15)) & (BitsPerGroup - 1)).toInt)

  /** Per-group transition shared by the stream and its batch twin:
    * arrivals apply in doc_id order (replays agree), each tests all its
    * bits BEFORE setting them, so the first arrival of a fingerprint in a
    * group never self-collides. */
  def transition(rows: Iterator[DocFp], prior: Option[Array[Long]])
      : (Seq[BloomVerdict], Array[Long]) = {
    val bits = prior.getOrElse(new Array[Long](BitsPerGroup / 64))
    val out = Seq.newBuilder[BloomVerdict]
    rows.toSeq.sortBy(_.doc_id).foreach { d =>
      val ps = probes(d.fp)
      val seen = ps.forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)
      ps.foreach(p => bits(p >> 6) |= (1L << (p & 63)))
      out += BloomVerdict(d.doc_id, d.fp, seen)
    }
    (out.result(), bits)
  }

  private val keyed = KeyedFold((d: DocFp) => d.group)(
    (_: Long, rows: Iterator[DocFp], prior: Option[Array[Long]]) => transition(rows, prior))

  /** Streaming gate: one fixed-size bit array per shard group, forever. */
  def gate(ds: Dataset[DocFp]): Dataset[BloomVerdict] = keyed.track(ds)

  /** Batch twin of [[gate]] — identical verdicts when the whole corpus
    * arrives as one batch (the equivalence the spec pins). */
  def gateBatch(ds: Dataset[DocFp]): Dataset[BloomVerdict] = keyed.trackBatch(ds)
}
