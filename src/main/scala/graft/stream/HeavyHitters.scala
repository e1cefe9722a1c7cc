package graft.stream

import org.apache.spark.sql.Dataset

/** One token observation entering the tracker (group = the summary key,
  * e.g. language or source). */
final case class TokenArrival(group: String, token: String)

/** One tracked heavy hitter after a micro-batch: `count_hat` ≥ true count
  * ≥ `count_hat − err` (the SpaceSaving guarantee), `n` = total arrivals
  * folded into this group's summary so far. */
final case class HeavyHitter(group: String, token: String, count_hat: Long,
                             err: Long, n: Long)

/** Streaming heavy hitters — the SpaceSaving sketch (Metwally, Agrawal,
  * El Abbadi 2005) as a keyed-state operator: per group, ONE bounded
  * summary of k (token, count, err) entries regardless of stream length —
  * the streaming twin of the exact batch top-k queries (q_top_terms /
  * q_zipf_profile), for the ingest-time view where an exact count shuffle
  * per micro-batch would be absurd.
  *
  * The sketch's contract (HeavyHittersSpec pins all three on real fixture
  * token streams, split across micro-batches):
  *   - bounds:   count_hat ≥ true ≥ count_hat − err for every entry;
  *   - coverage: every token with true count > n/k is in the summary —
  *               arrival-order can change WHICH borderline tokens are
  *               tracked, but never lose a guaranteed-frequent one;
  *   - state:    ≤ k entries per group, forever.
  *
  * Eviction is deterministic (min count, ties to the lexicographically
  * greatest token) so replays reproduce the summary bit-for-bit for a
  * given arrival order. Entries live in a plain Seq — O(k) per arrival,
  * right for the k ≤ a-few-hundred this monitors; a production tracker at
  * k in the tens of thousands swaps in a hash-indexed min-heap without
  * changing the transition contract.
  */
object HeavyHitters {

  /** token → (count_hat, err). */
  type Entry = (String, Long, Long)

  /** (arrivals folded, tracked entries — size ≤ k). */
  type Summary = (Long, Seq[Entry])

  val DefaultK = 32

  /** Fold one arrival into the summary (the SpaceSaving step). */
  def step(s: Summary, token: String, k: Int): Summary = {
    val (n, es) = s
    val i = es.indexWhere(_._1 == token)
    if (i >= 0) {
      val e = es(i)
      (n + 1, es.updated(i, (e._1, e._2 + 1, e._3)))
    } else if (es.size < k) {
      (n + 1, es :+ ((token, 1L, 0L)))
    } else {
      val victim = es.minBy(e => (e._2, e._1))(
        Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
      (n + 1, es.filterNot(_ eq victim) :+ ((token, victim._2 + 1, victim._2)))
    }
  }

  /** Fold a batch of arrivals into the prior summary; emit the post-batch
    * top-`emit` entries (count DESC, token ASC). Shared by the stream and
    * its batch twin so the spec's equivalence is structural. */
  def transition(group: String, rows: Iterator[TokenArrival],
                 prior: Option[Summary], k: Int = DefaultK,
                 emit: Int = 10): (Seq[HeavyHitter], Summary) = {
    var s = prior.getOrElse((0L, Seq.empty[Entry]))
    var any = false
    rows.foreach { a => any = true; s = step(s, a.token, k) }
    if (!any) (Nil, s)
    else {
      val top = s._2.sortBy(e => (-e._2, e._1)).take(emit)
        .map(e => HeavyHitter(group, e._1, e._2, e._3, s._1))
      (top, s)
    }
  }

  private def keyed(k: Int) = KeyedFold((a: TokenArrival) => a.group)(
    transition(_: String, _: Iterator[TokenArrival], _: Option[Summary], k))

  /** Streaming tracker: one bounded summary per group, the post-batch
    * top-10 emitted per (group, micro-batch with arrivals). */
  def track(ds: Dataset[TokenArrival], k: Int = DefaultK): Dataset[HeavyHitter] =
    keyed(k).track(ds)

  /** Batch twin — one summary pass per group over the whole frame. */
  def trackBatch(ds: Dataset[TokenArrival], k: Int = DefaultK): Dataset[HeavyHitter] =
    keyed(k).trackBatch(ds)
}
