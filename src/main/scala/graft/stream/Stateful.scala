package graft.stream

import org.apache.spark.sql.Dataset

/** Typed change record for stateful processing (same shape as
  * [[graft.model.Types.rowChangeSchema]]). */
final case class RowChangeRec(
    op: String,
    schema: String,
    table: String,
    primary_key: String,
    before: Map[String, String],
    after: Map[String, String],
    lsn: String)

/** Keyed state extension (SURVEY.md §7.6): the reference loses data in two
  * places that per-key streaming state can repair —
  *
  *  1. unchanged TOAST columns collapse to null/absent
  *     (reference: internal/cdc/postgres/postgres.go:629-638), and
  *  2. updates carry no Before image (the old tuple is discarded,
  *     reference: postgres.go:586-600).
  *
  * `reconstruct` keys the stream by (schema, table, pk) and keeps the last
  * known row image per key: absent columns in an update inherit the prior
  * image (TOAST repair), and every emitted change carries the prior image as
  * `before`. Runs identically over a batch Dataset (one state pass per key)
  * and a stream (`flatMapGroupsWithState`, state persisted in the
  * checkpoint).
  */
object Stateful {

  type Key = (String, String, String)

  /** Per-group transition: changes arrive (within a micro-batch) in any
    * order — sort by numeric LSN; fold the key's image forward. */
  def transition(changes: Iterator[RowChangeRec],
                 prior: Option[Map[String, String]]): (Seq[RowChangeRec], Option[Map[String, String]]) = {
    val sorted = changes.toSeq.sortBy(c => BigInt(c.lsn))
    var image = prior
    val out = sorted.map { c =>
      c.op match {
        case "d" =>
          val withBefore = c.copy(before = Option(c.before).orElse(image).orNull)
          image = None
          withBefore
        case _ if c.after != null =>
          val merged = image.getOrElse(Map.empty) ++ c.after
          val withImages = c.copy(before = image.orNull, after = merged)
          image = Some(merged)
          withImages
        case _ => c // null-After update: no state effect (pipeline.go:198-201)
      }
    }
    (out, image)
  }

  private val keyed = new KeyedFold[Key, RowChangeRec, Map[String, String], RowChangeRec](
    c => (c.schema, c.table, c.primary_key), (_, rows, prior) =>
      transition(rows, prior) match { case (out, image) => (out.iterator, image) })

  def reconstruct(changes: Dataset[RowChangeRec]): Dataset[RowChangeRec] =
    keyed.track(changes)
}
