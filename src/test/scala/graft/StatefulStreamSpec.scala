package graft

import graft.stream.{RowChangeRec, Stateful}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `Stateful.reconstruct` as a stream: one key's changes arrive one per
  * micro-batch, so every repair reads state written by an earlier batch. */
class StatefulStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stateful reconstruction carries a key's image across micro-batches " +
    "and removes it on delete") {
    def rec(op: String, after: Map[String, String], lsn: String) =
      RowChangeRec(op, "public", "documents", "1", null, after, lsn)
    val in = MemoryStream[RowChangeRec](spark)
    val q = Stateful.reconstruct(in.toDS()).writeStream.format("memory")
      .queryName("stateful_stream_out").outputMode("append").start()
    try Seq(
      rec("c", Map("id" -> "1", "title" -> "T", "content" -> "big-toast-value"), "10"),
      // update where the unchanged TOAST column `content` is absent
      rec("u", Map("id" -> "1", "title" -> "T2"), "20"),
      rec("d", null, "30"),
      rec("c", Map("id" -> "1", "title" -> "T3"), "40")
    ).foreach { c => in.addData(c); q.processAllAvailable() }
    finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 4)

    val Array(create, upd, del, recreate) = spark.table("stateful_stream_out")
      .as[RowChangeRec].collect().sortBy(c => BigInt(c.lsn))
    assert(Seq(create, upd, del, recreate).map(_.lsn) == Seq("10", "20", "30", "40"))
    assert(create.before == null)
    // the update inherits `content` from the first batch's state
    assert(upd.after ==
      Map("id" -> "1", "title" -> "T2", "content" -> "big-toast-value"))
    assert(upd.before == create.after)
    // the delete's before is the last image
    assert(del.before == upd.after)
    // the delete removed the state: the re-create has no before and
    // inherits nothing
    assert(recreate.before == null)
    assert(recreate.after == Map("id" -> "1", "title" -> "T3"))
  }
}
