package graft

import graft.cdc.Changelog
import graft.model.{Mapping, Types}
import graft.pipeline.VectorPipeline
import graft.sink.ParquetVectorStore
import graft.stream.{CdcStream, EventStreams, RowChangeRec, Stateful}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

class StreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  test("CDC stream: envelopes → vector store matches batch replay; " +
    "checkpoint restart does not duplicate") {
    val src = tmp(); val store = tmp() + "/store"; val ckpt = tmp() + "/ckpt"

    // first chunk of the change log (inserts + updates)
    val env = Changelog.envelopes(spark, sfDir).cache()
    env.filter(!get_json_object($"value", "$.op").equalTo("d"))
      .coalesce(1).write.mode("overwrite").text(src)

    val q1 = CdcStream.run(spark, src, store, ckpt, Mapping.documents)
    q1.processAllAvailable(); q1.stop()
    val pvs = new ParquetVectorStore(store)
    val afterUpserts = pvs.current(spark).count()
    assert(afterUpserts > 0)

    // second chunk: the deletes arrive; restart from checkpoint
    env.filter(get_json_object($"value", "$.op").equalTo("d"))
      .coalesce(1).write.mode("append").text(src)
    val q2 = CdcStream.run(spark, src, store, ckpt, Mapping.documents)
    q2.processAllAvailable(); q2.stop()

    // store state == batch replay of the full log, as multisets of whole
    // points: id, vector (bit for bit) and metadata
    val streamed = PipelineSpec.wholePoints(pvs.current(spark))
    val batch = PipelineSpec.wholePoints(VectorPipeline
      .vectorPoints(Changelog.changes(spark, sfDir), Mapping.documents))
    assert(streamed.nonEmpty && streamed == batch)

    // restart once more with no new data: no reprocessing, same state
    val q3 = CdcStream.run(spark, src, store, ckpt, Mapping.documents)
    q3.processAllAvailable(); q3.stop()
    assert(PipelineSpec.wholePoints(pvs.current(spark)) == streamed)
  }

  test("a vector micro-batch runs in at most two Spark jobs, in generated code") {
    val src = tmp()
    Changelog.envelopes(spark, sfDir).coalesce(1).write.mode("overwrite").text(src)
    // the shape of a file-source micro-batch: one scan of the landed JSON
    val batch = spark.read.schema(Types.rowChangeSchema).json(src)
    val store = new ParquetVectorStore(tmp() + "/store")
    val jobs = CodegenGuard.noFallback(SparkJobs.jobsIn(spark)(
      CdcStream.writeBatch(store, Mapping.documents, batch, 0L)))
    assert(jobs <= 2, s"the vector batch body ran $jobs jobs")
    assert(PipelineSpec.wholePoints(store.current(spark)) ==
      PipelineSpec.wholePoints(VectorPipeline.vectorPoints(batch, Mapping.documents)))
  }

  test("dropDuplicatesWithinWatermark removes re-delivered events") {
    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    val df = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.dedupWithinWatermark(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((1L, t0, "click"), (2L, t0, "view"), (1L, t0, "click"))
    q.processAllAvailable()
    mem.addData((1L, t0, "click"), (3L, t0, "view"))
    q.processAllAvailable()
    val got = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    q.stop()
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("tumbling window counts over a stream match the batch query") {
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingCounts(df)
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode("complete").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 00:07:00"), "click", 4.0))
    q.processAllAvailable()
    val rows = spark.table("tumble_out")
      .select($"window_start".cast("string"), $"n", $"total_value")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    q.stop()
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00", 2L, 3.0),
      ("2024-01-01 00:05:00", 1L, 4.0)))
  }

  test("watermark drops late data in append mode") {
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingCounts(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    // window [00:00, 00:05) gets one event; then the watermark advances
    // far past it, closing the window
    mem.addData((Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 01:00:00"), "click", 1.0))
    q.processAllAvailable()
    // a late event for the closed window must be dropped, not re-emitted
    mem.addData((Timestamp.valueOf("2024-01-01 00:02:00"), "click", 99.0))
    q.processAllAvailable()
    val rows = spark.table("late_out")
      .select($"window_start".cast("string"), $"n", $"total_value")
      .as[(String, Long, Double)].collect().toSeq
    q.stop()
    // the first window was finalized with exactly its on-time event
    assert(rows.contains(("2024-01-01 00:00:00", 1L, 1.0)))
    // and the late 99.0 never surfaced anywhere
    assert(!rows.exists(_._3 == 99.0))
  }

  test("session_window merges events within the gap") {
    val mem = MemoryStream[(Timestamp, Long)](spark)
    val df = mem.toDF().toDF("ts", "user_id")
    val q = EventStreams.sessionCounts(df)
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 7L),
      (Timestamp.valueOf("2024-01-01 00:10:00"), 7L),  // same session
      (Timestamp.valueOf("2024-01-01 02:00:00"), 7L))  // new session
    q.processAllAvailable()
    val n = spark.table("session_out").count()
    q.stop()
    assert(n == 2)
  }

  test("stateful reconstruction repairs TOAST columns and Before images") {
    val changes = Seq(
      RowChangeRec("c", "public", "documents", "1", null,
        Map("id" -> "1", "title" -> "T", "content" -> "big-toast-value"), "10"),
      // update where the unchanged TOAST column `content` is absent
      RowChangeRec("u", "public", "documents", "1", null,
        Map("id" -> "1", "title" -> "T2"), "20"),
      RowChangeRec("d", "public", "documents", "1", null, null, "30"),
      RowChangeRec("c", "public", "documents", "2", null,
        Map("id" -> "2", "title" -> "X"), "15")
    ).toDS()
    val out = Stateful.reconstruct(changes).collect()
      .sortBy(c => BigInt(c.lsn))
    // update inherited the TOAST column and carries the prior image
    val upd = out.find(_.lsn == "20").get
    assert(upd.after == Map("id" -> "1", "title" -> "T2", "content" -> "big-toast-value"))
    assert(upd.before == Map("id" -> "1", "title" -> "T", "content" -> "big-toast-value"))
    // delete sees the last merged image as its before
    val del = out.find(_.lsn == "30").get
    assert(del.before("content") == "big-toast-value")
    assert(out.find(_.lsn == "15").get.before == null)
  }
}
