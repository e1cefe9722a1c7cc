package graft.stream

import graft.model.{Mapping, Types}
import graft.pipeline.VectorPipeline
import graft.sink.ParquetVectorStore

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming form of the reference's whole program
  * (SURVEY.md §7.2 M3): change envelopes stream in, each micro-batch runs
  * the [[VectorPipeline]] transform, and sinks apply idempotent
  * upserts/deletes.
  *
  * Reference semantics → Spark mapping:
  *  - hybrid size/time batching (reference: internal/pipeline/pipeline.go:74-111)
  *    → `Trigger.ProcessingTime` micro-batches (B1);
  *  - offset file written after clean flushes but never read back
  *    (reference: pipeline.go:29-53 vs postgres.go:152-158)
  *    → `checkpointLocation`, which Spark *does* read on restart — strictly
  *    better, same at-least-once + idempotent-upsert contract (B2);
  *  - drop-on-full-channel load shedding (reference: postgres.go:293-302)
  *    → lossless backpressure (micro-batch pull model), a deliberate
  *    deviation (SURVEY.md §7.6);
  *  - commit-time emission (S5) is preserved by the envelope granularity:
  *    only committed changes are ever written to the source.
  */
object CdcStream {

  /** File-based envelope source (option B of SURVEY.md §7.3): JSON lines in
    * RowChange shape. `maxFilesPerTrigger` bounds micro-batch size, the
    * size-cap half of the reference's hybrid batching. */
  def readEnvelopes(spark: SparkSession, sourceDir: String,
                    maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Types.rowChangeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(sourceDir)

  /** DataSourceV2 envelope source (option A seam,
    * [[graft.sources.PgOutputReplaySource]]): the same committed envelopes
    * served through a MicroBatchStream with slot-replay semantics —
    * segment-count offsets, `start_lsn` resume, size-capped triggers. */
  def readEnvelopesV2(spark: SparkSession, sourceDir: String,
                      startLsn: Long = 0L,
                      maxFilesPerTrigger: Int = 16,
                      wireFormat: String = "json"): DataFrame =
    spark.readStream
      .format("graft-pgoutput")
      .option("path", sourceDir)
      .option("start_lsn", startLsn)
      .option("max_files_per_trigger", maxFilesPerTrigger)
      .option("wire_format", wireFormat)
      .load()

  /** Run the CDC → vector-store pipeline against a parquet vector store.
    * Each micro-batch collapses to latest-per-pk before embedding, so
    * re-delivered batches upsert identical rows (idempotent). */
  def run(spark: SparkSession, sourceDir: String, storeDir: String,
          checkpointDir: String, mapping: Mapping,
          flushIntervalMs: Long = 500): StreamingQuery = {
    val store = new ParquetVectorStore(storeDir)
    readEnvelopes(spark, sourceDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(flushIntervalMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(store, mapping, batch, batchId)
      }
      .start()
  }

  /** One micro-batch of [[run]]: one collapse by key, one embedding per
    * upserted key, one append to the store. */
  def writeBatch(store: ParquetVectorStore, mapping: Mapping,
                 batch: DataFrame, batchId: Long): Unit =
    store.append(VectorPipeline.pointOps(batch, mapping), batchId)
}

/** Event-time streaming operators over the events stream — the watermarked
  * twins of the batch queries (SURVEY.md §2.3 “streaming twins”). */
object EventStreams {

  /** Tumbling 5-minute counts with late-data bound. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** At-least-once → effectively-once: drop duplicate event ids within the
    * watermark horizon (bounded state). */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Session windows with a 30-minute inactivity gap — the streaming twin of
    * q_sessionize (merging windows, watermark-bounded state). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
