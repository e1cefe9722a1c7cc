package graft.stream

import graft.ops.{IndexStore, Ivf}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-time incremental IVF index maintenance — the cdc2vec production
  * loop (CDC → embed → index, reference: internal/pipeline/pipeline.go:
  * 135-180) composed from the already-verified parts, with a train-once
  * quantizer:
  *
  *  - coarse centroids are trained OFFLINE (a scheduled job) and persisted
  *    through [[IndexStore]] — every micro-batch loads the SAME artifact,
  *    so cell assignments never drift between runs (retraining per batch
  *    would silently reshuffle the index);
  *  - each micro-batch of (id, vector, lsn, deleted) rows is assigned to
  *    its nearest persisted cell by the nearest-centroid kernel the batch
  *    q_ann_ivf uses ([[Ivf.assignByJoin]]'s shape: vectors × the
  *    broadcast one-row codebook, one `vec_nearest` call per row — no
  *    shuffle, no driver-side loops), and applied to the assignment store
  *    LSN-monotonically by REUSING [[ParquetTableStore]] (bucketed deltas,
  *    tombstones, GC) — so re-delivered / out-of-order batches converge
  *    and a delete tombstones its vector's cell entry;
  *  - [[StalenessMonitor]] transitions feed [[retrainAdvice]], which
  *    flags when the persisted quantizer has drifted from the corpus
  *    (stale + ghost fraction over the audited pks crosses a threshold) —
  *    the trigger for the offline trainer to produce the next artifact.
  *
  * `IndexMaintainerSpec` pins: accumulated assignments ≡ the batch
  * q_ann_ivf assignment (`Ivf.index`) over the same vectors regardless of
  * how the stream was split, re-delivery is a no-op, deletes tombstone,
  * and the retrain advice over streamed transitions ≡ the advice over the
  * batch q_index_staleness statuses.
  *
  * Scale shape per trigger: one broadcast of the one-row k×dim codebook
  * (tiny), one map-side argmin over the micro-batch, then the store's
  * O(batch) bucketed delta write. Nothing is O(index size) per trigger.
  */
final class IvfIndexMaintainer(centroidPath: String, storePath: String)
  extends Serializable {

  /** Assignment store: pk = vector id, attrs = cluster (as text — the
    * change-envelope attr path), LSN-monotonic with tombstones. */
  val store = new ParquetTableStore(storePath, table = "graft.ivf_index",
    attrCols = Seq("cluster"))

  // The quantizer artifact is loaded ONCE per maintainer, as the one-row
  // codebook ([[Ivf.codebook]]), and reused for every micro-batch:
  // re-reading per trigger wastes I/O, and silently picking up a mid-stream
  // artifact swap would split one run's assignments across two
  // generations. After an offline retrain installs a new artifact, call
  // [[reloadCentroids]] (or start a fresh maintainer for the rebuild store).
  @transient private var cachedCodebook: DataFrame = _

  /** Drop the memoized quantizer so the next batch loads the newly
    * installed artifact. The old frame must be UNPERSISTED, not merely
    * dereferenced: Spark's cache manager matches relations by canonical
    * plan, so a fresh read of the same path would silently serve the old
    * generation's cached buffers. */
  def reloadCentroids(): Unit = synchronized {
    if (cachedCodebook != null) {
      try cachedCodebook.unpersist(blocking = true)
      catch { case _: Exception => () }
      cachedCodebook = null
    }
  }

  private def codebook(spark: SparkSession): DataFrame = synchronized {
    if (cachedCodebook == null) {
      cachedCodebook = Ivf.codebook(IndexStore.loadIvfDf(spark, centroidPath), exact = true)
        .persist()
      cachedCodebook.count() // store eagerly (tiny: one k×dim row)
    }
    cachedCodebook
  }

  /** Apply one micro-batch of vector changes. Expected columns:
    * `id` (long/string), `vec` (array<double>), `lsn` (long),
    * `deleted` (boolean). Upserts are assigned to their nearest persisted
    * cell; deletes carry no vector and tombstone the id. */
  def applyBatch(batch: DataFrame): Unit = {
    val upEnv = batch.filter(!col("deleted"))
      .crossJoin(broadcast(codebook(batch.sparkSession)))
      .select(
        lit("c").as("op"), lit("graft").as("schema"), lit("ivf_index").as("table"),
        col("id").cast("string").as("primary_key"), col("lsn").cast("string").as("lsn"),
        map(lit("cluster"), Ivf.nearestId(col("vec")).cast("string")).as("after"))
    val delEnv = batch.filter(col("deleted")).select(
      lit("d").as("op"), lit("graft").as("schema"), lit("ivf_index").as("table"),
      col("id").cast("string").as("primary_key"), col("lsn").cast("string").as("lsn"),
      lit(null).cast("map<string,string>").as("after"))
    store.merge(upEnv.unionByName(delEnv))
  }

  /** Current live index: (id, cluster, lsn). */
  def assignments(spark: SparkSession): DataFrame =
    store.current(spark)
      .select(col("pk").as("id"), col("cluster").cast("int").as("cluster"),
        col("lsn"))
}

object IvfIndexMaintainer {

  /** The production loop as ONE streaming query: change envelopes →
    * latest-effective per batch → embed (the [[VectorPipeline]] text path)
    * → assign against the persisted quantizer → LSN-monotonic assignment
    * store. The reference's pipeline.go main loop, with the index step
    * in-line instead of delegated to an external vector DB. */
  def run(spark: SparkSession, sourceDir: String, centroidPath: String,
          storePath: String, checkpointDir: String,
          mapping: graft.model.Mapping,
          embedder: graft.embed.Embedder = graft.embed.Embedders.deterministic,
          flushIntervalMs: Long = 500)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val m = new IvfIndexMaintainer(centroidPath, storePath)
    val embed = graft.embed.Embedders.embedColumn(embedder)
    CdcStream.readEnvelopes(spark, sourceDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(flushIntervalMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          val eff = graft.pipeline.VectorPipeline
            .mappedOnly(batch, Seq(mapping.table))
            .filter(col("primary_key") =!= "" &&
              (col("op") === "d" || col("after").isNotNull))
          val textCols = mapping.textColumns.map(c => element_at(col("after"), c))
          val ups = eff.filter(col("op") =!= "d")
            .withColumn("text", graft.ops.TextOps.textConcat(textCols))
            .filter(length(col("text")) > 0) // F3 empty-text skip
            .select(col("primary_key").as("id"), col("lsn").cast("long").as("lsn"),
              graft.ops.VectorOps.l2normalize(embed(col("text")))
                .cast("array<double>").as("vec"),
              lit(false).as("deleted"))
          val dels = eff.filter(col("op") === "d")
            .select(col("primary_key").as("id"), col("lsn").cast("long").as("lsn"),
              lit(null).cast("array<double>").as("vec"), lit(true).as("deleted"))
          m.applyBatch(ups.unionByName(dels))
        } finally batch.unpersist()
      }
      .start()
  }

  /** Re-train advisor over the CURRENT per-pk freshness statuses (the
    * latest [[StatusChange]] per pk — streamed transitions reduce to this
    * by max cur_lsn, the batch twin emits it directly): one row with the
    * drift fraction and the flag. `stale` (indexed, WAL moved on) and
    * `ghost` (deleted upstream, still indexed) are the states only a
    * retrain-and-rebuild clears; `missing`/`gone` are ingest lag, not
    * quantizer drift. */
  def retrainAdvice(statuses: Dataset[StatusChange],
                    thresholdPpm: Long = 200000L): DataFrame = {
    val spark = statuses.sparkSession
    import spark.implicits._
    statuses.groupByKey(_.pk).reduceGroups((a, b) =>
        if (a.cur_lsn >= b.cur_lsn) a else b)
      .map(_._2)
      .groupBy()
      .agg(count(lit(1)).as("n_pks"),
        sum(when($"status" === "stale" || $"status" === "ghost", 1L)
          .otherwise(0L)).as("n_drifted"))
      .select(col("n_pks"), col("n_drifted"),
        when(col("n_pks") > 0,
          expr("n_drifted * 1000000 div n_pks")).otherwise(0L).as("drift_ppm"),
        (col("n_drifted") * 1000000L >= col("n_pks") * thresholdPpm)
          .as("retrain"))
  }
}
