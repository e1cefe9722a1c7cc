package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed vector store: the engine's always-available sink (the
  * reference's Qdrant/Milvus/Kafka sinks are network services; this is the
  * lake-native equivalent). Writes append flat parquet files of
  * `(id, vector, metadata, op, batch_id)` rows, one set per micro-batch;
  * the current state is a latest-by-id view — the same idempotent-upsert
  * contract the reference relies on (at-least-once delivery + upsert =
  * exactly-once effect, reference: internal/pipeline/pipeline.go:173-179).
  */
final class ParquetVectorStore(path: String) extends Serializable {

  /** Append one micro-batch of `(id, vector, metadata, op)` rows, `op`
    * `upsert` or `delete` (the shape of
    * [[graft.pipeline.VectorPipeline.pointOps]]), in one write. Re-delivery
    * of the same batchId is harmless: rows are identical and [[current]]
    * dedupes. */
  def append(ops: DataFrame, batchId: Long): Unit = {
    graft.util.DirSwap.recover(ops.sparkSession, path)
    ops.select(col("id"), col("vector"), col("metadata"), col("op"),
      lit(batchId).as("batch_id"))
      .write.mode("append").parquet(path)
  }

  /** Append one micro-batch of upserts `(id, vector, metadata)` and deleted
    * ids, as [[append]] does. */
  def write(upserts: DataFrame, deletes: DataFrame, batchId: Long): Unit =
    append(upserts.select(col("id"), col("vector"), col("metadata"),
      lit("upsert").as("op"))
      .unionByName(deletes.select(col("id"),
        lit(null).cast("array<float>").as("vector"),
        lit(null).cast("map<string,string>").as("metadata"),
        lit("delete").as("op"))), batchId)

  /** Latest state per external id (deletes drop the id). */
  def current(spark: SparkSession): DataFrame = {
    graft.util.DirSwap.recover(spark, path)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("batch_id").desc, col("op")) // same-batch dup rows identical
    spark.read.parquet(path)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "upsert")
      .select("id", "vector", "metadata")
  }

  /** Rewrite the op log down to current state. The log grows with every
    * micro-batch; at scale a periodic compaction (cheap latest-by-id shuffle
    * over the log, tiny result) keeps [[current]] reads O(state), not
    * O(history). `batchId` must exceed all live batch ids.
    *
    * Crash safety is [[graft.util.DirSwap.install]]'s: a crash at any step
    * leaves the old log or the complete new one, never nothing. Must not
    * run concurrently with [[write]]: a batch appended between the snapshot
    * read and the swap would be lost. */
  def compact(spark: SparkSession, batchId: Long): Unit =
    graft.util.DirSwap.install(spark, path) { tmp =>
      current(spark)
        .select(col("id"), col("vector"), col("metadata"),
          lit("upsert").as("op"), lit(batchId).as("batch_id"))
        .write.mode("overwrite").parquet(tmp)
    }
}

/** Qdrant HTTP sink (reference: internal/sink/qdrant/qdrant.go). Point ids
  * are the FNV-1a 64 hash of the external id (reference: qdrant.go:174-179,
  * rendered unsigned as Qdrant expects u64); payload carries the metadata
  * plus `ext_id`. Deviation from the reference (SURVEY.md §7.6): requests
  * carry true multi-point batches, one HTTP client per partition — the
  * reference PUTs one point at a time (qdrant.go:196-203).
  *
  * Network sinks are exercised through their pure codec in tests
  * (zero-egress environment), mirroring the reference's own mocked-server
  * strategy.
  */
final class QdrantSink(rawBaseUrl: String, collection: String,
                       requestBatchSize: Int = 128,
                       distance: String = "Cosine") extends Serializable {

  /** Scheme/port-normalized base (reference: qdrant.go:47-68). */
  val baseUrl: String = QdrantSink.normalizeBaseUrl(rawBaseUrl)

  /** Dimension of the (verified-or-created) collection; 0 = not yet checked.
    * Driver-side cache — repeat batches skip the info round trip
    * (reference: qdrant.go:70-77). */
  @volatile private var knownDim: Int = 0

  /** Lazily create the collection (reference: qdrant.go:70-145): GET the
    * collection info; 200 with a mismatched vector size is a hard error
    * (`drop or recreate`), 404 creates via PUT `{"vectors":{size,distance}}`.
    * Any OTHER status (transient 500, auth 401, …) propagates as an error —
    * treating it as "missing" would race a create against a live collection
    * the server merely failed to describe. Connection failures propagate for
    * the same reason. */
  def ensureCollection(dim: Int): Unit = {
    if (knownDim > 0 && knownDim == dim) return
    val client = java.net.http.HttpClient.newHttpClient()
    val infoUri = java.net.URI.create(s"$baseUrl/collections/$collection")
    val r = client.send(
      java.net.http.HttpRequest.newBuilder().uri(infoUri).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    r.statusCode() match {
      case 200 =>
        val existing = QdrantSink.extractVectorSize(r.body())
        if (existing > 0 && dim > 0 && existing != dim)
          throw new IllegalStateException(
            s"collection exists with size=$existing but payload has dim=$dim; " +
              "drop or recreate the collection")
        knownDim = if (existing > 0) existing else dim
      case 404 =>
        val req = java.net.http.HttpRequest.newBuilder().uri(infoUri)
          .header("Content-Type", "application/json")
          .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(
            QdrantSink.createCollectionBody(dim, distance)))
          .build()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() != 200)
          throw new java.io.IOException(
            s"failed to create collection: HTTP ${resp.statusCode()} ${resp.body()}")
        knownDim = dim
      case s =>
        throw new java.io.IOException(
          s"collection info failed: HTTP $s ${r.body()}")
    }
  }

  /** Distributed write: per-partition client, batched PUTs. The collection
    * is verified/created once, driver-side, from the first row's dimension
    * (one bounded limit-1 job, then cached). */
  def upsert(points: DataFrame): Unit = {
    if (knownDim == 0)
      // null vectors must not elect the probe row: size(null) is null and
      // getInt would NPE
      points.filter(col("vector").isNotNull)
        .select(size(col("vector")).as("d")).limit(1).collect()
        .headOption.foreach(r => ensureCollection(r.getInt(0)))
    val url = s"$baseUrl/collections/$collection/points"
    val bs = requestBatchSize
    // skip null vectors the way the probe does — upsertBody would NPE on
    // one and fail the whole task (the sink is public API; only
    // VectorPipeline happens to pre-filter)
    points.filter(col("vector").isNotNull)
      .select("id", "vector", "metadata").foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val client = java.net.http.HttpClient.newHttpClient()
        rows.grouped(bs).foreach { group =>
          val body = QdrantSink.upsertBody(group.map { r =>
            (r.getString(0), r.getSeq[Float](1),
              r.getMap[String, String](2).toMap)
          })
          val req = java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(url))
            .header("Content-Type", "application/json")
            .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(body))
            .build()
          val resp = client.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() != 200 && resp.statusCode() != 202)
            throw new java.io.IOException(
              s"qdrant upsert failed: HTTP ${resp.statusCode()}")
        }
    }
  }

  def delete(ids: DataFrame): Unit = {
    val url = s"$baseUrl/collections/$collection/points/delete"
    ids.select("id").foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val client = java.net.http.HttpClient.newHttpClient()
        rows.grouped(512).foreach { group =>
          val body = QdrantSink.deleteBody(group.map(_.getString(0)))
          val req = java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(url))
            .header("Content-Type", "application/json")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
            .build()
          val resp = client.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() != 200 && resp.statusCode() != 202)
            throw new java.io.IOException(
              s"qdrant delete failed: HTTP ${resp.statusCode()}")
        }
    }
  }
}

object QdrantSink {
  /** Unsigned FNV-1a 64 point id (reference: qdrant.go:174-179). */
  def pointId(extId: String): String =
    java.lang.Long.toUnsignedString(graft.ops.expr.Fnv1a64.hash(extId))

  /** Address normalization (reference: qdrant.go:47-68): scheme defaults to
    * http, port defaults to 6333, and HTTP against the gRPC port is
    * rejected outright. */
  def normalizeBaseUrl(raw: String): String = {
    val withScheme =
      if (raw.startsWith("http://") || raw.startsWith("https://")) raw
      else "http://" + raw
    val u = java.net.URI.create(withScheme)
    val (host, path) = Option(u.getAuthority) match {
      case Some(a) if a.nonEmpty => (a, Option(u.getPath).getOrElse(""))
      case _ => (Option(u.getPath).getOrElse(""), "") // "http://" + bare word
    }
    require(host.nonEmpty, s"qdrant url has no host: $raw")
    val hostPort = if (host.contains(":")) host else s"$host:6333"
    require(!hostPort.endsWith(":6334"), "use 6333 for HTTP; 6334 is gRPC")
    s"${u.getScheme}://$hostPort${path.stripSuffix("/")}"
  }

  /** `{"vectors":{"size":…,"distance":…}}` (reference: qdrant.go:119-125). */
  def createCollectionBody(dim: Int, distance: String): String =
    s"""{"vectors":{"size":$dim,"distance":"${esc(distance)}"}}"""

  /** Existing dimension from a collection-info response
    * (`result.config.params.vectors.size` — reference: qdrant.go:146-168);
    * 0 when absent/unparseable. */
  def extractVectorSize(infoJson: String): Int =
    try {
      val node = graft.util.Json.mapper.readTree(infoJson)
        .path("result").path("config").path("params").path("vectors").path("size")
      if (node.isInt) node.asInt else 0
    } catch { case _: Exception => 0 }

  private def esc(s: String): String = graft.util.Json.escape(s)

  /** `{"points":[{"id":…,"vector":[…],"payload":{…,"ext_id":…}}]}` */
  def upsertBody(points: Seq[(String, Seq[Float], Map[String, String])]): String =
    points.map { case (id, vec, meta) =>
      val payload = graft.util.Json.stringMap(meta + ("ext_id" -> id))
      s"""{"id":${pointId(id)},"vector":[${vec.mkString(",")}],"payload":$payload}"""
    }.mkString("""{"points":[""", ",", "]}")

  /** `{"points":[id,…]}` (reference: qdrant.go:257-275). */
  def deleteBody(ids: Seq[String]): String =
    ids.map(pointId).mkString("""{"points":[""", ",", "]}")
}

/** Kafka vector sink (reference: internal/sink/kafka/kafka.go:19-26): JSON
  * envelope `{id, vector, metadata, op, table, pk}`, message key = id. The
  * envelope builder is pure DataFrame code; `write` needs the Kafka
  * connector on the classpath and a reachable broker. */
object KafkaVectorSink {

  /** Build the `(key, value)` frame the Kafka writer sends. */
  def envelope(points: DataFrame, op: String): DataFrame =
    points.select(
      col("id").cast("string").as("key"),
      to_json(struct(
        col("id"), col("vector"), col("metadata"),
        lit(op).as("op"),
        element_at(col("metadata"), "table").as("table"),
        element_at(col("metadata"), "pk").as("pk"))).as("value"))

  /** Streaming write (requires spark-sql-kafka on the classpath). */
  def write(envelopes: DataFrame, brokers: String, topic: String,
            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    envelopes.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()
}
