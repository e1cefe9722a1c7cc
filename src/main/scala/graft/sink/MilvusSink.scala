package graft.sink

import graft.sink.grpc.MilvusProto
import graft.util.Json

import org.apache.spark.sql.DataFrame

/** Milvus sink (reference: internal/sink/milvus/milvus.go). Two wire
  * transports behind one [[MilvusTransport]] seam:
  *
  *  - `"rest"` (default): the RESTful v2 API — same schema surface
  *    (`id VARCHAR pk, vector FLOAT_VECTOR, payload JSON`,
  *    milvus.go:77-82), JDK HttpClient, JSON bodies.
  *  - `"grpc"`: the reference's own transport (milvus-sdk-go,
  *    milvus.go:29-37) — cleartext HTTP/2 on Netty's codec
  *    ([[graft.sink.grpc.H2cGrpcClient]]) carrying hand-encoded protobuf
  *    ([[graft.sink.grpc.MilvusProto]]). `baseUrl` is then `host:port`
  *    (a `grpc://` prefix is tolerated).
  *
  * Two deliberate deviations recorded in SURVEY.md §7.6 apply to BOTH
  * transports: true `upsert` instead of the reference's duplicate-row
  * `Insert` (milvus.go:150), and no string-interpolated delete ids
  * without escaping (milvus.go:166 is injection-prone).
  */
final class MilvusSink(baseUrl: String, collection: String,
                       requestBatchSize: Int = 128,
                       metric: String = "IP",
                       transport: String = "rest")
  extends Serializable with AutoCloseable {

  require(transport == "rest" || transport == "grpc",
    s"unknown milvus transport '$transport'")

  // one client per sink instance (per partition in the distributed paths):
  // a JDK HttpClient owns a selector thread + connection pool, so a fresh
  // client per request churns threads/FDs and defeats connection reuse
  @transient private lazy val client = java.net.http.HttpClient.newHttpClient()

  @transient private lazy val wire: MilvusTransport =
    if (transport == "grpc") {
      val hp = baseUrl.stripPrefix("grpc://").stripSuffix("/")
      val i = hp.lastIndexOf(':')
      require(i > 0, s"milvus grpc transport needs host:port, got '$baseUrl'")
      new MilvusGrpcTransport(hp.substring(0, i), hp.substring(i + 1).toInt)
    } else new RestTransport

  private def post(path: String, body: String): String = {
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$baseUrl$path"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"milvus $path failed: HTTP ${resp.statusCode()}")
    // Milvus REST v2 reports most LOGICAL failures as HTTP 200 with a
    // non-zero body code (dim mismatch, collection not loaded, schema
    // errors) — treating any 200 as success silently drops the batch
    val code = MilvusSink.parseCode(resp.body())
    if (code != 0)
      throw new java.io.IOException(
        s"milvus $path failed: code $code ${MilvusSink.parseMessage(resp.body())}")
    resp.body()
  }

  /** REST v2 as a [[MilvusTransport]] — paths and bodies unchanged from
    * the pre-seam sink (ConfigSpec pins them). */
  private final class RestTransport extends MilvusTransport {
    override def hasCollection(c: String): Boolean = MilvusSink.parseHas(
      post("/v2/vectordb/collections/has", MilvusSink.collectionBody(c)))
    override def createCollection(c: String, dim: Int): Unit = {
      post("/v2/vectordb/collections/create",
        MilvusSink.createCollectionBody(c, dim)); ()
    }
    override def createIndex(c: String, m: String): Unit = {
      post("/v2/vectordb/indexes/create", MilvusSink.createIndexBody(c, m)); ()
    }
    override def describeDim(c: String): Int = MilvusSink.parseDim(
      post("/v2/vectordb/collections/describe", MilvusSink.collectionBody(c)))
    override def loadCollection(c: String): Unit = {
      post("/v2/vectordb/collections/load", MilvusSink.collectionBody(c)); ()
    }
    override def upsert(c: String,
                        points: Seq[(String, Seq[Float], Map[String, String])]): Unit = {
      post("/v2/vectordb/entities/upsert", MilvusSink.upsertBody(c, points)); ()
    }
    override def delete(c: String, ids: Seq[String]): Unit = {
      post("/v2/vectordb/entities/delete", MilvusSink.deleteBody(c, ids)); ()
    }
  }

  /** Dimension of the ensured collection; 0 = not yet checked (driver-side
    * cache, reference: milvus.go:53-57). */
  @volatile private var knownDim: Int = 0

  /** Lazy collection bootstrap (reference: milvus.go:53-120): if the
    * collection is missing, create it with the reference schema
    * (`id VARCHAR(512) PRIMARY KEY, vector FLOAT_VECTOR(dim), payload
    * JSON`), build the HNSW index (M=16, efConstruction=200, metric default
    * IP — milvus.go:93), then load; if present, verify its vector dimension
    * (a mismatch is a hard `drop or recreate` error, the same contract as
    * the Qdrant sink — the reference loads blindly and fails per insert)
    * and load. Identical sequence over either transport
    * (ConfigSpec/MilvusGrpcSpec pin both). */
  def ensureCollection(dim: Int): Unit = {
    if (knownDim > 0 && knownDim == dim) return
    if (!wire.hasCollection(collection)) {
      // two executors can race has→create; the loser's error is the
      // success condition (the QdrantSink conflict-tolerance contract)
      // narrowed to "already exist": the bare substring "exist" would
      // also swallow genuine failures like "database not exist"
      def tolerateExists(f: => Unit): Unit =
        try f catch {
          case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.toLowerCase.contains("already exist") => ()
        }
      tolerateExists(wire.createCollection(collection, dim))
      tolerateExists(wire.createIndex(collection, metric))
    } else {
      val existing = wire.describeDim(collection)
      if (existing > 0 && dim > 0 && existing != dim)
        throw new IllegalStateException(
          s"collection exists with dim=$existing but payload has dim=$dim; " +
            "drop or recreate the collection")
    }
    wire.loadCollection(collection)
    knownDim = dim
  }

  /** Distributed upsert: per-partition client, batched requests. The
    * collection is ensured once, driver-side, from the first row's
    * dimension (one bounded limit-1 job, then cached). */
  def upsert(points: DataFrame): Unit = {
    if (knownDim == 0)
      // null vectors must not elect the probe row: size(null) is null and
      // getInt would NPE
      points.filter(org.apache.spark.sql.functions.col("vector").isNotNull)
        .select(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("vector")).as("d"))
        .limit(1).collect()
        .headOption.foreach(r => ensureCollection(r.getInt(0)))
    val (url, coll, bs, m, tr) = (baseUrl, collection, requestBatchSize,
      metric, transport)
    // skip null vectors the way the probe does — building an upsert body
    // from one would NPE the whole task (upstream pipelines pre-filter,
    // but the sink is public API)
    points.filter(org.apache.spark.sql.functions.col("vector").isNotNull)
      .select("id", "vector", "metadata").foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) { // an empty partition must not dial a connection
          val sink = new MilvusSink(url, coll, bs, m, tr)
          try rows.grouped(bs).foreach { group =>
            sink.wire.upsert(coll, group.map { r =>
              (r.getString(0), r.getSeq[Float](1), r.getMap[String, String](2).toMap)
            })
          } finally sink.wire.close()
        }
    }
  }

  def delete(ids: DataFrame): Unit = {
    val (url, coll, bs, m, tr) = (baseUrl, collection, requestBatchSize,
      metric, transport)
    ids.select("id").foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val sink = new MilvusSink(url, coll, bs, m, tr)
          try rows.grouped(512).foreach { group =>
            sink.wire.delete(coll, group.map(_.getString(0)))
          } finally sink.wire.close()
        }
    }
  }

  /** Releases the DRIVER-side wire (the one `ensureCollection` and the
    * upsert/delete probe path dial); per-partition wires already close in
    * their `foreachPartition` bodies. Closing a sink whose wire never
    * dialed is a no-op (the grpc transport guards its lazy client). */
  override def close(): Unit = wire.close()
}

object MilvusSink {
  private def esc(s: String): String = Json.escape(s)

  /** `{"collectionName":…}` — shared by has/load requests. */
  def collectionBody(collection: String): String =
    s"""{"collectionName":"${esc(collection)}"}"""

  /** Reference schema (milvus.go:77-82): `id VARCHAR(512) PRIMARY KEY,
    * vector FLOAT_VECTOR(dim), payload JSON`. */
  def createCollectionBody(collection: String, dim: Int): String =
    s"""{"collectionName":"${esc(collection)}","schema":{"fields":[""" +
      """{"fieldName":"id","dataType":"VarChar","isPrimary":true,""" +
      """"elementTypeParams":{"max_length":"512"}},""" +
      s"""{"fieldName":"vector","dataType":"FloatVector","elementTypeParams":{"dim":"$dim"}},""" +
      """{"fieldName":"payload","dataType":"JSON"}]}}"""

  /** HNSW index on `vector`, M=16 / efConstruction=200 (milvus.go:93). */
  def createIndexBody(collection: String, metric: String): String =
    s"""{"collectionName":"${esc(collection)}","indexParams":[""" +
      s"""{"fieldName":"vector","indexName":"vector","metricType":"${esc(metric)}",""" +
      """"params":{"index_type":"HNSW","M":16,"efConstruction":200}}]}"""

  /** Body `code` field (0 = success); missing/unparsable counts as 0 so a
    * proxy or old server that omits the envelope is not rejected. */
  def parseCode(respJson: String): Int =
    try Json.mapper.readTree(respJson).path("code").asInt(0)
    catch { case _: Exception => 0 }

  /** Body `message` field for error reporting (empty when absent). */
  def parseMessage(respJson: String): String =
    try Json.mapper.readTree(respJson).path("message").asText("")
    catch { case _: Exception => "" }

  /** `{"data":{"has":bool}}` from the has-collection response. */
  def parseHas(respJson: String): Boolean =
    try Json.mapper.readTree(respJson).path("data").path("has").asBoolean(false)
    catch { case _: Exception => false }

  /** Vector dimension from a describe-collection response
    * (`data.fields[name=vector].params[key=dim].value`); 0 when absent. */
  def parseDim(respJson: String): Int =
    try {
      var dim = 0
      Json.mapper.readTree(respJson).path("data").path("fields").forEach { f =>
        if (f.path("name").asText() == "vector")
          f.path("params").forEach { p =>
            if (p.path("key").asText() == "dim")
              dim = p.path("value").asText("0").toInt
          }
      }
      dim
    } catch { case _: Exception => 0 }

  /** `{"collectionName":…,"data":[{"id":…,"vector":[…],"payload":{…}}]}` */
  def upsertBody(collection: String,
                 points: Seq[(String, Seq[Float], Map[String, String])]): String = {
    val data = points.map { case (id, vec, meta) =>
      s"""{"id":"${esc(id)}","vector":[${vec.mkString(",")}],"payload":${Json.stringMap(meta)}}"""
    }.mkString(",")
    s"""{"collectionName":"${esc(collection)}","data":[$data]}"""
  }

  /** The delete filter both wires send ([[MilvusProto.deleteExpr]], ids
    * escaped for the Milvus expression), then JSON-escaped so the quotes
    * around each id survive as part of the JSON string value. */
  def deleteBody(collection: String, ids: Seq[String]): String =
    s"""{"collectionName":"${esc(collection)}","filter":"${esc(MilvusProto.deleteExpr(ids))}"}"""
}
