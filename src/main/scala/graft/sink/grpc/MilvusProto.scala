package graft.sink.grpc

/** Hand-encoded Milvus gRPC messages — the subset the sink's call
  * sequence needs (reference: internal/sink/milvus/milvus.go:53-170 via
  * milvus-sdk-go). Field numbers follow the public milvus.proto /
  * schema.proto (github.com/milvus-io/milvus-proto, v2.x):
  *
  *   HasCollectionRequest{db_name=2, collection_name=3} → BoolResponse
  *     {status=1, value=2}
  *   CreateCollectionRequest{db_name=2, collection_name=3,
  *     schema=4 (bytes: CollectionSchema), shards_num=5}
  *   CollectionSchema{name=1, fields=4*}; FieldSchema{name=2,
  *     is_primary_key=3, data_type=5, type_params=6*}
  *   DataType: VarChar=21, JSON=23, FloatVector=101
  *   CreateIndexRequest{db_name=2, collection_name=3, field_name=4,
  *     extra_params=5*, index_name=6}
  *   LoadCollectionRequest{db_name=2, collection_name=3, replica_number=4}
  *   DescribeCollectionRequest{db_name=2, collection_name=3}
  *     → DescribeCollectionResponse{status=1, schema=2}
  *   UpsertRequest{db_name=2, collection_name=3, partition_name=4,
  *     fields_data=5*, num_rows=7}; FieldData{type=1, field_name=2,
  *     scalars=3, vectors=4}; ScalarField{string_data=6, json_data=9};
  *     StringArray{data=1*}; JSONArray{data=1*};
  *     VectorField{dim=1, float_vector=2}; FloatArray{data=1 packed}
  *   DeleteRequest{db_name=2, collection_name=3, expr=5}
  *   common.Status{error_code=1, reason=2}
  *
  * `MilvusGrpcSpec` pins this encoding end to end against a Netty HTTP/2
  * server — protobuf, call order, error layers — so the transport is
  * verified at the wire level, not by stubbing the client.
  */
object MilvusProto {

  val ServicePrefix = "/milvus.proto.milvus.MilvusService/"

  private val KvKey = 1; private val KvValue = 2

  private def kv(w: ProtoWriter, field: Int, pairs: (String, String)*): Unit =
    pairs.foreach { case (k, v) =>
      w.message(field)(p => { p.string(KvKey, k); p.string(KvValue, v); () })
    }

  def hasCollection(collection: String): Array[Byte] =
    new ProtoWriter().string(3, collection).toBytes

  /** BoolResponse.value (status checked first). */
  def parseBool(resp: Array[Byte]): Boolean = {
    val m = ProtoWire.parse(resp)
    requireOk(m, "HasCollection")
    m.int(2).exists(_ != 0L)
  }

  /** The reference schema: id VARCHAR(512) pk, vector FLOAT_VECTOR(dim),
    * payload JSON (milvus.go:77-82); shards_num=2 (milvus.go:84). */
  def createCollection(collection: String, dim: Int): Array[Byte] = {
    val schema = new ProtoWriter()
    schema.string(1, collection)
    schema.message(4) { f =>
      f.string(2, "id").bool(3, true).int(5, 21) // VarChar pk
      kv(f, 6, "max_length" -> "512")
    }
    schema.message(4) { f =>
      f.string(2, "vector").int(5, 101) // FloatVector
      kv(f, 6, "dim" -> dim.toString)
    }
    schema.message(4)(f => { f.string(2, "payload").int(5, 23); () }) // JSON
    new ProtoWriter().string(3, collection)
      .bytes(4, schema.toBytes).int(5, 2L).toBytes
  }

  /** HNSW M=16 / efConstruction=200 on `vector` (milvus.go:93). */
  def createIndex(collection: String, metric: String): Array[Byte] = {
    val w = new ProtoWriter().string(3, collection).string(4, "vector")
    kv(w, 5, "index_type" -> "HNSW", "metric_type" -> metric,
      "params" -> """{"M":16,"efConstruction":200}""")
    w.string(6, "vector").toBytes
  }

  def loadCollection(collection: String): Array[Byte] =
    new ProtoWriter().string(3, collection).int(4, 1L).toBytes

  def describeCollection(collection: String): Array[Byte] =
    new ProtoWriter().string(3, collection).toBytes

  /** Vector dim from DescribeCollectionResponse.schema.fields[name=vector]
    * .type_params[key=dim]; 0 when absent. */
  def parseDim(resp: Array[Byte]): Int = {
    val m = ProtoWire.parse(resp)
    requireOk(m, "DescribeCollection")
    m.msg(2).toSeq.flatMap(_.msgs(4))
      .filter(_.string(2).contains("vector"))
      .flatMap(_.msgs(6))
      .filter(_.string(1).contains("dim"))
      .flatMap(_.string(2))
      .headOption.map(_.toInt).getOrElse(0)
  }

  def upsert(collection: String,
             points: Seq[(String, Seq[Float], Map[String, String])]): Array[Byte] = {
    val dim = points.headOption.map(_._2.size.toLong).getOrElse(0L)
    val w = new ProtoWriter().string(3, collection)
    w.message(5) { f => // id: VarChar scalar column
      f.int(1, 21L).string(2, "id")
      f.message(3)(s => { s.message(6) { arr =>
        points.foreach(p => arr.string(1, p._1)); () }; () })
    }
    w.message(5) { f => // vector: FloatVector column
      f.int(1, 101L).string(2, "vector")
      f.message(4) { v =>
        v.int(1, dim)
        v.message(2)(a => { a.packedFloats(1, points.flatMap(_._2)); () })
        ()
      }
    }
    w.message(5) { f => // payload: JSON column (one JSON doc per row)
      f.int(1, 23L).string(2, "payload")
      f.message(3)(s => { s.message(9) { arr =>
        points.foreach { p =>
          arr.bytes(1, graft.util.Json.stringMap(p._3)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        ()
      }; () })
    }
    w.int(7, points.size.toLong).toBytes
  }

  /** MutationResult carries a Status at field 1 — logical failures (dim
    * mismatch, unloaded collection) surface here under an OK grpc-status,
    * the same two-layer contract as REST's HTTP-200 + body code. */
  def parseMutation(resp: Array[Byte], op: String): Unit =
    requireOk(ProtoWire.parse(resp), op)

  def delete(collection: String, ids: Seq[String]): Array[Byte] =
    new ProtoWriter().string(3, collection).string(5, deleteExpr(ids)).toBytes

  /** `id in ["…",…]`, the delete filter both wires send. The reference
    * splices raw ids into the expr (milvus.go:166, injection-prone); here
    * each id is escaped into a quoted list. */
  def deleteExpr(ids: Seq[String]): String =
    ids.map(id => "\"" + id.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("id in [", ",", "]")

  /** common.Status at field 1: error_code(1)≠0 or reason(2) set → fail.
    * Absent status = OK (proto3 zero message is omitted). */
  private def requireOk(m: ProtoMessage, op: String): Unit =
    m.msg(1).foreach { st =>
      val code = st.int(1).getOrElse(0L)
      if (code != 0L)
        throw new java.io.IOException(
          s"milvus $op failed: code $code ${st.string(2).getOrElse("")}")
    }
}
