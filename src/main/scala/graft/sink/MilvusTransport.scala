package graft.sink

import graft.sink.grpc.{H2cGrpcClient, MilvusProto}

/** The Milvus wire seam: the sink's bootstrap/upsert/delete logic is
  * transport-independent; REST v2 (the round-7 default) and gRPC (the
  * reference's own transport, milvus.go:29-37) implement the same
  * operations. Both report logical failures as `java.io.IOException`
  * whose message carries the server's text, so the sink's
  * "already exist" race tolerance behaves identically over either wire.
  */
trait MilvusTransport extends AutoCloseable {
  def hasCollection(collection: String): Boolean
  def createCollection(collection: String, dim: Int): Unit
  def createIndex(collection: String, metric: String): Unit
  def describeDim(collection: String): Int
  def loadCollection(collection: String): Unit
  def upsert(collection: String,
             points: Seq[(String, Seq[Float], Map[String, String])]): Unit
  def delete(collection: String, ids: Seq[String]): Unit
  override def close(): Unit = ()
}

/** gRPC transport over [[H2cGrpcClient]] (Netty's HTTP/2 codec) — the
  * reference-parity wire (milvus-sdk-go speaks exactly these
  * MilvusService methods). One connection per transport instance (per
  * partition in the distributed paths), calls serialized like the sink's
  * request loop. */
final class MilvusGrpcTransport(host: String, port: Int) extends MilvusTransport {

  // close() on a never-used transport must stay a no-op: forcing the lazy
  // client there would dial a connection just to close it
  @volatile private var dialed = false
  private lazy val client = { dialed = true; new H2cGrpcClient(host, port) }

  private def call(method: String, body: Array[Byte]): Array[Byte] =
    client.call(MilvusProto.ServicePrefix + method, body)

  override def hasCollection(c: String): Boolean =
    MilvusProto.parseBool(call("HasCollection", MilvusProto.hasCollection(c)))

  override def createCollection(c: String, dim: Int): Unit =
    MilvusProto.parseMutation(
      call("CreateCollection", MilvusProto.createCollection(c, dim)),
      "CreateCollection")

  override def createIndex(c: String, metric: String): Unit =
    MilvusProto.parseMutation(
      call("CreateIndex", MilvusProto.createIndex(c, metric)), "CreateIndex")

  override def describeDim(c: String): Int =
    MilvusProto.parseDim(
      call("DescribeCollection", MilvusProto.describeCollection(c)))

  override def loadCollection(c: String): Unit =
    MilvusProto.parseMutation(
      call("LoadCollection", MilvusProto.loadCollection(c)), "LoadCollection")

  override def upsert(c: String,
                      points: Seq[(String, Seq[Float], Map[String, String])]): Unit =
    MilvusProto.parseMutation(call("Upsert", MilvusProto.upsert(c, points)),
      "Upsert")

  override def delete(c: String, ids: Seq[String]): Unit =
    MilvusProto.parseMutation(call("Delete", MilvusProto.delete(c, ids)),
      "Delete")

  override def close(): Unit = if (dialed) client.close()
}
