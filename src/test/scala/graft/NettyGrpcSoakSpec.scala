package graft

import graft.NettyGrpcServer.{ensureCollection, standardDispatch}
import graft.sink.grpc.{H2cGrpcClient, ProtoWire}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The live-soak analog of `tools/live_pg.sh` for the SINK side: the
  * gRPC client driven against a REAL, independent HTTP/2 server —
  * [[NettyGrpcServer]] on Netty's `netty-codec-http2`, the exact codec
  * stack grpc-java builds on (and ships in this Spark distribution, so the
  * soak runs unconditionally, no external server needed).
  *
  * What the legs pin:
  *  - a real SETTINGS handshake and a production HPACK encoder (huffman
  *    literals, static/dynamic table indexing);
  *  - real flow control: Netty's local flow controller grants
  *    WINDOW_UPDATE credit on its own schedule and ENFORCES the advertised
  *    limits, so an oversized frame or a DATA byte beyond the window is a
  *    connection error (GOAWAY) that fails these tests;
  *  - real CONTINUATION: a trailer block larger than the client's
  *    SETTINGS_MAX_FRAME_SIZE arrives split across HEADERS+CONTINUATION;
  *  - real early rejection: a trailers-only error response on a stream
  *    whose flow-control window is exhausted and never re-credited;
  *  - every way a stream can end without trailers (RST_STREAM, GOAWAY, a
  *    header block over the client's limit) fails the call within
  *    seconds, not at the 5-minute backstop;
  *  - `close()` stops the client's event-loop thread.
  *
  * The reference's Milvus leg runs milvus-sdk-go over grpc-go
  * (`internal/sink/milvus/milvus.go:29-37`); Milvus itself is not
  * installable in this sandbox, so the MilvusService behavior is scripted
  * per test while the WIRE below it is Netty's.
  */
class NettyGrpcSoakSpec extends AnyFunSuite with NoLeakedGrpcClients {

  /** Runs `f` on a daemon thread and returns what it threw, failing the
    * test if it has not returned within 20 s. */
  private def thrownWithin20s(f: => Unit): Throwable = {
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var thrown: Throwable = null
    val worker = new Thread(() => {
      try f
      catch { case e: Throwable => thrown = e }
      finally done.countDown()
    })
    worker.setDaemon(true); worker.start()
    assert(done.await(20, java.util.concurrent.TimeUnit.SECONDS),
      "call still blocked after 20 s")
    thrown
  }

  test("bootstrap + upsert + delete against a real Netty HTTP/2 peer: " +
    "its SETTINGS handshake, its HPACK encoder (huffman + indexing), " +
    "its flow-control grants") {
    var exists = false
    val server = new NettyGrpcServer(standardDispatch(() => exists))
    try {
      val base = s"grpc://127.0.0.1:${server.port}"
      ensureCollection(base, 64)
      assert(server.calls.toArray.toSeq == Seq("HasCollection",
        "CreateCollection", "CreateIndex", "LoadCollection"))
      val cc = ProtoWire.parse(server.reqs.get("CreateCollection"))
      assert(cc.string(3).contains("c"))

      exists = true
      server.calls.clear()
      ensureCollection(base, 64)
      assert(server.calls.toArray.toSeq == Seq("HasCollection",
        "DescribeCollection", "LoadCollection"))

      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        t.upsert("c", Seq(("a:1", Seq(1.0f, 2.5f), Map("pk" -> "1"))))
        val up = ProtoWire.parse(server.reqs.get("Upsert"))
        assert(up.int(7).contains(1L))
        t.delete("c", Seq("a:1"))
        val del = ProtoWire.parse(server.reqs.get("Delete"))
        assert(del.string(5).contains("""id in ["a:1"]"""))
      } finally t.close()
    } finally server.close()
  }

  test("large upsert through a 1 KiB window: the client blocks on Netty's " +
    "real flow controller and the request round-trips intact (any frame " +
    "or window violation would be a Netty connection error)") {
    val server = new NettyGrpcServer(standardDispatch(() => true),
      initialWindow = 1024)
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        val points = (0 until 300).map(i =>
          (s"pk:$i", (0 until 32).map(d => (i * 32 + d).toFloat),
            Map("pk" -> i.toString)))
        t.upsert("c", points)
        val up = ProtoWire.parse(server.reqs.get("Upsert"))
        assert(up.int(7).contains(300L), "upsert did not round-trip intact")
        val cols = up.msgs(5)
        val vecCol = cols.find(_.string(2).contains("vector")).get
        val vf = vecCol.msg(4).get
        assert(vf.int(1).contains(32L))
        val floats = ProtoWire.floats(vf.msg(2).get.len(1).get)
        assert(floats.size == 300 * 32 && floats.head == 0.0f &&
          floats.last == (299 * 32 + 31).toFloat)
      } finally t.close()
    } finally server.close()
  }

  test("oversized error trailer: Netty splits the block across real " +
    "HEADERS+CONTINUATION frames and the client reassembles the full " +
    "huffman-coded message") {
    val sentinel = "END-OF-TRAILER-MARKER"
    val server = new NettyGrpcServer((m, _) => m match {
      case "Delete" => throw GrpcFail("13", "INTERNAL: padded ")
      case _ => standardDispatch(() => true)(m, Array.emptyByteArray)
    }, trailerPadding = 25000) // ~21.9 KiB huffman-coded > 16384 split point
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        val e = intercept[java.io.IOException] { t.delete("c", Seq("x")) }
        assert(e.getMessage.contains("status 13"))
        assert(e.getMessage.contains("INTERNAL: padded "))
        // the tail of the padded message survives the split — a client
        // that decoded the first HEADERS fragment alone could not carry it
        assert(e.getMessage.count(_ == 'x') == 25000,
          "padded trailer did not reassemble byte-for-byte")
      } finally t.close()
    } finally server.close()
  }

  test("early trailers-only rejection on a starved window from a real " +
    "peer: the blocked send aborts and surfaces grpc-status promptly") {
    val server = new NettyGrpcServer(standardDispatch(() => true),
      initialWindow = 1024,
      rejectEarly = Some(("Upsert", "8", "RESOURCE_EXHAUSTED: too large")))
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        val points = (0 until 300).map(i =>
          (s"pk:$i", (0 until 32).map(d => (i * 32 + d).toFloat),
            Map("pk" -> i.toString)))
        val done = new java.util.concurrent.CountDownLatch(1)
        @volatile var thrown: Throwable = null
        val worker = new Thread(() => {
          try t.upsert("c", points)
          catch { case e: Throwable => thrown = e }
          finally done.countDown()
        })
        worker.setDaemon(true); worker.start()
        assert(done.await(20, java.util.concurrent.TimeUnit.SECONDS),
          "upsert hung against the real peer's early-ended stream")
        assert(thrown.isInstanceOf[java.io.IOException] &&
          thrown.getMessage.contains("status 8") &&
          thrown.getMessage.contains("RESOURCE_EXHAUSTED"), s"got: $thrown")
      } finally t.close()
    } finally server.close()
  }

  test("sequential call soak on one connection: 200 mixed RPCs reuse the " +
    "connection's HPACK dynamic table and stream-id space against the " +
    "real peer") {
    var exists = true
    val server = new NettyGrpcServer(standardDispatch(() => exists))
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        (0 until 100).foreach { i =>
          t.upsert("c", Seq((s"k:$i", Seq(i.toFloat, -i.toFloat),
            Map("pk" -> i.toString))))
          t.delete("c", Seq(s"k:$i"))
        }
        val counts = server.calls.toArray.groupBy(identity)
          .map { case (k, v) => (k, v.length) }
        assert(counts == Map("Upsert" -> 100, "Delete" -> 100))
      } finally t.close()
    } finally server.close()
  }

  test("peer RST_STREAM mid-call fails the call promptly, naming the path") {
    val server = new NettyGrpcServer(standardDispatch(() => true),
      resetOn = Some("Delete"))
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        val e = thrownWithin20s(t.delete("c", Seq("x")))
        assert(e.isInstanceOf[java.io.IOException] &&
          e.getMessage.contains("MilvusService/Delete") &&
          e.getMessage.contains("RST_STREAM"), s"got: $e")
      } finally t.close()
    } finally server.close()
  }

  test("peer GOAWAY mid-call fails the call promptly, naming the path") {
    val server = new NettyGrpcServer(standardDispatch(() => true),
      goAwayOn = Some("Upsert"))
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        val e = thrownWithin20s(
          t.upsert("c", Seq(("a:1", Seq(1.0f), Map("pk" -> "1")))))
        assert(e.isInstanceOf[java.io.IOException] &&
          e.getMessage.contains("MilvusService/Upsert"), s"got: $e")
      } finally t.close()
    } finally server.close()
  }

  test("a trailer block over the client's header-list limit fails the " +
    "call promptly instead of hanging") {
    val server = new NettyGrpcServer(standardDispatch(() => true),
      trailerPadding = (H2cGrpcClient.MaxHeaderListSize + (1 << 20)).toInt)
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      try {
        val e = thrownWithin20s(t.delete("c", Seq("x")))
        assert(e.isInstanceOf[java.io.IOException] &&
          e.getMessage.contains("MilvusService/Delete"), s"got: $e")
      } finally t.close()
    } finally server.close()
  }

  test("close() leaves no client event-loop thread alive") {
    def loops = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith(H2cGrpcClient.ThreadPrefix))
    val server = new NettyGrpcServer(standardDispatch(() => true))
    try {
      val before = loops
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", server.port)
      t.delete("c", Seq("x"))
      val left = loops -- before // this client's, not an earlier test's
      assert(left.nonEmpty, "the client runs no event-loop thread")
      t.close()
      left.foreach(_.join(10000))
      assert(left.forall(!_.isAlive), left.map(_.getName))
    } finally server.close()
  }
}
