package graft

import graft.NettyGrpcServer.{ensureCollection, standardDispatch}
import graft.sink.grpc.ProtoWire

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** The Milvus gRPC transport pinned at the WIRE level against a Netty
  * HTTP/2 server ([[NettyGrpcServer]]): real frames, real HPACK, real
  * protobuf request decoding — no client stubbing. Asserts the same
  * bootstrap call sequence the REST spec pins (has→create→index→load on
  * missing; has→describe→load on existing; dim conflict hard error), the
  * upsert/delete message contents, the two-layer error contract
  * (grpc-status vs in-body Status), and the already-exists race
  * tolerance over the new wire. */
class MilvusGrpcSpec extends AnyFunSuite with NoLeakedGrpcClients {

  test("bootstrap call sequence over gRPC: create+index+load when " +
    "missing, describe+load when present, dim conflict is a hard error") {
    var exists = false
    val reqs = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    val mock = new NettyGrpcServer((m, req) => {
      reqs.put(m, req); standardDispatch(() => exists)(m, req)
    })
    try {
      val base = s"grpc://127.0.0.1:${mock.port}"
      ensureCollection(base, 64)
      assert(mock.calls.toArray.toSeq == Seq("HasCollection",
        "CreateCollection", "CreateIndex", "LoadCollection"))
      // the CreateCollection protobuf carries the reference schema
      val cc = ProtoWire.parse(reqs.get("CreateCollection"))
      assert(cc.string(3).contains("c"))
      val schema = cc.msg(4).get
      val fields = schema.msgs(4)
      assert(fields.flatMap(_.string(2)) == Seq("id", "vector", "payload"))
      assert(fields.head.int(3).contains(1L)) // id is primary
      assert(fields.map(_.int(5).get) == Seq(21L, 101L, 23L))
      val dimParam = fields(1).msgs(6).find(_.string(1).contains("dim")).get
      assert(dimParam.string(2).contains("64"))
      // the CreateIndex protobuf carries HNSW params on `vector`
      val ci = ProtoWire.parse(reqs.get("CreateIndex"))
      assert(ci.string(4).contains("vector"))
      val params = ci.msgs(5).map(p => p.string(1).get -> p.string(2).get).toMap
      assert(params("index_type") == "HNSW" && params("metric_type") == "IP")

      mock.calls.clear(); exists = true
      ensureCollection(base, 64)
      assert(mock.calls.toArray.toSeq == Seq("HasCollection",
        "DescribeCollection", "LoadCollection"))
      val e = intercept[IllegalStateException] {
        ensureCollection(base, 128)
      }
      assert(e.getMessage.contains("dim=64") && e.getMessage.contains("dim=128"))
    } finally mock.close()
  }

  test("upsert and delete protobufs carry the row data exactly; the " +
    "delete expr escapes ids like the REST path") {
    val reqs = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    val mock = new NettyGrpcServer((m, req) => {
      reqs.put(m, req); standardDispatch(() => true)(m, req)
    })
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", mock.port)
      try {
        t.upsert("c", Seq(
          ("a:1", Seq(1.0f, 2.5f), Map("pk" -> "1", "t" -> "x")),
          ("b:2", Seq(-3.0f, 4.0f), Map("pk" -> "2"))))
        val up = ProtoWire.parse(reqs.get("Upsert"))
        assert(up.string(3).contains("c"))
        assert(up.int(7).contains(2L)) // num_rows
        val cols = up.msgs(5)
        val idCol = cols.find(_.string(2).contains("id")).get
        assert(idCol.msg(3).get.msg(6).get.lensOf(1)
          .map(new String(_, UTF_8)) == Seq("a:1", "b:2"))
        val vecCol = cols.find(_.string(2).contains("vector")).get
        val vf = vecCol.msg(4).get
        assert(vf.int(1).contains(2L)) // dim
        assert(ProtoWire.floats(vf.msg(2).get.len(1).get) ==
          Seq(1.0f, 2.5f, -3.0f, 4.0f))
        val payCol = cols.find(_.string(2).contains("payload")).get
        val docs = payCol.msg(3).get.msg(9).get.lensOf(1)
          .map(new String(_, UTF_8))
        assert(docs.head == """{"pk":"1","t":"x"}""")

        t.delete("c", Seq("a:1", """x" or 1=1"""))
        val del = ProtoWire.parse(reqs.get("Delete"))
        assert(del.string(5).contains(
          """id in ["a:1","x\" or 1=1"]"""))
      } finally t.close()
    } finally mock.close()
  }

  test("two-layer errors: non-zero grpc-status raises; in-body Status " +
    "'already exist' is tolerated mid-bootstrap (the race contract)") {
    var exists = false
    val mock = new NettyGrpcServer((m, _) => m match {
      case "HasCollection" =>
        new graft.sink.grpc.ProtoWriter().bool(2, exists).toBytes
      case "CreateCollection" =>
        // the losing racer: server says it already exists (in-body
        // Status under an OK grpc-status)
        new graft.sink.grpc.ProtoWriter().message(1) { st =>
          st.int(1, 1L).string(2, "collection already exists"); ()
        }.toBytes
      case "Delete" => throw GrpcFail("7", "PERMISSION_DENIED")
      case _ => Array.emptyByteArray
    })
    try {
      val base = s"grpc://127.0.0.1:${mock.port}"
      // bootstrap proceeds through the tolerated already-exists
      ensureCollection(base, 8)
      assert(mock.calls.toArray.toSeq == Seq("HasCollection",
        "CreateCollection", "CreateIndex", "LoadCollection"))
      // a genuine grpc-status failure surfaces as IOException
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", mock.port)
      try {
        val e = intercept[java.io.IOException] { t.delete("c", Seq("x")) }
        assert(e.getMessage.contains("status 7") &&
          e.getMessage.contains("PERMISSION_DENIED"))
      } finally t.close()
    } finally mock.close()
  }

  test("huffman-coded response headers and trailers decode (grpc-go " +
    "huffman-compresses literals; grpc-status is not in the static table)") {
    var exists = false
    val mock = new NettyGrpcServer((m, req) => m match {
      case "Delete" => throw GrpcFail("7", "PERMISSION_DENIED")
      case _ => standardDispatch(() => exists)(m, req)
    }) // Netty's HPACK encoder huffman-codes every literal it shortens
    try {
      // full bootstrap through huffman-coded responses
      val base = s"grpc://127.0.0.1:${mock.port}"
      ensureCollection(base, 64)
      assert(mock.calls.toArray.toSeq == Seq("HasCollection",
        "CreateCollection", "CreateIndex", "LoadCollection"))
      exists = true
      // and the huffman-coded error trailer surfaces with its message
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", mock.port)
      try {
        val e = intercept[java.io.IOException] { t.delete("c", Seq("x")) }
        assert(e.getMessage.contains("status 7") &&
          e.getMessage.contains("PERMISSION_DENIED"))
      } finally t.close()
    } finally mock.close()
  }

  test("trailer block split across HEADERS+CONTINUATION decodes (a peer " +
    "whose block exceeds its own max frame size must split; END_HEADERS " +
    "gates the HPACK decode)") {
    var exists = false
    val mock = new NettyGrpcServer((m, req) => m match {
      case "Delete" => throw GrpcFail("7", "PERMISSION_DENIED")
      case _ => standardDispatch(() => exists)(m, req)
    }, trailerPadding = 25000) // > 16384: Netty splits every trailer block
    try {
      // full bootstrap through split (and huffman-coded) trailer blocks
      val base = s"grpc://127.0.0.1:${mock.port}"
      ensureCollection(base, 64)
      assert(mock.calls.toArray.toSeq == Seq("HasCollection",
        "CreateCollection", "CreateIndex", "LoadCollection"))
      exists = true
      // the split error trailer reassembles with its full message intact
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", mock.port)
      try {
        val e = intercept[java.io.IOException] { t.delete("c", Seq("x")) }
        assert(e.getMessage.contains("status 7") &&
          e.getMessage.contains("PERMISSION_DENIED"))
      } finally t.close()
    } finally mock.close()
  }

  test("early trailers-only error while the send is flow-control-blocked " +
    "surfaces the grpc-status instead of hanging (no RST, no credit ever)") {
    // 1 KiB window + a ~45 KB upsert: the client WILL block for credit;
    // the server answers with a trailers-only RESOURCE_EXHAUSTED and
    // never grants another byte. 16384 is the smallest legal
    // SETTINGS_MAX_FRAME_SIZE (RFC 7540 §6.5.2)
    val mock = new NettyGrpcServer(standardDispatch(() => true),
      initialWindow = 1024, maxFrame = 16384,
      rejectEarly = Some(("Upsert", "8", "RESOURCE_EXHAUSTED: request too large")))
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", mock.port)
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
        // generous bound: the call must FAIL promptly, not block forever
        assert(done.await(20, java.util.concurrent.TimeUnit.SECONDS),
          "upsert hung while flow-control-blocked on an early-ended stream")
        assert(thrown.isInstanceOf[java.io.IOException] &&
          thrown.getMessage.contains("status 8") &&
          thrown.getMessage.contains("RESOURCE_EXHAUSTED"), s"got: $thrown")
      } finally t.close()
    } finally mock.close()
  }

  test("request DATA splits at SETTINGS_MAX_FRAME_SIZE and blocks on the " +
    "flow-control window (the limits a real grpc-go server enforces)") {
    val reqs = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    // a 1 KiB stream window forces the client to chunk and to block for
    // WINDOW_UPDATE many times on a ~45 KB upsert; frames stay at 16384,
    // the smallest legal SETTINGS_MAX_FRAME_SIZE (RFC 7540 §6.5.2), and
    // Netty turns any frame or window violation into a connection error
    val mock = new NettyGrpcServer((m, req) => {
      reqs.put(m, req); standardDispatch(() => true)(m, req)
    }, initialWindow = 1024, maxFrame = 16384)
    try {
      val t = new graft.sink.MilvusGrpcTransport("127.0.0.1", mock.port)
      try {
        val points = (0 until 300).map(i =>
          (s"pk:$i", (0 until 32).map(d => (i * 32 + d).toFloat),
            Map("pk" -> i.toString)))
        t.upsert("c", points)
        val up = ProtoWire.parse(reqs.get("Upsert"))
        assert(up.int(7).contains(300L), "upsert did not round-trip intact")
      } finally t.close()
    } finally mock.close()
  }
}
