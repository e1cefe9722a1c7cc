package graft

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{ChannelFutureListener, ChannelHandlerContext,
  ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame,
  DefaultHttp2GoAwayFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame,
  DefaultHttp2ResetFrame, DefaultHttp2WindowUpdateFrame, Http2DataFrame,
  Http2Error, Http2FrameCodecBuilder, Http2FrameStream, Http2HeadersFrame,
  Http2Settings}
import io.netty.util.ReferenceCountUtil

import java.net.InetSocketAddress

/** A real Netty h2c server speaking gRPC framing for MilvusService: the
  * peer `MilvusGrpcSpec` and `NettyGrpcSoakSpec` drive the client against.
  * Netty's codec owns the wire (SETTINGS, HPACK with huffman and indexing,
  * flow-control enforcement, CONTINUATION splits), so any frame-size or
  * window violation by the client is a Netty connection error that fails
  * the call. Milvus itself is scripted per test through `dispatch`, which
  * gets (method, request message) and returns the response message, or
  * throws [[GrpcFail]] to send a non-zero grpc-status.
  *
  * `initialWindow` and `maxFrame` are advertised in the server's own
  * SETTINGS and enforced by Netty. `rejectEarly = Some((method, status,
  * message))` answers that method with a trailers-only error on HEADERS
  * and never grants window credit for its DATA. `trailerPadding` appends
  * that many 'x' bytes to grpc-message, which past ~19k forces Netty to
  * split the trailer block across HEADERS+CONTINUATION (the client
  * advertises no SETTINGS_MAX_FRAME_SIZE, so Netty splits at the 16384
  * default); the encoder ignores the client's header-list limit so a test
  * can exceed it. `resetOn` answers that method's request with RST_STREAM;
  * `goAwayOn` answers it with GOAWAY and closes the connection.
  */
final class NettyGrpcServer(
    dispatch: (String, Array[Byte]) => Array[Byte],
    initialWindow: Int = 65535,
    maxFrame: Int = 16384,
    rejectEarly: Option[(String, String, String)] = None,
    trailerPadding: Int = 0,
    resetOn: Option[String] = None,
    goAwayOn: Option[String] = None) extends AutoCloseable {

  val calls = new java.util.concurrent.CopyOnWriteArrayList[String]()
  val reqs = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  private val group = new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())
  private val settings = new Http2Settings()
    .initialWindowSize(initialWindow).maxFrameSize(maxFrame)

  private def method(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  private final class GrpcHandler extends ChannelInboundHandlerAdapter {
    private val paths = scala.collection.mutable.Map[Int, String]()
    private val bodies =
      scala.collection.mutable.Map[Int, java.io.ByteArrayOutputStream]()

    private def rejected(path: String): Option[(String, String, String)] =
      rejectEarly.filter { case (m, _, _) => method(path) == m }

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      msg match {
        case h: Http2HeadersFrame =>
          val sid = h.stream().id()
          val path = h.headers().path().toString
          paths(sid) = path
          // the request headers the client encodes must decode on a
          // production HPACK decoder with these values
          assert(h.headers().method().toString == "POST")
          assert(h.headers().get("content-type").toString == "application/grpc")
          assert(h.headers().get("te").toString == "trailers")
          if (resetOn.contains(method(path)))
            ctx.writeAndFlush(new DefaultHttp2ResetFrame(Http2Error.INTERNAL_ERROR)
              .stream(h.stream()))
          else if (goAwayOn.contains(method(path)))
            ctx.writeAndFlush(new DefaultHttp2GoAwayFrame(Http2Error.ENHANCE_YOUR_CALM))
              .addListener(ChannelFutureListener.CLOSE)
          else rejected(path) match {
            case Some((_, status, message)) =>
              writeTrailersOnly(ctx, h.stream(), status, message)
            case None if h.isEndStream => respond(ctx, h.stream())
            case _ => ()
          }
        case d: Http2DataFrame =>
          val sid = d.stream().id()
          val buf = d.content()
          val chunk = new Array[Byte](buf.readableBytes())
          buf.readBytes(chunk)
          bodies.getOrElseUpdate(sid,
            new java.io.ByteArrayOutputStream()).write(chunk)
          val consumed = d.initialFlowControlledBytes()
          val end = d.isEndStream
          val stream = d.stream()
          d.release()
          // grant credit through Netty's flow controller — EXCEPT for a
          // rejected stream, which must starve (the hang scenario)
          if (rejected(paths(sid)).isEmpty) {
            if (consumed > 0)
              ctx.write(new DefaultHttp2WindowUpdateFrame(consumed)
                .stream(stream))
            if (end) respond(ctx, stream)
            ctx.flush()
          }
        case other => ReferenceCountUtil.release(other)
      }

    private def respond(ctx: ChannelHandlerContext,
                        stream: Http2FrameStream): Unit = {
      val m = method(paths(stream.id()))
      calls.add(m)
      val raw = bodies.getOrElse(stream.id(),
        new java.io.ByteArrayOutputStream()).toByteArray
      val req =
        if (raw.length >= 5) {
          val b = java.nio.ByteBuffer.wrap(raw)
          b.get(); val len = b.getInt()
          val r = new Array[Byte](len); b.get(r); r
        } else Array.emptyByteArray
      reqs.put(m, req)
      val (status, message, resp) =
        try ("0", "", dispatch(m, req))
        catch { case GrpcFail(s, msg) => (s, msg, Array.emptyByteArray) }
      val headers = new DefaultHttp2Headers().status("200")
      headers.set("content-type", "application/grpc")
      ctx.write(new DefaultHttp2HeadersFrame(headers).stream(stream))
      val framed = java.nio.ByteBuffer.allocate(5 + resp.length)
        .put(0.toByte).putInt(resp.length).put(resp).array()
      ctx.write(new DefaultHttp2DataFrame(
        Unpooled.wrappedBuffer(framed)).stream(stream))
      writeTrailers(ctx, stream, status, message)
      ctx.flush()
    }

    private def writeTrailersOnly(ctx: ChannelHandlerContext,
        stream: Http2FrameStream, status: String, message: String): Unit = {
      calls.add("EARLY:" + method(paths(stream.id())))
      val headers = new DefaultHttp2Headers().status("200")
      headers.set("content-type", "application/grpc")
      headers.set("grpc-status", status)
      headers.set("grpc-message", message)
      ctx.writeAndFlush(
        new DefaultHttp2HeadersFrame(headers, true).stream(stream))
    }

    private def writeTrailers(ctx: ChannelHandlerContext,
        stream: Http2FrameStream, status: String, message: String): Unit = {
      val trailers = new DefaultHttp2Headers()
      trailers.set("grpc-status", status)
      val msg =
        if (trailerPadding > 0) message + ("x" * trailerPadding)
        else message
      if (msg.nonEmpty) trailers.set("grpc-message", msg)
      ctx.write(new DefaultHttp2HeadersFrame(trailers, true).stream(stream))
    }
  }

  private val channel = new ServerBootstrap()
    .group(group)
    .channel(classOf[NioServerSocketChannel])
    .childHandler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline().addLast(
          Http2FrameCodecBuilder.forServer().initialSettings(settings)
            .encoderIgnoreMaxHeaderListSize(true).build(),
          new GrpcHandler)
        ()
      }
    })
    .bind("127.0.0.1", 0).sync().channel()

  def port: Int =
    channel.localAddress().asInstanceOf[InetSocketAddress].getPort

  override def close(): Unit = {
    channel.close().sync()
    group.shutdownGracefully(0, 500, java.util.concurrent.TimeUnit.MILLISECONDS)
    ()
  }
}

/** Thrown by a `dispatch` to answer with a non-zero grpc-status. */
case class GrpcFail(status: String, message: String)
  extends RuntimeException(message)

object NettyGrpcServer {
  /** Scripted MilvusService: `exists` steers HasCollection; Describe
    * reports dim=64; everything else returns an empty (OK) message. */
  def standardDispatch(exists: () => Boolean)
    : (String, Array[Byte]) => Array[Byte] = (m, _) => m match {
    case "HasCollection" =>
      new graft.sink.grpc.ProtoWriter().bool(2, exists()).toBytes
    case "DescribeCollection" =>
      new graft.sink.grpc.ProtoWriter().message(2) { schema =>
        schema.string(1, "c")
        schema.message(4) { f =>
          f.string(2, "vector").int(5, 101L)
          f.message(6)(kv => { kv.string(1, "dim").string(2, "64"); () })
          ()
        }
        ()
      }.toBytes
    case _ => Array.emptyByteArray
  }

  /** Bootstraps collection `c` over a gRPC sink to `base`, then closes the
    * sink so its client's event-loop thread stops. */
  def ensureCollection(base: String, dim: Int): Unit = {
    val sink = new graft.sink.MilvusSink(base, "c", transport = "grpc")
    try sink.ensureCollection(dim) finally sink.close()
  }
}

/** Fails the suite if a gRPC client it opened is still running its
  * event-loop thread after the last test: every client must be closed. */
trait NoLeakedGrpcClients extends org.scalatest.BeforeAndAfterAll {
  self: org.scalatest.Suite =>

  private def loops: Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith(graft.sink.grpc.H2cGrpcClient.ThreadPrefix))
  }
  private var before = Set.empty[Thread]

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    before = loops
  }

  override protected def afterAll(): Unit =
    try {
      val left = loops -- before // this suite's, not an earlier suite's
      val deadline = System.nanoTime() + 10000000000L
      left.foreach(t => t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
      val alive = left.filter(_.isAlive).map(_.getName)
      assert(alive.isEmpty, s"gRPC client event loops left running: $alive")
    } finally super.afterAll()
}
