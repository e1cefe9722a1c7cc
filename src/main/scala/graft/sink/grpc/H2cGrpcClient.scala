package graft.sink.grpc

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext,
  ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers,
  DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder,
  Http2GoAwayFrame, Http2HeadersFrame, Http2MultiplexHandler, Http2ResetFrame,
  Http2Settings, Http2StreamChannelBootstrap}
import io.netty.util.ReferenceCountUtil
import io.netty.util.concurrent.DefaultThreadFactory

import java.io.{ByteArrayOutputStream, IOException}
import java.util.concurrent.{CompletableFuture, ExecutionException, TimeUnit,
  TimeoutException}

object H2cGrpcClient {
  /** Per-call backstop (5 min): far above any healthy RPC, small enough
    * that a peer that never answers fails the task instead of wedging it.
    * 0 disables. */
  val DefaultReadTimeoutMs: Int = 300000

  /** SETTINGS_MAX_HEADER_LIST_SIZE the client advertises: grpc-go's
    * default. Netty's own 8 KiB would reject the long `grpc-message`
    * trailers a server may send. */
  val MaxHeaderListSize: Long = 16L << 20

  /** Name prefix of each client's event-loop thread. */
  val ThreadPrefix = "graft-grpc"
}

/** Blocking gRPC client over cleartext HTTP/2 with prior knowledge (h2c,
  * RFC 7540 §3.4), the transport a gRPC server accepts on a plaintext
  * port; the reference's milvus-sdk-go dials an unencrypted Milvus the
  * same way (milvus.go:29-37). Netty's HTTP/2 codec, which Spark ships,
  * owns the connection: SETTINGS, HPACK, frame-size limits, flow control
  * in both directions, CONTINUATION and GOAWAY/RST_STREAM. This class adds
  * only gRPC's unary call shape: one HTTP/2 stream per call, the request
  * and response messages in gRPC's 5-byte length prefix (1-byte compressed
  * flag + 4-byte big-endian length), and `grpc-status` from the trailers.
  * Calls are serialized per client: the sink's per-partition usage is
  * sequential by construction.
  */
final class H2cGrpcClient(host: String, port: Int,
                          readTimeoutMs: Int = H2cGrpcClient.DefaultReadTimeoutMs)
  extends AutoCloseable {

  private val group = new MultiThreadIoEventLoopGroup(1,
    new DefaultThreadFactory(H2cGrpcClient.ThreadPrefix, true),
    NioIoHandler.newFactory())

  private val channel: Channel =
    try new Bootstrap().group(group).channel(classOf[NioSocketChannel])
      .handler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forClient().initialSettings(
              Http2Settings.defaultSettings()
                .maxHeaderListSize(H2cGrpcClient.MaxHeaderListSize)).build(),
            // the server never opens streams of its own on a gRPC connection
            new Http2MultiplexHandler(new ChannelInboundHandlerAdapter))
          ()
        }
      })
      .connect(host, port).sync().channel()
    catch { case e: Throwable => group.shutdownGracefully(); throw e }

  /** Collects one call's response and completes `result` on END_STREAM, or
    * fails it on anything that ends the stream first. */
  private final class Call(path: String, result: CompletableFuture[Array[Byte]])
    extends ChannelInboundHandlerAdapter {
    private val data = new ByteArrayOutputStream()
    private var headers = Map.empty[String, String]

    private def fail(why: String): Unit =
      result.completeExceptionally(new IOException(s"grpc $path failed: $why"))

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      try msg match {
        case h: Http2HeadersFrame =>
          h.headers().forEach(e => headers += e.getKey.toString -> e.getValue.toString)
          if (h.isEndStream) finish()
        case d: Http2DataFrame =>
          d.content().readBytes(data, d.content().readableBytes())
          if (d.isEndStream) finish()
        case _ => ()
      } finally ReferenceCountUtil.release(msg)

    override def userEventTriggered(ctx: ChannelHandlerContext, evt: AnyRef): Unit =
      evt match { // the multiplexer hands RST_STREAM and GOAWAY over as events
        case r: Http2ResetFrame => fail(s"RST_STREAM error ${r.errorCode()}")
        case g: Http2GoAwayFrame =>
          fail(s"GOAWAY error ${g.errorCode()}"); g.release(); ()
        case _ => ctx.fireUserEventTriggered(evt); ()
      }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      fail(cause.toString)

    override def channelInactive(ctx: ChannelHandlerContext): Unit =
      fail("stream closed before its trailers")

    private def finish(): Unit = headers.getOrElse("grpc-status", "0") match {
      case "0" => // one message: compressed flag (identity only), length, bytes
        val resp = data.toByteArray
        result.complete(if (resp.isEmpty) resp
          else resp.slice(5, 5 + java.nio.ByteBuffer.wrap(resp, 1, 4).getInt))
      case status => fail(s"status $status ${headers.getOrElse("grpc-message", "")}")
    }
  }

  /** One unary call; returns the response message bytes. A non-OK
    * `grpc-status`, a reset stream, a GOAWAY or a lost connection raises
    * IOException naming `path`. */
  def call(path: String, request: Array[Byte]): Array[Byte] = synchronized {
    val result = new CompletableFuture[Array[Byte]]()
    val opened = new Http2StreamChannelBootstrap(channel)
      .handler(new Call(path, result)).open().awaitUninterruptibly()
    if (!opened.isSuccess) // e.g. the connection is gone
      throw new IOException(s"grpc $path failed: ${opened.cause}", opened.cause)
    val stream = opened.getNow
    try {
      val headers = new DefaultHttp2Headers().method("POST").scheme("http")
        .path(path).authority(s"$host:$port")
      headers.set("content-type", "application/grpc")
      headers.set("te", "trailers")
      stream.write(new DefaultHttp2HeadersFrame(headers))
      val body = java.nio.ByteBuffer.allocate(5 + request.length)
        .put(0.toByte).putInt(request.length).put(request).array()
      stream.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(body), true))
      if (readTimeoutMs > 0) result.get(readTimeoutMs.toLong, TimeUnit.MILLISECONDS)
      else result.get()
    } catch {
      case e: ExecutionException => throw e.getCause
      case _: TimeoutException =>
        throw new IOException(s"grpc $path failed: no response in $readTimeoutMs ms")
    } finally { stream.close(); () }
  }

  /** Closes the connection and stops the event-loop thread. */
  override def close(): Unit = {
    channel.close().syncUninterruptibly()
    group.shutdownGracefully(0, 1, TimeUnit.SECONDS).syncUninterruptibly(); ()
  }
}
