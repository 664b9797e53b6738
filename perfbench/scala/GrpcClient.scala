package perfbench

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.{ByteBuf, Unpooled}
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter,
  ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._
import io.netty.util.concurrent.{Future, GenericFutureListener}

import graft.logs.GrpcServer

/** Asynchronous unary gRPC client over ONE HTTP/2 connection (prior
  * knowledge h2c, one netty event-loop thread). Each call opens a stream,
  * writes HEADERS + one DATA frame, and reports the outcome from the event
  * loop when the server ends the stream; the caller never blocks on it. */
final class GrpcClient(port: Int) {
  private val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
  private val conn: Channel = new Bootstrap()
    .group(group)
    .channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline.addLast(Http2FrameCodecBuilder.forClient().build())
        ch.pipeline.addLast(new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
      }
    })
    .connect("127.0.0.1", port).sync().channel()

  private def headers: Http2Headers = {
    val h = new DefaultHttp2Headers()
    h.method("POST").scheme("http").path(GrpcServer.BatchWritePath)
      .authority(s"127.0.0.1:$port")
    h.set("content-type", "application/grpc")
    h.set("te", "trailers")
    h
  }

  /** Send one framed request; `done(grpcStatus, body)` runs when the stream
    * ends. grpcStatus is the trailer's grpc-status, or -1 when the stream
    * failed before one arrived. */
  def call(framed: Array[Byte], done: (Int, Array[Byte]) => Unit): Unit =
    new Http2StreamChannelBootstrap(conn)
      .handler(new GrpcClient.Collect(done))
      .open()
      .addListener(new GenericFutureListener[Future[Http2StreamChannel]] {
        override def operationComplete(f: Future[Http2StreamChannel]): Unit =
          if (!f.isSuccess) done(-1, Array.emptyByteArray)
          else {
            val ch = f.getNow
            ch.write(new DefaultHttp2HeadersFrame(headers))
            ch.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(framed), true))
          }
      })

  def close(): Unit = {
    conn.close().sync()
    group.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS).sync()
  }
}

object GrpcClient {
  private final class Collect(done: (Int, Array[Byte]) => Unit)
      extends ChannelInboundHandlerAdapter {
    private val body: ByteBuf = Unpooled.buffer()
    private var status = -1
    private var finished = false

    private def finish(): Unit = if (!finished) {
      finished = true
      val out = new Array[Byte](body.readableBytes())
      body.getBytes(body.readerIndex(), out)
      body.release()
      done(status, out)
    }

    override def channelRead(ctx: ChannelHandlerContext, msg: Object): Unit = msg match {
      case h: Http2HeadersFrame =>
        Option(h.headers().get("grpc-status")).foreach(s => status = s.toString.toInt)
        if (h.isEndStream) finish()
      case d: Http2DataFrame =>
        body.writeBytes(d.content())
        if (d.initialFlowControlledBytes() > 0)
          ctx.writeAndFlush(new DefaultHttp2WindowUpdateFrame(d.initialFlowControlledBytes()))
        val end = d.isEndStream
        d.release()
        if (end) finish()
      case _: Http2ResetFrame => finish()
      case _ => ()
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = finish()
  }
}
