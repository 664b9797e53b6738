package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.logs.{GrpcServer, LogApi, LogEntryMsg, LogHttpServer, LogTable}
import graft.streaming.LogStream

/** The log service assembled in-process from the public parts
  * `LogServiceMain.main` wires (that main blocks until a signal, so it
  * cannot be reused): BatchWrite → memory source → `LogStream.ingest` on the
  * 100 ms trigger → `LogTable` at `tablePath`; `/v1/logs` re-reads the table
  * per request. `wrapSink` and `provider` let the benchmark time the admit
  * and table-read layers from outside. */
final class Service(spark: SparkSession, val tablePath: String,
    wrapSink: (Seq[LogEntryMsg] => Long) => (Seq[LogEntryMsg] => Long) = identity,
    provider: (() => DataFrame) => (() => DataFrame) = identity,
    withWritePath: Boolean = true) {
  new java.io.File(tablePath).mkdirs()

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  private val source: Option[MemoryStream[LogEntryMsg]] =
    if (withWritePath) Some(MemoryStream[LogEntryMsg]) else None
  val stream: Option[StreamingQuery] = source.map(src =>
    LogStream.ingest(src.toDF(), tablePath, s"$tablePath/_checkpoint_rpc", 100L))
  private val sink: Option[Seq[LogEntryMsg] => Long] = source.map(src =>
    wrapSink(entries => LogStream.batchWrite(src, entries).written))
  val http: LogHttpServer = new LogHttpServer(provider(() => LogTable.read(spark, tablePath)),
    0, LogApi.DefaultTimeoutMs, batchWriteSink = sink).start()
  val grpc: Option[GrpcServer] = sink.map(s => new GrpcServer(s, 0).start())

  def stop(): Unit = {
    http.stop()
    grpc.foreach(_.stop())
    stream.foreach(_.stop())
  }
}

object Service {
  /** The parquet data files under a table directory. */
  def parquetFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
  }

  /** Blocking GET of `/v1/logs` on a keep-alive connection:
    * (status, body). */
  def getLogs(port: Int, params: Seq[(String, String)]): (Int, String) = {
    val q = params.map { case (k, v) => k + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")
    val c = URI.create(s"http://127.0.0.1:$port/v1/logs?$q").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }
}
