package graft.logs

import org.apache.spark.sql.SparkSession

/** Runnable service assembly — the library-user's `cmd/server/main.go`
  * (main.go:24-96): env-driven config, the streaming micro-batcher, the
  * HTTP transport over live table reads, and signal-driven shutdown.
  *
  * Env (names mirror the reference where one exists):
  *  - `HTTP_ADDR` (reference main.go:26; `host:port` or `:port` —
  *    `:8080` binds all interfaces) or `HTTP_PORT` (default
  *    127.0.0.1:8080)
  *  - `GRPC_ADDR` (reference main.go:26, default `:8081`): the real
  *    HTTP/2 gRPC listener ([[GrpcServer]]) serving
  *    `logs.v1.LogService/BatchWrite` into the same batcher sink;
  *    default here is 127.0.0.1:8081 (loopback unless told otherwise)
  *  - `LOG_TABLE_PATH` (default `target/log_service/table` — the
  *    DATABASE_URL analogue, main.go:28)
  *  - `INGEST_MAX_DELAY_MS` (default 100; main.go:30)
  *
  * The write path is always up: `POST /v1/batchwrite` carries the
  * reference's protobuf `BatchWriteRequest` ([[LogProto]]) into a
  * memory-backed streaming source whose micro-batches land in the table
  * on the 100 ms trigger — ack = accepted count, the batcher contract
  * (service.go:45-46). A single-JVM memory source is the right scope for
  * this runnable assembly; at cluster scale the same `ingest` plan reads
  * a durable bus instead.
  *
  * The HTTP server re-reads the table per request ([[LogHttpServer]]'s
  * provider contract), so rows the batcher lands are queryable on the
  * next request without restarting anything — the reference's
  * DB-mediated freshness. Ctrl-C/SIGTERM runs the JVM shutdown hook:
  * stop HTTP, stop the stream, stop Spark — main.go's signal.NotifyContext.
  */
object LogServiceMain {
  /** `HTTP_ADDR` = `host:port` | `:port` (all interfaces) → (host, port);
    * absent → (loopback, `HTTP_PORT`). */
  private[logs] def bindAddress(env: Map[String, String]): (String, Int) =
    parseAddr(env, "HTTP_ADDR").getOrElse(
      ("127.0.0.1", env.getOrElse("HTTP_PORT", "8080").toInt))

  /** `GRPC_ADDR` with the reference's `:8081` default (main.go:26). */
  private[logs] def grpcAddress(env: Map[String, String]): (String, Int) =
    parseAddr(env, "GRPC_ADDR").getOrElse(("127.0.0.1", 8081))

  private def parseAddr(env: Map[String, String],
      key: String): Option[(String, Int)] =
    env.get(key).filter(_.nonEmpty).map { addr =>
      val i = addr.lastIndexOf(':')
      require(i >= 0, s"$key must be host:port or :port, got '$addr'")
      val host = if (i == 0) "0.0.0.0" else addr.take(i)
      (host, addr.drop(i + 1).toInt)
    }

  def main(args: Array[String]): Unit = {
    val (httpHost, httpPort) = bindAddress(sys.env)
    val tablePath = sys.env.getOrElse("LOG_TABLE_PATH", "target/log_service/table")
    val maxDelayMs = sys.env.getOrElse("INGEST_MAX_DELAY_MS", "100").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-log-service")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // an empty table must serve (and answer count 0), not crash the first
    // query — LogTable.read's explicit schema handles the no-files case,
    // but the path must exist for the file index
    new java.io.File(tablePath).mkdirs()

    // BatchWrite rpc → memory-backed streaming source → the same table;
    // ack = accepted count, flush rides the trigger (the reference's
    // batcher hand-off, service.go:41-46)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val writeSource = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[LogEntryMsg]
    val writeStream = graft.streaming.LogStream.ingest(
      writeSource.toDF(), tablePath, s"$tablePath/_checkpoint_rpc", maxDelayMs)

    val sink: Seq[LogEntryMsg] => Long = entries =>
      graft.streaming.LogStream.batchWrite(writeSource, entries).written
    val server = new LogHttpServer(
      () => LogTable.read(spark, tablePath), httpPort,
      LogApi.DefaultTimeoutMs, bindHost = httpHost,
      batchWriteSink = Some(sink)).start()
    // the reference's second listener: real gRPC over HTTP/2 on
    // GRPC_ADDR (main.go:75-86), same batcher sink, same ack contract
    val (grpcHost, grpcPort) = grpcAddress(sys.env)
    val grpc = new GrpcServer(sink, grpcPort, grpcHost).start()
    System.err.println(s"[log-service] http on $httpHost:${server.port}, " +
      s"grpc on $grpcHost:${grpc.port}, table $tablePath")

    val done = new java.util.concurrent.CountDownLatch(1)
    sys.addShutdownHook {
      server.stop()
      grpc.stop()
      writeStream.stop()
      spark.stop()
      done.countDown()
    }
    done.await() // serve until SIGINT/SIGTERM
  }
}
