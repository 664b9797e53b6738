package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.logs.{LogEntryMsg, LogProto, LogTable}

/** `ingest` workload: an open loop of BatchWrites (Rate per second, RowsPerWrite
  * seeded rows each) over one HTTP/2 connection to the real GrpcServer, plus
  * one closed-loop `/v1/logs` prober that watches for each request's marker
  * row. The prober's queries are the run's read path: `LogTable.read` is
  * timed in the service's logs provider and, traced, each query's execution
  * and scans come from a QueryExecutionListener. Rows, times and checks are
  * returned raw; run.py computes the statistics. */
object Ingest {
  val Rate = 50
  val RowsPerWrite = 100
  val PeriodNs: Long = 1000000000L / Rate
  /** The loop's first seconds warm the JIT and bring the micro-batch cycle
    * to steady state; they are checked but not measured. On a 4-core box the
    * ack median and the batch time fall for about 20 s of load (ack 7 → 3 ms,
    * batch 1.4 → 0.9 s) and then mostly hold; after 15 s a third of the runs
    * were still falling. */
  val WarmSeconds = 20
  /** Event-time base of the generated rows (markers count up from it). */
  val Base: java.time.Instant = java.time.Instant.parse("2025-06-15T00:00:00Z")
  private val ProbeParams = Seq("service" -> "probe", "from" -> Base.toString,
    "to" -> Base.plusSeconds(86400).toString, "limit" -> "200")
  private val UserRe = """user\\":\\"(\d+)""".r
  private val CountRe = """"count"\s*:\s*(\d+)""".r

  /** Scans of one executed flagship plan: (files, partitions, bytes). */
  private def scans(plan: SparkPlan): Seq[(Long, Long, Long)] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(plan).collect { case s: FileSourceScanExec =>
      def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      (m("numFiles"), m("numPartitions"), m("filesSize"))
    }
  }

  /** Request r's rows: row 0 is the marker (service `probe`, user = r,
    * ts = Base + r * 20 ms); about 2% of the others are up to 60 days late
    * and about 1% carry an unparseable ts (the service falls back to now()). */
  def request(rng: java.util.SplittableRandom, r: Int, marker: String): Seq[LogEntryMsg] = {
    val t0 = Base.plusMillis(r * 20L)
    LogEntryMsg(ts = t0.toString, service = "probe", level = "INFO", msg = "marker",
      attrs = Map("user" -> marker), trace_id = f"$r%016x", span_id = f"$r%08x") +:
      (1 until RowsPerWrite).map { k =>
        val u = rng.nextDouble()
        val ts =
          if (u < 0.01) "not-a-time"
          else if (u < 0.03) t0.minusMillis(rng.nextLong(60L * 86400000L)).toString
          else t0.plusNanos(k * 200000L + rng.nextInt(200000)).toString
        Rows.entry(rng, ts)
      }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.{spark, tracer}
    val warm = WarmSeconds * Rate
    val n = warm + math.max(1, (ctx.seconds * Rate).toInt)
    val rng = new java.util.SplittableRandom(ctx.seed)
    val payloads = Array.tabulate(n)(r =>
      LogProto.frame(LogProto.encodeBatchWriteRequest(request(rng, r, r.toString))))
    val setupPayload = LogProto.frame(LogProto.encodeBatchWriteRequest(
      request(new java.util.SplittableRandom(ctx.seed ^ 0x5eedL), 0, "setup")))

    val due, sent, sinkIn, sinkOut, ack, visible = Array.fill(n)(-1L)
    val status = Array.fill(n)(-9)
    val written = new Array[Long](n)
    val acked = new AtomicLong(0)
    val wrap: (Seq[LogEntryMsg] => Long) => (Seq[LogEntryMsg] => Long) = inner => entries => {
      val t0 = tracer.now
      val w = inner(entries)
      val t1 = tracer.now
      entries.headOption.filter(_.service == "probe")
        .flatMap(_.attrs.get("user")).flatMap(_.toIntOption).foreach { r =>
          sinkIn(r) = t0
          sinkOut(r) = t1
          tracer.add("admit.batchWrite", t0, t1, "grpc.call", r)
        }
      w
    }

    // the read path: LogTable.read timed in the logs provider, and (traced)
    // each /v1/logs query's execution and scans; samples carry their end time
    // so run.py keeps the measured window's
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val provider: (() => org.apache.spark.sql.DataFrame) => (() => org.apache.spark.sql.DataFrame) =
      inner => () => {
        val t0 = tracer.now
        val df = inner()
        val t1 = tracer.now
        tracer.add("table.read", t0, t1, "http.poll")
        reads.add(Map("end_ms" -> t1 / 1e6, "ms" -> (t1 - t0) / 1e6))
        df
      }
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") {
          val sc = scans(qe.executedPlan)
          execs.add(Map("end_ms" -> tracer.now / 1e6, "exec_ms" -> ns / 1e6,
            "files" -> sc.map(_._1).sum, "months" -> sc.map(_._2).sum,
            "bytes" -> sc.map(_._3).sum))
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    // set-up, three times: bring the service up on a fresh table, write one
    // request and wait until /v1/logs returns its marker; the last one serves
    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    var svc: Service = null
    var client: GrpcClient = null
    for (k <- 0 until 3) {
      if (svc != null) { client.close(); svc.stop() }
      val t0 = System.nanoTime()
      svc = new Service(spark, s"${ctx.dir}/table$k", wrapSink = wrap, provider = provider)
      client = new GrpcClient(svc.grpc.get.port)
      val done = new CountDownLatch(1)
      client.call(setupPayload, (_, _) => done.countDown())
      require(done.await(60, TimeUnit.SECONDS), "set-up BatchWrite got no answer")
      while (!Service.getLogs(svc.http.port, ProbeParams)._2.contains("user\\\":\\\"setup"))
        Thread.sleep(5)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val runId = svc.stream.get.id
    reads.clear()
    if (tracer.on) spark.listenerManager.register(qel)

    // micro-batch progress of the serving stream
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val committed = new AtomicLong(0)
    val backlogMax = new AtomicLong(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.id == runId && e.progress.numInputRows > 0) {
          val t = tracer.now
          val p = e.progress
          val c = committed.addAndGet(p.numInputRows)
          backlogMax.accumulateAndGet(acked.get - c, math.max)
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          tracer.add("stream.batch", t - d.getOrElse("triggerExecution", 0L) * 1000000L, t,
            "", p.batchId)
          batches.add(Map("end_ms" -> t / 1e6, "rows" -> p.numInputRows,
            "duration_ms" -> d))
        }
    }
    spark.streams.addListener(listener)

    // the run: open-loop sends, closed-loop freshness prober
    val remaining = new CountDownLatch(n)
    val start = tracer.now + 200000000L
    @volatile var probing = true
    val polls = new AtomicLong(0)
    val pollFailures = new AtomicLong(0)
    val pollLog = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val prober = new Thread(() => {
      while (probing) {
        val t0 = tracer.now
        val (code, body) =
          try Service.getLogs(svc.http.port, ProbeParams)
          catch { case _: java.io.IOException => (-1, "") }
        val t1 = tracer.now
        tracer.add("http.poll", t0, t1)
        polls.incrementAndGet()
        val count = CountRe.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
        pollLog.add(Map("end_ms" -> t1 / 1e6, "ms" -> (t1 - t0) / 1e6, "count" -> count))
        if (code != 200) pollFailures.incrementAndGet()
        else UserRe.findAllMatchIn(body).foreach { m =>
          val r = m.group(1).toInt
          if (r < n && visible(r) < 0) visible(r) = t1
        }
      }
    }, "perfbench-prober")
    prober.start()
    val c = client
    OpenLoop.run(n, start, PeriodNs, () => tracer.now) { (i, d) =>
      due(i) = d
      sent(i) = tracer.now
      c.call(payloads(i), (st, body) => {
        val t = tracer.now
        ack(i) = t
        status(i) = st
        if (st == 0) {
          written(i) = LogProto.decodeBatchWriteResponse(LogProto.unframe(body))
          acked.addAndGet(written(i))
        }
        tracer.add("grpc.call", d, t, "", i)
        remaining.countDown()
      })
    }
    val sentEnd = tracer.now
    remaining.await(30, TimeUnit.SECONDS)
    // every acked marker must become visible within run.py's 10 s deadline
    // from its due time; wait a little longer so a late one is seen as late
    val deadline = tracer.now + 12000000000L
    while (tracer.now < deadline && (0 until n).exists(r => status(r) == 0 && visible(r) < 0))
      Thread.sleep(10)
    probing = false
    prober.join()
    spark.streams.removeListener(listener)
    if (tracer.on) spark.listenerManager.unregister(qel)

    // correctness, outside the timed region: the table holds exactly the
    // set-up rows plus every acked row
    svc.stream.get.processAllAvailable()
    val tableRows = LogTable.read(spark, svc.tablePath).count()
    val expectedRows = RowsPerWrite.toLong + acked.get
    val decodeUsPerRow =
      if (!tracer.on) Double.NaN
      else {
        val t0 = System.nanoTime()
        val rows = payloads.map(p => LogProto.decodeBatchWriteRequest(LogProto.unframe(p)).size).sum
        (System.nanoTime() - t0) / 1e3 / rows
      }
    val files = Service.parquetFiles(svc.tablePath)
    client.close()
    svc.stop()
    def ms(a: Array[Long]) = a.map(x => if (x < 0) Double.NaN else x / 1e6)
    Map(
      "setup_s" -> setupS,
      "rate_per_s" -> Rate, "rows_per_write" -> RowsPerWrite,
      "warm" -> warm, "window_ms" -> Seq((start + warm * PeriodNs) / 1e6, sentEnd / 1e6),
      "due_ms" -> ms(due), "sent_ms" -> ms(sent), "sink_in_ms" -> ms(sinkIn),
      "sink_out_ms" -> ms(sinkOut), "ack_ms" -> ms(ack), "visible_ms" -> ms(visible),
      "status" -> status, "written" -> written,
      "polls" -> polls.get, "poll_failures" -> pollFailures.get,
      "polls_log" -> pollLog.asScala.toSeq, "reads" -> reads.asScala.toSeq,
      "execs" -> execs.asScala.toSeq,
      "query_jobs" -> ctx.stats.map(_.jobList.filter(_.tag.startsWith("graft-logs-query-"))
        .map(j => Map("tag" -> j.tag, "start_ms" -> j.start / 1e6, "tasks" -> j.tasks)))
        .getOrElse(Nil),
      "batches" -> batches.asScala.toSeq, "backlog_rows_max" -> backlogMax.get,
      "table_rows" -> tableRows, "expected_rows" -> expectedRows,
      "decode_us_per_row" -> decodeUsPerRow,
      "files" -> files.size, "bytes" -> files.map(_.length).sum,
      "months" -> files.map(_.getParentFile.getName).distinct.size)
  }
}
