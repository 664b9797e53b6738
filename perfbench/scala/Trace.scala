package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call: name = "<layer>.<step>", times in ns since the run's
  * epoch, `parent` the enclosing span's name ("" for a root) and `req` the
  * request it belongs to (-1 when it belongs to none). */
final case class Span(name: String, start: Long, end: Long, parent: String, req: Long)

/** Span log of a traced run. Spans stay in memory and are written once, at
  * exit; with tracing off every call is a pass-through, so the untraced
  * runs pay one branch per layer call. */
final class Tracer(val on: Boolean, epoch: Long) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def now: Long = System.nanoTime() - epoch

  def add(name: String, start: Long, end: Long, parent: String = "", req: Long = -1L): Unit =
    if (on) spans.add(Span(name, start, end, parent, req))

  def span[T](name: String, parent: String = "", req: Long = -1L)(f: => T): T =
    if (!on) f
    else {
      val t0 = now
      try f finally add(name, t0, now, parent, req)
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** One JSON object per line: {name, start_ms, end_ms, parent, req}. */
  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try all.sortBy(_.start).foreach { s =>
      w.write(Json(Map("name" -> s.name, "start_ms" -> s.start / 1e6,
        "end_ms" -> s.end / 1e6, "parent" -> s.parent, "req" -> s.req)))
      w.newLine()
    } finally w.close()
  }
}

/** Job/stage/task statistics from Spark's public listener bus. Jobs are
  * tagged with the submitting thread's `perfbench.phase` local property
  * (analytics: "build:<row>", "plan:<row>", "exec:<row>") or, failing that, its job
  * group (the `/v1/logs` queries run under one group per query). Job and
  * stage spans go to the tracer. */
final class SparkStats(tracer: Tracer, epochMs: Long) extends SparkListener {
  final case class Job(id: Int, tag: String, start: Long, var end: Long,
      stages: Int, tasks: Int)
  final case class Totals(var tasks: Long = 0, var runMs: Long = 0, var gcMs: Long = 0,
      var shuffleBytes: Long = 0, var spillBytes: Long = 0)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, Totals]()

  private def rel(ms: Long): Long = (ms - epochMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty("perfbench.phase")))
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, tag, rel(e.time), -1L, e.stageInfos.size,
      e.stageInfos.map(_.numTasks).sum))
    e.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = rel(e.time)
      tracer.add("spark.job", j.start, j.end, j.tag, j.id.toLong)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stageTasks.put(s.stageId, s.numTasks)
    for (a <- s.submissionTime; b <- s.completionTime)
      tracer.add("spark.stage", rel(a), rel(b), stageTag.getOrDefault(s.stageId, ""),
        s.stageId.toLong)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, "")
    val t = totals.computeIfAbsent(tag, _ => Totals())
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  /** Task counts of completed stages, by stage id. */
  def stages: Map[Int, Int] = stageTasks.asScala.toMap
  def stageTags: Map[Int, String] = stageTag.asScala.toMap
  def totalsByTag: Map[String, Totals] = totals.asScala.toMap
}
