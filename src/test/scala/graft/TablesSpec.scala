package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The resolver behind every [[Tables]] loader: the schema and the
  * one-split answer are resolved once per file version, and a new version
  * (rewritten file, added file, changed inference or split setting) is seen
  * on the next read. A one-split table plans no exchange above its scan; a
  * multi-split table plans exactly as a plain parquet read. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Runs `f` with session settings `confs`, restoring the old values. */
  private def withConfs[T](confs: (String, String)*)(f: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every physical node, including those inside adaptive plans. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan)
  }

  private def exchanges(df: DataFrame): Int =
    nodes(df).count(_.isInstanceOf[ShuffleExchangeExec])

  private def coalesced(df: DataFrame): Boolean =
    nodes(df).exists { case c: CoalesceExec => c.numPartitions == 1; case _ => false }

  private def grouped(df: DataFrame): DataFrame =
    df.groupBy(col("k")).count().orderBy(col("count").desc, col("k"))

  /** A one-file parquet directory table of `n` rows (k, v). */
  private def smallTable(prefix: String, n: Int = 200): String = {
    val dir = tmp(prefix).resolve("t").toString
    spark.range(n).select((col("id") % 7).as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  private val Scope = "graft.tablesspec.scope"

  /** Spark jobs `f` launches from this thread (jobs of other threads, such
    * as streaming queries left running, carry no scope). The listener bus
    * is asynchronous, so a marker job runs after `f` and the count is read
    * once it is seen: every job `f` started was posted before it. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    def scope(e: SparkListenerJobStart) = Option(e.properties).map(_.getProperty(Scope)).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (scope(e) == s"$id/marker") markerSeen.countDown()
        else if (scope(e) == id) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Scope, id)
      val out = try f finally sc.setLocalProperty(Scope, s"$id/marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Scope, null)
      assert(markerSeen.await(30, TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("a second table() on an unchanged file launches no Spark job") {
    val dir = tmp("tables_jobs").toString
    spark.read.parquet(s"${SparkTestBase.sfDir}/region.parquet")
      .write.parquet(s"$dir/region.parquet")
    val (first, inferJobs) = jobsDuring(Tables.table(spark, dir, "region"))
    assert(inferJobs >= 1, "the first read should infer the schema with a job")
    val (second, jobs) = jobsDuring(Tables.table(spark, dir, "region"))
    assert(jobs == 0)
    assert(second.schema == first.schema)
    assert(second.collect().toSeq == first.collect().toSeq)
  }

  test("a file rewritten at the same path with another schema is re-inferred") {
    val root = tmp("tables_rewrite")
    val file = root.resolve("t.parquet")
    def writeFile(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val out = root.resolve(s"out_$tag").toString
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(spark.range(5).toDF("a"), "1")
    assert(Tables.read(spark, file.toString).columns.toSeq == Seq("a"))
    writeFile(spark.range(5).toDF("a").withColumn("b", col("a") * 2), "2")
    val back = Tables.read(spark, file.toString)
    assert(back.columns.toSeq == Seq("a", "b"))
    assert(back.agg(sum("b")).head().getLong(0) == 20L)
  }

  test("a file added to a directory table shows up in the next read's rows") {
    val dir = tmp("tables_append").resolve("t").toString
    spark.range(10).toDF("a").write.parquet(dir)
    assert(Tables.read(spark, dir).count() == 10)
    spark.range(10, 13).toDF("a").write.mode("append").parquet(dir)
    val back = Tables.read(spark, dir)
    assert(back.count() == 13)
    assert(back.agg(max("a")).head().getLong(0) == 12L)
  }

  test("a changed inference setting re-infers the schema") {
    val dir = tmp("tables_conf").resolve("t").toString
    spark.range(4).withColumn("month", lit(202401)).write.partitionBy("month").parquet(dir)
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.read(spark, dir).schema("month").dataType == IntegerType)
      spark.conf.set(key, "false")
      assert(Tables.read(spark, dir).schema("month").dataType == StringType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a one-split table plans a grouped count and its ordering with no exchange") {
    val dir = smallTable("tables_one")
    val df = Tables.read(spark, dir)
    assert(spark.read.parquet(dir).rdd.getNumPartitions == 1)
    assert(coalesced(df))
    val q = grouped(df)
    assert(exchanges(q) == 0, q.queryExecution.executedPlan.toString)
    assert(q.collect().toSeq == grouped(spark.read.parquet(dir)).collect().toSeq)
  }

  test("a multi-split table plans the same partitions and exchanges as a plain read") {
    val dir = smallTable("tables_multi", n = 20000)
    withConfs("spark.sql.files.maxPartitionBytes" -> "4096") {
      val plain = spark.read.parquet(dir)
      val df = Tables.read(spark, dir)
      assert(plain.rdd.getNumPartitions > 1)
      assert(df.rdd.getNumPartitions == plain.rdd.getNumPartitions)
      assert(!coalesced(df))
      assert(exchanges(grouped(df)) == exchanges(grouped(plain)))
      assert(exchanges(grouped(df)) > 0)
    }
    // and several files make a multi-split table under default settings
    spark.range(10).select(lit(1L).as("k"), col("id").as("v")).write.mode("append").parquet(dir)
    val several = Tables.read(spark, dir)
    assert(spark.read.parquet(dir).rdd.getNumPartitions > 1)
    assert(!coalesced(several))
    assert(exchanges(grouped(several)) == exchanges(grouped(spark.read.parquet(dir))))
  }

  test("deciding the split launches no job on the first or the second read") {
    val dir = smallTable("tables_decide")
    val copy = tmp("tables_decide_plain").resolve("t").toString
    spark.read.parquet(dir).write.parquet(copy)
    val (_, plainJobs) = jobsDuring(spark.read.parquet(copy))
    val (first, firstJobs) = jobsDuring(Tables.read(spark, dir))
    assert(firstJobs == plainJobs, "the first read should run only schema inference")
    assert(coalesced(first))
    val (second, secondJobs) = jobsDuring(Tables.read(spark, dir))
    assert(secondJobs == 0)
    assert(coalesced(second))
  }

  test("a changed openCostInBytes makes the next read decide again") {
    val dir = smallTable("tables_opencost")
    assert(coalesced(Tables.read(spark, dir)))
    withConfs("spark.sql.files.openCostInBytes" -> "0") {
      assert(spark.read.parquet(dir).rdd.getNumPartitions > 1)
      assert(!coalesced(Tables.read(spark, dir)))
    }
    assert(coalesced(Tables.read(spark, dir)))
  }

  test("_SUCCESS and .crc files do not count as data files") {
    val dir = smallTable("tables_hidden")
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(names.count(n => !n.startsWith("_") && !n.startsWith(".")) == 1, names)
    assert(coalesced(Tables.read(spark, dir)))
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("loading a micros events file leaves nanosAsLong as it was") {
    withConfs(NanosAsLong -> "false") {
      val ev = Tables.events(spark, SparkTestBase.sfDir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(spark.conf.get(NanosAsLong) == "false")
      // one split, so read as a single partition like every other table
      assert(coalesced(ev))
    }
  }

  private val nanosBase = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000000L

  /** An `events` file whose ts is INT64 TIMESTAMP(NANOS) — the shape Spark
    * cannot write — written with parquet's example writer: three error
    * rows around a millisecond boundary, with every column the flagship
    * reads. */
  private def nanosEventsDir(): String = {
    val dir = tmp("tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); " +
        "required int64 user_id; required binary event_type (UTF8); " +
        "required double value; required binary props (UTF8); }")
    val w = ExampleParquetWriter.builder(new HPath(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(schema)
    try for ((id, ns) <- Seq(1L -> (nanosBase - 1L), 2L -> nanosBase, 3L -> (nanosBase + 1000000L)))
      w.write(rows.newGroup().append("event_id", id).append("ts", ns).append("user_id", 0L)
        .append("event_type", "error").append("value", 0.0d).append("props", "{}"))
    finally w.close()
    dir
  }

  test("a TIMESTAMP(NANOS) events file sets nanosAsLong and loads ms-truncated") {
    val dir = nanosEventsDir()
    withConfs(NanosAsLong -> "false") {
      val ev = Tables.events(spark, dir)
      assert(spark.conf.get(NanosAsLong) == "true")
      assert(ev.schema("ts").dataType == TimestampType)
      val ms = ev.orderBy("event_id").select(col("ts").cast("double"))
        .collect().map(r => math.round(r.getDouble(0) * 1000)).toSeq
      val base = nanosBase / 1000000L
      assert(ms == Seq(base - 1, base, base + 1))
    }
  }

  /** The sf0.01 fixtures, next to the suite's sf0.001 ones: `events` is one
    * split there under the suite's settings. */
  private val sf001 = s"${new java.io.File(SparkTestBase.sfDir).getParent}/sf0.01"

  private def groupedEvents(df: DataFrame): DataFrame =
    df.groupBy(col("event_type")).count().orderBy(col("count").desc, col("event_type"))

  test("a grouped count and its ordering over a one-split events plan no exchange") {
    val ev = Tables.events(spark, sf001)
    assert(coalesced(ev))
    val q = groupedEvents(ev)
    assert(exchanges(q) == 0, q.queryExecution.executedPlan.toString)
    assert(q.collect().toSeq == groupedEvents(spark.read.parquet(s"$sf001/events.parquet")).collect().toSeq)
  }

  /** The pushed filters of the flagship's one parquet scan over `dir`,
    * which shares one codegen stage with the filter and the ts normalization. */
  private def flagshipPushedFilters(dir: String): String = {
    val q = SparkEntry.queries("q_logs_flagship")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    val scans = nodes(q).collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan)
    assert(nodes(q).count(_.isInstanceOf[WholeStageCodegenExec]) == 1, plan)
    scans.head.metadata("PushedFilters")
  }

  test("the flagship's scan keeps both ts bounds in its pushed filters over a one-split events") {
    assert(coalesced(Tables.events(spark, sf001)))
    val micros = flagshipPushedFilters(sf001)
    assert(micros.contains("GreaterThanOrEqual(ts,") && micros.contains("LessThan(ts,"), micros)
    withConfs(NanosAsLong -> "false") {
      val dir = nanosEventsDir()
      assert(coalesced(Tables.events(spark, dir)))
      val nanos = flagshipPushedFilters(dir)
      assert(nanos.contains("GreaterThanOrEqual(ts,") && nanos.contains("LessThan(ts,"), nanos)
    }
  }

  test("a multi-split events is not coalesced and plans the same exchanges as a plain read") {
    withConfs("spark.sql.files.maxPartitionBytes" -> "4096") {
      val plain = spark.read.parquet(s"$sf001/events.parquet")
      val ev = Tables.events(spark, sf001)
      assert(plain.rdd.getNumPartitions > 1)
      assert(ev.rdd.getNumPartitions == plain.rdd.getNumPartitions)
      assert(!coalesced(ev))
      assert(exchanges(groupedEvents(ev)) == exchanges(groupedEvents(plain)))
      assert(exchanges(groupedEvents(ev)) > 0)
    }
  }
}
