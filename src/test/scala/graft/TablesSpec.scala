package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The schema resolver behind every [[Tables]] loader: inference runs once
  * per file version, and a new version (rewritten file, added file, changed
  * inference setting) is seen on the next read. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

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
}
