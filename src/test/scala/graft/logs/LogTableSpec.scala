package graft.logs

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class LogTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def t(s: String) = Timestamp.from(java.time.Instant.parse(s))

  private def sampleLogs(n: Int) = {
    import scala.jdk.CollectionConverters._
    val rows = (0 until n).map { i =>
      val month = if (i % 3 == 0) "2023-11" else if (i % 3 == 1) "2023-12" else "2024-01"
      Row(t(f"$month-10T00:00:${i % 60}%02dZ"), s"svc${i % 3}", "INFO", s"m$i", "{}", "", "")
    }
    spark.createDataFrame(rows.asJava, LogSchema.schema)
  }

  test("append writes month-partitioned layout; read round-trips") {
    val dir = Files.createTempDirectory("logtable").toString
    LogTable.append(sampleLogs(30), dir)
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("month="))
    assert(dirs.toSet == Set("month=202311", "month=202312", "month=202401"))
    val back = LogTable.read(spark, dir)
    assert(back.count() == 30)
    assert(back.columns.contains("month"))
  }

  test("compact merges many small files into one per month") {
    val dir = Files.createTempDirectory("logcompact").toString
    (0 until 5).foreach(_ => LogTable.append(sampleLogs(9), dir))
    def filesIn(month: String) =
      new java.io.File(s"$dir/month=$month").listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesIn("202311") >= 5)
    LogTable.compact(spark, dir)
    assert(filesIn("202311") == 1)
    assert(LogTable.read(spark, dir).count() == 45)
  }

  test("q_logs_flagship_partitioned: same rows as the flat flagship, " +
      "month directories prune via PartitionFilters") {
    val dir = SparkTestBase.sfDir
    val part = graft.SparkEntry.queries("q_logs_flagship_partitioned")(spark, dir)
    val flat = graft.SparkEntry.queries("q_logs_flagship")(spark, dir)
    assert(part.collect().toSeq == flat.collect().toSeq)
    assert(part.count() > 0)
    // the reference's PARTITION BY toYYYYMM(ts) pruning (db.go:51): the
    // month bounds must land as PARTITION filters on the scan, not as a
    // row-level Filter over every month directory
    val plan = part.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("month"), s"no month PartitionFilters:\n${plan.take(1500)}")
  }

  /** Files under `dir` whose rows are not in (service, ts) order, read
    * back one file at a time in file order; and how many files there are. */
  private def unorderedFiles(dir: String): (Seq[String], Int) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(dir)).map(_.getPath).filter(_.endsWith(".parquet"))
    val bad = files.filter { f =>
      val keys = spark.read.schema(LogSchema.schema).parquet(f).select("service", "ts")
        .collect().toSeq.map(r => (r.getString(0), r.getTimestamp(1).getTime))
      keys != keys.sorted
    }
    (bad, files.size)
  }

  test("append, compact and retention write every file in (service, ts) order") {
    // arrival order deliberately out of (service, ts) order: services
    // interleaved, time running backwards
    def shuffled(n: Int) = {
      import scala.jdk.CollectionConverters._
      val rows = (0 until n).map { i =>
        val month = Seq("2023-11", "2023-12", "2024-01")(i % 3)
        Row(t(f"$month-10T00:${(n - i) / 60 % 60}%02d:${(n - i) % 60}%02dZ"),
          s"svc${(i / 3) % 4}", "INFO", s"m$i", "{}", "", "")
      }
      spark.createDataFrame(rows.asJava, LogSchema.schema).repartition(3)
    }
    val dir = Files.createTempDirectory("logorder").toString
    (0 until 2).foreach(_ => LogTable.append(shuffled(300), dir))
    val afterAppend = unorderedFiles(dir)
    LogTable.compact(spark, dir)
    val afterCompact = unorderedFiles(dir)
    val ttlDir = Files.createTempDirectory("logorder_ttl").toString
    LogTable.append(shuffled(300), ttlDir)
    LogTable.retention(spark, ttlDir, t("2023-12-10T00:01:00Z"))
    // only the boundary month is rewritten by retention
    val afterRetention = unorderedFiles(s"$ttlDir/month=202312")
    val report = Seq("append" -> afterAppend, "compact" -> afterCompact,
      "retention" -> afterRetention)
      .map { case (op, (bad, n)) => s"$op: ${bad.size} of $n files unordered" }
    assert(afterAppend._2 >= 6 && afterCompact._2 == 3 && afterRetention._2 >= 1,
      report.mkString("; "))
    assert(Seq(afterAppend, afterCompact, afterRetention).forall(_._1.isEmpty),
      report.mkString("; "))
  }

  test("retention drops expired months and filters the boundary month") {
    val dir = Files.createTempDirectory("logttl").toString
    LogTable.append(sampleLogs(30), dir)
    LogTable.retention(spark, dir, t("2023-12-10T00:00:05Z"))
    val back = LogTable.read(spark, dir)
    // 202311 gone entirely; 202312 filtered to ts >= cutoff; 202401 untouched
    val byMonth = back.groupBy(col("month")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byMonth.contains("202311"))
    assert(byMonth.contains("202401"))
    assert(back.filter(col("ts") < lit(t("2023-12-10T00:00:05Z"))).count() == 0)
  }
}
