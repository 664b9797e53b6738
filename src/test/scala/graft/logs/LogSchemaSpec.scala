package graft.logs

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class LogSchemaSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def wireDf(rows: Seq[(String, Map[String, String])]) = {
    import scala.jdk.CollectionConverters._
    val data = rows.map { case (ts, attrs) =>
      Row(ts, "svc", "INFO", "m", attrs, "t", "s")
    }
    spark.createDataFrame(data.asJava, LogSchema.wireSchema)
  }

  test("ts parse: RFC3339 Z, offsets, 0-9 fractional digits") {
    val df = LogSchema.normalize(wireDf(Seq(
      ("2024-01-02T03:04:05Z", Map()),
      ("2024-01-02T03:04:05.1Z", Map()),
      ("2024-01-02T03:04:05.123456789Z", Map()),
      ("2024-01-02T04:04:05+01:00", Map()),
      ("2024-01-02T02:04:05.123-01:00", Map()))))
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq(
      "2024-01-02 03:04:05.000",
      "2024-01-02 03:04:05.100",
      "2024-01-02 03:04:05.123", // ns truncated to ms (DateTime64(3))
      "2024-01-02 03:04:05.000", // +01:00 normalized to UTC
      "2024-01-02 03:04:05.123"))
  }

  test("ts parse failure falls back to now(), not null/error") {
    val before = System.currentTimeMillis() - 1000
    val got = LogSchema.normalize(wireDf(Seq(("not-a-time", Map()))))
      .select(col("ts")).collect().head.getTimestamp(0)
    assert(got != null && got.getTime >= before)
  }

  test("an unparseable ts falls back to the clock during the call") {
    val start = System.currentTimeMillis()
    val got = LogSchema.normalize(wireDf(Seq(("not-a-time", Map()))))
      .select(col("ts")).collect().head.getTimestamp(0).getTime
    val end = System.currentTimeMillis()
    // the fallback is ms-truncated, so it cannot fall before `start`'s ms
    assert(start <= got && got <= end, s"$got not in [$start, $end]")
  }

  test("warm normalize calls compile no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // a micro-batch of 100 wire rows, every tenth ts unparseable, read
    // through an RDD scan as a micro-batch is, so the projection runs in
    // generated code
    def batch(i: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 100).map(j => Row(
        if (j % 10 == 0) "not-a-time" else f"2024-01-02T03:04:${j % 60}%02d.${i}%03dZ",
        s"svc${j % 3}", "INFO", s"m$j", Map("k" -> s"$i"), "t", "s")), 1),
      LogSchema.wireSchema)
    def run(i: Int): Unit = LogSchema.normalize(batch(i)).write.format("noop").mode("overwrite").save()
    (1 to 2).foreach(run)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (3 to 6).foreach(run)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
  }

  test("attrs map survives JSON round-trip; malformed JSON reads empty") {
    val norm = LogSchema.normalize(wireDf(Seq(
      ("2024-01-01T00:00:00Z", Map("user" -> "jane", "order_id" -> "12346")))))
    val back = norm.select(LogSchema.attrsMap(col("attrs"))).collect().head.getMap[String, String](0)
    assert(back.toMap == Map("user" -> "jane", "order_id" -> "12346"))

    import spark.implicits._
    val malformed = Seq("{not json", "", "null").toDF("attrs")
    val maps = malformed.select(LogSchema.attrsMap(col("attrs"))).collect()
    assert(maps.forall(r => !r.isNullAt(0) && r.getMap[String, String](0).isEmpty))
  }

  test("X7 DESCRIBE: schema introspection exposes the 7-column DDL shape") {
    // the reference's `DESCRIBE logs` (README.md:98) — introspection over
    // the code-defined schema and over a written table must agree
    import org.apache.spark.sql.types._
    val want = Seq(
      ("ts", TimestampType), ("service", StringType), ("level", StringType),
      ("msg", StringType), ("attrs", StringType), ("trace_id", StringType),
      ("span_id", StringType))
    assert(LogSchema.schema.fields.map(f => (f.name, f.dataType)).toSeq == want)
    val table = java.nio.file.Files.createTempDirectory("describe_tbl").toString
    val norm = LogSchema.normalize(wireDf(Seq(("2024-01-01T00:00:00Z", Map()))))
    LogTable.append(norm, table)
    val read = LogTable.read(spark, table)
    // written table reads back with the DDL columns plus the month partition
    assert(want.forall { case (n, t) => read.schema.fields.exists(f =>
      f.name == n && f.dataType == t) })
    assert(read.schema.fieldNames.contains("month"))
  }

  test("attrString extracts top-level key; missing key filters out") {
    import spark.implicits._
    val df = Seq("""{"user":"jane"}""", """{"other":"x"}""", "bad").toDF("attrs")
    val hits = df.filter(LogSchema.attrString(col("attrs"), "user") === "jane").count()
    assert(hits == 1)
  }
}
