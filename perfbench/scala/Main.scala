package perfbench

import org.apache.spark.sql.SparkSession

/** Run context handed to every workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, tracer: Tracer,
    stats: Option[SparkStats], dir: String)

/** Harness entry, launched by run.py:
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <data dir> <cpus>`.
  * Runs one workload against the in-process service and writes the raw
  * measurements to `<work dir>/raw.json` (and, traced, the spans to
  * `<work dir>/spans.jsonl`). */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dir, dataDir, cpus) = args
    val epochMs = System.currentTimeMillis()
    val tracer = new Tracer(trace == "1", System.nanoTime())
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
    // the analytics rows run with graft.Bench's session settings
    if (workload == "analytics")
      b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
        .config("spark.sql.files.openCostInBytes", s"${512 * 1024}")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = if (tracer.on) {
      val s = new SparkStats(tracer, epochMs)
      spark.sparkContext.addSparkListener(s)
      Some(s)
    } else None
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, tracer, stats, dir)
    val raw = try workload match {
      case "ingest" => Ingest.run(ctx)
      case "analytics" => Analytics.run(ctx, dataDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      if (tracer.on) tracer.write(s"$dir/spans.jsonl")
    }
    // cost of recording one span, for the traced run's overhead estimate
    val nsPerSpan = if (!tracer.on) 0.0 else {
      val t = new Tracer(true, 0L)
      val t0 = System.nanoTime()
      for (i <- 0 until 200000) t.add("probe", i, i + 1L, "parent", i)
      (System.nanoTime() - t0) / 200000.0
    }
    val config = Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master, "spark" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
    Json.write(s"$dir/raw.json", raw ++ Map("config" -> config, "ns_per_span" -> nsPerSpan))
    spark.stop()
  }
}
