package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver always passes exactly two args → full dump)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // a misspelled filter name would otherwise dump nothing for it, and an
    // oracle check over the dump would compare nothing and pass
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // µs-typed parquet timestamps (not INT96) so the driver's pandas/
      // duckdb readers see the same datetime64[us] type the oracle yields.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Dump ts columns as TIMESTAMP_NTZ (session TZ is UTC, so values are
        // unchanged): parquet then carries isAdjustedToUTC=false, matching
        // the naive TIMESTAMP type DuckDB's oracle output has — otherwise
        // the driver compares tz-aware vs naive schemas.
        val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
          f.dataType match {
            case org.apache.spark.sql.types.TimestampType =>
              d.withColumn(f.name, org.apache.spark.sql.functions.col(f.name)
                .cast(org.apache.spark.sql.types.TimestampNTZType))
            case _ => d
          }
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
