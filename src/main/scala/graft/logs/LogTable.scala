package graft.logs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of the `logs` table, reproducing the query-visible
  * effects of the reference's MergeTree DDL (internal/db/db.go:40-54):
  *
  *  - `PARTITION BY toYYYYMM(ts)` (db.go:51) → hive-style
  *    `partitionBy("month")` directories; Catalyst prunes them when queries
  *    carry a month predicate ([[LogQuery.monthPredicate]]).
  *  - `ORDER BY (service, ts)` (db.go:52) → `sortWithinPartitions` before
  *    write, so parquet row-group min/max stats on (service, ts) give the
  *    same data-skipping a sparse primary index gives ClickHouse. The sort
  *    leads with `month`: a planned write to `partitionBy("month")` needs
  *    its input ordered by month, and when it is not, Spark adds its own
  *    `Sort [month]` and the optimizer drops the (service, ts) sort below
  *    it, so every file would be written in arrival order.
  *  - `index_granularity = 8192` (db.go:53) → parquet row-group/page
  *    statistics (default sizing is the analogous knob).
  *  - MergeTree background merges (README.md:33) → [[compact]].
  *  - `MODIFY TTL ts + INTERVAL n DAY DELETE` (db.go:59-65) → [[retention]].
  */
object LogTable {

  /** Append a normalized batch in the reference layout. `repartition` by
    * month first so each output month is written by one task (avoids the
    * many-small-files explosion of task×partition fan-out at scale), then
    * sort within tasks by month and `sortCols` — default (service, ts), the
    * DDL's ORDER BY — for row-group stat locality. `sortCols` lets a frame
    * with different column names (the events fixture standing in for logs)
    * ride the same month layout. */
  def append(logs: DataFrame, path: String,
      sortCols: Seq[String] = Seq("service", "ts")): Unit =
    logs
      .withColumn("month", date_format(col("ts"), "yyyyMM"))
      .repartition(col("month"))
      .sortWithinPartitions("month", sortCols: _*)
      .write
      .mode(SaveMode.Append)
      .partitionBy("month")
      .parquet(path)

  /** Read the table back with the 7 canonical columns (+ month). The
    * explicit schema keeps the hive partition value a string (inference
    * would surface `month=202311` as an int) and makes a fully-expired
    * (empty) table read as zero rows instead of failing schema inference. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(LogSchema.schema.add(org.apache.spark.sql.types.StructField(
        "month", org.apache.spark.sql.types.StringType)))
      .parquet(path)

  /** Small-file compaction — the MergeTree-merge analogue. Streaming
    * micro-batches (100 ms trigger, §2.6) leave many tiny parquet files;
    * rewrite each month's files into `filesPerMonth` sorted files.
    * Dynamic partition overwrite touches only months present in the input,
    * so compaction of recent months does not rewrite history. */
  def compact(spark: SparkSession, path: String, filesPerMonth: Int = 1): Unit = {
    val df = spark.read.parquet(path)
    df.repartition(col("month"))
      .coalesce(math.max(filesPerMonth, 1))
      .sortWithinPartitions("month", "service", "ts")
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(path)
  }

  /** TTL retention (db.go:59-65): drop rows with ts older than `cutoff`.
    * Whole months strictly below the cutoff month are dropped as unit
    * directories (cheap metadata delete at scale); only the single boundary
    * month is rewritten with a row filter. `sortCols` mirrors [[append]]:
    * the rewritten boundary month keeps the layout's sort order, whatever
    * columns the frame carries. */
  def retention(spark: SparkSession, path: String, cutoff: java.sql.Timestamp,
      sortCols: Seq[String] = Seq("service", "ts")): Unit = {
    val fmt = new java.text.SimpleDateFormat("yyyyMM")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val cutoffMonth = fmt.format(cutoff)
    val df = spark.read.parquet(path)
    val boundary = df
      .filter(col("month") === cutoffMonth && col("ts") >= lit(cutoff))
      .repartition(col("month"))
      .sortWithinPartitions("month", sortCols: _*)
    // Rewrite the boundary month in place (dynamic overwrite), then drop
    // the fully-expired month directories.
    boundary.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("month=") && name.stripPrefix("month=") < cutoffMonth)
          fs.delete(st.getPath, true)
      }
    }
  }
}
