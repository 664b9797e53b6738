package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-partitioned daily layout + dynamic partition pruning (DPP) — the
  * OTHER scan-skipping lever next to [[ZOrderLayout]]'s file statistics:
  * directory-level partition elimination that never lists, opens, or
  * stats the skipped days at all.
  *
  * The reference gets the same effect from its `PARTITION BY
  * toYYYYMM(ts)` MergeTree clause (internal/db/db.go:51): queries whose
  * ts-range covers a few partitions read only those parts. Here the
  * layout is plain `write.partitionBy(d)` parquet, and the read side
  * leans on Spark's two pruning tiers:
  *   - STATIC pruning for literal predicates on `d` (directory pruning
  *     at file-listing time);
  *   - DYNAMIC pruning (SPARK-11150) when the partition column is joined
  *     against a filtered dimension — the dim side broadcasts first and
  *     its values become a runtime IN-filter on the fact scan's
  *     PartitionFilters, so a "top revenue days" join touches only the
  *     qualifying day directories. At 100 TB the difference is reading
  *     5/900 day-partitions instead of everything.
  *
  * The partition value is `d = yyyyMMdd` as INT (not a date string) so
  * partition-column type inference is deterministic across engines and
  * the join key is a plain integer.
  */
object PartitionedLayout {

  private val prepared =
    scala.collection.concurrent.TrieMap[(String, String), String]()

  /** One-time-per-JVM daily-partitioned layout of the events fixture,
    * memoized per (app, dir) — write-once/read-many, like the z-order and
    * bucketed layouts. One output file per day directory (the fixture's
    * ~30 days), `repartition(d)` so each task writes whole partitions. */
  def eventsDailyPath(spark: SparkSession, dir: String,
      events: => DataFrame): String = {
    val appId = spark.sparkContext.applicationId
    prepared.getOrElseUpdate((appId, dir), {
      // the on-disk path carries the applicationId like the memo key does:
      // two concurrent JVMs (parallel test runs) must not overwrite each
      // other's layout mid-read
      val path = sys.props("java.io.tmpdir") +
        s"/graft_daily_${appId.replaceAll("[^A-Za-z0-9]", "_")}_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      events
        .withColumn("d", date_format(col("ts"), "yyyyMMdd").cast("int"))
        .repartition(col("d"))
        .write.mode("overwrite").partitionBy("d").parquet(path)
      path
    })
  }

  /** Per-(day, type) event counts over the TOP-`k` purchase-revenue days,
    * phrased so the day list arrives as a JOIN against a filtered
    * dimension — the shape that triggers dynamic partition pruning on the
    * daily layout (PartitionedLayoutSpec asserts the plan carries a
    * `dynamicpruning` partition filter). The dimension derives from the
    * RAW events table (one small aggregate; rank not threshold, so the
    * same k days qualify at every scale factor). */
  def countsOnTopRevenueDays(spark: SparkSession, dir: String,
      events: => DataFrame, k: Int = 5): DataFrame = {
    val part = graft.Tables.read(spark, eventsDailyPath(spark, dir, events))
    // top-k days via orderBy+limit (TakeOrderedAndProject): no window at
    // all — same rows as a rank filter, and unlike a window (or any
    // non-deterministic partition-key workaround) the dim subplan stays
    // DETERMINISTIC, which Spark's PartitionPruning rule requires before
    // it will install the dynamicpruning filter on the fact scan
    val topDays = events
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyyMMdd").cast("int").as("d"))
      .agg(sum(round(col("value") * 100).cast("long")).as("rev"))
      .orderBy(col("rev").desc, col("d"))
      .limit(k)
      .select(col("d"))
    part.join(broadcast(topDays), Seq("d"))
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("d"), col("event_type"))
  }
}
