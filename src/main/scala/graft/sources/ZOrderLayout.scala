package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) file layout for multi-dimensional data skipping.
  *
  * The reference's table gets its skipping power from a single clustered
  * sort key (`ORDER BY (service, ts)`, internal/db/db.go:52): range
  * predicates on the leading column prune, predicates on anything else
  * scan everything. Z-ordering interleaves the bits of TWO key columns so
  * that files (and parquet row groups within them) are tight rectangles in
  * BOTH dimensions — the layout trick Delta/Iceberg expose as `ZORDER BY`,
  * built here from first principles on plain parquet.
  *
  * At 100 TB this is a write-once layout decision: one range exchange on
  * the interleaved key at write time buys every future query min/max
  * pruning on either column (each of F files matches a point predicate in
  * ~√F of the files instead of all F). No read-side operator is needed —
  * Spark's existing parquet min/max row-group pruning and partition-file
  * statistics do the skipping; [[ZOrderLayoutSpec]] measures it.
  */
object ZOrderLayout {

  /** Bit-spread of the low 32 bits of `x` into even bit positions — the
    * classic mask-and-shift cascade, expressed as Catalyst column
    * arithmetic (6 codegen'd bitwise ops, no UDF). */
  private def spreadBits(x: Column): Column = {
    val masks = Seq(
      (16, 0x0000FFFF0000FFFFL),
      (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL),
      (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    masks.foldLeft(x.bitwiseAND(lit(0xFFFFFFFFL))) { case (acc, (s, m)) =>
      (acc.bitwiseOR(shiftleft(acc, s))).bitwiseAND(lit(m))
    }
  }

  /** Morton interleave of two non-negative 32-bit keys into one BIGINT:
    * z = spread(a) | spread(b) << 1. Adjacent z values are adjacent in a
    * space-filling curve over (a, b), so a z-range-partitioned, z-sorted
    * layout keeps both columns' min/max tight per file and row group. */
  def zorder2(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Write `df` as parquet laid out along the Z-curve of (`colA`, `colB`):
    * one range exchange on the interleaved key into `numFiles` globally
    * z-ordered files, each internally z-sorted so parquet row-group
    * min/max statistics stay tight in both dimensions.
    *
    * Each dimension is first normalized to 16 bits by linear min/max
    * scaling (one tiny aggregate, broadcast back) — interleaving RAW
    * values would let the wider-ranged column's high bits dominate every
    * split and degenerate the curve back to a single-column sort, which is
    * why production z-order implementations interleave per-column ranks
    * rather than values. Linear scaling is the rank's cheap stand-in; a
    * heavily skewed dimension would want the full range-partition-id
    * treatment. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    val bounds = df.agg(
      min(col(colA)).cast("long").as("min_a"), max(col(colA)).cast("long").as("max_a"),
      min(col(colB)).cast("long").as("min_b"), max(col(colB)).cast("long").as("max_b"))
    // floor-div back to BIGINT for the bitwise interleave; the numerator is
    // < 2^48 so the double division inside floor() is exact
    def scale16(c: Column, lo: Column, hi: Column): Column =
      when(hi === lo, lit(0L)).otherwise(
        floor((c.cast("long") - lo) * lit(65535L) / (hi - lo)).cast("long"))
    df.crossJoin(broadcast(bounds))
      .withColumn("_z", zorder2(
        scale16(col(colA), col("min_a"), col("max_a")),
        scale16(col(colB), col("min_b"), col("max_b"))))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z", "min_a", "max_a", "min_b", "max_b")
      .write.mode("overwrite").parquet(path)
  }

  /** [[writeZOrdered]] with RANK-based normalization — the skew-proof
    * variant. Linear min/max scaling wastes its 16 bits on empty range
    * when a dimension is skewed (a dense cluster collapses into one scaled
    * value, so the curve cannot discriminate inside it and every file's
    * envelope spans the cluster). Ranking each dimension first spreads the
    * dense mass across the full scale — the `range_partition_id`
    * normalization production z-order implementations use — built here on
    * [[graft.analytics.GlobalRank.withRowNumber]], so the rank itself is
    * range-partitioned and never single-task. Write-side cost: two extra
    * range exchanges, paid once per layout. */
  def writeZOrderedByRank(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    val ranked = graft.analytics.GlobalRank.withRowNumber(
      graft.analytics.GlobalRank.withRowNumber(
        df, Seq(col(colA), col(colB)), "_zra"),
      Seq(col(colB), col(colA)), "_zrb")
    val total = ranked.agg(max(col("_zra")).as("_zn"))
    def scale16(r: Column, n: Column): Column =
      when(n === 1L, lit(0L)).otherwise(floor((r - 1L) * lit(65535L) / (n - 1L)).cast("long"))
    ranked.crossJoin(broadcast(total))
      .withColumn("_z", zorder2(scale16(col("_zra"), col("_zn")), scale16(col("_zrb"), col("_zn"))))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z", "_zra", "_zrb", "_zn")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file (min, max) envelopes of two columns — the statistics a
    * skipping scan consults. Returns (file, minA, maxA, minB, maxB). */
  def fileEnvelopes(spark: org.apache.spark.sql.SparkSession, path: String,
      colA: String, colB: String): DataFrame =
    graft.Tables.read(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(colA)).as("min_a"), max(col(colA)).as("max_a"),
        min(col(colB)).as("min_b"), max(col(colB)).as("max_b"))

  /** How many files a point predicate on one column could touch, judged by
    * the per-file envelopes — the skipping a min/max-pruning reader
    * achieves without opening the skipped files. */
  def candidateFiles(envelopes: Array[(Long, Long, Long, Long)],
      onA: Boolean, v: Long): Int =
    envelopes.count { case (minA, maxA, minB, maxB) =>
      if (onA) minA <= v && v <= maxA else minB <= v && v <= maxB
    }

  private val prepared =
    scala.collection.concurrent.TrieMap[(String, String), String]()

  /** One-time-per-JVM z-ordered layout of the events fixture on
    * (user_id, value), memoized per (app, dir) so a REGISTERED query can
    * read the curve layout without re-paying the write each invocation —
    * the same write-once/read-many economics as the bucketed tables. At
    * scale the payoff is min/max file skipping on BOTH predicate
    * dimensions (spec-quantified in ZOrderLayoutSpec); correctness-wise
    * the layout is a pure permutation, which the registered 2-D slice
    * query proves against the raw-table oracle. */
  def eventsZPath(spark: org.apache.spark.sql.SparkSession, dir: String,
      events: => DataFrame): String = {
    val appId = spark.sparkContext.applicationId
    prepared.getOrElseUpdate((appId, dir), {
      val path = sys.props("java.io.tmpdir") +
        s"/graft_zorder_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      writeZOrdered(events, path, "user_id", "value", numFiles = 16)
      path
    })
  }
}
