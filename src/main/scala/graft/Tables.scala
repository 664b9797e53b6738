package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the parquet fixtures (TESTDATA.md), and the
  * resolver every parquet table read by a query goes through.
  *
  * [[read]] resolves two facts about a path once per file version and then
  * reads it with `spark.read.schema(cached).parquet(path)`:
  *  - its inferred `StructType`. Without a schema, every
  *    `spark.read.parquet(path)` runs a Spark job to read a footer, and
  *    does so each time a frame is built; with one it runs none. The
  *    reference declares the `logs` schema once in DDL
  *    (internal/db/db.go:40-54) and no query derives it again — the
  *    resolver gives every other table the same economy.
  *  - whether Spark reads the path in exactly one split, computed with
  *    Spark's own split rule (`FilePartition.maxSplitBytes`,
  *    `PartitionedFileUtil.splitFiles`, `FilePartition.getFilePartitions`)
  *    over the data files of the listing the resolver already makes
  *    (hidden and `_`-prefixed files skipped, as `InMemoryFileIndex` does).
  *    A one-split table is returned as `df.coalesce(1)`: `CoalesceExec(1)`
  *    reports `SinglePartition`, so no exchange is planned above it for an
  *    aggregation, window, sort or join. The scan was one task already, so
  *    it loses no parallelism; the saving is the shuffles, stages and jobs
  *    above it, which dominate small inputs. Multi-split tables are
  *    returned as read.
  *
  * The cache holds one entry per qualified path, keyed by
  *  - the name, length and modification time of every file under the path,
  *  - the session settings that change what inference decodes
  *    ([[InferenceConfs]], e.g. `spark.sql.legacy.parquet.nanosAsLong`),
  *  - the session settings that change the split count ([[SplitConfs]],
  *    e.g. `spark.sql.files.maxPartitionBytes`) and the default parallelism.
  * A new file version (or a changed setting) resolves again and replaces
  * the entry. Only the schema and the split answer are reused — never a
  * DataFrame or a file listing — so every read still lists the path and
  * scans whatever files are there now, and Catalyst keeps full
  * pushdown/pruning freedom. A warm read runs no inference, no split
  * computation and no job.
  *
  * The only special loader is `events`, whose parquet `ts` physical type has
  * drifted across fixture generations and is therefore probed, not assumed.
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Settings that change the schema parquet inference produces. */
  private val InferenceConfs = Seq(
    NanosAsLong,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** Settings that change how many splits a file scan reads a path in. */
  private val SplitConfs = Seq(
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism")

  private final case class Version(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]], parallelism: Int)

  /** What a path resolves to: its schema, and whether it is one split. */
  private final case class Resolved(schema: StructType, oneSplit: Boolean)

  private val resolved = new ConcurrentHashMap[String, (Version, Resolved)]()

  /** Every file at or under `root`, sorted by path. Listed with
    * `listStatus`, not `listFiles`: a `LocatedFileStatus` reads each file's
    * permissions, which the local file system gets by forking a process
    * (about 10 ms a file, against 0.04 ms for the plain listing). */
  private def leafFiles(fs: FileSystem, root: FileStatus): Seq[FileStatus] = {
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk) else Seq(st)
    walk(root).sortBy(_.getPath.toString)
  }

  /** Whether `InMemoryFileIndex` leaves a file out of a scan: some path
    * component below `root` is hidden (`.`) or `_`-prefixed (but not a
    * `_k=v` partition directory), or the file is still being copied. */
  private def hidden(root: Path, file: Path): Boolean =
    file.toString.stripPrefix(root.toString).split('/').exists(n =>
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))

  /** Whether a file scan of `files` reads them in exactly one split: the
    * split rule `FileSourceScanExec` applies, run over the listing. */
  private def oneSplit(spark: SparkSession, files: Seq[FileStatus]): Boolean = {
    val statuses = files.map(FileStatusWithMetadata(_))
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses)))
    val splits = statuses.flatMap(f => PartitionedFileUtil.splitFiles(
      f, f.getPath, isSplitable = true, maxSplit, InternalRow.empty))
      .sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, splits, maxSplit).size == 1
  }

  /** The schema `spark.read.parquet(path)` would infer and the split
    * answer, computed only when the path's files or the settings changed
    * since the last call. A path that does not exist as written (missing,
    * or a glob) is not cached: inference lists it, or raises Spark's own
    * error, and it is never treated as one split. */
  private def resolve(spark: SparkSession, path: String): Resolved = {
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    val root = try fs.getFileStatus(raw) catch { case _: FileNotFoundException => null }
    if (root == null) return Resolved(spark.read.parquet(path).schema, oneSplit = false)
    val qualified = fs.makeQualified(raw)
    val files = leafFiles(fs, root)
    val version = Version(
      files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)),
      (InferenceConfs ++ SplitConfs).map(spark.conf.getOption),
      spark.sparkContext.defaultParallelism)
    val key = qualified.toString
    val cached = resolved.get(key)
    if (cached != null && cached._1 == version) cached._2
    else {
      val data = files.filterNot(f => hidden(qualified, f.getPath))
      val fresh = Resolved(spark.read.parquet(path).schema, oneSplit(spark, data))
      resolved.put(key, (version, fresh))
      fresh
    }
  }

  /** `spark.read.parquet(path)` with the schema from [[resolve]], as a
    * single partition when the path is one split. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val r = resolve(spark, path)
    val df = spark.read.schema(r.schema).parquet(path)
    if (r.oneSplit) df.coalesce(1) else df
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else read(spark, p(dir, name))

  /** `events` with ts normalized to millisecond-precision TimestampType.
    *
    * The driver has shipped this fixture in two physical shapes — INT64
    * TIMESTAMP(NANOS) (rounds 1-5) and INT64 TIMESTAMP(MICROS) (round 6+)
    * — so the loader probes the schema Spark actually decoded and accepts
    * BOTH permanently, plus the adjusted-to-UTC micros variant for good
    * measure:
    *
    *  - `LongType`: the nanos shape, readable only as a raw long
    *    (`spark.sql.legacy.parquet.nanosAsLong`); integer `div` (not
    *    double `/`) truncates to ms exactly — double division would round
    *    the ~1.7e18-magnitude mantissa across a millisecond boundary.
    *  - `TimestampNTZType`: the micros shape (isAdjustedToUTC=false);
    *    `date_trunc('millisecond', ts)` — the analyzer inserts an
    *    NTZ→session-zone cast, so the derived column is TimestampType.
    *  - `TimestampType`: micros with isAdjustedToUTC=true; same trunc.
    *
    * Either way the result is millisecond-truncated TimestampType, matching
    * the reference's `DateTime64(3,'UTC')` storage precision
    * (internal/db/db.go:42); oracle SQL applies the same
    * `date_trunc('milliseconds', ts)` in DuckDB. Any OTHER decoded type is
    * fixture drift — fail loudly naming it (see FixtureDriftSpec, the
    * tripwire that diagnoses the next driver-side regeneration in one
    * line).
    *
    * The probe reads the resolver's schema, so it costs no job once the
    * file's schema is known; a regenerated file is a new version and is
    * probed afresh. Inference runs under the session's settings as they
    * are; only when it rejects a `TIMESTAMP(NANOS)` column is
    * `spark.sql.legacy.parquet.nanosAsLong` set on the session (the scan
    * needs it too), so loading a micros file leaves the session alone.
    *
    * Like every other loader, a one-split `events` is read as a single
    * partition. The `coalesce(1)` sits above the ms normalization, so the
    * flagship's scan, filter and normalization stay one whole-stage-codegen
    * stage (a `Coalesce` between them would split it in two and compile
    * more classes on a cold run), with its ts bounds in `PushedFilters`.
    *
    * ts-range predicates on the derived column are rewritten to bounds on
    * the raw scan column ([[graft.plans.NanosTimestampPushdown]]) so they
    * reach parquet `PushedFilters` and prune row groups on every shape.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.NanosTimestampPushdown.install(spark)
    val path = p(dir, "events")
    val r = try resolve(spark, path) catch {
      case e: Throwable if rejectsNanos(e) && !spark.conf.getOption(NanosAsLong).contains("true") =>
        spark.conf.set(NanosAsLong, "true")
        resolve(spark, path)
    }
    val raw = spark.read.schema(r.schema).parquet(path)
    val normalized = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_millis(expr("ts div 1000000")))
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts", date_trunc("millisecond", col("ts")).cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"fixture drift: events.ts decoded as $other (expected LongType " +
            s"nanos, TimestampNTZType, or TimestampType) in $path")
    }
    if (r.oneSplit) normalized.coalesce(1) else normalized
  }

  /** Whether `e` is parquet inference refusing a nanosecond timestamp,
    * which it decodes only with `spark.sql.legacy.parquet.nanosAsLong`. */
  private def rejectsNanos(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("TIMESTAMP(NANOS")))

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "lineitem"))
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "orders"))
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "customer"))
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "supplier"))
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "part"))
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "nation"))
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "region"))
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, p(dir, "embeddings"))
}
