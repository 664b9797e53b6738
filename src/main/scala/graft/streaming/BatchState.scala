package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-id-keyed persisted state for runnable foreachBatch pipelines —
  * the machinery [[DocumentStream]] proved (idempotent `batch=<id>`
  * directory writes, state reads pinned strictly before the current
  * batch, the tiered LSM-style consolidation fold with its crash-safe
  * two-phase rename protocol), extracted so every runnable pipeline
  * shares ONE implementation of the replay contract instead of
  * re-deriving it per tier; the lifecycle built on it is
  * [[IndexTier]], which [[DocumentStream]], [[EmbeddingStream]] and
  * [[FingerprintStream]] extend.
  *
  * The invariants live here; the SEMANTICS (which tiers run per batch,
  * what folds mean for each sub) stay with the pipelines:
  *
  *  - every state write lands in its own `batch=<id>` directory with
  *    overwrite — a replayed batch recomputes against exactly the
  *    pre-batch state ([[state]] filters to ids strictly below) and
  *    overwrites its own partitions with identical rows;
  *  - [[tieredFold]] bounds directory count at K + log₂(batches/K) + 2
  *    per sub for any uptime with O(log batches) rewrites per byte (the
  *    binomial/LSM ladder — see the unit-mass invariant below), and
  *    every physical step is a [[foldRange]] two-phase stage/commit-
  *    marker/swap that [[recoverFold]] completes or aborts idempotently;
  *  - consolidated units carry a `_unit_lo` sidecar recording the lowest
  *    batch id they cover (underscore-prefixed — invisible to Spark's
  *    file listing); rewrites that preserve a unit in place must
  *    re-write the sidecar ([[preserveUnitLo]]) or the next fold demotes
  *    the unit to raw and re-folds it — correct but wasted rewrite.
  */
private[streaming] object BatchState {

  def fs(spark: SparkSession, root: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def batchDirs(spark: SparkSession, root: String, sub: String,
      before: Long): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/$sub")
    val f = fs(spark, root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("batch=") &&
        p.getName.drop(6).toLong < before)
      .map(_.toString)
  }

  /** State read as of `before`: the union of all batch partitions with id
    * strictly below it — a replayed batch sees exactly the pre-batch
    * state. Empty state → an empty frame with the right schema. */
  def state(spark: SparkSession, root: String, sub: String,
      before: Long, schema: String): DataFrame = {
    val dirs = batchDirs(spark, root, sub, before)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    else spark.read.schema(
      org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(dirs: _*)
  }

  def write(df: DataFrame, root: String, sub: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$root/$sub/batch=$batchId")

  // ── consolidation: the MergeTree background-merge analogue ──

  /** Fold the batch directories of `sub` with id in [lo, upTo) into the
    * single directory `batch=(upTo − 1)` (or into the `batch=-1` base
    * when `intoBase` — the MAJOR compaction that rewrites the standing
    * corpus; reserve it for maintenance windows).
    *
    * Readers are unaffected: `state(before = N)` for any N ≥ upTo sees
    * the identical row union, and a replayed batch only ever overwrites
    * its OWN `batch=N` directory (N ≥ upTo), never a folded one.
    *
    * CRASH SAFETY (two-phase commit): the fold first writes the union to
    * `_stage` (with the unit's `_unit_lo` sidecar — see [[tieredFold]]),
    * then publishes a `_stage_commit` marker recording (upTo, lo,
    * intoBase) — the commit point — then deletes the source directories
    * and renames `_stage` into place, then drops the marker.
    * [[recoverFold]] completes or aborts an interrupted pass from
    * whichever side of the marker it died on, and runs before every
    * fold — a replayed consolidation batch is therefore idempotent. */
  def foldRange(spark: SparkSession, root: String, sub: String,
      lo: Long, upTo: Long, schema: String, intoBase: Boolean,
      xform: DataFrame => DataFrame): Unit = {
    recoverFold(spark, root, sub)
    val f = fs(spark, root)
    val floor = if (intoBase) -1L else lo
    val target = if (intoBase) -1L else upTo - 1L
    val dirs = batchDirs(spark, root, sub, upTo)
      .filter(_.split("batch=").last.toLong >= floor)
    // nothing to fold (a replayed consolidation batch, or an idle sub):
    // leave the folded directory alone. Compare by directory ID —
    // batchDirs returns filesystem-qualified paths (file:/abs/...), so a
    // raw-string comparison against the caller's (possibly relative)
    // root never matches and the no-op guard would be dead code: every
    // replayed intoBase fold would physically rewrite the standing base
    val dirIds = dirs.map(_.split("batch=").last.toLong)
    if (dirs.isEmpty || dirIds == Seq(target)) return
    val stage = new org.apache.hadoop.fs.Path(s"$root/$sub/_stage")
    xform(spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(dirs: _*))
      .write.mode("overwrite").parquet(stage.toString)
    if (!intoBase) {
      // the unit sidecar: lowest batch id this consolidated run covers —
      // what the tiered cascade reads to compute unit masses. Underscore
      // prefix keeps it invisible to Spark's file listing.
      val s = f.create(new org.apache.hadoop.fs.Path(stage, "_unit_lo"), true)
      s.writeLong(lo); s.close()
    }
    // marker published ATOMICALLY (temp + rename): a torn marker file
    // (crash between create and close) would otherwise wedge recovery —
    // recoverFold's readLong on a short file throws, and it runs before
    // every subsequent fold AND retire, so the state could neither
    // complete nor abort without manual surgery
    val marker = new org.apache.hadoop.fs.Path(s"$root/$sub/_stage_commit")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$sub/_stage_commit.tmp")
    val out = f.create(tmp, true)
    out.writeLong(upTo); out.writeLong(lo); out.writeBoolean(intoBase)
    out.close()
    // rename can fail by RETURNING FALSE (HDFS, object-store adapters)
    // rather than throwing; proceeding past a false here would let
    // completeFold delete the sources with no published marker
    require(f.rename(tmp, marker), s"rename $tmp -> $marker failed")
    completeFold(spark, root, sub, lo, upTo, intoBase)
  }

  private def completeFold(spark: SparkSession, root: String, sub: String,
      lo: Long, upTo: Long, intoBase: Boolean): Unit = {
    val f = fs(spark, root)
    val floor = if (intoBase) -1L else lo
    batchDirs(spark, root, sub, upTo)
      .filter(_.split("batch=").last.toLong >= floor)
      .foreach(p => f.delete(new org.apache.hadoop.fs.Path(p), true))
    val target = if (intoBase) -1L else upTo - 1L
    // a false return here with the marker then deleted would strand the
    // staged rows where the next recoverFold ABORTS them — fail loudly
    // instead, leaving marker+stage for recoverFold to complete
    require(f.rename(new org.apache.hadoop.fs.Path(s"$root/$sub/_stage"),
        new org.apache.hadoop.fs.Path(s"$root/$sub/batch=$target")),
      s"rename $root/$sub/_stage -> batch=$target failed")
    f.delete(new org.apache.hadoop.fs.Path(s"$root/$sub/_stage_commit"), false)
  }

  /** Complete or abort an interrupted fold: a `_stage_commit` marker
    * means the staged union is the committed truth (finish the swap); a
    * stage without a marker is an uncommitted write (drop it). State
    * reads only ever list `batch=*` directories, so both intermediate
    * shapes are invisible to them.
    *
    * The marker is rename-published, so an UNREADABLE marker should not
    * occur — but defense in depth: if one is found (pre-fix torn write,
    * filesystem without atomic rename), it is treated as ABSENT and the
    * stage aborted, which is always safe — sources are only deleted
    * AFTER a complete marker lands, so an unreadable marker implies the
    * sources are intact and the fold simply re-runs. */
  def recoverFold(spark: SparkSession, root: String, sub: String): Unit = {
    val f = fs(spark, root)
    val marker = new org.apache.hadoop.fs.Path(s"$root/$sub/_stage_commit")
    val stage = new org.apache.hadoop.fs.Path(s"$root/$sub/_stage")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$sub/_stage_commit.tmp")
    if (f.exists(tmp)) f.delete(tmp, false) // never-published marker
    if (f.exists(marker)) {
      val parsed =
        try {
          val in = f.open(marker)
          try Some((in.readLong(), in.readLong(), in.readBoolean()))
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      parsed match {
        case Some((upTo, lo, intoBase)) if f.exists(stage) =>
          completeFold(spark, root, sub, lo, upTo, intoBase)
        case Some(_) =>
          f.delete(marker, false) // swap done; only the marker remained
        case None => // torn marker: abort — sources are still intact
          f.delete(marker, false)
          if (f.exists(stage)) f.delete(stage, true)
      }
    } else if (f.exists(stage)) f.delete(stage, true)
  }

  /** The `_unit_lo` sidecar of a consolidated unit directory, if any —
    * raw batch directories carry none. */
  def unitLo(f: org.apache.hadoop.fs.FileSystem, root: String,
      sub: String, id: Long): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub/batch=$id/_unit_lo")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(in.readLong()) finally in.close()
    }
  }

  /** Rewrite a batch directory in place through `xform` (retention
    * prunes, epoch reassignment), preserving its `_unit_lo` sidecar —
    * the parquet overwrite would drop it; without it the next tiered
    * fold demotes the unit to raw and re-folds it. The frame must be
    * materialized (localCheckpoint) before overwriting its own input. */
  def rewriteDirPreservingUnit(spark: SparkSession, root: String,
      sub: String, dir: String, xform: DataFrame => DataFrame): Unit = {
    val f = fs(spark, root)
    val id = dir.split("batch=").last.toLong
    val lo = unitLo(f, root, sub, id)
    val rewritten = xform(spark.read.parquet(dir))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rewritten.write.mode("overwrite").parquet(dir)
    lo.foreach { l =>
      val s = f.create(new org.apache.hadoop.fs.Path(s"$dir/_unit_lo"), true)
      s.writeLong(l); s.close()
    }
  }

  /** TIERED fold of one state sub — the binomial/LSM ladder instead of
    * fold-everything-into-one. A fold-everything scheme rewrites EVERY
    * arrival byte on EVERY fold: over T batches at cadence K that is
    * T/K rewrites per byte (at a 1 s trigger and K = 64, ~1,350
    * rewrites/byte/day) — the write amplification ClickHouse's tiered
    * MergeTree merges exist to avoid. Here each fold first turns the raw
    * batch directories into one UNIT (its `_unit_lo` sidecar records the
    * lowest id it covers — id gaps from empty batches count, so units
    * exactly partition the id axis and the counter arithmetic is exact),
    * then merges the two NEWEST units while the newer one's id-mass has
    * caught up with the older's — the binary-counter invariant: unit
    * masses strictly increase with age, so there are O(log T) units and
    * each byte is rewritten O(log T) times TOTAL.
    *
    * Replay-idempotent: the cascade is a deterministic function of the
    * directory listing below `upTo`; after a completed fold the masses
    * strictly increase with age, so a replayed consolidation batch finds
    * no raw directories and no mergeable pair — a no-op. Every physical
    * step is a [[foldRange]] two-phase swap, individually recoverable. */
  def tieredFold(spark: SparkSession, root: String, sub: String,
      upTo: Long, schema: String, xform: DataFrame => DataFrame): Unit = {
    recoverFold(spark, root, sub)
    val f = fs(spark, root)
    def listIds(): Seq[Long] = batchDirs(spark, root, sub, upTo)
      .map(_.split("batch=").last.toLong).filter(_ >= 0).sorted
    val ids = listIds()
    if (ids.isEmpty) return
    val los0 = ids.flatMap(id => unitLo(f, root, sub, id).map(id -> _)).toMap
    // RE-ADOPT units demoted by a crashed in-place rewrite (retire /
    // epoch reassignment overwrites a unit directory, then re-writes its
    // sidecar — a crash between the two loses it). A sidecar-less
    // directory BELOW the newest unit can never be a raw batch (raws
    // only ever sit above every unit), and units exactly partition the
    // id axis, so its lo is one past the next lower directory — an
    // unadopted orphan would be excluded from every future fold and
    // silently break the directory-count ladder bound for the rest of
    // the state's life.
    val newestUnit = los0.keys.foldLeft(-1L)(math.max)
    ids.filterNot(los0.contains).filter(_ < newestUnit).foreach { r =>
      val lo = ids.filter(_ < r).foldLeft(-1L)(math.max) + 1L
      val s = f.create(
        new org.apache.hadoop.fs.Path(s"$root/$sub/batch=$r/_unit_lo"), true)
      s.writeLong(lo); s.close()
    }
    val los = ids.flatMap(id => unitLo(f, root, sub, id).map(id -> _)).toMap
    val rawIds = ids.filterNot(los.contains)
    if (rawIds.nonEmpty) {
      // all raws sit above the newest unit; their unit's mass spans from
      // just above it (or 0), so empty-batch id gaps are attributed
      val lo = los.keys.foldLeft(-1L)(math.max) + 1L
      foldRange(spark, root, sub, lo, rawIds.max + 1, schema,
        intoBase = false, xform)
    }
    var merging = true
    while (merging) {
      val ids2 = listIds()
      val los2 = ids2.flatMap(id => unitLo(f, root, sub, id).map(id -> _)).toMap
      val units = ids2.filter(los2.contains)
      merging = units.length >= 2 && {
        val a = units(units.length - 2)
        val b = units.last
        // mass(b) ≥ mass(a) in id units → merge (the binomial ladder)
        (b - los2(b) >= a - los2(a)) && {
          foldRange(spark, root, sub, los2(a), b + 1, schema,
            intoBase = false, xform)
          true
        }
      }
    }
  }

  /** Newest value of BIGINT column `tsCol` in one batch directory, read
    * from the parquet footer statistics of its part files (Spark always
    * writes INT64 min/max) — no Spark job, cost ∝ file count; falls back
    * to a real scan if any footer lacks the stat. */
  def dirMaxLong(spark: SparkSession, root: String, dir: String,
      tsCol: String): Long = {
    import scala.jdk.CollectionConverters._
    val f = fs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    try {
      parts.iterator.map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf))
        try rd.getFooter.getBlocks.asScala.iterator.map { b =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == tsCol)
            .getOrElse(sys.error(s"no $tsCol chunk in ${st.getPath}"))
          val s = cc.getStatistics
          require(s != null && !s.isEmpty && s.hasNonNullValue,
            s"no $tsCol stats in ${st.getPath}")
          s.genericGetMax.asInstanceOf[java.lang.Long].longValue()
        }.foldLeft(Long.MinValue)(math.max)
        finally rd.close()
      }.foldLeft(Long.MinValue)(math.max)
    } catch {
      case scala.util.control.NonFatal(_) =>
        Option(spark.read.parquet(dir).agg(max(col(tsCol))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(Long.MinValue)
    }
  }
}
