package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The lifecycle every runnable incremental-index pipeline shares —
  * [[DocumentStream]] (text), [[EmbeddingStream]] (vector) and
  * [[FingerprintStream]] (media) are `object`s extending this trait and
  * keep only what differs between them: row types and state schemas
  * ([[subs]]), the per-batch candidate and verify kernel, the hot-key
  * rule and survivor test, the gauge row and its alert constants, and
  * the maintenance only that tier has (text: the `hw` admission bound
  * and `compactBands`; vector: epochs and `retrainEpoch`; media: codec
  * quarantine).
  *
  * ONE LIFECYCLE over [[BatchState]] (the reference's keyed MergeTree
  * inserts, background merges and TTL — internal/db/db.go:59-65,
  * README.md:33):
  *
  *  - [[startWith]] — one checkpointed `foreachBatch` query on a
  *    processing-time trigger; every batch's jobs land in the named FAIR
  *    pool (thread-local `spark.scheduler.pool`, set on the foreachBatch
  *    execution thread — the co-residency deployment shape, SCALE.md).
  *    foreachBatch is at-least-once, so every state write is keyed by
  *    batch id and every state read is pinned strictly before the
  *    current batch: a replayed batch recomputes against exactly the
  *    pre-batch state and overwrites its own directories with identical
  *    rows.
  *  - [[foldSubs]] — the tiered consolidation fold over the tier's subs,
  *    run at the start of every `consolidateEvery`-th batch
  *    ([[foldDue]]) over exactly the checkpoint-committed directories:
  *    K + log₂(batches/K) + 2 directories per sub for any uptime,
  *    O(log batches) rewrites per byte ([[BatchState.tieredFold]]).
  *  - [[mergeLabels]] — the label tier: the batch merges into the
  *    previous FULL snapshot via [[graft.ops.Dedup.mergeClusterDelta]]
  *    (cost ∝ batch), and older snapshots are reaped.
  *  - [[retireWith]] — TTL retention, with the stream STOPPED at a
  *    committed checkpoint: labels re-converge through the PRE-prune
  *    pair edges ([[graft.ops.Dedup.retireClusterDelta]] — removal can
  *    split a component), then every sub with id columns drops the
  *    expired rows directory by directory, unit sidecars preserved.
  *  - [[repairFlood]] — the repair half of retroactive decontamination.
  *  - the served readers [[labels]], [[livePairs]], [[gaugeRows]], and
  *    [[labelDiff]] — the standing invariant every soak and spec checks.
  *
  * State under `root`: one `<sub>/batch=<id>` directory per batch per
  * sub (the standing corpus initializes as `batch=-1`), `labels/` FULL
  * snapshots bounded at two plus the init, and `pairs/` (id_a, id_b, …)
  * and `gauge/` (one ledger row per non-empty batch) on every tier. */
trait IndexTier {
  import IndexTier._

  /** The tier's append-only state subs, in fold order. */
  protected def subs: Seq[Sub]

  /** The sub whose first id column is the tier's kept-id set — the
    * universe its labels cover. */
  protected def keptSub: Sub

  protected def sub(name: String): Sub = subs.find(_.name == name).get

  private[streaming] def idCol: String = keptSub.ids.head

  protected def read(spark: SparkSession, root: String, s: Sub,
      before: Long = Long.MaxValue): DataFrame =
    BatchState.state(spark, root, s.name, before, s.schema)

  /** Start the pipeline: `process` runs once per micro-batch inside the
    * checkpointed query, in `schedulerPool` when one is named. */
  protected def startWith(input: DataFrame, checkpoint: String,
      maxDelayMs: Long, schedulerPool: Option[String])(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$maxDelayMs milliseconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        schedulerPool.foreach(p => batch.sparkSession.sparkContext
          .setLocalProperty("spark.scheduler.pool", p))
        process(batch, batchId)
      }
      .start()

  /** Whether batch `batchId` opens with a consolidation fold. */
  protected def foldDue(batchId: Long, consolidateEvery: Int): Boolean =
    consolidateEvery > 0 && batchId > 0 && batchId % consolidateEvery == 0

  /** Fold `these` subs below `upTo` — TIERED on the in-stream cadence,
    * never touching the `batch=-1` base; `intoBase` folds everything
    * into the base instead (a MAJOR compaction that rewrites the
    * standing corpus — reserve it for maintenance windows). */
  protected def foldSubs(spark: SparkSession, root: String, upTo: Long,
      these: Seq[Sub] = subs, intoBase: Boolean = false): Unit =
    these.foreach { s =>
      if (intoBase)
        BatchState.foldRange(spark, root, s.name, -1L, upTo, s.schema,
          intoBase = true, s.fold)
      else BatchState.tieredFold(spark, root, s.name, upTo, s.schema, s.fold)
    }

  /** Complete or abort any interrupted fold on every sub — maintenance
    * passes rewrite state directory by directory and would miss
    * committed-but-unswapped rows held in a fold stage. */
  protected def recoverAll(spark: SparkSession, root: String): Unit =
    subs.foreach(s => BatchState.recoverFold(spark, root, s.name))

  /** The label tier of a batch: merge its kept ids (`doc_id`) and
    * verified pairs (`id_a`, `id_b`) into the previous snapshot, write
    * the result as this batch's snapshot, then reap snapshots older than
    * the one merged from — a replay of this batch needs exactly that one
    * (empty batches write no snapshot, so it can trail the batch id by
    * more than one), so storage stays bounded at two snapshots plus the
    * immutable init. */
  protected def mergeLabels(spark: SparkSession, root: String,
      batchId: Long, kept: DataFrame, pairs: DataFrame): Unit = {
    val prevId = BatchState.batchDirs(spark, root, "labels", batchId)
      .map(_.split("batch=").last.toLong).max // -1 exists from init
    val merged = graft.ops.Dedup.mergeClusterDelta(
      spark.read.parquet(s"$root/labels/batch=$prevId"), kept, pairs)
    BatchState.write(merged, root, "labels", batchId)
    val f = BatchState.fs(spark, root)
    BatchState.batchDirs(spark, root, "labels", prevId)
      .filter(!_.endsWith("batch=-1"))
      .foreach(p => f.delete(new org.apache.hadoop.fs.Path(p), true))
    graft.Snap.free(merged)
  }

  private def latestLabelDir(spark: SparkSession, root: String): String = {
    val dirs = BatchState.batchDirs(spark, root, "labels", Long.MaxValue)
    require(dirs.nonEmpty, s"no label snapshot under $root/labels")
    dirs.maxBy(_.split("batch=").last.toLong)
  }

  private def pairIds(spark: SparkSession, root: String): DataFrame =
    livePairs(spark, root).select(col("id_a"), col("id_b"))

  /** RETENTION — the reference's TTL applied to every state the tier
    * maintains. OPERATIONAL CONTRACT: run with the stream STOPPED at a
    * committed checkpoint; earlier batches must not replay afterwards,
    * and the rewrite itself is idempotent (pruning is an anti-join;
    * re-running completes a crashed pass). Labels retire first, from the
    * PRE-prune pair state (retireClusterDelta does its own surviving-
    * touched restriction, so pruned or unpruned edges are equivalent),
    * and overwrite the latest snapshot; then every sub with id columns
    * prunes directory by directory through
    * [[BatchState.rewriteDirPreservingUnit]] (the parquet overwrite
    * would drop a unit's sidecar, demoting it to raw for the next fold).
    * A retired id stops generating candidates immediately, and a re-sent
    * copy is genuinely new again. */
  protected def retireWith(spark: SparkSession, root: String,
      expiredIds: DataFrame): Unit = {
    recoverAll(spark, root)
    val e = expiredIds
      .select(col(graft.ops.Dedup.expiryKey(expiredIds, idCol))
        .as("doc_id")).distinct()
      .localCheckpoint(true, MemDisk)
    // retireClusterDelta returns its result already checkpointed
    val retired = graft.ops.Dedup.retireClusterDelta(
      labels(spark, root), pairIds(spark, root), e)
    retired.write.mode("overwrite").parquet(latestLabelDir(spark, root))
    for (s <- subs if s.ids.nonEmpty;
         p <- BatchState.batchDirs(spark, root, s.name, Long.MaxValue))
      BatchState.rewriteDirPreservingUnit(spark, root, s.name, p,
        df => s.ids.foldLeft(df)(
          (acc, c) => graft.ops.Dedup.expireRows(acc, c, e)))
    graft.Snap.free(e)
    graft.Snap.free(retired)
  }

  /** RETROACTIVE DECONTAMINATION, the repair half shared by every tier:
    * a root that ran UNCAPPED (or under-capped) through a template flood
    * has persisted the flood's junk pairs and merged its family into a
    * mega-cluster. Run with the stream STOPPED at a committed checkpoint.
    *
    * `index` is the tier's standing occupancy substrate — its id column
    * plus the `key` bucket columns (text: band rows; media: the
    * fingerprint index's banding; vector: the cluster assignment). Steps,
    * each bounded by the flood-touched state, never corpus-quadratic:
    *  1. buckets whose occupancy over `index` exceeds `cap` are hot (one
    *     map-side-combinable count; tiny by construction, broadcast);
    *  2. members = ids with a row in a hot bucket (flood-sized);
    *  3. suspects = persisted pairs touching a member (two semi-probes);
    *  4. with a `survivors` test, a suspect survives iff it is among the
    *     pairs `survivors` regenerates over the touched ids' COOL rows —
    *     anything else was only reachable through a hot bucket; without
    *     one every suspect drops;
    *  5. the dropped pairs leave every `pairs/` directory (sidecars
    *     preserved) and only the components they touched re-converge
    *     ([[graft.ops.Dedup.reconvergeClusterDelta]]).
    *
    * The smallness regime is enforced: member- and pair-sized sets
    * broadcast up to [[BroadcastRowLimit]] rows, each probing ITS OWN
    * count (a flood's dropped clique is quadratic in the flood), and
    * degrade to shuffled joins past it instead of OOMing the executors.
    * `index` itself is never rewritten — occupancy must stay visible to
    * detection. Idempotent: a second pass deletes nothing. `index` is
    * evaluated after fold recovery and freed at the end. Returns
    * (hot buckets, members, suspects, dropped). */
  protected def repairFlood(spark: SparkSession, root: String,
      index: => DataFrame, key: Seq[String], cap: Int,
      survivors: Option[DataFrame => DataFrame])
      : (Long, Long, Long, Long) = {
    require(cap > 0, s"hot-bucket cap must be positive: $cap")
    recoverAll(spark, root)
    val idx = index
    val hot = idx.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .select(key.map(col): _*)
      .localCheckpoint(true, MemDisk) // tiny by construction
    val nHot = hot.count()
    val members = idx.join(broadcast(hot), key)
      .select(col(idCol)).distinct()
      .localCheckpoint(true, MemDisk)
    val nMembers = members.count()
    def mb(df: DataFrame, n: Long): DataFrame =
      if (n <= BroadcastRowLimit) broadcast(df) else df
    val pairs = pairIds(spark, root)
    val suspects = pairs
      .join(mb(members.select(col(idCol).as("id_a")), nMembers), Seq("id_a"),
        "left_semi")
      .unionByName(pairs
        .join(mb(members.select(col(idCol).as("id_b")), nMembers),
          Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b")))
      .distinct()
      .localCheckpoint(true, MemDisk)
    val nSuspects = suspects.count()
    val dropped = survivors.fold(suspects) { regenerate =>
      val touched = suspects.select(col("id_a").as(idCol))
        .unionByName(suspects.select(col("id_b").as(idCol)))
        .distinct()
      val cooled = idx.join(broadcast(hot), key, "left_anti")
        .join(mb(touched, nMembers), Seq(idCol), "left_semi")
      suspects.join(regenerate(cooled), Seq("id_a", "id_b"), "left_anti")
        .localCheckpoint(true, MemDisk)
    }
    val nDropped = if (survivors.isEmpty) nSuspects else dropped.count()
    if (nDropped > 0) {
      BatchState.batchDirs(spark, root, "pairs", Long.MaxValue).foreach {
        p => BatchState.rewriteDirPreservingUnit(spark, root, "pairs", p,
          df => df.join(mb(dropped, nDropped), Seq("id_a", "id_b"),
            "left_anti"))
      }
      val seeds = dropped.select(col("id_a").as("doc_id"))
        .unionByName(dropped.select(col("id_b").as("doc_id")))
        .distinct()
      val repaired = graft.ops.Dedup.reconvergeClusterDelta(
        labels(spark, root).select(col("doc_id"), col("cluster_id")),
        pairIds(spark, root), seeds)
      repaired.write.mode("overwrite").parquet(latestLabelDir(spark, root))
      graft.Snap.free(repaired)
    }
    Seq(idx, hot, members, suspects, dropped).foreach(graft.Snap.free(_))
    (nHot, nMembers, nSuspects, nDropped)
  }

  // ── served outputs (what a reader queries between batches) ──

  /** The latest label snapshot (doc_id, cluster_id). */
  def labels(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(latestLabelDir(spark, root))

  /** The kept state — every row of [[keptSub]]. */
  private[streaming] def keptState(spark: SparkSession,
      root: String): DataFrame =
    read(spark, root, keptSub)

  /** The persisted pair state — the standing corpus's `batch=-1` table
    * plus every batch's verified pairs. */
  def livePairs(spark: SparkSession, root: String): DataFrame =
    read(spark, root, sub("pairs"))

  /** The health ledger, one row per non-empty batch. */
  def gaugeRows(spark: SparkSession, root: String): DataFrame =
    read(spark, root, sub("gauge"))

  /** The standing invariant: the latest labels must equal the connected
    * components of (kept ids, live pairs). Returns the size of the
    * multiset difference in both directions — 0 on a healthy root. */
  def labelDiff(spark: SparkSession, root: String): Long = {
    val cc = graft.ops.Dedup.nearDupClusters(
      keptState(spark, root).select(col(idCol).as("doc_id")),
      pairIds(spark, root))
    val (onlyLabels, onlyCc, _, _) = ParityCheck.diffCounts(
      labels(spark, root).select(col("doc_id"), col("cluster_id")), cc)
    onlyLabels + onlyCc
  }
}

object IndexTier {

  /** One append-only state sub: its directory name, DDL schema, the id
    * columns [[IndexTier.retireWith]] prunes it by (none: never pruned),
    * and the row transform its consolidation fold applies. */
  final case class Sub(name: String, schema: String,
      ids: Seq[String] = Nil, fold: DataFrame => DataFrame = identity)

  /** Row bound under which [[IndexTier.repairFlood]]'s member- and
    * pair-sized sets broadcast. */
  val BroadcastRowLimit: Long = 8L << 20

  private[streaming] val MemDisk =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
}
