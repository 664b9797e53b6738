package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The RUNNABLE live EMBEDDING-dedup pipeline — the vector tier of the
  * shared [[IndexTier]] lifecycle: the incremental chain the
  * hand-driven wave gate ([[ParityCheck.embeddingLiveParity]]) proves,
  * wired as ONE checkpointed Structured Streaming job, with the IVF
  * health loop ([[graft.ops.Similarity.ivfDriftGauge]] → retrain →
  * serve) running INSIDE the pipeline instead of as a separate batch
  * ritual. Per
  * micro-batch:
  *
  *  1. EXACT tier — byte-identical vectors dedup against the standing
  *     hash state (batch hashes broadcast INTO the corpus-sized state so
  *     it streams through narrow; only collided hashes broadcast back)
  *     and within the batch (min vec_id per hash) — repeated upstream
  *     re-encodes of the same content are dropped before they cost an
  *     argmax or a pair join.
  *  2. ASSIGN + GAUGE — survivors assign to the CURRENT EPOCH's fixed
  *     centroids ([[graft.ops.Similarity.assignToCentroids]] — the FAISS
  *     add-after-train contract). The same assignment feeds the per-batch
  *     drift gauge ([[graft.ops.Similarity.fitAndShareStats]] against the
  *     epoch's persisted reference row), so gauging costs two 1-row
  *     aggregates, not an extra pass — every batch leaves a
  *     (fit, occupancy, retrain) health row in `gauge/`.
  *  3. PAIR — cluster-local over-threshold pairs against the standing
  *     assigned state ([[graft.ops.Similarity.semanticDedupPairsBetween]]
  *     — the batch side broadcasts; the corpus side streams through
  *     unshuffled) plus the within-batch self-join.
  *  4. LABEL — the batch's pairs merge into the standing labeling via
  *     [[graft.ops.Dedup.mergeClusterDelta]], cost ∝ batch.
  *
  * EPOCH HANDOFF (the drift gauge's retrain policy, closed in-pipeline):
  * when gauge rows fire, a maintenance window (stream STOPPED at a
  * committed checkpoint) calls [[retrainEpoch]] — centroids retrain over
  * the standing corpus ([[graft.ops.Similarity.trainCentroids]] — the
  * amortized offline rebuild FAISS deployments schedule), every standing
  * `vecs/` directory is reassigned in place (sidecars preserved), the
  * gauge re-anchors on a fresh reference row, and an `epoch/` row keyed
  * by the last committed batch id makes the rotation DETERMINISTIC for
  * every subsequent batch: batch N's epoch is the max over committed
  * epoch rows strictly below N, so a replayed batch resolves the same
  * centroids the original run used.
  *
  * RESTART CONTRACT: the shared [[IndexTier]] one — foreachBatch is
  * at-least-once, so every state write is keyed by batch id and every
  * state read is pinned
  * strictly before the current batch; a replayed batch recomputes
  * against exactly the pre-batch state and overwrites its own
  * directories with identical rows. The stop/restart-across-a-
  * consolidation gate is [[ParityCheck.embeddingRestartParity]]
  * (q_embstream_restart_parity): it kills the query mid-run, restarts
  * from the checkpoint, and asserts the final pair/label state equals
  * the all-at-once batch twin ([[ParityCheck.embeddingBatchTwin]] — the
  * SAME definition the hand-driven gate compares against);
  * EmbeddingStreamSpec drives [[processBatch]] directly for the
  * tier-level contracts (exact-tier drops, consolidation equivalence,
  * epoch determinism, retire, the fully-duplicate no-op batch).
  *
  * State layout under `root` (each `batch=<id>` directory overwrite-
  * idempotent; the standing corpus initializes as `batch=-1` via
  * [[init]]):
  *  - `vecs/`   (vec_id, embedding, nsq, cluster) — survivor vectors
  *     assigned under the current epoch (retrain rewrites `cluster` in
  *     place — the offline cost the epoch amortizes)
  *  - `vhash/`  (vec_id, vhash)  — exact-tier hash state
  *  - `pairs/`  (id_a, id_b, cluster, cosine) — verified semantic pairs
  *     (plus the standing corpus's pair table as `batch=-1`; [[retire]]
  *     re-converges split components from real edges)
  *  - `gauge/`  one health row per non-empty batch (batch_id, n_ref,
  *     n_new, fit ppb, drift ppb, occupancy ppb, epoch, retrain)
  *  - `labels/` FULL snapshot per batch, reaped to the previous one
  *  - `epoch/`  (epoch) rows at `batch=-1` (0) and at each retrain
  *  - `cents/epoch=<e>`, `gref/epoch=<e>` — per-epoch centroid table and
  *     gauge reference row (tiny; one directory per epoch, not per batch)
  *
  * Directory growth in BATCH COUNT is bounded exactly as in
  * [[DocumentStream]]: `consolidateEvery = K` runs the tiered
  * [[BatchState.tieredFold]] over `vecs`/`vhash`/`pairs`/`gauge` at the
  * start of every K-th batch — K + log₂(batches/K) + 2 directories per
  * sub for any uptime, O(log batches) rewrites per byte.
  *
  * Scale shape per batch: one hash anti-join against the standing hash
  * state (batch side broadcasts, state streams), one broadcast-argmax
  * assignment of the batch, one broadcast cluster join of the batch
  * against the cluster-keyed standing state, batch-sized
  * label merge, two 1-row gauge aggregates. Nothing corpus-sized
  * shuffles at arrival time; the corpus-sized work (retrain +
  * reassignment) happens only in the maintenance window the gauge rows
  * call for. */
object EmbeddingStream extends IndexTier {
  import IndexTier.{MemDisk => memDisk, Sub}

  /** One streamed vector. */
  final case class VecIn(vec_id: Long, embedding: Array[Float])

  private val Vecs = Sub("vecs",
    "vec_id BIGINT, embedding ARRAY<FLOAT>, nsq DOUBLE, cluster BIGINT",
    Seq("vec_id"))
  private val Vhash = Sub("vhash", "vec_id BIGINT, vhash BIGINT",
    Seq("vec_id"))
  protected val subs: Seq[Sub] = Seq(Vecs, Vhash,
    Sub("pairs", "id_a BIGINT, id_b BIGINT, cluster BIGINT, cosine DOUBLE",
      Seq("id_a", "id_b")),
    Sub("gauge",
      "batch_id BIGINT, n_ref BIGINT, n_new BIGINT, ref_fit_ppb BIGINT, " +
      "new_fit_ppb BIGINT, drift_ppb BIGINT, ref_top_share_ppb BIGINT, " +
      "new_top_share_ppb BIGINT, epoch INT, retrain BOOLEAN, " +
      "hot_clusters BIGINT"))
  protected val keptSub: Sub = Vecs
  private val EpochSchema = "epoch INT"

  private def assignedOf(vectors: DataFrame, cents: DataFrame): DataFrame =
    graft.ops.Similarity.assignToCentroids(
        vectors.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("embedding"), col("nsq"),
        col("cluster").cast("long").as("cluster"))

  private def centsOf(spark: SparkSession, root: String,
      epoch: Int): DataFrame =
    spark.read.parquet(s"$root/cents/epoch=$epoch")

  /** The epoch a batch resolves: max over COMMITTED epoch rows strictly
    * below it — deterministic under replay ([[retrainEpoch]] only writes
    * rows at a stopped committed checkpoint, so the rows a batch can see
    * never change under it). */
  private[streaming] def epochOf(spark: SparkSession, root: String,
      before: Long): Int = {
    val row = BatchState.state(spark, root, "epoch", before, EpochSchema)
      .agg(max(col("epoch"))).head()
    require(!row.isNullAt(0),
      s"no epoch rows under $root/epoch — call init first")
    row.getInt(0)
  }

  /** Initialize the standing state: the base corpus trains the epoch-0
    * centroids and lands assigned as `vecs/batch=-1` (with its hash
    * state), its persisted labeling AND pair table land as `batch=-1`
    * (the [[retire]] raw material), and `refDelta` — a held-out
    * in-distribution arrival sample, NOT the training corpus (training-
    * corpus fit would bake Lloyd's generalization gap into every drift
    * reading — the [[graft.ops.Similarity.ivfDriftGauge]] argument) —
    * anchors the epoch-0 gauge reference row. */
  def init(spark: SparkSession, root: String, baseEmb: DataFrame,
      basePairs: DataFrame, baseLabels: DataFrame, refDelta: DataFrame,
      nCentroids: Int = 32, lloydIters: Int = 2): Unit =
    initWith(spark, root, baseEmb,
      graft.ops.Similarity.trainCentroids(baseEmb, nCentroids, lloydIters),
      None, basePairs, baseLabels, refDelta)

  /** [[init]] with pre-trained epoch-0 centroids (and optionally the
    * base corpus already assigned under them) — so a caller that
    * trained/assigned while DERIVING the base artifacts
    * ([[initFromCorpus]]) does not pay the two heaviest passes twice. */
  private def initWith(spark: SparkSession, root: String,
      baseEmb: DataFrame, cents0: DataFrame,
      baseAssigned: Option[DataFrame], basePairs: DataFrame,
      baseLabels: DataFrame, refDelta: DataFrame): Unit = {
    cents0.write.mode("overwrite").parquet(s"$root/cents/epoch=0")
    val cents = centsOf(spark, root, 0)
    BatchState.write(
      baseAssigned.getOrElse(assignedOf(baseEmb, cents)), root, "vecs", -1L)
    BatchState.write(baseEmb.select(col("vec_id"),
      xxhash64(col("embedding")).as("vhash")), root, "vhash", -1L)
    BatchState.write(basePairs.select(col("id_a"), col("id_b"),
        col("cluster").cast("long"), col("cosine")),
      root, "pairs", -1L)
    BatchState.write(baseLabels.select(col("doc_id"), col("cluster_id")),
      root, "labels", -1L)
    graft.ops.Similarity.fitAndShareStats(
        assignedOf(refDelta, cents), cents)
      .write.mode("overwrite").parquet(s"$root/gref/epoch=0")
    import spark.implicits._
    BatchState.write(Seq(0).toDF("epoch"), root, "epoch", -1L)
  }

  /** [[init]] with the standing corpus's own artifacts DERIVED here —
    * the bootstrap every gate/soak/registration shares (one definition,
    * so a change to init's contract cannot silently diverge a gate from
    * the pipeline it gates): epoch-0 centroids train on `baseEmb`
    * (deterministic — same rows, same centroids as any other train on
    * them), the base pair table is the cluster-local self-join under
    * those centroids, and the base labeling is its connected
    * components. A production deployment with PRE-built artifacts calls
    * [[init]] directly. */
  def initFromCorpus(spark: SparkSession, root: String, baseEmb: DataFrame,
      refDelta: DataFrame, threshold: Double = 0.4, nCentroids: Int = 32,
      lloydIters: Int = 2): Unit = {
    // train ONCE and assign ONCE — the derived artifacts (pairs, labels)
    // and the standing `vecs/` state share the same checkpointed frames
    // instead of re-running the two heaviest passes inside init
    val cents0 = graft.ops.Similarity
      .trainCentroids(baseEmb, nCentroids, lloydIters)
      .localCheckpoint(true, memDisk)
    val assigned0 = assignedOf(baseEmb, cents0)
      .localCheckpoint(true, memDisk)
    val basePairs = graft.ops.Similarity
      .semanticDedupUnordered(assigned0, threshold)
      .localCheckpoint(true, memDisk)
    val baseLabels = graft.ops.Dedup.nearDupClusters(
      baseEmb.select(col("vec_id").as("doc_id")),
      basePairs.select(col("id_a"), col("id_b")))
    initWith(spark, root, baseEmb, cents0, Some(assigned0), basePairs,
      baseLabels, refDelta)
    Seq(cents0, assigned0, basePairs)
      .foreach(graft.Snap.free(_))
  }

  /** Consolidate every committed state surface below `upToBatch`
    * ([[IndexTier.foldSubs]]). All four subs fold row-for-row (the
    * vector pipeline's dedup is deep-history — "semantic dup of anything
    * ever kept" — so no row ages out on a horizon; [[retire]] owns row
    * retirement). `epoch/`/`cents/`/`gref/` grow one directory per
    * EPOCH, not per batch. */
  def consolidate(spark: SparkSession, root: String,
      upToBatch: Long): Unit =
    foldSubs(spark, root, upToBatch)

  /** The per-batch transaction — public so the spec can drive a single
    * batch directly. Deterministic given (state before `batchId`, batch
    * rows): the epoch resolves from committed rows, every read is pinned
    * below `batchId`, every write overwrites `batch=<batchId>`. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      threshold: Double = 0.4, consolidateEvery: Int = 0,
      hotClusterCap: Int = 0, retrainDriftPpb: Long = RetrainDriftPpb,
      collapseSharePpb: Long = CollapseSharePpb): Unit = {
    val spark = batch.sparkSession
    if (foldDue(batchId, consolidateEvery)) consolidate(spark, root, batchId)
    if (batch.isEmpty) return
    val epoch = epochOf(spark, root, batchId)
    val cents = centsOf(spark, root, epoch)

    // ── tier 1: exact (byte-identical) vector dedup ──
    val hashed = batch.select(col("vec_id"), col("embedding"))
      .withColumn("vhash", xxhash64(col("embedding")))
      .localCheckpoint(true, memDisk)
    // batch hashes broadcast INTO the corpus-sized hash state (narrow
    // streamed scan); only the collided subset — batch-bounded —
    // broadcasts back for the anti-join. Broadcasting the state itself
    // would ship the all-time hash set per batch (the DocumentStream
    // kept-endpoint argument).
    val dupHashes = read(spark, root, Vhash, batchId)
      .join(broadcast(hashed.select(col("vhash")).distinct()), Seq("vhash"))
      .select(col("vhash")).distinct()
    val fresh = hashed.join(broadcast(dupHashes), Seq("vhash"), "left_anti")
    val keptIds = fresh.groupBy(col("vhash"))
      .agg(min(col("vec_id")).as("vec_id")).select(col("vec_id"))
    val kept = hashed.join(keptIds, Seq("vec_id"))
      .localCheckpoint(true, memDisk)
    BatchState.write(kept.select(col("vec_id"), col("vhash")),
      root, "vhash", batchId)

    // ── tier 2: fixed-centroid assignment + inline drift gauge ──
    val assigned = assignedOf(kept, cents).localCheckpoint(true, memDisk)
    BatchState.write(assigned, root, "vecs", batchId)
    // the hot-cluster occupancy rule (tier 3's containment) computes
    // HERE so the ledger can persist how often it intervened — the
    // text/media tiers' hot_buckets audit column; an operator asking
    // "did containment fire last night" reads this, not the logs
    val hotOpt =
      if (hotClusterCap <= 0) None
      else Some(assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > hotClusterCap)
        .select(col("cluster"))
        .localCheckpoint(true, memDisk))
    val nHot = hotOpt
      .map(_.agg(count(lit(1)).as("hot_clusters")))
      .getOrElse(spark.range(1).select(lit(0L).as("hot_clusters")))
    val stats = graft.ops.Similarity.fitAndShareStats(assigned, cents)
    val gref = spark.read.parquet(s"$root/gref/epoch=$epoch")
      .select(col("n").as("n_ref"), col("fit_ppb").as("ref_fit_ppb"),
        col("top_share_ppb").as("ref_top_share_ppb"))
    val gaugeRow = gref.crossJoin(stats).crossJoin(broadcast(nHot))
      .select(lit(batchId).as("batch_id"), col("n_ref"),
        col("n").as("n_new"), col("ref_fit_ppb"),
        col("fit_ppb").as("new_fit_ppb"),
        (col("ref_fit_ppb") - col("fit_ppb")).as("drift_ppb"),
        col("ref_top_share_ppb"),
        col("top_share_ppb").as("new_top_share_ppb"),
        lit(epoch).as("epoch"),
        (coalesce((col("ref_fit_ppb") - col("fit_ppb")) >
            lit(retrainDriftPpb), lit(false)) ||
          coalesce(col("top_share_ppb") > lit(collapseSharePpb),
            lit(false))).as("retrain"),
        col("hot_clusters"))
    BatchState.write(gaugeRow, root, "gauge", batchId)

    // ── tier 3: cluster-local pairs vs standing state + within batch ──
    // HOT-CLUSTER CAP ([[graft.ops.Similarity.semanticDedupPairsCapped]]
    // live): a mode-collapsed BATCH — the flood shape the inline gauge's
    // top_share signal detects — would otherwise make the within-batch
    // self-join quadratic in the collapsed cluster's batch occupancy and
    // the between-join's broadcast side flood-sized for that key.
    // Occupancy is the BATCH's (deliberately: standing-cluster size
    // grows with the corpus — a total-occupancy rule would eventually
    // quarantine every cluster); over-cap clusters prune from the
    // batch's pair-join side only, which kills the cluster's pairs
    // entirely (it is the join key) while the vectors still land in
    // `vecs/`/`vhash/` — quarantined from pairing until the retrain the
    // gauge prescribes, exactly the batch operator's stated policy.
    // (Occupancy itself computed in tier 2, where the ledger records it.)
    val assignedCool = hotOpt
      .map(h => assigned.join(broadcast(h), Seq("cluster"), "left_anti"))
      .getOrElse(assigned)
    val vecsState = read(spark, root, Vecs, batchId)
    val pairs = graft.ops.Similarity
      .semanticDedupPairsBetween(assignedCool, vecsState, threshold)
      .unionByName(
        graft.ops.Similarity.semanticDedupUnordered(assignedCool, threshold))
      .localCheckpoint(true, memDisk)
    BatchState.write(pairs, root, "pairs", batchId)

    // ── tier 4: incremental label merge over the previous snapshot ──
    mergeLabels(spark, root, batchId, kept.select(col("vec_id").as("doc_id")),
      pairs.select(col("id_a"), col("id_b")))
    // the batch's checkpoint blocks serve nothing once its state is on
    // disk — free them now instead of waiting for the ContextCleaner
    // (a long-lived session would otherwise pin one frame set per batch)
    Seq(hashed, kept, assigned, pairs).foreach(graft.Snap.free(_))
    hotOpt.foreach(graft.Snap.free(_))
  }

  /** Default gauge thresholds — the [[graft.ops.Similarity.ivfDriftGauge]]
    * calibration (an order of magnitude above measured in-distribution
    * noise, well under the measured shifted cases — SCALE.md receipts). */
  val RetrainDriftPpb = 50000000L
  val CollapseSharePpb = 400000000L

  /** EXECUTE the retrain the gauge rows call for — the in-pipeline form
    * of [[graft.ops.Similarity.ivfRetrainEpoch]]. OPERATIONAL CONTRACT:
    * run with the stream STOPPED at a committed checkpoint (the
    * reference's maintenance-window discipline; earlier batches must not
    * replay afterwards).
    *
    *  - centroids retrain over the STANDING corpus (base ∪ every kept
    *    arrival) — deterministic in the row set, so the handoff equals a
    *    from-scratch build on the accumulated corpus
    *    (EmbeddingStreamSpec + the q_embstream_epoch_handoff oracle);
    *  - every `vecs/` directory reassigns in place (`_unit_lo` sidecars
    *    preserved) — the one corpus-sized pass, amortized per epoch;
    *  - the gauge re-anchors: `refDelta` (a recent in-distribution-NOW
    *    arrival sample — after a real shift that means the post-shift
    *    distribution) becomes the new epoch's reference row;
    *  - the `epoch/` row lands at the last committed batch id, so every
    *    subsequent batch — and only subsequent batches — resolves the
    *    new epoch. */
  def retrainEpoch(spark: SparkSession, root: String, newEpoch: Int,
      refDelta: DataFrame, nCentroids: Int = 32,
      lloydIters: Int = 2): Unit = {
    recoverAll(spark, root)
    val standing = assignedState(spark, root)
      .select(col("vec_id"), col("embedding"))
    graft.ops.Similarity.trainCentroids(standing, nCentroids, lloydIters)
      .write.mode("overwrite").parquet(s"$root/cents/epoch=$newEpoch")
    val cents = centsOf(spark, root, newEpoch)
    BatchState.batchDirs(spark, root, "vecs", Long.MaxValue).foreach { p =>
      BatchState.rewriteDirPreservingUnit(spark, root, "vecs", p,
        df => assignedOf(df, cents))
    }
    graft.ops.Similarity.fitAndShareStats(assignedOf(refDelta, cents), cents)
      .write.mode("overwrite").parquet(s"$root/gref/epoch=$newEpoch")
    val lastCommitted = BatchState.batchDirs(spark, root, "vecs",
        Long.MaxValue)
      .map(_.split("batch=").last.toLong).max
    import spark.implicits._
    BatchState.write(Seq(newEpoch).toDF("epoch"), root, "epoch",
      lastCommitted)
  }

  /** RETROACTIVE DECONTAMINATION on the vector tier — the shared
    * [[IndexTier.repairFlood]] over the STANDING assignment, with no
    * survivor test: clusters over `hotClusterCap` quarantine and every
    * persisted pair touching one of their members drops (pairs are
    * cluster-local by construction, so under the fixed-quantizer
    * contract "touching" and "within" coincide).
    *
    * SEMANTICS: with the quantizer unrotated since the pairs were
    * committed (the fixed-centroid epoch contract), the post-repair
    * pair state equals
    * [[graft.ops.Similarity.semanticDedupPairsCapped]]'s policy over
    * the standing corpus — spec-pinned against the capped twin root.
    * Across an epoch rotation the repair is the POLICY form: pairs
    * touching a currently-over-cap cluster quarantine (the conservative
    * reading — exactness has no meaning for pairs generated under a
    * retired quantizer). `vecs/` is NOT rewritten: the vectors are real
    * arrivals and the standing occupancy must stay visible to the gauge.
    * Returns the one-row repair report (hot_clusters, n_members,
    * n_dropped). */
  def decontaminate(spark: SparkSession, root: String,
      hotClusterCap: Int): DataFrame = {
    import spark.implicits._
    val (nHot, nMembers, _, nDropped) = repairFlood(spark, root,
      assignedState(spark, root).select(col("vec_id"), col("cluster")),
      Seq("cluster"), hotClusterCap, None)
    Seq((nHot, nMembers, nDropped))
      .toDF("hot_clusters", "n_members", "n_dropped")
  }

  /** RETENTION — the shared [[IndexTier.retireWith]] over `vecs`,
    * `vhash` and `pairs`: a retired vector stops generating pairs
    * IMMEDIATELY (its `vecs/` row is gone from the between-join) and a
    * re-sent identical vector is genuinely new again (its `vhash/` row
    * is gone). */
  def retire(spark: SparkSession, root: String,
      expiredIds: DataFrame): Unit =
    retireWith(spark, root, expiredIds)

  /** Start the pipeline on a streaming (vec_id, embedding) frame
    * ([[IndexTier.startWith]]); the gauge thresholds are
    * deployment-tunable with the oracle-pinned calibration as
    * defaults. */
  def start(vectors: DataFrame, root: String, checkpoint: String,
      threshold: Double = 0.4, maxDelayMs: Long = 100L,
      consolidateEvery: Int = 0, hotClusterCap: Int = 0,
      retrainDriftPpb: Long = RetrainDriftPpb,
      collapseSharePpb: Long = CollapseSharePpb,
      schedulerPool: Option[String] = None): StreamingQuery =
    startWith(vectors, checkpoint, maxDelayMs, schedulerPool) {
      (batch, batchId) =>
        processBatch(batch, batchId, root, threshold,
          consolidateEvery = consolidateEvery,
          hotClusterCap = hotClusterCap,
          retrainDriftPpb = retrainDriftPpb,
          collapseSharePpb = collapseSharePpb)
    }

  // ── served outputs (what a reader queries between batches; labels,
  // livePairs and gaugeRows come from [[IndexTier]]) ──

  def keptIds(spark: SparkSession, root: String): DataFrame =
    assignedState(spark, root).select(col("vec_id"))

  /** The standing assigned corpus (vec_id, embedding, nsq, cluster) —
    * what an arrival batch's between-join reads, and what [[retrainEpoch]]
    * rebuilds from. */
  def assignedState(spark: SparkSession, root: String): DataFrame =
    read(spark, root, Vecs)

  def currentEpoch(spark: SparkSession, root: String): Int =
    epochOf(spark, root, Long.MaxValue)

  /** One batch's emitted pair set (the epoch-handoff gate serves the
    * post-retrain batch's pairs through this) — requires the directory
    * not to have been consolidated past. */
  def pairsOfBatch(spark: SparkSession, root: String,
      batchId: Long): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        sub("pairs").schema))
      .parquet(s"$root/pairs/batch=$batchId")
}
