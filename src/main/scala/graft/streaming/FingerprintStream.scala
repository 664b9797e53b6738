package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The RUNNABLE live FINGERPRINT (media) pipeline — the media tier of
  * the shared [[IndexTier]] lifecycle (with [[DocumentStream]] and
  * [[EmbeddingStream]]): arriving media decode and
  * fingerprint per micro-batch, near-dup candidates band-join the
  * PERSISTED fingerprint index, and labels merge incrementally. Per
  * batch:
  *
  *  1. DECODE + FINGERPRINT — the batch's media rows run the real-codec
  *     perceptual hash ([[graft.ops.Multimodal.pHashes]] — javax.imageio
  *     parse, DCT, sign bits); undecodable payloads QUARANTINE (counted
  *     in the ledger, excluded from every downstream tier — the
  *     reference quarantine convention, not a crash). The codec pass is
  *     the dominant per-batch cost and runs ONCE (the fingerprint frame
  *     is snapshotted; only 3-column (doc_id, sh0, sh1) rows flow on).
  *  2. PAIR — Hamming-banded candidates against the standing index
  *     ([[graft.ops.Dedup.hammingPairs128Between]] — the batch's 4-rows-
  *     per-doc banding BROADCASTS; the corpus-sized index STREAMS
  *     through unshuffled) plus the within-batch self-join
  *     ([[graft.ops.Dedup.hammingPairs128]]'s kernel), both exact-
  *     verified by summed popcount.
  *  3. INDEX + LABEL — the batch's fingerprints append to `fps/` (a
  *     pHash is corpus-independent, so the index never retrains —
  *     append-only like the band-signature table) and the pairs merge
  *     into the standing labeling via
  *     [[graft.ops.Dedup.mergeClusterDelta]], cost ∝ batch.
  *
  * There is deliberately NO exact byte tier: on the perceptual axis a
  * byte-identical re-send is just the hamming-0 extreme of the near-dup
  * family the band join already catches, and the batch family
  * (q_phash_pairs / q_phash_clusters) has no byte tier either — the
  * stream must land on the same truth the batch rows pin.
  *
  * RESTART CONTRACT: identical to the other two pipelines (the shared
  * [[BatchState]] keyed-write/pinned-read discipline) — a replayed batch
  * recomputes against exactly the pre-batch state and overwrites its own
  * directories. The gate is [[ParityCheck.fingerprintRestartParity]]
  * (q_fpstream_restart_parity): stop after the second wave, restart from
  * the checkpoint (straddling a consolidation), and the final
  * index/pair/label state must equal the all-at-once batch twin — whose
  * truth the closed-form texture oracle restates without decoding a
  * pixel (reference: formanojhr/clickhouse-observability models ingest
  * the same way — idempotent batch inserts into a keyed table,
  * internal/db/db.go:59).
  *
  * State layout under `root` (each `batch=<id>` directory overwrite-
  * idempotent; the standing corpus initializes as `batch=-1` via
  * [[init]]):
  *  - `fps/`    (doc_id, sh0, sh1) — the fingerprint index
  *  - `pairs/`  (id_a, id_b, hamming) — verified pairs (base pair table
  *     lands as `batch=-1`; [[retire]] re-converges from real edges)
  *  - `gauge/`  one ledger row per non-empty batch (batch_id, arrived,
  *     decoded, quarantined, pairs, top_share_ppb, hot_buckets,
  *     quar_ppb, alert — decode health, pair flow, the cap-independent
  *     skew signal, and the flood defense's own accounting)
  *  - `labels/` FULL snapshot per batch, reaped to the previous one
  *
  * Directory growth bounded by [[BatchState.tieredFold]] on the
  * `consolidateEvery` cadence — K + log₂(batches/K) + 2 per sub for any
  * uptime, O(log batches) rewrites per byte.
  *
  * Scale shape per batch: one codec pass ∝ batch (the only row-heavy
  * work, embarrassingly parallel), one broadcast band join against the
  * index (no shuffle of either side), batch-sized label merge, 1-row
  * ledger aggregates. Nothing corpus-sized shuffles at arrival time;
  * retention is [[retire]]'s maintenance-window pass. */
object FingerprintStream extends IndexTier {
  import IndexTier.{MemDisk => memDisk, Sub}

  private val Fps = Sub("fps", "doc_id BIGINT, sh0 BIGINT, sh1 BIGINT",
    Seq("doc_id"))
  protected val subs: Seq[Sub] = Seq(Fps,
    Sub("pairs", "id_a BIGINT, id_b BIGINT, hamming BIGINT",
      Seq("id_a", "id_b")),
    Sub("gauge",
      "batch_id BIGINT, n_arrived BIGINT, n_decoded BIGINT, " +
      "n_quarantined BIGINT, n_pairs BIGINT, top_share_ppb BIGINT, " +
      "hot_buckets BIGINT, quar_ppb BIGINT, alert BOOLEAN"))
  protected val keptSub: Sub = Fps

  /** Quarantine-rate alert threshold (integer parts-per-billion of the
    * batch's arrivals): a quarantine share above this marks the batch's
    * ledger row `alert` — a corrupted upstream batch or a codec
    * regression looks exactly like this, and per-payload quarantine
    * would otherwise hide it (the pipeline keeps running, the corpus
    * silently stops growing). 5% — an order of magnitude over the
    * organic decode-failure rate, well under any real upstream break. */
  val AlertQuarPpb = 50000000L

  /** Hottest-band-bucket share alert threshold (ppb of the batch's
    * DECODED rows) — the cap-INDEPENDENT detection signal, so an
    * uncapped deployment still sees a template-image flood on its
    * dashboard (the [[DocumentStream]] ledger's top_share role; the
    * threshold is the vector tier's collapse calibration — an organic
    * texture family tops out around a quarter of a batch in every
    * fixture and soak, a flood is most of it). */
  val AlertSharePpb = 400000000L

  /** Initialize the standing state: the base corpus's fingerprint index,
    * pair table and labeling land as `batch=-1` (the same artifacts the
    * batch q_phash rows persist), so the first micro-batch already
    * band-joins and merges against them. */
  def init(spark: SparkSession, root: String, baseFps: DataFrame,
      basePairs: DataFrame, baseLabels: DataFrame): Unit = {
    BatchState.write(baseFps.select(col("doc_id"), col("sh0"), col("sh1")),
      root, "fps", -1L)
    BatchState.write(basePairs.select(col("id_a"), col("id_b"),
      col("hamming").cast("long").as("hamming")), root, "pairs", -1L)
    BatchState.write(baseLabels.select(col("doc_id"), col("cluster_id")),
      root, "labels", -1L)
  }

  /** Consolidate every committed state surface below `upToBatch`
    * ([[IndexTier.foldSubs]]). All three subs fold row-for-row
    * (fingerprint dedup is deep-history; [[retire]] owns row
    * retirement). */
  def consolidate(spark: SparkSession, root: String,
      upToBatch: Long): Unit =
    foldSubs(spark, root, upToBatch)

  /** The per-batch transaction — public so the spec and soak can drive a
    * single batch directly. Deterministic given (state before `batchId`,
    * batch rows). `batch` carries [[graft.ops.Multimodal.MediaRow]]-
    * shaped rows (media_id, kind, payload, source).
    *
    * `hotBucketCap > 0` engages the live hot-bucket cap — the
    * [[graft.ops.Dedup.hammingPairs128Capped]] policy in-stream, with
    * the BATCH-side occupancy rule (the vector tier's
    * [[EmbeddingStream]] `hotClusterCap` convention: the standing `fps/`
    * index legitimately grows with the corpus, so only the ARRIVAL
    * distribution is a flood signal on this tier). Band buckets whose
    * occupancy over the batch's own banding exceeds the cap prune from
    * the batch side of BOTH pair legs — the batch side is the join key
    * owner, so pruning it kills the bucket's pairs entirely, bounding
    * the join's worst key at cap² while a decodable template-image flood
    * is in progress (quarantine only covers UNDECODABLE payloads; a
    * decodable flood walks straight past it). Index writes stay
    * UNCAPPED: the fingerprints are real arrivals and retention owns
    * their lifecycle; only pair generation is throttled. Explicitly
    * RECALL-BOUNDED, per the batch operator's contract; the capped
    * restart-parity gate (q_fpstream_capped_parity) pins the policy
    * against its closed-form DuckDB replica. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      maxHamming: Int = 3, consolidateEvery: Int = 0,
      hotBucketCap: Int = 0, alertQuarPpb: Long = AlertQuarPpb,
      alertSharePpb: Long = AlertSharePpb): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (foldDue(batchId, consolidateEvery)) consolidate(spark, root, batchId)
    if (batch.isEmpty) return

    // ── tier 1: decode + fingerprint (the codec pass runs ONCE — the
    // snapshot feeds the quarantine count, the index write and both
    // pair-join legs with 3-column rows) ──
    val hashed = graft.ops.Multimodal.pHashes(
        batch.as[graft.ops.Multimodal.MediaRow])
      .toDF()
      .localCheckpoint(true, memDisk)
    val fp = hashed.filter(col("decoded"))
      .select(col("media_id").as("doc_id"),
        col("ph0").as("sh0"), col("ph1").as("sh1"))
    BatchState.write(fp, root, "fps", batchId)

    // ── tier 2: banded candidates vs the standing index + within batch,
    // under the hot-bucket cap. The batch bands ONCE (the banding feeds
    // the occupancy count and both legs), over-cap buckets broadcast
    // into a LeftAnti prune of the batch side BEFORE either join. ──
    val bandedFp = graft.ops.Dedup.hammingBanding128(fp)
      .localCheckpoint(true, memDisk)
    val hotOpt =
      if (hotBucketCap <= 0) None
      else Some(bandedFp.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > hotBucketCap)
        .select(col("band"), col("bh"))
        .localCheckpoint(true, memDisk))
    val cooled = hotOpt
      .map(h => bandedFp.join(broadcast(h), Seq("band", "bh"), "left_anti"))
      .getOrElse(bandedFp)
    val fpsState = read(spark, root, Fps, batchId)
    val pairs = graft.ops.Dedup
      .hammingPairs128BetweenBanded(cooled, fpsState, maxHamming)
      .unionByName(
        graft.ops.Dedup.hammingPairs128FromBanded(cooled, maxHamming,
          snapshotted = true)) // cooled reads the checkpointed banding
      .select(col("id_a"), col("id_b"), col("hamming"))
      .localCheckpoint(true, memDisk)
    BatchState.write(pairs, root, "pairs", batchId)

    // ── tier 3: incremental label merge over the previous snapshot ──
    mergeLabels(spark, root, batchId, fp.select(col("doc_id")),
      pairs.select(col("id_a"), col("id_b")))

    // ── inline ledger: arrived / decoded / quarantined / pairs, plus
    // the defense's own accounting — hot_buckets (the cap intervening),
    // quar_ppb and the alert verdict (hot buckets OR a quarantine-rate
    // spike — a corrupted upstream batch must page someone even though
    // per-payload quarantine keeps the pipeline itself alive) ──
    val nArr = hashed.agg(count(lit(1)).as("n_arrived"),
      count(when(col("decoded"), 1)).as("n_decoded"),
      count(when(!col("decoded"), 1)).as("n_quarantined"))
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    // hottest PRE-prune bucket share: cap-independent, so detection
    // fires with or without containment engaged (the doc tier's rule)
    val top = bandedFp.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("mx"))
    val nHot = hotOpt
      .map(_.agg(count(lit(1)).as("hot_buckets")))
      .getOrElse(spark.range(1).select(lit(0L).as("hot_buckets")))
    val sharePpb = coalesce(
      expr("mx * 1000000000L div n_decoded"), lit(0L))
    BatchState.write(nArr.crossJoin(broadcast(nPairs))
        .crossJoin(broadcast(top)).crossJoin(broadcast(nHot))
        .select(lit(batchId).as("batch_id"), col("n_arrived"),
          col("n_decoded"), col("n_quarantined"), col("n_pairs"),
          sharePpb.as("top_share_ppb"),
          col("hot_buckets"),
          expr("n_quarantined * 1000000000L div n_arrived").as("quar_ppb"),
          (col("hot_buckets") > 0L || sharePpb > alertSharePpb ||
            expr("n_quarantined * 1000000000L div n_arrived") >
              alertQuarPpb).as("alert")),
      root, "gauge", batchId)
    // the batch's checkpoint blocks serve nothing once its state is on
    // disk — free them now instead of waiting for the ContextCleaner
    // (a long-lived session would otherwise pin one frame set per batch)
    Seq(hashed, bandedFp, pairs).foreach(graft.Snap.free(_))
    hotOpt.foreach(graft.Snap.free(_))
  }

  /** RETENTION — the shared [[IndexTier.retireWith]] over `fps` and
    * `pairs`: a retired image stops generating candidates IMMEDIATELY
    * (its index row is gone) and a re-sent copy is genuinely new
    * again. */
  def retire(spark: SparkSession, root: String,
      expiredIds: DataFrame): Unit =
    retireWith(spark, root, expiredIds)

  /** RETROACTIVE DECONTAMINATION on the media tier — the shared
    * [[IndexTier.repairFlood]] over the STANDING fingerprint index's
    * banding (the only corpus-linear pass: one map-side-combinable
    * occupancy count over 4 narrow rows per doc). A suspect survives iff
    * its endpoints still collide in a COOL band within `maxHamming`
    * (recomputed over the touched docs' banding only — worst key cap²
    * per bucket by construction).
    *
    * SEMANTICS: after the pass, the persisted pair state equals
    * [[graft.ops.Dedup.hammingPairs128Capped]] over the standing index
    * at `hotBucketCap` (the batch operator's GLOBAL-occupancy rule —
    * symmetric, unlike the live cap's per-arrival batch-side rule: a
    * standing index has no arrival axis left to cap on), and `labels/`
    * equals the connected components of the repaired pairs — both gated
    * hash-exact (q_fpstream_decontam_parity). The cap is a CORPUS-level
    * occupancy bound: callers size it to the largest organic fingerprint
    * family they mean to keep pairing. Explicitly RECALL-BOUNDED: a
    * family over the cap — flood or organically viral — loses its pairs.
    * `fps/` is NOT rewritten (the index-writes-stay-uncapped stance). A
    * CLEAN root costs only the occupancy scan — the cost-∝-damage
    * receipt in SCALE.md. Returns the one-row repair report
    * (hot_buckets, n_members, n_suspects, n_dropped). */
  def decontaminate(spark: SparkSession, root: String, hotBucketCap: Int,
      maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val report = repairFlood(spark, root,
      graft.ops.Dedup.hammingBanding128(indexedFps(spark, root))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY),
      Seq("band", "bh"), hotBucketCap, Some(cooled =>
        graft.ops.Dedup.hammingPairs128FromBanded(
            cooled, maxHamming, snapshotted = true)
          .select(col("id_a"), col("id_b"))))
    Seq(report).toDF("hot_buckets", "n_members", "n_suspects", "n_dropped")
  }

  /** Start the pipeline on a streaming MediaRow frame
    * ([[IndexTier.startWith]]). The co-residency receipt (SCALE.md):
    * three tiers sharing one SparkContext each in their own FAIR pool
    * trim the media tier's queueing stretch vs default FIFO. The alert
    * thresholds are deployment-tunable here and in [[processBatch]]; the
    * defaults are the oracle-pinned calibration
    * ([[AlertQuarPpb]]/[[AlertSharePpb]]). */
  def start(media: DataFrame, root: String, checkpoint: String,
      maxHamming: Int = 3, maxDelayMs: Long = 100L,
      consolidateEvery: Int = 0, hotBucketCap: Int = 0,
      alertQuarPpb: Long = AlertQuarPpb,
      alertSharePpb: Long = AlertSharePpb,
      schedulerPool: Option[String] = None): StreamingQuery =
    startWith(media, checkpoint, maxDelayMs, schedulerPool) {
      (batch, batchId) =>
        processBatch(batch, batchId, root, maxHamming,
          consolidateEvery = consolidateEvery,
          hotBucketCap = hotBucketCap, alertQuarPpb = alertQuarPpb,
          alertSharePpb = alertSharePpb)
    }

  // ── served outputs (what a reader queries between batches; labels,
  // livePairs and gaugeRows come from [[IndexTier]]) ──

  /** The standing fingerprint index — what an arrival batch band-joins. */
  def indexedFps(spark: SparkSession, root: String): DataFrame =
    read(spark, root, Fps)
}
