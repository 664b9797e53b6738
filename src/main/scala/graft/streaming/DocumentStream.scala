package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The RUNNABLE live document-dedup pipeline — the three tiers the
  * wave-replay gate ([[ParityCheck.livePipelineParity]]) proves by hand,
  * wired as ONE checkpointed Structured Streaming job a production corpus
  * actually runs:
  *
  *  1. EXACT tier — each micro-batch screens against accumulated history
  *     through [[graft.ops.Dedup.historyDedupBloom]] (bloom fast-path +
  *     exact anti-join), dedups within the batch (min doc_id per text),
  *     and appends survivors to the history state.
  *  2. NEAR-DUP tier — the batch's LSH banding joins the persisted
  *     band-state of recent arrivals under the two-sided horizon
  *     predicate |ts_a − ts_b| ≤ horizon (plus the within-batch
  *     self-join): exactly the TTL streaming LSH's emitted pair set (the
  *     gate's batchCand truth — symmetric band join over arrivals within
  *     the horizon), expressed as idempotent table maintenance instead of
  *     flatMapGroupsWithState so it can share a foreachBatch transaction
  *     with the other tiers. Candidates restrict to kept endpoints, then
  *     exact-verify through the SHARED [[graft.ops.Dedup.jaccardVerify]].
  *  3. LABEL tier — the verified pairs merge into the standing labeling
  *     via [[graft.ops.Dedup.mergeClusterDelta]], cost ∝ batch.
  *
  * RESTART CONTRACT: the shared [[IndexTier]] lifecycle's — every state
  * write keyed by BATCH ID, every state read pinned strictly BEFORE the
  * current batch, so a replayed batch overwrites its own partitions with
  * identical rows: effectively-once, end to end. DocumentStreamSpec kills
  * the query mid-replay, restarts it from the checkpoint, and asserts the
  * final kept/pair/label state equals the all-at-once batch twin — the
  * same equalities the parity gate folds.
  *
  * State layout under `root` (each `batch=<id>` directory written with
  * overwrite — idempotent under replay; the standing corpus initializes
  * as `batch=-1` via [[init]]):
  *  - `hist/`   (doc_id, text)          — survivor texts, append-only
  *  - `kept/`   (doc_id)                — survivor ids, append-only
  *  - `bands/`  (doc_id, ts_ms, band, bh) — arrival band signatures. The
  *     two-sided horizon predicate is a JOIN condition on two event
  *     times, so the per-batch band-state read is a full scan of the
  *     surviving directories — read-side file-skipping does NOT apply;
  *     the state ∝ arrival-rate × horizon bound is PHYSICAL, delivered
  *     by [[compactBands]] (drops whole aged directories) and the
  *     [[consolidate]] fold's TTL filter (drops aged rows inside the
  *     consolidated directory), both safe because [[processBatch]]
  *     ENFORCES the lateness admission bound
  *  - `pairs/`  (id_a, id_b)            — verified kept live pairs (plus
  *     the standing corpus's pair table as `batch=-1` — [[retire]] needs
  *     real edges to re-converge split components)
  *  - `hw/`     (ts_ms)                 — one committed high-water row
  *     per batch (the admission bound's memory)
  *  - `gauge/`  one health-ledger row per non-empty batch (batch_id,
  *     arrived/admitted counts, hottest-bucket share and candidate rate
  *     in integer ppb, hot-bucket count, verified-pair count, alert) —
  *     the [[graft.ops.Dedup.bandIndexHealthGauge]] signals computed
  *     INLINE from the work the batch already did
  *  - `labels/` (doc_id, cluster_id)    — FULL snapshot per batch; only
  *     the previous snapshot is needed for replay, so older ones are
  *     reaped after each commit (bounded at two snapshots)
  *
  * DIRECTORY-COUNT BOUND (the MergeTree background-merge analogue,
  * reference README.md:33): the append-only states would otherwise grow
  * one directory per micro-batch FOREVER — at a 100 ms trigger that is
  * ~864k directories/day, and every batch re-lists and unions all of
  * them, so listing + parquet-footer cost would dominate per-batch time
  * long before data volume does. [[consolidate]] folds the committed
  * batch directories of `hist`/`kept`/`pairs`/`gauge`/`hw`/`bands` into
  * TIERED consolidated units (crash-safe two-phase rename protocol; the
  * binomial ladder of [[BatchState.tieredFold]]), so with
  * `consolidateEvery = K` the per-sub directory count is bounded by
  * K + log₂(batches/K) + 2 for any uptime AND each arrival byte is
  * rewritten only O(log batches) times total — the fold-everything alternative would rewrite every
  * byte on every fold (T/K times), the write amplification tiered
  * MergeTree merges exist to avoid.
  *
  * Scale shape per batch: one bloom + anti-join against history hashes
  * (narrow, bloom-gated), one broadcast band join of the batch against
  * the recent band-state (physically bounded to the horizon by the
  * janitor + fold filter), batch-sized verify and label merge. Nothing
  * corpus-sized shuffles at arrival time.
  */
object DocumentStream extends IndexTier {
  import IndexTier.{MemDisk, Sub}

  /** One streamed document with its event time (epoch ms). */
  final case class DocTsIn(doc_id: Long, ts_ms: Long, text: String)

  /** Per-batch health-ledger row schema (`gauge/`). */
  private val GaugeSchema =
    "batch_id BIGINT, n_arrived BIGINT, n_admitted BIGINT, " +
    "top_share_ppb BIGINT, cand_ppb BIGINT, hot_buckets BIGINT, " +
    "n_pairs BIGINT, alert BOOLEAN"

  /** Ledger alert thresholds — [[graft.ops.Dedup.bandIndexHealthGauge]]'s
    * calibrated defaults, absolute here (the inline ledger carries no
    * reference batch; the hand-driven gauge compares against one). */
  val AlertSharePpb = 200000000L
  val AlertCandPpb = 16000000000L

  private val Hist = Sub("hist", "doc_id BIGINT, text STRING", Seq("doc_id"))
  private val Kept = Sub("kept", "doc_id BIGINT", Seq("doc_id"))
  private val Pairs = Sub("pairs", "id_a BIGINT, id_b BIGINT",
    Seq("id_a", "id_b"))
  // `hw` folds to its single MAX row — the admission bound only ever
  // needs the max over prior batches
  private val Hw = Sub("hw", "ts_ms BIGINT",
    fold = _.agg(max(col("ts_ms")).as("ts_ms"))
      .filter(col("ts_ms").isNotNull))
  private val Bands = Sub("bands",
    "doc_id BIGINT, band INT, bh BIGINT, ts_ms BIGINT", Seq("doc_id"))
  protected val subs: Seq[Sub] =
    Seq(Hist, Kept, Pairs, Sub("gauge", GaugeSchema), Hw, Bands)
  protected val keptSub: Sub = Kept

  /** The committed high-water mark — max event time over the hw rows of
    * batches strictly below `before` (Long.MinValue before any). */
  private def highWater(spark: SparkSession, root: String,
      before: Long): Long =
    read(spark, root, Hw, before).agg(max(col("ts_ms"))).head().get(0) match {
      case null => Long.MinValue
      case t: java.lang.Long => t.longValue()
    }

  /** Consolidate every committed state surface below `upToBatch` — call
    * between batches with the stream stopped, or let [[processBatch]]
    * invoke it on a `consolidateEvery` cadence (the shared
    * [[IndexTier.foldSubs]]).
    *
    *  - `hist`/`kept`/`pairs`/`gauge` fold row-for-row; `hw` folds to its
    *    single MAX row;
    *  - `bands` first reclaims whole aged directories via
    *    [[compactBands]] (parquet-footer max-ts, no Spark job), then
    *    folds the survivors UNDER the TTL filter ts_ms ≥ highWater −
    *    horizon − lateness, so the consolidated band directory stays
    *    horizon-bounded in ROWS, not just directories. Safety is the
    *    admission bound's: an admissible (fresh or replayed) arrival has
    *    ts ≥ highWater − lateness, so the oldest band row it can pair
    *    with sits at ts ≥ highWater − lateness − horizon — exactly the
    *    cut. The high-water mark is read from the COMMITTED hw rows
    *    (batches strictly below `upToBatch`), never from an uncommitted
    *    batch's row.
    *
    * `intoBase = true` folds everything into the `batch=-1` base — a
    * MAJOR compaction that rewrites the standing corpus; reserve it for
    * maintenance windows. */
  def consolidate(spark: SparkSession, root: String, upToBatch: Long,
      horizonMs: Long, latenessMs: Long = 600000L,
      intoBase: Boolean = false): Unit = {
    foldSubs(spark, root, upToBatch, subs.filterNot(_ == Bands), intoBase)
    val hw = highWater(spark, root, upToBatch)
    if (hw != Long.MinValue) {
      compactBands(spark, root, hw, horizonMs, latenessMs)
      val cut = hw - horizonMs - latenessMs
      foldSubs(spark, root, upToBatch,
        Seq(Bands.copy(fold = _.filter(col("ts_ms") >= cut))), intoBase)
    }
  }

  /** Initialize the standing state: the deep-history corpus, its
    * persisted labeling AND its pair table land as `batch=-1`, so the
    * first micro-batch already screens and merges against them — and
    * [[retire]] can re-converge history components when expiry splits
    * them (label edges alone cannot reconstruct a component after node
    * REMOVAL; the pair edges can — the retireClusterDelta contract). */
  def init(spark: SparkSession, root: String, history: DataFrame,
      historyPairs: DataFrame, baseLabels: DataFrame): Unit = {
    BatchState.write(history.select(col("doc_id"), col("text")),
      root, "hist", -1L)
    BatchState.write(history.select(col("doc_id")), root, "kept", -1L)
    BatchState.write(historyPairs.select(col("id_a"), col("id_b")),
      root, "pairs", -1L)
    BatchState.write(baseLabels.select(col("doc_id"), col("cluster_id")),
      root, "labels", -1L)
  }

  /** RETENTION — the shared [[IndexTier.retireWith]] over `hist`,
    * `kept`, `pairs` and `bands` (a retired document's band signatures
    * drop too, so arrivals stop generating candidates against it
    * immediately instead of at age-out); aged band directories then
    * reclaim through [[compactBands]] when a high-water mark is
    * supplied. */
  def retire(spark: SparkSession, root: String, expiredIds: DataFrame,
      highWaterMs: Option[Long] = None, horizonMs: Long = 3600000L,
      latenessMs: Long = 600000L): Unit = {
    retireWith(spark, root, expiredIds)
    highWaterMs.foreach(hw =>
      compactBands(spark, root, hw, horizonMs, latenessMs))
  }

  /** The per-batch transaction — public so the spec can also drive a
    * single batch directly. Deterministic given (state before `batchId`,
    * batch rows), so replays are exact.
    *
    * ADMISSION (what makes [[compactBands]]' safety argument enforced,
    * not aspirational): arrivals older than the committed high-water
    * mark minus `latenessMs` are DROPPED before any tier sees them —
    * exactly a watermark's admission rule, persisted as a tiny per-batch
    * `hw/` row so replays apply the same bound. Every surviving arrival
    * therefore satisfies ts ≥ hw − lateness, and the janitor's cut at
    * hw − horizon − lateness can never remove a directory an admissible
    * arrival's horizon reaches.
    *
    * `consolidateEvery > 0` runs [[consolidate]] at the START of every
    * K-th batch — before any state read, over exactly the
    * checkpoint-committed batches (ids strictly below this one), so the
    * per-sub directory count stays bounded at K + log₂(batches/K) + 2
    * for any uptime and a replayed consolidation batch re-runs the fold
    * idempotently (no raw directories, no mergeable unit pair → no-op).
    *
    * `hotBucketCap > 0` engages the live hot-bucket cap (the
    * [[graft.ops.Dedup.minHashPairsCapped]] policy in-stream): buckets
    * whose occupancy over (batch banding ∪ admission-reachable band
    * state) exceeds the cap are pruned from both candidate joins and
    * counted in the batch's ledger row — a template flood is quarantined
    * the moment it arrives, bounding the join's worst key at cap² until
    * an operator re-shards or the flood is cut upstream. Explicitly
    * RECALL-BOUNDED, per the batch operator's contract; the capped
    * restart-parity gate (q_docstream_capped_parity) pins the policy
    * against its DuckDB replica. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      horizonMs: Long, latenessMs: Long = 600000L, n: Int = 3,
      threshold: Double = 0.5, consolidateEvery: Int = 0,
      hotBucketCap: Int = 0, alertSharePpb: Long = AlertSharePpb,
      alertCandPpb: Long = AlertCandPpb): Unit = {
    val spark = batch.sparkSession
    if (foldDue(batchId, consolidateEvery))
      consolidate(spark, root, batchId, horizonMs, latenessMs)
    if (batch.isEmpty) return
    // the hw/ rows are 1-per-batch AND the consolidation fold collapses
    // them to one max row per tiered unit (O(log batches)), so this read
    // stays bounded for any uptime
    val hw = highWater(spark, root, batchId)
    // snapshot the ADMITTED view only — its several consumers (exact
    // tier, banding, text lookup, ts bounds) all read post-admission
    // rows; the arrived count (a ledger signal) re-scans the unpersisted
    // micro-batch source once, so a fully-late batch pays no checkpoint
    // materialization for rows it then drops entirely. Late rows beyond
    // the admission bound drop HERE (watermark semantics).
    val raw = batch.select(col("doc_id"), col("ts_ms"), col("text"))
    val b = raw
      .filter(col("ts_ms") >= (if (hw == Long.MinValue) Long.MinValue
        else hw - latenessMs))
      .localCheckpoint(true, MemDisk)
    if (b.isEmpty) { graft.Snap.free(b); return }

    // ── tier 1: exact dedup against history, then within-batch ──
    val histTexts = read(spark, root, Hist, batchId)
    val survIds = graft.ops.Dedup.historyDedupBloom(spark,
        b.select(col("doc_id"), col("text")), histTexts)
      .groupBy(col("text_hash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = b.join(survIds, Seq("doc_id"))
      .localCheckpoint(true, MemDisk)
    BatchState.write(kept.select(col("doc_id"), col("text")),
      root, "hist", batchId)
    BatchState.write(kept.select(col("doc_id")), root, "kept", batchId)

    // ── tier 2: horizon-bounded LSH candidates + exact verify ──
    // every arrival bands (the stream sees traffic before the exact
    // tier's verdict), exactly like the TTL streaming operator
    val bandedB = graft.ops.Dedup.minHashBanded(
        b.select(col("doc_id"), col("text")), n)
      .join(b.select(col("doc_id"), col("ts_ms")), Seq("doc_id"))
      .localCheckpoint(true, MemDisk)
    BatchState.write(bandedB, root, "bands", batchId)
    val bandState = read(spark, root, Bands, batchId)
    // HOT-BUCKET CAP (the [[graft.ops.Dedup.minHashPairsCapped]] kernel,
    // live): occupancy counts the batch's banding ∪ the state rows still
    // inside the admission-reachable window ts ≥ hw − horizon − lateness
    // — exactly the TTL fold's cut, so the count is IDENTICAL whether or
    // not a consolidation or janitor pass physically dropped older rows
    // (physical retention only ever removes below-cut rows) and replay-
    // deterministic (state pinned strictly before the batch). Over-cap
    // buckets prune from the batch's banding BEFORE the joins — pruning
    // the batch side alone kills the bucket's pairs entirely (it is the
    // join key), bounding the join's worst key at cap² per bucket while
    // a template flood is in progress, instead of waiting for an
    // operator to read the gauge and intervene by hand.
    val hotOpt =
      if (hotBucketCap <= 0) None
      else {
        val cut = if (hw == Long.MinValue) Long.MinValue
          else hw - horizonMs - latenessMs
        Some(bandedB.select(col("band"), col("bh"))
          .unionByName(bandState.filter(col("ts_ms") >= cut)
            .select(col("band"), col("bh")))
          .groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("occ"))
          .filter(col("occ") > hotBucketCap)
          .select(col("band"), col("bh"))
          .localCheckpoint(true, MemDisk))
      }
    val bandedCool = hotOpt
      .map(h => bandedB.join(broadcast(h), Seq("band", "bh"), "left_anti"))
      .getOrElse(bandedB)
    val between = broadcast(bandedCool
        .select(col("band"), col("bh"), col("doc_id").as("id_d"),
          col("ts_ms").as("ts_d")))
      .join(bandState.select(col("band"), col("bh"),
        col("doc_id").as("id_i"), col("ts_ms").as("ts_i")), Seq("band", "bh"))
      .filter(abs(col("ts_d") - col("ts_i")) <= horizonMs)
      .select(least(col("id_d"), col("id_i")).as("id_a"),
        greatest(col("id_d"), col("id_i")).as("id_b"))
    val within = bandedCool.select(col("band"), col("bh"),
        col("doc_id").as("id_a"), col("ts_ms").as("ts_a"))
      .join(bandedCool.select(col("band"), col("bh"),
        col("doc_id").as("id_b"), col("ts_ms").as("ts_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("ts_a") - col("ts_b")) <= horizonMs)
      .select(col("id_a"), col("id_b"))
    // raw candidates are batch-bounded (band state is horizon-bounded by
    // the janitor); snapshotted — they feed the endpoint probe AND the
    // restricted join below
    val rawCands = between.unionByName(within).distinct()
      .localCheckpoint(true, MemDisk)
    // kept-endpoint restriction WITHOUT broadcasting all-time state: the
    // batch-bounded candidate id set broadcasts INTO the kept state (one
    // narrow streamed scan), and only the surviving endpoint ids — a
    // subset of the candidate set — broadcast back onto the pairs.
    // Broadcasting keptAll directly would ship the all-time kept id set
    // to every executor per batch (unbounded growth — the r12 review
    // finding).
    val candIds = rawCands.select(col("id_a").as("doc_id"))
      .unionByName(rawCands.select(col("id_b").as("doc_id"))).distinct()
    val keptEnds = read(spark, root, Kept, batchId)
      .unionByName(kept.select(col("doc_id")))
      .join(broadcast(candIds), Seq("doc_id"))
      .localCheckpoint(true, MemDisk)
    val cands = rawCands
      .join(broadcast(keptEnds.select(col("doc_id").as("id_a"))), Seq("id_a"))
      .join(broadcast(keptEnds.select(col("doc_id").as("id_b"))), Seq("id_b"))
    // texts for verify: candidate endpoints only — the kept-endpoint set
    // broadcasts into the history text state, so the corpus-sized hist/
    // scan streams through narrow and nothing corpus-sized is shingled
    // (the Dedup.verifyCandidates convention)
    val texts = histTexts.unionByName(kept.select(col("doc_id"), col("text")))
      .join(broadcast(keptEnds), Seq("doc_id"))
    val verified = graft.ops.Dedup
      .jaccardVerify(cands, texts, n, threshold)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true, MemDisk)
    BatchState.write(verified, root, "pairs", batchId)

    // ── inline health ledger: one row per non-empty batch (the
    // [[EmbeddingStream]] gauge/ pattern on the text tier) — the
    // [[graft.ops.Dedup.bandIndexHealthGauge]] signals REUSING the
    // banding/candidates/verify the batch already computed (1-row
    // aggregates over checkpointed frames; nothing re-scans the corpus),
    // plus the cap's own accounting (hot-bucket count). A fully-late
    // batch (admission drops everything) leaves no row — the ledger
    // records batches that reached the tiers, like the vector tier's. ──
    val nArr = raw.agg(count(lit(1)).as("n_arrived"))
    val nAdm = b.agg(count(lit(1)).as("n_admitted"))
    val top = bandedB.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("mx"))
    val nCand = rawCands.agg(count(lit(1)).as("n_cand"))
    val nPairs = verified.agg(count(lit(1)).as("n_pairs"))
    val nHot = hotOpt
      .map(_.agg(count(lit(1)).as("hot_buckets")))
      .getOrElse(spark.range(1).select(lit(0L).as("hot_buckets")))
    val gaugeRow = nArr.crossJoin(broadcast(nAdm))
      .crossJoin(broadcast(top)).crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nPairs)).crossJoin(broadcast(nHot))
      .select(lit(batchId).as("batch_id"), col("n_arrived"),
        col("n_admitted"),
        expr("mx * 1000000000L div n_admitted").as("top_share_ppb"),
        expr("n_cand * 1000000000L div n_admitted").as("cand_ppb"),
        col("hot_buckets"), col("n_pairs"),
        (expr("mx * 1000000000L div n_admitted") > alertSharePpb ||
          expr("n_cand * 1000000000L div n_admitted") > alertCandPpb)
          .as("alert"))
    BatchState.write(gaugeRow, root, "gauge", batchId)

    // ── tier 3: incremental label merge over the previous snapshot ──
    mergeLabels(spark, root, batchId, kept.select(col("doc_id")), verified)
    // the high-water row publishes LAST, after every other state write:
    // an uncommitted batch must never advance the mark an external
    // janitor could take a cut from — a crash before this line replays
    // the batch against the OLDER committed hw, whose admission horizon
    // is exactly what the previous janitor cut was derived from
    BatchState.write(b.agg(max(col("ts_ms")).as("ts_ms")), root, "hw",
      batchId)
    // the batch's checkpoint blocks serve nothing once its state is on
    // disk — free them now instead of waiting for the ContextCleaner
    // (a long-lived session would otherwise pin one frame set per batch)
    Seq(b, kept, bandedB, rawCands, keptEnds, verified)
      .foreach(graft.Snap.free(_))
    hotOpt.foreach(graft.Snap.free(_))
  }

  /** RETROACTIVE DECONTAMINATION on the text tier — the shared
    * [[IndexTier.repairFlood]] over the STANDING band state: a persisted
    * pair survives iff its endpoints still collide in a COOL bucket
    * (occupancy over all standing `bands/` rows ≤ `hotBucketCap`) within
    * the horizon — the [[graft.ops.Dedup.minHashPairsCapped]]
    * GLOBAL-occupancy rule composed with the live tier's horizon. No
    * re-verification: persisted pairs are exact-Jaccard-verified at
    * commit and deleting buckets only removes CANDIDACY paths. Pairs
    * from the `batch=-1` init predate the stream and carry no band rows —
    * structurally untouchable here, exactly as they are invisible to the
    * live cap. `bands/` itself is NOT rewritten: the horizon janitor owns
    * its lifecycle. Gated hash-exact by q_docstream_decontam_parity.
    * Returns the one-row repair report (hot_buckets, n_members,
    * n_suspects, n_dropped). */
  def decontaminate(spark: SparkSession, root: String, hotBucketCap: Int,
      horizonMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    val report = repairFlood(spark, root,
      bandState(spark, root).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY),
      Seq("band", "bh"), hotBucketCap, Some { cooled =>
        cooled.select(col("band"), col("bh"),
            col("doc_id").as("id_a"), col("ts_ms").as("ts_a"))
          .join(cooled.select(col("band"), col("bh"),
            col("doc_id").as("id_b"), col("ts_ms").as("ts_b")),
            Seq("band", "bh"))
          .filter(col("id_a") < col("id_b") &&
            abs(col("ts_a") - col("ts_b")) <= horizonMs)
          .select(col("id_a"), col("id_b"))
          .distinct()
      })
    Seq(report).toDF("hot_buckets", "n_members", "n_suspects", "n_dropped")
  }

  /** Start the pipeline on a streaming (doc_id, ts_ms, text) frame
    * ([[IndexTier.startWith]]). `consolidateEvery` bounds the state
    * directory count (see [[processBatch]]); 0 disables in-stream
    * consolidation. The alert thresholds are deployment-tunable with the
    * oracle-pinned calibration as defaults. */
  def start(docs: DataFrame, root: String, checkpoint: String,
      horizonMs: Long, latenessMs: Long = 600000L,
      maxDelayMs: Long = 100L, consolidateEvery: Int = 0,
      hotBucketCap: Int = 0, alertSharePpb: Long = AlertSharePpb,
      alertCandPpb: Long = AlertCandPpb,
      schedulerPool: Option[String] = None): StreamingQuery =
    startWith(docs, checkpoint, maxDelayMs, schedulerPool) {
      (batch, batchId) =>
        processBatch(batch, batchId, root, horizonMs, latenessMs,
          consolidateEvery = consolidateEvery, hotBucketCap = hotBucketCap,
          alertSharePpb = alertSharePpb, alertCandPpb = alertCandPpb)
    }

  /** The band-state JANITOR — the physical half of the TTL bound (the
    * horizon predicate is a JOIN condition, so the band-state scan
    * cannot read-side file-skip; dropping the directories is what bounds
    * it): drop every `bands/` batch directory whose NEWEST event time is
    * older than (highWaterMs − horizon − lateness). Safety under replay,
    * same argument as the TTL stream's retention slack: a replayed
    * batch's arrivals are watermark-admissible (ts ≥ high water −
    * lateness), so their horizon reaches at most highWater − lateness −
    * horizon — and every dropped directory sits strictly below that, so
    * no admissible arrival (fresh or replayed) could have paired with
    * it. THE MARK MUST COME FROM COMMITTED STATE: pass the max over
    * checkpoint-committed hw rows ([[consolidate]] derives exactly that;
    * [[processBatch]] publishes a batch's hw row only after its other
    * writes), never a wall clock or an uncommitted batch's event time —
    * an inflated mark would cut directories a replayed batch's horizon
    * still reaches. Returns the dropped directory count. Per-directory
    * max ts comes from the PARQUET FOOTERS directly
    * ([[BatchState.dirMaxLong]] — no Spark job, cost ∝ file count, flat
    * in data volume). */
  def compactBands(spark: SparkSession, root: String, highWaterMs: Long,
      horizonMs: Long, latenessMs: Long = 600000L): Int = {
    val f = BatchState.fs(spark, root)
    val cut = highWaterMs - horizonMs - latenessMs
    val dropped = BatchState.batchDirs(spark, root, "bands", Long.MaxValue)
      .filter(p => BatchState.dirMaxLong(spark, root, p, "ts_ms") < cut)
    dropped.foreach(p => f.delete(new org.apache.hadoop.fs.Path(p), true))
    dropped.length
  }

  // ── served outputs (what a reader queries between batches; labels,
  // livePairs and gaugeRows come from [[IndexTier]]) ──

  def keptIds(spark: SparkSession, root: String): DataFrame =
    read(spark, root, Kept)

  /** The standing band-signature state — what an arrival batch joins
    * for near-dup candidates (exposed so operators and the soak can
    * measure candidate economics across retire/janitor passes). */
  def bandState(spark: SparkSession, root: String): DataFrame =
    read(spark, root, Bands)
}
