package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Streaming↔batch parity as a REGISTERED correctness row (not just a
  * spec): the stateful streaming operator must produce, row for row, the
  * answer of its batch twin — and the batch twin is DuckDB-oracle-checked,
  * so a green parity row means the streaming path carries the oracle's
  * guarantee transitively. Registered the way the ANN `*_check` verdicts
  * are: the output is a one-row verdict whose expected value the oracle
  * states independently.
  *
  * The runner is driver-orchestrated BY NATURE (a MemoryStream feed is a
  * test harness — production streams arrive over readStream): the fixture
  * is collected, replayed in chronological micro-batches, and closed-out
  * with two far-future sentinel events so the event-time watermark passes
  * every open session's gap deadline and forces final emission — the same
  * end-of-stream flush a real pipeline gets from its next day of data.
  *
  * Shared by every gate: [[replay]] drives a stateful operator into a
  * memory table, and every set comparison is [[diffCounts]]. The eight
  * runnable-pipeline gates (text restart/capped/decontam, media
  * restart/capped/decontam, vector restart/decontam) differ only in their
  * fixture, their batch twin and their row-specific columns: each root is
  * built by [[buildGate]] (fresh root → init → either [[restarted]], the
  * stop-and-restart replay through the tier's `start`, or [[repaired]],
  * uncapped `processBatch` waves then the tier's repair), and each served
  * state is compared with its twin by [[compareServed]].
  */
object ParityCheck {

  private val SentinelUser = -1L

  /** Event-time origin of the document gates: doc i arrives at T0 + i
    * minutes, so a time horizon is an id-distance predicate. */
  private val T0Ms = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** The events fixture as [[StatefulOps.EventIn]] rows in (ts, event_id)
    * order — what every event-stream gate replays. */
  private def eventsIn(spark: SparkSession,
      dir: String): Array[StatefulOps.EventIn] = {
    import spark.implicits._
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[StatefulOps.EventIn]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    require(events.nonEmpty, s"no events in $dir")
    events
  }

  /** Replay `waves` through the query `op` builds over one MemoryStream
    * into the append-mode memory table `tbl` — one micro-batch per wave,
    * `after` run once each has been processed — and return the table. */
  private def replay[A: Encoder](spark: SparkSession, tbl: String,
      waves: Seq[Seq[A]], after: Seq[A] => Unit = (_: Seq[A]) => ())(
      op: Dataset[A] => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A]
    try spark.catalog.dropTempView(tbl) catch { case _: Exception => () }
    val q = op(mem.toDS())
      .writeStream.format("memory").queryName(tbl).outputMode("append").start()
    try waves.foreach { w =>
      mem.addData(w); q.processAllAvailable(); after(w)
    } finally q.stop()
    spark.table(tbl)
  }

  /** A one-row verdict frame: non-nullable BIGINT / BOOLEAN columns in
    * the given order. */
  private def oneRow(spark: SparkSession, fields: (String, Any)*): DataFrame =
    spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(fields.map(_._2))),
      StructType(fields.map { case (name, v) =>
        StructField(name, v match {
          case _: Long => LongType
          case _: Boolean => BooleanType
        }, nullable = false)
      }))

  /** The set-parity verdict of a streamed frame against its batch twin:
    * (n_batch, n_stream, n_only_batch, n_only_stream, `extra`…,
    * parity_ok), where parity_ok also requires `extraOk`. */
  private def setParity(spark: SparkSession, batch: DataFrame,
      streamed: DataFrame, extra: Seq[(String, Long)] = Nil,
      extraOk: Boolean = true): DataFrame = {
    val (onlyBatch, onlyStream, nBatch, nStream) = diffCounts(batch, streamed)
    oneRow(spark, Seq("n_batch" -> nBatch, "n_stream" -> nStream,
        "n_only_batch" -> onlyBatch, "n_only_stream" -> onlyStream) ++
      extra :+ ("parity_ok" -> (extraOk && nBatch == nStream &&
        onlyBatch == 0L && onlyStream == 0L)): _*)
  }

  /** Feed `dir`'s events through [[StatefulOps.sessionize]] via a
    * MemoryStream (4 chronological micro-batches — boundaries must not
    * matter, that is part of what is verified), then compare the emitted
    * sessions with [[graft.analytics.Analytics.sessionize]] as multisets
    * ([[diffCounts]] both ways, so duplicate rows can't hide).
    *
    * Output: one row (n_batch, n_stream, n_only_batch, n_only_stream,
    * parity_ok). The oracle recomputes n_batch with its own sessionize
    * replica and asserts (n, n, 0, 0, true).
    */
  def sessionizeParity(spark: SparkSession, dir: String,
      gapMinutes: Int = 30, nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val events = eventsIn(spark, dir)
    val maxTs = events.last.ts.getTime
    val yearMs = 365L * 24 * 3600 * 1000
    // chronological chunks: each batch's min ts is >= the previous
    // batch's max, so nothing ever falls behind the watermark mid-replay;
    // then two sentinel generations: the first advances the watermark
    // past every real session's gap deadline, the second triggers the
    // timeout sweep under that watermark (timeouts fire in the batch
    // AFTER the watermark moves)
    val sentinels = Seq(1L, 2L).map(g => Seq(StatefulOps.EventIn(-g,
      new Timestamp(maxTs + g * yearMs), SentinelUser, "sentinel", 0.0)))
    val cols = Seq("user_id", "session_start", "session_end", "n_events")
      .map(col)
    val streamed = replay(spark, "parity_sessionize",
        wavesOf(events.toSeq, nBatches) ++ sentinels)(
        StatefulOps.sessionize(_, gapMinutes).toDF())
      .filter(col("user_id") =!= SentinelUser)
      .select(cols: _*)
    val batch = graft.analytics.Analytics.sessionize(
        graft.Tables.events(spark, dir), gapMinutes)
      .select(cols: _*)
    setParity(spark, batch, streamed)
  }

  /** Same contract for [[StatefulOps.dedupStream]] vs batch
    * `dropDuplicates`: the fixture is replayed WITH deterministic
    * duplicates injected — an adjacent copy of every 50th event (same
    * micro-batch) and the last 3 events of each batch re-sent at the head
    * of the next (cross-batch replay, still inside the 1 h watermark
    * horizon since chunks are chronological) — and the streaming dedup
    * must keep exactly the rows the batch `dropDuplicates` over the SAME
    * duplicated input keeps. Duplicate copies are bit-identical rows, so
    * "which copy wins" cannot blur the set comparison. */
  def dedupParity(spark: SparkSession, dir: String,
      nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val chunks = wavesOf(eventsIn(spark, dir).toSeq, nBatches).toVector
    val fed: Vector[Seq[StatefulOps.EventIn]] = chunks.zipWithIndex.map {
      case (b, i) =>
        val replayed = if (i == 0) Seq.empty else chunks(i - 1).takeRight(3)
        replayed ++ b.flatMap(e =>
          if (e.event_id % 50 == 0) Seq(e, e) else Seq(e))
    }

    // both legs materialized (harness-sized — this is the
    // driver-orchestrated check, not a query): the streamed Deduplicate
    // plan under a set rewrite tripped ATTRIBUTE_NOT_FOUND binding in
    // Spark 4.1
    val streamed = replay(spark, "parity_dedup", fed)(
        ds => StatefulOps.dedupStream(ds.toDF()))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .localCheckpoint(true)
    val batch = spark.createDataset(fed.flatten)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .dropDuplicates("user_id", "event_id")
      .localCheckpoint(true)
    setParity(spark, batch, streamed)
  }

  /** Same contract for [[StatefulOps.funnelStream]] vs
    * [[graft.analytics.Behavior.funnelCounts]]: the streamed completion
    * count must equal the batch funnel's final-step user count — the
    * Soak assertion promoted to a registered gate row. Completions emit
    * on arrival (append mode), so no sentinel flush is needed; the
    * per-user state machine must neither cross-talk between users nor
    * lose chains across micro-batch boundaries. Output: one row
    * (n_batch, n_stream, parity_ok); the oracle recomputes the batch
    * count with its own min-chain replica. */
  def funnelParity(spark: SparkSession, dir: String,
      nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val steps = Seq("signup", "view", "purchase")
    val nStream = replay(spark, "parity_funnel",
        wavesOf(eventsIn(spark, dir).toSeq, nBatches))(
        StatefulOps.funnelStream(_, steps, horizonHours = 6).toDF())
      .count()
    val nBatch = graft.analytics.Behavior.funnelCounts(
        graft.Tables.events(spark, dir), steps, horizonHours = 6)
      .collect().last.getAs[Long]("n_users")
    oneRow(spark, "n_batch" -> nBatch, "n_stream" -> nStream,
      "parity_ok" -> (nBatch == nStream))
  }

  /** Same contract for [[StatefulOps.counterIncreaseStream]] vs
    * [[graft.analytics.TimeSeries.counterIncrease]]: the streamed
    * per-sample increases, summed by (user, hour) downstream, must equal
    * the batch operator's hourly rollup exactly. No sentinel flush is
    * needed — the counter operator emits on arrival (event-time timeouts
    * only expire idle state). The idle TTL is set beyond the fixture's
    * span: TTL is a RESOURCE bound, and under it a returning user's first
    * sample deliberately counts in full (batch lag has no such horizon) —
    * parity asserts the semantics, not the TTL compromise. */
  def counterIncreaseParity(spark: SparkSession, dir: String,
      nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val streamed = replay(spark, "parity_counter",
        wavesOf(eventsIn(spark, dir).toSeq, nBatches))(
        StatefulOps.counterIncreaseStream(_, idleHours = 24 * 365).toDF())
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("increase_cents")).as("increase_cents"))
      .select(col("user_id"), col("hr"), col("increase_cents"))
    val batch = graft.analytics.TimeSeries.counterIncrease(
        graft.Tables.events(spark, dir))
      .select(col("user_id"), col("hr"), col("increase_cents"))
    setParity(spark, batch, streamed)
  }

  /** The largest fixture the minhash parity harnesses will replay: they
    * collect the documents table (WITH text) to the driver to feed a
    * MemoryStream, which is verification-harness plumbing sized for the
    * gate SFs — not a path to ever run at corpus scale. The cap fails
    * loudly instead of OOMing the driver if someone points a parity
    * harness at a big SF, and is checked with a LIMIT-guarded collect
    * (no separate count() scan — the fixture is read once). */
  private val MaxParityDocs = 200000L

  /** Collect the parity fixture under [[MaxParityDocs]]: reads limit+1
    * rows, so an oversized fixture fails the guard after collecting one
    * row too many rather than after a full extra count() pass. */
  private def collectParityDocs(spark: SparkSession, dir: String,
      harness: String): Array[StatefulOps.DocIn] = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .limit(MaxParityDocs.toInt + 1)
      .as[StatefulOps.DocIn]
      .collect()
    require(docs.length <= MaxParityDocs,
      s"$harness is a driver-orchestrated verification harness " +
        s"(collects the fixture); refusing > $MaxParityDocs documents")
    docs.sortBy(_.doc_id)
  }

  /** Candidate pairs (id_a < id_b, distinct) of a band-signature frame's
    * self-join on (band, bh). */
  private def bandCandidates(banded: DataFrame): DataFrame =
    banded.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("bh"), col("doc_id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()

  /** Pairs whose ids (event minutes) lie within `horizonMs`. */
  private def withinHorizon(pairs: DataFrame, horizonMs: Long): DataFrame =
    pairs.filter(abs(col("id_a") - col("id_b")) * 60000L <= horizonMs)

  /** A fresh state root for one gate run — `target/<kind>/<fixture
    * tag>`, emptied first (a gate, not a standing pipeline). */
  private def freshRoot(spark: SparkSession, kind: String,
      dir: String): String = {
    val root = s"target/$kind/${graft.sources.ManagedTable.tag(dir)}"
    BatchState.fs(spark, root)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    root
  }

  /** `xs` in `n` id-ordered waves (the last one may be a remainder). */
  private def wavesOf[A](xs: Seq[A], n: Int): Seq[Seq[A]] =
    xs.grouped(math.max(1, xs.length / n)).toSeq

  /** The restart gates' shared harness: drive `waves` through the query
    * `start` builds over one MemoryStream, STOP after the second wave (a
    * mid-run crash, simulated) and RESTART from the same checkpoint for
    * the rest. */
  private def runWithRestart[A: Encoder](
      spark: SparkSession, waves: Seq[Seq[A]])(
      start: DataFrame => StreamingQuery): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A]
    var q = start(mem.toDF())
    waves.take(2).foreach { w => mem.addData(w); q.processAllAvailable() }
    q.stop()
    q = start(mem.toDF())
    try waves.drop(2).foreach { w =>
      mem.addData(w); q.processAllAvailable()
    } finally q.stop()
  }

  /** A runnable gate's state root: a [[freshRoot]] of `kind`, `init` on
    * `<root>/state`, then `drive` over the root. */
  private def buildGate(spark: SparkSession, dir: String, kind: String,
      init: String => Unit)(drive: String => Unit): String = {
    val root = freshRoot(spark, kind, dir)
    init(s"$root/state")
    drive(root)
    root
  }

  /** Drive a gate's `waves` through the tier query `start` builds over
    * (input, state root, checkpoint), stopped and restarted after the
    * second wave ([[runWithRestart]]). */
  private def restarted[A: Encoder](spark: SparkSession, waves: Seq[Seq[A]])(
      start: (DataFrame, String, String) => StreamingQuery): String => Unit =
    root => runWithRestart(spark, waves)(
      start(_, s"$root/state", s"$root/ckpt"))

  /** Drive a gate's `batches` through the tier's `processBatch` (batch
    * ids 0, 1, …), then run `repair` on the state and persist its
    * one-row report to `<root>/report` — the builder runs once per JVM
    * and the repair mutates the root, so the gate reads the FIRST pass's
    * counts (a second pass is a no-op by the idempotence contract). */
  private def repaired(batches: Seq[DataFrame])(
      process: (DataFrame, Long, String) => Unit)(
      repair: String => DataFrame): String => Unit = root => {
    batches.zipWithIndex.foreach { case (b, i) =>
      process(b, i.toLong, s"$root/state")
    }
    repair(s"$root/state").write.mode("overwrite").parquet(s"$root/report")
  }

  /** One surface's comparison: rows only in the served state, rows only
    * in the twin, and the served row count. */
  private final case class Diff(onlyLive: Long, onlyTwin: Long, n: Long) {
    def agree: Boolean = onlyLive == 0L && onlyTwin == 0L
  }

  /** A runnable gate's served state against its batch twin: kept state
    * over the arrival slice, arrival-slice pairs, labels, and the served
    * cluster count. */
  private final case class Served(kept: Diff, pairs: Diff, labels: Diff,
      nClusters: Long) {
    def agree: Boolean = kept.agree && pairs.agree && labels.agree
  }

  /** Compare the served state of `tier` at `<root>/state` with its batch
    * twin through [[diffCounts]]: the kept state with id ≥ `splitId` in
    * the columns of `twinKept` (not compared when None), the (id_a, id_b)
    * pairs matching `pairSlice`, and the latest labels; plus the served
    * cluster count. Frees every snapshot it takes and the twin's frames. */
  private def compareServed(spark: SparkSession, tier: IndexTier,
      root: String, splitId: Long, pairSlice: Column,
      twinKept: Option[DataFrame], twinPairs: DataFrame,
      twinLabels: DataFrame): Served = {
    val state = s"$root/state"
    def diff(live: DataFrame, twin: DataFrame): Diff = {
      val (onlyLive, onlyTwin, n, _) = diffCounts(live, twin)
      Diff(onlyLive, onlyTwin, n)
    }
    val kept = twinKept.map(t => tier.keptState(spark, state)
      .filter(col(tier.idCol) >= splitId)
      .select(t.columns.toSeq.map(col): _*).localCheckpoint(true))
    // the pair state also carries the standing corpus's batch=-1 table
    // (retire's raw material); the live-pair surface is the arrival slice
    val pairs = tier.livePairs(spark, state).filter(pairSlice)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val labels = tier.labels(spark, state).localCheckpoint(true)
    val served = Served(
      kept.zip(twinKept).map { case (l, t) => diff(l, t) }
        .getOrElse(Diff(0L, 0L, 0L)),
      diff(pairs, twinPairs), diff(labels, twinLabels),
      labels.select(col("cluster_id")).distinct().count())
    (kept.toSeq ++ twinKept ++ Seq(pairs, labels, twinPairs, twinLabels))
      .foreach(graft.Snap.free(_))
    served
  }

  /** A decontamination gate's row: post-repair pair/label state vs the
    * twin, the persisted report's `n_dropped` and `hotCol`, and a verdict
    * that also requires real repair work (dropped pairs, hot keys) and
    * surviving pairs. */
  private def repairVerdict(spark: SparkSession, root: String, s: Served,
      hotCol: String): DataFrame = {
    val report = spark.read.parquet(s"$root/report").head()
    val hot = report.getAs[Long](hotCol)
    val nDropped = report.getAs[Long]("n_dropped")
    oneRow(spark, "n_pairs_after" -> s.pairs.n, "n_dropped" -> nDropped,
      hotCol -> hot, "n_clusters" -> s.nClusters,
      "n_only_live" -> (s.pairs.onlyLive + s.labels.onlyLive),
      "n_only_batch" -> (s.pairs.onlyTwin + s.labels.onlyTwin),
      "parity_ok" -> (s.agree && nDropped > 0L && hot > 0L &&
        s.pairs.n > 0L))
  }

  /** A text gate's duplicate-flood fixture: the documents above the 3/5
    * split arrive at one event per id-minute, and every `mod`-th arrival
    * re-sends the corpus-minimum document's text byte for byte. Returns
    * (split id, arrivals in id order, the rewritten documents table). */
  private def dupFloodDocs(spark: SparkSession, dir: String, mod: Long,
      harness: String): (Long, Array[DocumentStream.DocTsIn], DataFrame) = {
    val all = collectParityDocs(spark, dir, harness)
    require(all.nonEmpty, s"no documents in $dir")
    val splitId = (all.iterator.map(_.doc_id).max + 1L) * 3L / 5L
    val dupText = all.minBy(_.doc_id).text
    val arrDocs = all.filter(_.doc_id >= splitId).map(d =>
      DocumentStream.DocTsIn(d.doc_id, T0Ms + d.doc_id * 60000L,
        if (d.doc_id % mod == 0) dupText else d.text))
    require(arrDocs.nonEmpty && arrDocs.length < all.length,
      "fixture too small to split into history + arrivals")
    val documents = graft.Tables.documents(spark, dir)
      .withColumn("text",
        when(col("doc_id") >= splitId && col("doc_id") % mod === 0,
          lit(dupText)).otherwise(col("text")))
    (splitId, arrDocs, documents)
  }

  /** Initialize a text gate's root from `history`: its MinHash pair
    * table and their connected components as the standing state. */
  private def initDocRoot(spark: SparkSession, root: String,
      history: DataFrame): Unit = {
    val histPairs = graft.ops.Dedup.minHashPairs(history)
      .localCheckpoint(true)
    DocumentStream.init(spark, root, history, histPairs,
      graft.ops.Dedup.nearDupClusters(history, histPairs))
    graft.Snap.free(histPairs)
  }

  /** Streaming↔batch parity for the MinHash-LSH near-dup tier: the
    * documents table replays through [[StatefulOps.lshCandidatesStream]]
    * in doc_id-ordered micro-batches, and BOTH layers must match batch —
    *
    *  1. the emitted CANDIDATE set must equal the batch band-join's
    *     candidate set (a pair collides iff both members share a band
    *     bucket, independent of arrival order/batch boundaries — the
    *     stateful bucket invariant); and
    *  2. the candidates pushed through the SHARED exact-jaccard
    *     verification ([[graft.ops.Dedup.jaccardVerify]]) must equal
    *     [[graft.ops.Dedup.minHashPairs]]' final thresholded pairs.
    *
    * Output: one row (n_batch, n_stream, n_only_batch, n_only_stream,
    * parity_ok) over the VERIFIED pairs, with candidate-set equality
    * folded into parity_ok; the oracle recomputes n_batch with its
    * HUGEINT MinHash replica and asserts (n, n, 0, 0, true). */
  def minhashParity(spark: SparkSession, dir: String,
      nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val docs = collectParityDocs(spark, dir, "minhashParity")
    require(docs.nonEmpty, s"no documents in $dir")
    val emitted = replay(spark, "parity_minhash",
        wavesOf(docs.toSeq, nBatches))(ds => StatefulOps.lshCandidatesStream(
        graft.ops.Dedup.minHashBanded(ds.toDF()).as[StatefulOps.BandIn]).toDF())

    val documents = graft.Tables.documents(spark, dir)
    // a pair may emerge from several band buckets → distinct, like batch
    val streamCand = emitted
      .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
    val batchCand = bandCandidates(graft.ops.Dedup.minHashBanded(documents))
      .localCheckpoint(true)
    val (cOnlyB, cOnlyS, _, _) = diffCounts(batchCand, streamCand)

    val streamed = graft.ops.Dedup.jaccardVerify(streamCand, documents)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val batch = graft.ops.Dedup.minHashPairs(documents)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    setParity(spark, batch, streamed, extraOk = cOnlyB == 0L && cOnlyS == 0L)
  }

  /** Streaming↔batch parity for the BOUNDED-HORIZON MinHash-LSH tier
    * ([[StatefulOps.lshCandidatesStreamTtl]]): documents get a
    * deterministic event time (2024-01-01 + doc_id MINUTES — a pure
    * function of doc_id, so the DuckDB oracle can state the time window
    * as an id-distance predicate) and replay chronologically; the
    * streamed candidates must equal the batch band-join RESTRICTED to
    * pairs within `horizonMinutes` of each other, and the shared
    * jaccard verify must land on [[graft.ops.Dedup.minHashPairs]]'
    * pair set under the same restriction. `n_beyond_horizon` counts the
    * full batch pairs the horizon excludes — stated exactly by the
    * oracle, so a horizon that never bites (a vacuous TTL gate) fails
    * the row rather than silently passing. */
  def minhashTtlParity(spark: SparkSession, dir: String,
      horizonMinutes: Int = 240, nBatches: Int = 4): DataFrame =
    ttlParityReplay(spark, dir, horizonMinutes, nBatches,
      "parity_minhash_ttl", identity, requireLate = false)

  /** [[minhashTtlParity]] under WATERMARK-ADMISSIBLE LATE DELIVERY — the
    * end-to-end gate for the bounded-lateness semantics the pure
    * transition is property-tested for (`LshBucketProps` timed+late):
    * arrivals replay in a deterministic out-of-order permutation
    * (shuffled within 8-minute blocks by the splitmix64 finalizer —
    * max displacement 7 minutes, inside the operator's 10-minute
    * watermark, so nothing is dropped as too-late while genuine
    * inversions reach the state machine in every batch), and the
    * emitted pair set must STILL equal the time-windowed batch truth.
    * The harness additionally requires that inversions actually
    * occurred — a permutation that degenerated to chronological order
    * would gate nothing. Same output shape and oracle as the
    * chronological row. */
  def minhashTtlLateParity(spark: SparkSession, dir: String,
      horizonMinutes: Int = 240, nBatches: Int = 4): DataFrame =
    ttlParityReplay(spark, dir, horizonMinutes, nBatches,
      "parity_minhash_ttl_late",
      ds => ds.sortBy(d =>
        (d.doc_id / 8, graft.functions.SimHash64.mix64(d.doc_id))),
      requireLate = true)

  /** The documents' MinHash band rows with each doc at T0 + doc_id
    * minutes — the TTL stream's input shape. */
  private def bandedAtT0(spark: SparkSession,
      docs: DataFrame): Dataset[StatefulOps.BandTsIn] = {
    import spark.implicits._
    graft.ops.Dedup.minHashBanded(docs)
      .withColumn("ts", timestamp_millis(lit(T0Ms) + col("doc_id") * 60000L))
      .select(col("doc_id"), col("ts"), col("band"), col("bh"))
      .as[StatefulOps.BandTsIn]
  }

  /** The live-pipeline BATCH TWIN — the all-at-once truth every composed
    * text gate pins against, defined ONCE so the hand-driven gate
    * ([[livePipelineParity]]), the runnable-pipeline gate
    * ([[restartPipelineParity]]) and DocumentStreamSpec cannot drift
    * apart: kept arrivals = min doc_id per text unseen in history; live
    * pairs = the full MinHash pair set restricted to kept arrivals
    * within the id-distance horizon (ts = t0 + doc_id minutes, so the
    * horizon is id arithmetic); labels = CC over (history pairs ∪ live
    * pairs) on (history ∪ kept). Returns (keptBatch, livePairsB,
    * batchLabels), each snapshotted. */
  private[graft] def livePipelineBatchTwin(documents: DataFrame,
      history: DataFrame, splitId: Long, horizonMs: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val arrivals = documents.filter(col("doc_id") >= splitId)
    val keptBatch = arrivals
      .join(history.select(col("text")), Seq("text"), "left_anti")
      .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).localCheckpoint(true)
    val allPairs = graft.ops.Dedup.minHashPairs(documents)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val histPairs = allPairs
      .filter(col("id_a") < splitId && col("id_b") < splitId)
    val livePairsB = withinHorizon(allPairs
        .filter(col("id_a") >= splitId && col("id_b") >= splitId), horizonMs)
      .join(keptBatch.select(col("doc_id").as("id_a")), "id_a")
      .join(keptBatch.select(col("doc_id").as("id_b")), "id_b")
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val batchLabels = graft.ops.Dedup.nearDupClusters(
      history.select(col("doc_id")).unionByName(keptBatch),
      histPairs.unionByName(livePairsB)).localCheckpoint(true)
    graft.Snap.free(allPairs) // consumers are checkpointed
    (keptBatch, livePairsB, batchLabels)
  }

  /** The COMPOSED live-dedup pipeline, gated end to end — the three
    * tiers a 100 TB always-on corpus runs as ONE flow, replayed over a
    * fixture split into deep history and arrivals:
    *
    *  1. EXACT tier: each arrival wave screens against accumulated
    *     history through [[graft.ops.Dedup.historyDedupBloom]] (bloom
    *     fast-path + exact anti-join), then within-wave exact dedup
    *     (min doc_id per text); survivors append to history.
    *  2. NEAR-DUP tier: every arrival (survivor or not — the stream sees
    *     traffic before the exact tier's verdict lands in history)
    *     rides [[StatefulOps.lshCandidatesStreamTtl]]; candidates pass
    *     the SHARED [[graft.ops.Dedup.jaccardVerify]], then restrict to
    *     kept endpoints.
    *  3. LABEL tier: the verified live pairs merge into the PRE-EXISTING
    *     history labeling via [[graft.ops.Dedup.mergeClusterDelta]] —
    *     cost ∝ delta, the incremental-CC path.
    *
    * The batch twin recomputes everything at once: kept arrivals = min
    * doc_id per unseen text; labels = full CC over (history pairs ∪
    * kept-arrival pairs within the horizon). parity_ok folds THREE
    * set-equalities: survivor set, streamed candidate set (vs the
    * horizon-restricted band join over arrivals), and the final label
    * table. Output: (n_kept, n_dropped, n_pairs_live, n_clusters,
    * n_only_live, n_only_batch, parity_ok) — every count independently
    * stated by the DuckDB oracle (HUGEINT MinHash replica + recursive
    * closure). History/arrival split at (max(doc_id)+1)·3/5; ts =
    * 2024-01-01 + doc_id minutes, so the horizon is an id-distance
    * predicate both engines state identically.
    *
    * The fixture carries no natural byte-identical texts, so the exact
    * tier would be vacuous on raw arrivals; arrivals with
    * doc_id % 11 == 0 are deterministically REPLACED with the
    * corpus-minimum document's text (duplicate traffic re-sending an
    * old document — the shape the bloom tier exists for), the oracle
    * applies the same rewrite, and parity_ok requires n_dropped > 0 so
    * the tier can never silently stop firing. */
  def livePipelineParity(spark: SparkSession, dir: String,
      horizonMinutes: Int = 60, nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val horizonMs = horizonMinutes * 60000L

    // the corpus AS THE PIPELINE SEES IT: history untouched, duplicate
    // arrivals substituted — every batch-twin frame reads this
    val (splitId, arrTs, documents) =
      dupFloodDocs(spark, dir, 11L, "livePipelineParity")
    val arrDocs = arrTs.map(d => StatefulOps.DocIn(d.doc_id, d.text))
    val history = documents.filter(col("doc_id") < splitId)

    // pre-existing labeling over history — what a previous corpus
    // version's batch near-dup pass persisted
    val baseLabels = graft.ops.Dedup.nearDupClusters(history,
      graft.ops.Dedup.minHashPairs(history)).localCheckpoint(true)

    // ── tier 1 (exact) + tier 2 (stream LSH) over the SAME waves: the
    // near-dup tier sees the raw wave, then the exact tier screens it
    // against history (bloom) and within the wave ──
    var histTexts = history.select(col("doc_id"), col("text"))
    val keptIds = Seq.newBuilder[Long]
    val emitted = replay(spark, "parity_live_pipeline",
        wavesOf(arrDocs.toSeq, nBatches), after = (wave: Seq[StatefulOps.DocIn]) => {
          val waveDf = wave.toDF("doc_id", "text")
          val survIds = graft.ops.Dedup
            .historyDedupBloom(spark, waveDf, histTexts)
            .groupBy(col("text_hash")).agg(min(col("doc_id")).as("doc_id"))
            .select(col("doc_id"))
            .collect().map(_.getLong(0)) // wave-bounded
          keptIds ++= survIds
          val prevHist = histTexts
          histTexts = histTexts.unionByName(
            waveDf.filter(col("doc_id").isin(survIds: _*))).localCheckpoint(true)
          graft.Snap.free(prevHist) // superseded snapshot
        })(ds => StatefulOps.lshCandidatesStreamTtl(
          bandedAtT0(spark, ds.toDF()), horizonMs).toDF())

    val keptArr = keptIds.result().toDF("doc_id").localCheckpoint(true)

    // verified live pairs, restricted to kept endpoints
    val streamCand = emitted
      .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
    val livePairs = graft.ops.Dedup.jaccardVerify(streamCand, documents)
      .join(keptArr.select(col("doc_id").as("id_a")), "id_a")
      .join(keptArr.select(col("doc_id").as("id_b")), "id_b")
      .select(col("id_a"), col("id_b")).localCheckpoint(true)

    // tier 3: incremental label merge
    val liveLabels = graft.ops.Dedup.mergeClusterDelta(baseLabels, keptArr,
      livePairs) // returned checkpointed (mergeClusterDelta contract)

    // ── batch twin, computed all-at-once (the SHARED definition) ──
    val (keptBatch, twinPairs, batchLabels) =
      livePipelineBatchTwin(documents, history, splitId, horizonMs)

    // candidate-set parity: streamed candidates vs the horizon-restricted
    // band join over arrivals (pre-verify, pre-keep — tier 2's raw truth)
    val batchCand = withinHorizon(bandCandidates(graft.ops.Dedup.minHashBanded(
        documents.filter(col("doc_id") >= splitId))), horizonMs)
      .localCheckpoint(true)
    val (cOnlyB, cOnlyS, _, _) = diffCounts(batchCand, streamCand)
    val (kOnlyL, kOnlyB, nKeptArr, _) = diffCounts(keptArr, keptBatch)
    val (onlyLive, onlyBatch, nKept, _) =
      diffCounts(liveLabels, batchLabels)
    val nDropped = arrDocs.length.toLong - nKeptArr
    val result = oneRow(spark, "n_kept" -> nKept, "n_dropped" -> nDropped,
      "n_pairs_live" -> livePairs.count(),
      "n_clusters" -> liveLabels.select(col("cluster_id")).distinct().count(),
      "n_only_live" -> onlyLive, "n_only_batch" -> onlyBatch,
      "parity_ok" -> (cOnlyB == 0L && cOnlyS == 0L && kOnlyL == 0L &&
        kOnlyB == 0L && onlyLive == 0L && onlyBatch == 0L &&
        nDropped > 0L)) // the exact tier must actually have fired
    Seq(histTexts, keptArr, streamCand, livePairs, liveLabels, batchCand,
      keptBatch, twinPairs, batchLabels, baseLabels)
      .foreach(graft.Snap.free(_))
    result
  }

  /** [[livePipelineParity]]'s scenario driven through the RUNNABLE
    * pipeline instead of driver waves: the arrivals stream through
    * [[DocumentStream]] — one checkpointed foreachBatch query composing
    * the same three tiers — with a STOP after the second micro-batch and
    * a RESTART from the checkpoint, so the row also gates crash-recovery
    * (batch-keyed idempotent state writes; reads pinned strictly before
    * the current batch). Same output columns and the SAME DuckDB oracle
    * as the hand-driven gate: the streamed-vs-twin equalities fold into
    * parity_ok, and every count is independently restated by the
    * recursive-closure replica. DocumentStream's horizon predicate is
    * the symmetric band join the hand-driven gate already proved equal
    * to the TTL stream's emission set, so the two gates pin the same
    * truth through two different engines.
    *
    * The pipeline runs with `consolidateEvery = 2`, so the FIRST batch
    * after the restart is a consolidation batch: the row additionally
    * gates that folding the committed state directories (the MergeTree
    * background-merge analogue) straddled by a crash/restart changes no
    * served row — the fold is read-union-preserving and its two-phase
    * rename protocol recovers idempotently. */
  def restartPipelineParity(spark: SparkSession, dir: String,
      horizonMinutes: Int = 60, nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val horizonMs = horizonMinutes * 60000L
    val (splitId, arrDocs, documents) =
      dupFloodDocs(spark, dir, 11L, "restartPipelineParity")
    val history = documents.filter(col("doc_id") < splitId)
    val root = buildGate(spark, dir, "docstream_gate",
        initDocRoot(spark, _, history))(
      restarted(spark, wavesOf(arrDocs.toSeq, nBatches))(
        DocumentStream.start(_, _, _, horizonMs, consolidateEvery = 2)))

    // batch twin: the SHARED definition (cannot drift from the
    // hand-driven gate's)
    val (keptBatch, livePairsB, batchLabels) =
      livePipelineBatchTwin(documents, history, splitId, horizonMs)
    val s = compareServed(spark, DocumentStream, root, splitId,
      col("id_a") >= splitId, Some(keptBatch), livePairsB, batchLabels)
    val nDropped = arrDocs.length.toLong - s.kept.n
    oneRow(spark, "n_kept" -> s.labels.n, "n_dropped" -> nDropped,
      "n_pairs_live" -> s.pairs.n, "n_clusters" -> s.nClusters,
      "n_only_live" -> s.labels.onlyLive, "n_only_batch" -> s.labels.onlyTwin,
      "parity_ok" -> (s.agree && nDropped > 0L))
  }

  /** The CAPPED gate's scenario constants, shared with its DuckDB
    * oracle: every `CappedFloodMod`-th arrival re-sends the corpus-
    * minimum document (byte-identical duplicate traffic — a template
    * flood), and the live pipeline runs with
    * `hotBucketCap = CappedHotBucketCap`. The mod/cap pair is chosen so
    * the per-wave hot set PROVABLY equals the global one on the fixture
    * (what lets one batch-twin/oracle definition pin a wave-replayed
    * stream): each wave of ~n/4 id-consecutive arrivals carries ≥
    * wave/3 − 1 flood copies — above the cap from the wave's own rows
    * alone, before any state rows count — so every flood bucket is hot
    * at EVERY wave exactly as it is globally; and organic buckets sit
    * far under the cap globally (measured max occupancy 2 at sf0.01),
    * so no prefix can make one hot. A fixture regeneration that broke
    * either margin would turn the gate red loudly (hash set-equality),
    * not silently pass. */
  val CappedFloodMod = 3L
  val CappedHotBucketCap = 12

  /** The capped scenario's batch twin: the GLOBAL-occupancy capped pair
    * set over arrivals — [[graft.ops.Dedup.minHashPairsCapped]]'s rule
    * (bucket occupancy over ALL arrival band rows > cap → excluded)
    * composed with the live tiers' restrictions (two-sided horizon on
    * event time = id minutes; kept endpoints; shared exact-jaccard
    * verify) — equal to the per-wave capped stream under the fixture
    * margins documented at [[CappedFloodMod]]. */
  private[graft] def cappedPipelineBatchTwin(documents: DataFrame,
      history: DataFrame, splitId: Long, horizonMs: Long, cap: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val arrivals = documents.filter(col("doc_id") >= splitId)
    val keptBatch = arrivals
      .join(history.select(col("text")), Seq("text"), "left_anti")
      .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).localCheckpoint(true)
    val bandedArr = graft.ops.Dedup.minHashBanded(
        arrivals.select(col("doc_id"), col("text")))
      .localCheckpoint(true)
    val hot = bandedArr.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") > cap)
      .select(col("band"), col("bh"))
    val cand = withinHorizon(bandCandidates(
        bandedArr.join(broadcast(hot), Seq("band", "bh"), "left_anti")),
        horizonMs)
      .join(keptBatch.select(col("doc_id").as("id_a")), "id_a")
      .join(keptBatch.select(col("doc_id").as("id_b")), "id_b")
      .select(col("id_a"), col("id_b"))
    val livePairsC = graft.ops.Dedup.jaccardVerify(cand,
        arrivals.select(col("doc_id"), col("text")))
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val histPairs = graft.ops.Dedup.minHashPairs(history)
      .select(col("id_a"), col("id_b"))
    val batchLabels = graft.ops.Dedup.nearDupClusters(
      history.select(col("doc_id")).unionByName(keptBatch),
      histPairs.unionByName(livePairsC)).localCheckpoint(true)
    graft.Snap.free(bandedArr)
    (keptBatch, livePairsC, batchLabels)
  }

  /** Build the CAPPED runnable pipeline's state (flood-mod-3 arrivals,
    * `hotBucketCap` on, consolidation straddled by a mid-run restart —
    * the [[restartPipelineParity]] protocol) and return its state root.
    * Built once per JVM by the caller (ManagedTable.once) and SERVED by
    * both gated rows: q_docstream_capped_parity (final state vs the
    * capped batch twin) and q_docstream_gauge (the last batch's
    * health-ledger row, hash-checked against the DuckDB replica). */
  def buildCappedPipeline(spark: SparkSession, dir: String,
      horizonMinutes: Int = 60, nBatches: Int = 4): String = {
    import spark.implicits._
    val (splitId, arrDocs, documents) =
      dupFloodDocs(spark, dir, CappedFloodMod, "cappedRestartParity")
    buildGate(spark, dir, "docstream_capped", initDocRoot(spark, _,
        documents.filter(col("doc_id") < splitId)))(
      restarted(spark, wavesOf(arrDocs.toSeq, nBatches))(
        DocumentStream.start(_, _, _, horizonMinutes * 60000L,
          consolidateEvery = 2, hotBucketCap = CappedHotBucketCap)))
  }

  /** The CAPPED runnable pipeline gated end to end over the state
    * [[buildCappedPipeline]] left behind: final kept/pair/label state
    * must equal [[cappedPipelineBatchTwin]], the exact tier must have
    * dropped the byte-identical flood, and the inline health ledger must
    * show the cap INTERVENING on every batch (hot_buckets > 0 — the
    * flood is present in every wave by construction). Output counts are
    * restated independently by the DuckDB oracle (HUGEINT MinHash
    * replica with the same global occupancy cut + recursive closure). */
  def cappedRestartParity(spark: SparkSession, dir: String, root: String,
      horizonMinutes: Int = 60, nBatches: Int = 4): DataFrame = {
    val (splitId, arrDocs, documents) =
      dupFloodDocs(spark, dir, CappedFloodMod, "cappedRestartParity")
    val nWaves = wavesOf(arrDocs.toSeq, nBatches).length
    val (keptBatch, livePairsB, batchLabels) = cappedPipelineBatchTwin(
      documents, documents.filter(col("doc_id") < splitId), splitId,
      horizonMinutes * 60000L, CappedHotBucketCap)
    val s = compareServed(spark, DocumentStream, root, splitId,
      col("id_a") >= splitId, Some(keptBatch), livePairsB, batchLabels)
    val nDropped = arrDocs.length.toLong - s.kept.n
    val nHotBatches = DocumentStream.gaugeRows(spark, s"$root/state")
      .filter(col("hot_buckets") > 0).count()
    oneRow(spark, "n_kept" -> s.labels.n, "n_dropped" -> nDropped,
      "n_pairs_live" -> s.pairs.n, "n_clusters" -> s.nClusters,
      "n_hot_batches" -> nHotBatches, "n_only_live" -> s.labels.onlyLive,
      "n_only_batch" -> s.labels.onlyTwin,
      "parity_ok" -> (s.agree && nDropped > 0L &&
        nHotBatches == nWaves.toLong))
  }

  /** The VECTOR decontamination fixture: every [[EmbDecontamFloodMod]]-th
    * ARRIVAL's embedding rewrites to the corpus-minimum vector with ONE
    * coordinate (vec_id % dim) sign-flipped — a mode-collapse flood in
    * distinct bytes (the exact tier keeps the variants; coordinate
    * collisions beyond dim byte-dup and dedup — both modeled), with
    * every synthesized value EXACTLY representable so the DuckDB
    * replica holds bit-identical floats. */
  val EmbDecontamFloodMod = 3L

  private def embDecontamArrivals(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, Long) = {
    val emb = graft.Tables.embeddings(spark, dir)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val h = (maxId + 1L) * 3L / 5L
    val minId = emb.agg(min(col("vec_id"))).head().getLong(0)
    val mArr = emb.filter(col("vec_id") === minId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val mLit = array(mArr.map(v => lit(v)): _*)
    val flood = transform(mLit, (x, j) =>
      when(j.cast("long") === col("vec_id") % mArr.length.toLong, -x)
        .otherwise(x))
    val arrivals = emb.filter(col("vec_id") >= h)
      .withColumn("embedding",
        when(col("vec_id") % EmbDecontamFloodMod === 0, flood)
          .otherwise(col("embedding")))
    (emb.filter(col("vec_id") < h), arrivals, h)
  }

  /** The repair cap, DERIVED (both here and in the DuckDB replica, not
    * assumed): max standing occupancy over clusters with NO flood
    * member — making exactly the flood-inflated clusters hot. The
    * degenerate case (a flood cluster not above every pure-organic one)
    * fails loudly. */
  private def embDecontamCap(spark: SparkSession, stateRoot: String,
      h: Long): Int = {
    val assigned = EmbeddingStream.assignedState(spark, stateRoot)
      .select(col("vec_id"), col("cluster"))
    val fcl = assigned.filter(col("vec_id") >= h &&
        col("vec_id") % EmbDecontamFloodMod === 0)
      .select(col("cluster")).distinct()
    val occ = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    val cap = occ.join(fcl, Seq("cluster"), "left_anti")
      .agg(max(col("c"))).head().getLong(0)
    val floodMax = occ.join(fcl, Seq("cluster"), "left_semi")
      .agg(max(col("c"))).head().getLong(0)
    graft.Snap.free(occ)
    require(floodMax > cap,
      s"vector decontam fixture degenerate: flood max $floodMax <= cap $cap")
    cap.toInt
  }

  /** Build the VECTOR decontamination gate's state: the sign-flip flood
    * run UNCAPPED through one [[EmbeddingStream.processBatch]] over the
    * corpus-initialized root (junk pairs persisted, flood mega-cluster),
    * then [[EmbeddingStream.decontaminate]] at the derived corpus cap. */
  def buildDecontamEmbeddingPipeline(spark: SparkSession,
      dir: String): String = {
    val (base, arrivals, h) = embDecontamArrivals(spark, dir)
    buildGate(spark, dir, "embstream_decontam",
        EmbeddingStream.initFromCorpus(spark, _, base, refDelta = arrivals))(
      repaired(Seq(arrivals.select(col("vec_id"), col("embedding"))))(
        EmbeddingStream.processBatch(_, _, _))( // UNCAPPED — the incident
        state => EmbeddingStream.decontaminate(spark, state,
          embDecontamCap(spark, state, h))))
  }

  /** The VECTOR decontamination gate: post-repair pair/label state must
    * equal the cool-cluster policy truth over the standing assignment
    * (the quantizer is unrotated, so this IS the capped batch
    * operator's semantics), and the report must show real repair work.
    * Counts restated by the bit-exact IVF DuckDB replica under the
    * same sign-flip rewrite. */
  def embDecontamParity(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val maxId = graft.Tables.embeddings(spark, dir)
      .agg(max(col("vec_id"))).head().getLong(0)
    val stateRoot = s"$root/state"
    val cap = embDecontamCap(spark, stateRoot, (maxId + 1L) * 3L / 5L)
    val assigned = EmbeddingStream.assignedState(spark, stateRoot)
      .localCheckpoint(true)
    val hot = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > cap).select(col("cluster"))
    val cool = assigned.join(broadcast(hot), Seq("cluster"), "left_anti")
    val twinPairs = graft.ops.Similarity
      .semanticDedupUnordered(cool, 0.4)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val twinLabels = graft.ops.Dedup.nearDupClusters(
      assigned.select(col("vec_id").as("doc_id")), twinPairs)
      .localCheckpoint(true)
    val s = compareServed(spark, EmbeddingStream, root, 0L, lit(true), None,
      twinPairs, twinLabels)
    graft.Snap.free(assigned)
    repairVerdict(spark, root, s, "hot_clusters")
  }

  /** The TEXT decontamination fixture's flood rewrite: every
    * [[CappedFloodMod]]-th arrival sends the fixed template
    * ([[graft.OracleSql.CappedFloodTemplate]] — shared verbatim with
    * the DuckDB replica) plus a per-document suffix token. NEAR-dup
    * traffic, deliberately not byte-identical: the exact tier KEEPS
    * every variant (distinct texts), so an uncapped run persists the
    * flood's verified junk pairs and merges the family into a
    * mega-cluster — the damage [[DocumentStream.decontaminate]] exists
    * to repair, where the capped gate's byte-identical flood would die
    * at the exact tier and leave nothing to decontaminate. Two variants
    * share 13 of their ~14 word-shingles (one suffix shingle each), so
    * within-family Jaccard ≈ 13/15 — comfortably verified — while
    * their band signatures collide on the template's (hot) buckets. */
  private def decontamFloodText(docId: Long): String =
    s"${graft.OracleSql.CappedFloodTemplate} v$docId"

  /** The decontamination fixture's PLANTED organic near-dup pair: the
    * first two non-flood arrivals rewrite to "version one"/"version
    * two" variants of a fixed out-of-corpus text — a kept, verified,
    * cool-bucket pair at ANY fixture SF, so the gate's "organic pairs
    * survive the repair untouched" half can never pass vacuously (at
    * sf0.001 the natural corpus has no organic arrival near-dups and
    * every pre-repair pair is flood-borne). Shared verbatim with the
    * DuckDB replica. */
  private[streaming] val DecontamOrganicBase =
    graft.OracleSql.DecontamOrganicBase

  /** The decontamination corpus: the near-dup template flood on every
    * [[CappedFloodMod]]-th arrival plus the planted organic pair on the
    * first two non-flood arrivals. Returns (split id, arrivals in id
    * order at one event per id-minute, the rewritten documents table). */
  private def decontamDocs(spark: SparkSession, dir: String)
      : (Long, Array[DocumentStream.DocTsIn], DataFrame) = {
    val all = collectParityDocs(spark, dir, "decontamParity")
    require(all.nonEmpty, s"no documents in $dir")
    val splitId = (all.iterator.map(_.doc_id).max + 1L) * 3L / 5L
    val org = all.map(_.doc_id).filter(id =>
      id >= splitId && id % CappedFloodMod != 0).sorted
    require(org.length >= 2, "fixture too small for the organic pair")
    val (o1, o2) = (org(0), org(1))
    val arrDocs = all.filter(_.doc_id >= splitId).map { d =>
      val text =
        if (d.doc_id % CappedFloodMod == 0) decontamFloodText(d.doc_id)
        else if (d.doc_id == o1) s"$DecontamOrganicBase version one"
        else if (d.doc_id == o2) s"$DecontamOrganicBase version two"
        else d.text
      DocumentStream.DocTsIn(d.doc_id, T0Ms + d.doc_id * 60000L, text)
    }
    require(arrDocs.exists(_.doc_id % CappedFloodMod == 0),
      "decontam scenario vacuous: no flood arrival")
    val documents = graft.Tables.documents(spark, dir)
      .withColumn("text",
        when(col("doc_id") >= splitId &&
            col("doc_id") % CappedFloodMod === 0,
          concat(lit(s"${graft.OracleSql.CappedFloodTemplate} v"),
            col("doc_id").cast("string")))
        .when(col("doc_id") === o1,
          lit(s"$DecontamOrganicBase version one"))
        .when(col("doc_id") === o2,
          lit(s"$DecontamOrganicBase version two"))
        .otherwise(col("text")))
    (splitId, arrDocs, documents)
  }

  /** The decontamination gate's corpus-level cap: scaled to the arrival
    * count so the flood family (every 3rd arrival — a third of the
    * standing band rows per template bucket) is hot at ANY fixture SF
    * while organic buckets (measured max occupancy 2) never are.
    * Shared closed-form with the DuckDB oracle. */
  def decontamHotBucketCap(nArr: Long): Int =
    math.max(4L, nArr / 16L).toInt

  /** Build the TEXT decontamination gate's state: the near-dup template
    * flood run UNCAPPED through [[DocumentStream.processBatch]] (junk
    * pairs persisted, mega-cluster in the labels), then
    * [[DocumentStream.decontaminate]] at [[decontamHotBucketCap]]. No
    * consolidation: the band TTL fold would age early band rows out
    * mid-run and make the standing occupancy a function of fold timing —
    * raw directories keep the occupancy equal to the all-arrivals
    * banding, which is what the closed-form oracle restates (the media
    * builder covers the consolidated-unit rewrite path). */
  def buildDecontamPipeline(spark: SparkSession, dir: String,
      horizonMinutes: Int = 60, nBatches: Int = 4): String = {
    import spark.implicits._
    val horizonMs = horizonMinutes * 60000L
    val (splitId, arrDocs, documents) = decontamDocs(spark, dir)
    buildGate(spark, dir, "docstream_decontam", initDocRoot(spark, _,
        documents.filter(col("doc_id") < splitId)))(
      repaired(wavesOf(arrDocs.toSeq, nBatches).map(_.toDF()))(
        DocumentStream.processBatch(_, _, _, horizonMs,
          hotBucketCap = 0))( // UNCAPPED — the incident
        DocumentStream.decontaminate(spark, _,
          decontamHotBucketCap(arrDocs.length.toLong), horizonMs)))
  }

  /** The TEXT decontamination gate: post-repair pair/label state must
    * equal the GLOBAL-occupancy capped batch twin
    * ([[cappedPipelineBatchTwin]] at [[decontamHotBucketCap]] over the
    * near-dup flood corpus) — the same policy the live cap enforces at
    * arrival, landed retroactively — and the report must show real
    * repair work (hot buckets, dropped pairs). Counts restated by the
    * DuckDB MinHash replica with the same suffix rewrite. */
  def docDecontamParity(spark: SparkSession, dir: String, root: String,
      horizonMinutes: Int = 60): DataFrame = {
    val (splitId, arrDocs, documents) = decontamDocs(spark, dir)
    val (keptBatch, livePairsB, batchLabels) = cappedPipelineBatchTwin(
      documents, documents.filter(col("doc_id") < splitId), splitId,
      horizonMinutes * 60000L, decontamHotBucketCap(arrDocs.length.toLong))
    val s = compareServed(spark, DocumentStream, root, splitId,
      col("id_a") >= splitId, None, livePairsB, batchLabels)
    graft.Snap.free(keptBatch)
    repairVerdict(spark, root, s, "hot_buckets")
  }

  /** Decoded 128-bit pHash fingerprints (doc_id, sh0, sh1) of `media`. */
  private def fingerprints(
      media: Dataset[graft.ops.Multimodal.MediaRow]): DataFrame =
    graft.ops.Multimodal.pHashes(media).filter(_.decoded).toDF()
      .select(col("media_id").as("doc_id"),
        col("ph0").as("sh0"), col("ph1").as("sh1"))

  /** The runnable FINGERPRINT (media) pipeline, gated end to end — the
    * third tier over the shared [[BatchState]]
    * ([[graft.streaming.FingerprintStream]]): the image slice's base
    * corpus holds its persisted fingerprint index / pair table /
    * labeling, arrivals replay in id-ordered waves through the real
    * codec path with a STOP after the second wave and a RESTART from the
    * checkpoint (straddling a consolidation), and arrivals with
    * doc_id % 13 == 0 carry a TRUNCATED payload — the quarantine tier
    * must fire and the ledger must count it. Final index/pair/label
    * state must equal the all-at-once batch twin (fingerprints of every
    * decodable image doc, one banded self-join, one CC) — whose counts
    * the CLOSED-FORM texture oracle restates without decoding a pixel
    * (same-class cliques at hamming 0, the q_phash_pairs truth).
    *
    * This is the gate's ARRIVAL fixture: the image slice above the
    * split, id-sorted, with every 13th arrival's payload truncated (the
    * quarantine scenario). Shared by the builder and the parity row. */
  private def fpArrivalMedia(spark: SparkSession, dir: String,
      splitId: Long): Seq[graft.ops.Multimodal.MediaRow] = {
    val docs = graft.Tables.documents(spark, dir)
    val arr = graft.ops.Multimodal.imagePngMedia(spark,
        docs.filter(col("doc_id") >= splitId))
      .collect().sortBy(_.media_id)
      .map(m => if (m.media_id % 13 == 0)
        m.copy(payload = m.payload.take(10)) else m)
      .toSeq
    require(arr.nonEmpty, "fixture too small to split")
    require(arr.exists(_.media_id % 13 == 0),
      "quarantine scenario vacuous: no corrupt arrival")
    arr
  }

  private def fpBaseFps(spark: SparkSession, dir: String,
      splitId: Long): DataFrame =
    fingerprints(graft.ops.Multimodal.imagePngMedia(spark,
      graft.Tables.documents(spark, dir).filter(col("doc_id") < splitId)))

  /** Initialize a media gate's root: the base fingerprint index, its
    * pair table and their connected components as the standing state. */
  private def initFpRoot(spark: SparkSession, dir: String, splitId: Long,
      root: String): Unit = {
    val baseFps = fpBaseFps(spark, dir, splitId).localCheckpoint(true)
    val basePairs = graft.ops.Dedup.hammingPairs128(baseFps, 3)
      .localCheckpoint(true)
    FingerprintStream.init(spark, root, baseFps, basePairs,
      graft.ops.Dedup.nearDupClusters(baseFps.select(col("doc_id")),
        basePairs.select(col("id_a"), col("id_b"))))
    Seq(baseFps, basePairs).foreach(graft.Snap.free(_))
  }

  private def fpSplitId(spark: SparkSession, dir: String): Long = {
    val maxId = graft.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0)
    (maxId + 1L) * 3L / 5L
  }

  /** Build a media restart gate's state: `arrivals` in id-ordered waves
    * through the real codec path under `hotBucketCap`, restart
    * straddling a consolidation. */
  private def buildFpGate(spark: SparkSession, dir: String, kind: String,
      splitId: Long, arrivals: Seq[graft.ops.Multimodal.MediaRow],
      nBatches: Int, hotBucketCap: Int): String = {
    import spark.implicits._
    buildGate(spark, dir, kind, initFpRoot(spark, dir, splitId, _))(
      restarted(spark, wavesOf(arrivals, nBatches))(
        FingerprintStream.start(_, _, _, maxHamming = 3,
          consolidateEvery = 2, hotBucketCap = hotBucketCap)))
  }

  /** Build the media pipeline's gate state (waves through the real codec
    * path, corrupt %13 arrivals, restart straddling a consolidation) and
    * return its root — built once per JVM by the caller
    * (ManagedTable.once) and SERVED by q_fpstream_restart_parity and
    * q_fpstream_gauge. */
  def buildFingerprintPipeline(spark: SparkSession, dir: String,
      nBatches: Int = 4): String = {
    val splitId = fpSplitId(spark, dir)
    buildFpGate(spark, dir, "fpstream_gate", splitId,
      fpArrivalMedia(spark, dir, splitId), nBatches, hotBucketCap = 0)
  }

  def fingerprintRestartParity(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    import spark.implicits._
    val splitId = fpSplitId(spark, dir)
    // ── batch twin: every decodable image doc at once ──
    val baseFps = fpBaseFps(spark, dir, splitId).localCheckpoint(true)
    val arrFpB = fingerprints(spark.createDataset(
      fpArrivalMedia(spark, dir, splitId))).localCheckpoint(true)
    val allFps = baseFps.unionByName(arrFpB)
    val pairsAll = graft.ops.Dedup.hammingPairs128(allFps, 3)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val batchLabels = graft.ops.Dedup.nearDupClusters(
      allFps.select(col("doc_id")), pairsAll).localCheckpoint(true)
    val nQuarantined = FingerprintStream.gaugeRows(spark, s"$root/state")
      .agg(coalesce(sum(col("n_quarantined")), lit(0L))).head().getLong(0)

    // pair canonical order puts the (larger-id) arrival at id_b, so the
    // arrival-touching slice is exactly id_b >= split
    val s = compareServed(spark, FingerprintStream, root, splitId,
      col("id_b") >= splitId, Some(arrFpB),
      pairsAll.filter(col("id_b") >= splitId), batchLabels)
    Seq(baseFps, pairsAll).foreach(graft.Snap.free(_))
    oneRow(spark, "n_indexed" -> s.kept.n, "n_quarantined" -> nQuarantined,
      "n_pairs_live" -> s.pairs.n, "n_clusters" -> s.nClusters,
      "n_only_live" -> s.labels.onlyLive, "n_only_batch" -> s.labels.onlyTwin,
      "parity_ok" -> (s.agree && nQuarantined > 0L))
  }

  /** Bidirectional multiset difference + sizes in ONE aggregated pass —
    * (onlyA, onlyB, nA, nB) over the frames' full column set, equal to
    * (`a.exceptAll(b).count()`, `b.exceptAll(a).count()`, `a.count()`,
    * `b.count()`) at one job instead of four traversals: a grouped count
    * per side joined full-outer (only-in-A = Σ max(cntA − cntB, 0)). The
    * join is null-safe (`<=>` per column), so a row with a NULL column
    * cancels its twin the way exceptAll's does; each side's columns are
    * renamed first, so frames derived from one source cannot resolve to
    * the same attribute. */
  private[graft] def diffCounts(a: DataFrame,
      b: DataFrame): (Long, Long, Long, Long) = {
    val cols = a.columns.toSeq
    require(b.columns.toSeq == cols,
      s"diffCounts column mismatch: $cols vs ${b.columns.toSeq}")
    def counted(df: DataFrame, side: String): DataFrame = {
      val keys = cols.indices.map(i => s"_$side$i")
      df.select(cols.zip(keys).map { case (c, k) => col(c).as(k) }: _*)
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as(s"_c$side"))
    }
    val on = cols.indices.map(i => col(s"_a$i") <=> col(s"_b$i"))
      .reduce(_ && _)
    val r = counted(a, "a").join(counted(b, "b"), on, "full_outer")
      .select(coalesce(col("_ca"), lit(0L)).as("ca"),
        coalesce(col("_cb"), lit(0L)).as("cb"))
      .agg(
        coalesce(sum(greatest(col("ca") - col("cb"), lit(0L))), lit(0L)),
        coalesce(sum(greatest(col("cb") - col("ca"), lit(0L))), lit(0L)),
        coalesce(sum(col("ca")), lit(0L)),
        coalesce(sum(col("cb")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** The capped MEDIA gate's hot-bucket cap — chosen against the texture
    * fixture's per-wave class occupancies (measured at the 500-doc
    * fixture: flood class 9-10 per full wave, organic classes ≤ 2), so
    * the flood class is hot in every full wave and organic classes never
    * are; the trailing remainder wave is naturally under-cap, which the
    * per-wave twin and oracle model rather than assume away. */
  val FpCappedHotBucketCap = 5

  /** The capped media-gate ARRIVAL fixture: the image slice above the
    * split, id-sorted, every EVEN media_id's payload replaced by the
    * corpus-minimum image's bytes — a byte-identical DECODABLE template
    * flood (image ids are ≡ 1 mod 3, so id parity alternates and every
    * id-consecutive wave carries ~half flood copies). Deliberately no
    * corruption here: quarantine has its own gate
    * ([[fingerprintRestartParity]]); this one isolates the cap —
    * a decodable flood is exactly the traffic quarantine CANNOT stop. */
  private def fpCappedArrivalMedia(spark: SparkSession, dir: String,
      splitId: Long): Seq[graft.ops.Multimodal.MediaRow] = {
    val all = graft.ops.Multimodal.imagePngMedia(spark,
        graft.Tables.documents(spark, dir))
      .collect().sortBy(_.media_id)
    val template = all.head.payload // corpus-minimum image, class min%5
    val arr = all.filter(_.media_id >= splitId)
      .map(m => if (m.media_id % 2 == 0) m.copy(payload = template) else m)
      .toSeq
    require(arr.exists(_.media_id % 2 == 0),
      "flood scenario vacuous: no even-id arrival")
    arr
  }

  /** Build the CAPPED media pipeline's gate state (template-flood waves,
    * `hotBucketCap` on, restart straddling a consolidation) and return
    * its root — built once per JVM by the caller (ManagedTable.once),
    * SERVED by q_fpstream_capped_parity and q_fpstream_capped_gauge. */
  def buildCappedFingerprintPipeline(spark: SparkSession, dir: String,
      nBatches: Int = 4): String = {
    val splitId = fpSplitId(spark, dir)
    buildFpGate(spark, dir, "fpstream_capped", splitId,
      fpCappedArrivalMedia(spark, dir, splitId), nBatches,
      FpCappedHotBucketCap)
  }

  /** The CAPPED media pipeline gated end to end over the state
    * [[buildCappedFingerprintPipeline]] left behind: final
    * index/pair/label state must equal a PER-WAVE capped batch twin
    * (the stream's own wave decomposition replayed sequentially —
    * batch-side occupancy cut per wave, index writes uncapped), and the
    * ledger's hot-bucket accounting must match the twin's per-wave hot
    * sets exactly. The DuckDB oracle restates every count closed-form
    * from the texture classes (a hot band bucket IS a hot class — four
    * buckets per class, cross-class band-word collisions are 2⁻³²-rare
    * and would turn this gate red loudly, not silently pass). */
  def fpCappedRestartParity(spark: SparkSession, dir: String,
      root: String, nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val cap = FpCappedHotBucketCap
    val splitId = fpSplitId(spark, dir)
    val baseFps = fpBaseFps(spark, dir, splitId).localCheckpoint(true)
    val waves = wavesOf(fpCappedArrivalMedia(spark, dir, splitId), nBatches)

    // ── per-wave capped batch twin: the wave decomposition the builder
    // used, replayed sequentially against an accumulating fps frame ──
    var stateFps = baseFps
    var twinPairs: DataFrame = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    var twinHotBuckets = 0L
    var twinHotWaves = 0L
    val twinFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    waves.foreach { w =>
      val wfp = fingerprints(spark.createDataset(w)).localCheckpoint(true)
      val banded = graft.ops.Dedup.hammingBanding128(wfp)
        .localCheckpoint(true)
      val hot = banded.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("occ")).filter(col("occ") > cap)
        .select(col("band"), col("bh"))
        .localCheckpoint(true)
      val nHot = hot.count()
      twinHotBuckets += nHot
      if (nHot > 0) twinHotWaves += 1
      val cooled = banded.join(broadcast(hot), Seq("band", "bh"),
        "left_anti")
      val wPairs = graft.ops.Dedup
        .hammingPairs128BetweenBanded(cooled, stateFps, 3)
        .unionByName(graft.ops.Dedup.hammingPairs128FromBanded(cooled, 3,
          snapshotted = true))
        .select(col("id_a"), col("id_b"))
      twinPairs = twinPairs.unionByName(wPairs).localCheckpoint(true)
      stateFps = stateFps.unionByName(wfp).localCheckpoint(true)
      twinFrames ++= Seq(wfp, banded, hot, twinPairs, stateFps)
    }
    val basePairs = graft.ops.Dedup.hammingPairs128(baseFps, 3)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val twinLabels = graft.ops.Dedup.nearDupClusters(
      stateFps.select(col("doc_id")),
      basePairs.unionByName(twinPairs)).localCheckpoint(true)

    val s = compareServed(spark, FingerprintStream, root, splitId,
      col("id_b") >= splitId, Some(stateFps.filter(col("doc_id") >= splitId)),
      twinPairs, twinLabels)
    val gauges = FingerprintStream.gaugeRows(spark, s"$root/state")
      .localCheckpoint(true)
    val hotTotal = gauges.agg(coalesce(sum(col("hot_buckets")), lit(0L)))
      .head().getLong(0)
    val nHotBatches = gauges.filter(col("hot_buckets") > 0).count()
    (twinFrames ++ Seq(baseFps, gauges, basePairs))
      .foreach(graft.Snap.free(_))
    oneRow(spark, "n_indexed" -> s.kept.n, "n_pairs_live" -> s.pairs.n,
      "n_clusters" -> s.nClusters, "hot_buckets_total" -> hotTotal,
      "n_hot_batches" -> nHotBatches, "n_only_live" -> s.labels.onlyLive,
      "n_only_batch" -> s.labels.onlyTwin,
      "parity_ok" -> (s.agree && hotTotal == twinHotBuckets &&
        nHotBatches == twinHotWaves && hotTotal > 0L && s.pairs.n > 0L))
  }

  /** Build the DECONTAMINATION gate's media state: the SAME decodable
    * template flood as [[buildCappedFingerprintPipeline]], run with the
    * cap OFF (the mis-configured deployment the repair operator exists
    * for — junk pairs persisted, flood mega-cluster in the labels), then
    * [[FingerprintStream.decontaminate]] at the corpus-level cap
    * `indexed_fps / 4` (the q_phash_pairs_capped calibration: organic
    * texture classes sit near a fifth of the corpus, the flood-inflated
    * class over a third). Waves are driven directly through
    * [[FingerprintStream.processBatch]] with `consolidateEvery = 2`, so
    * the physical pair rewrite covers consolidated units (sidecar
    * preservation) as well as raw batches. */
  def buildDecontamFingerprintPipeline(spark: SparkSession, dir: String,
      nBatches: Int = 4): String = {
    import spark.implicits._
    val splitId = fpSplitId(spark, dir)
    buildGate(spark, dir, "fpstream_decontam",
        initFpRoot(spark, dir, splitId, _))(
      repaired(wavesOf(fpCappedArrivalMedia(spark, dir, splitId), nBatches)
          .map(spark.createDataset(_).toDF()))(
        FingerprintStream.processBatch(_, _, _, maxHamming = 3,
          consolidateEvery = 2, hotBucketCap = 0))( // UNCAPPED — the incident
        state => FingerprintStream.decontaminate(spark, state, hotBucketCap =
          (FingerprintStream.indexedFps(spark, state).count() / 4).toInt)))
  }

  /** The media decontamination gate: after the repair, the root's pair
    * state must hash-equal the GLOBAL capped batch operator
    * ([[graft.ops.Dedup.hammingPairs128Capped]]) over the standing
    * index at the same cap, and the labels must equal the connected
    * components of those pairs — i.e. an operator flipping the cap on
    * after an uncapped incident lands on exactly the state the batch
    * policy defines, for the cost of the flood-touched components. The
    * repair report must show real work (hot buckets found, pairs
    * dropped) — a vacuous pass is a red gate, not a trivially green
    * one. Counts restated closed-form by the texture oracle. */
  def fpDecontamParity(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    import spark.implicits._
    val splitId = fpSplitId(spark, dir)
    val arrFps = fingerprints(spark.createDataset(
      fpCappedArrivalMedia(spark, dir, splitId)))
    val allFps = fpBaseFps(spark, dir, splitId).unionByName(arrFps)
      .localCheckpoint(true)
    // hammingPairs128Capped returns its result checkpointed (ownership
    // here); the twin labels re-converge from the capped pair set
    val twinPairs = graft.ops.Dedup.hammingPairs128Capped(allFps, 3,
      (allFps.count() / 4).toInt)
    val twinLabels = graft.ops.Dedup.nearDupClusters(
      allFps.select(col("doc_id")), twinPairs.select(col("id_a"), col("id_b")))
      .localCheckpoint(true)
    val s = compareServed(spark, FingerprintStream, root, splitId, lit(true),
      None, twinPairs.select(col("id_a"), col("id_b")), twinLabels)
    Seq(allFps, twinPairs).foreach(graft.Snap.free(_))
    repairVerdict(spark, root, s, "hot_buckets")
  }

  /** The EMBEDDING live-dedup pipeline, gated end to end — the vector
    * twin of [[livePipelineParity]]: a standing corpus (vec_id below the
    * 3/5 split) holds its base-trained IVF index
    * ([[graft.ops.Similarity.ivfIndexPersisted]], `_live_base` suffix —
    * its own key, so it can never collide with q_semdedup_incr's %7-split
    * index) and its persisted labeling; arrivals replay in `nWaves`
    * id-ordered waves, and each wave runs the full incremental chain:
    *
    *  1. ASSIGN: the wave joins the corpus through
    *     [[graft.ops.Similarity.assignToCentroids]] against the FIXED
    *     base-trained centroids (add-after-train — the same append the
    *     streaming index upkeep performs).
    *  2. PAIR: cluster-local pairs against everything assigned SO FAR
    *     ([[graft.ops.Similarity.semanticDedupPairsBetween]] — earlier
    *     waves included, so cross-wave pairs are found exactly once by
    *     the later endpoint) plus the within-wave self-join.
    *  3. LABEL: the wave's pairs merge into the standing labeling via
    *     [[graft.ops.Dedup.mergeClusterDelta]] — cost ∝ wave.
    *
    * The batch twin computes everything at once UNDER THE SAME QUANTIZER
    * (one assignment of the full corpus to the base-trained centroids,
    * one cluster self-join, one CC) — the contract under test is the
    * wave decomposition, not retraining. parity_ok folds the label-table
    * set-equality, the live-pair set-equality (vs the batch pairs
    * touching an arrival) and n_pairs_live > 0 (the tier must actually
    * fire). Output counts are independently restated by the DuckDB
    * replica (base-trained IVF chain + recursive closure). */
  def embeddingLiveParity(spark: SparkSession, dir: String,
      nWaves: Int = 4, threshold: Double = 0.4): DataFrame = {
    import graft.ops.{Dedup, Similarity}
    val emb = graft.Tables.embeddings(spark, dir)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val splitId = (maxId + 1L) * 3L / 5L
    val baseEmb = emb.filter(col("vec_id") < splitId)
    val (cents, baseAssigned) = Similarity.ivfIndexPersisted(spark, dir,
      baseEmb, suffix = "_live_base")
    def norm(assigned: org.apache.spark.sql.DataFrame) =
      assigned.select(col("vec_id"), col("embedding"), col("nsq"),
        col("cluster").cast("long").as("cluster"))
    // the standing labeling a previous corpus version persisted
    val labels0 = Dedup.nearDupClusters(
      baseEmb.select(col("vec_id").as("doc_id")),
      Similarity.semanticDedupUnordered(baseAssigned, threshold)
        .select(col("id_a"), col("id_b"))).localCheckpoint(true)

    var assignedCur = norm(baseAssigned).localCheckpoint(true)
    val (labels, livePairs) = mergeWaves(spark, splitId, maxId, nWaves,
        labels0) { (lo, hi) =>
      val waveEmb = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
      val wa = Similarity.assignToCentroids(waveEmb, cents)
        .localCheckpoint(true)
      val wavePairs = Similarity
        .semanticDedupPairsBetween(wa, assignedCur, threshold)
        .unionByName(Similarity.semanticDedupUnordered(wa, threshold))
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val prevAssigned = assignedCur
      assignedCur = assignedCur.unionByName(norm(wa)).localCheckpoint(true)
      graft.Snap.free(prevAssigned)
      graft.Snap.free(wa) // both consumers checkpointed
      (waveEmb.select(col("vec_id").as("doc_id")), wavePairs)
    }

    // ── batch twin under the SAME base-trained quantizer ──
    val (allPairs, batchLabels) = embeddingBatchTwin(emb, cents, threshold)
    val batchLive = allPairs.filter(col("id_b") >= splitId) // id_a < id_b:
      // arrivals hold the HIGH ids, so any pair touching one has id_b ≥ split
    val result = waveVerdict(spark, "n_vectors", labels, batchLabels,
      livePairs, batchLive)
    Seq(labels, assignedCur, livePairs, allPairs, batchLabels)
      .foreach(graft.Snap.free(_))
    result
  }

  /** A hand-driven wave gate's replay: the arrivals [splitId, maxId] in
    * `nWaves` id-range waves; `wave(lo, hi)` returns a wave's ids
    * (doc_id) and its verified pairs against everything before it, which
    * merge into the standing labels from `labels0` through
    * [[graft.ops.Dedup.mergeClusterDelta]] — cost ∝ wave. Returns the
    * final labels and the distinct live pairs, both snapshotted. */
  private def mergeWaves(spark: SparkSession, splitId: Long, maxId: Long,
      nWaves: Int, labels0: DataFrame)(
      wave: (Long, Long) => (DataFrame, DataFrame))
      : (DataFrame, DataFrame) = {
    var labels = labels0
    var livePairs = spark.emptyDataFrame
      .select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0)
    val waveSpan = math.max(1L, (maxId + 1L - splitId) / nWaves)
    val waveFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var lo = splitId
    while (lo <= maxId) {
      val hi = if (lo + waveSpan > maxId) maxId + 1L else lo + waveSpan
      val (ids, wavePairs) = wave(lo, hi)
      val prevLabels = labels
      labels = graft.ops.Dedup.mergeClusterDelta(labels, ids, wavePairs)
      graft.Snap.free(prevLabels)
      livePairs = livePairs.unionByName(wavePairs)
      waveFrames += wavePairs // alive until livePairs materializes
      lo = hi
    }
    val distinctPairs = livePairs.distinct().localCheckpoint(true)
    waveFrames.foreach(graft.Snap.free(_))
    (labels, distinctPairs)
  }

  /** A hand-driven wave gate's row: (`nCol` = label rows, n_pairs_live,
    * n_clusters, n_only_live, n_only_batch, parity_ok) — labels and
    * live pairs each equal to the twin's, and the tier fired. */
  private def waveVerdict(spark: SparkSession, nCol: String,
      labels: DataFrame, twinLabels: DataFrame, pairs: DataFrame,
      twinPairs: DataFrame): DataFrame = {
    val (onlyLive, onlyBatch, n, _) = diffCounts(labels, twinLabels)
    val (pOnlyL, pOnlyB, nPairsLive, _) = diffCounts(pairs, twinPairs)
    oneRow(spark, nCol -> n, "n_pairs_live" -> nPairsLive,
      "n_clusters" -> labels.select(col("cluster_id")).distinct().count(),
      "n_only_live" -> onlyLive, "n_only_batch" -> onlyBatch,
      "parity_ok" -> (pOnlyL == 0L && pOnlyB == 0L && onlyLive == 0L &&
        onlyBatch == 0L && nPairsLive > 0L))
  }

  /** The SHARED all-at-once truth both embedding gates compare against
    * (the hand-driven [[embeddingLiveParity]] and the runnable
    * [[embeddingRestartParity]] — one definition, so the two gates
    * cannot drift): one assignment of the full corpus to the given
    * base-trained centroids, one cluster-local self-join, one connected-
    * components labeling. Returns (allPairs (id_a, id_b), labels). */
  private[graft] def embeddingBatchTwin(emb: DataFrame,
      cents: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    import graft.ops.{Dedup, Similarity}
    val assignedAll = Similarity.assignToCentroids(emb, cents)
    val allPairs = Similarity.semanticDedupUnordered(assignedAll, threshold)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val batchLabels = Dedup.nearDupClusters(
      emb.select(col("vec_id").as("doc_id")), allPairs).localCheckpoint(true)
    (allPairs, batchLabels)
  }

  /** [[embeddingLiveParity]]'s scenario driven through the RUNNABLE
    * vector pipeline ([[EmbeddingStream]] — one checkpointed foreachBatch
    * query composing exact-hash dedup, fixed-centroid assignment with
    * the inline drift gauge, cluster-local pairing and the label merge)
    * with a STOP after the second micro-batch and a RESTART from the
    * checkpoint, `consolidateEvery = 2` so the first post-restart batch
    * folds committed state directories — the row gates crash recovery
    * AND fold-across-restart on the vector tier, exactly what
    * [[restartPipelineParity]] gates on the document tier. Same output
    * columns and the SAME DuckDB oracle as the hand-driven gate
    * (the batch twin is [[embeddingBatchTwin]] — shared by construction),
    * and the pipeline's own epoch-0 centroids are TRAINED from the same
    * deterministic construction the persisted `_live_base` index uses
    * (hash-sampled seeds + Lloyd — same corpus rows, same centroids), so
    * landing on the gate's counts also pins that equality. */
  def embeddingRestartParity(spark: SparkSession, dir: String,
      nBatches: Int = 4, threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, dir)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val splitId = (maxId + 1L) * 3L / 5L
    val arrivals = emb.filter(col("vec_id") >= splitId)
      .select(col("vec_id"), col("embedding"))
      .as[EmbeddingStream.VecIn].collect().sortBy(_.vec_id)
    require(arrivals.nonEmpty, "fixture too small to split")
    // gauge reference: the earliest arrival slice (held-out,
    // in-distribution — parity doesn't depend on it, the health rows do)
    val refHi = splitId + math.max(1L, (maxId + 1L - splitId) / nBatches)
    val waves = wavesOf(arrivals.toSeq, nBatches)
    val root = buildGate(spark, dir, "embstream_gate",
        EmbeddingStream.initFromCorpus(spark, _,
          emb.filter(col("vec_id") < splitId),
          emb.filter(col("vec_id") >= splitId && col("vec_id") < refHi),
          threshold))(
      restarted(spark, waves)(EmbeddingStream.start(_, _, _, threshold,
        consolidateEvery = 2)))

    // batch twin: the SHARED definition, under the PIPELINE's epoch-0
    // centroids (read back from its state root); arrival-touching pairs
    // have id_b ≥ split (id_a < id_b canonical), and the batch=-1 base
    // pair table only holds base ids
    val (allPairs, batchLabels) = embeddingBatchTwin(emb,
      spark.read.parquet(s"$root/state/cents/epoch=0"), threshold)
    val s = compareServed(spark, EmbeddingStream, root, splitId,
      col("id_b") >= splitId, None, allPairs.filter(col("id_b") >= splitId),
      batchLabels)
    graft.Snap.free(allPairs)
    // every non-empty batch must have left a committed health row with
    // its epoch pinned at 0 (no retrain fired on in-distribution waves)
    val gauges = EmbeddingStream.gaugeRows(spark, s"$root/state")
    val gaugeOk = gauges.count() == waves.length.toLong &&
      gauges.filter(col("retrain") || col("epoch") =!= 0).count() == 0L
    oneRow(spark, "n_vectors" -> s.labels.n, "n_pairs_live" -> s.pairs.n,
      "n_clusters" -> s.nClusters, "n_only_live" -> s.labels.onlyLive,
      "n_only_batch" -> s.labels.onlyTwin,
      "parity_ok" -> (s.agree && gaugeOk && s.pairs.n > 0L))
  }

  /** DEEP-HISTORY live near-dup, gated end to end — the batch
    * complement of [[livePipelineParity]]'s TTL tier: the stream answers
    * "near-dup of the recent horizon" with bounded state, and THIS flow
    * answers "near-dup of anything EVER seen" at cost ∝ wave, the two
    * running side by side in a real deployment. A standing corpus
    * (doc_id below the 3/5 split) holds its band-signature index and its
    * labeling; arrivals replay in id-ordered waves, and each wave:
    *
    *  1. BANDS itself (shingle+sign over the wave only) and generates
    *     candidates against everything banded SO FAR
    *     ([[graft.ops.Dedup.minHashPairsAgainst]] — earlier waves
    *     included, so cross-wave pairs are found exactly once) plus the
    *     within-wave self-join;
    *  2. VERIFIES by exact jaccard over candidate endpoints only;
    *  3. MERGES its pairs into the standing labeling via
    *     [[graft.ops.Dedup.mergeClusterDelta]], and appends its banding
    *     to the index (append-only — signatures never retrain).
    *
    * The batch twin is the full [[graft.ops.Dedup.minHashPairs]] over
    * the whole corpus plus one CC: signature corpus-independence makes
    * wave-order irrelevant, so the final labeling and the accumulated
    * live-pair set must EQUAL it exactly. parity_ok folds the label
    * set-equality, the live-pair set-equality (vs the batch pairs
    * touching an arrival) and n_pairs_live > 0; the counts are
    * independently restated by the DuckDB MinHash replica + recursive
    * closure. */
  def minhashDeepLiveParity(spark: SparkSession, dir: String,
      nWaves: Int = 4): DataFrame = {
    import graft.ops.Dedup
    val docs = graft.Tables.documents(spark, dir)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val splitId = (maxId + 1L) * 3L / 5L
    val history = docs.filter(col("doc_id") < splitId)
    var accBanded = Dedup.minHashBanded(history).localCheckpoint(true)
    // standing labels from the SAME checkpointed banding (re-running the
    // shingle+signature pass through minHashPairs would pay the gate's
    // dominant cost twice): self-join candidates + exact-jaccard verify
    val labels0 = Dedup.nearDupClusters(history.select(col("doc_id")),
      Dedup.jaccardVerifyUnordered(bandCandidates(accBanded), history)
        .select(col("id_a"), col("id_b")))
      .localCheckpoint(true)
    val (labels, livePairs) = mergeWaves(spark, splitId, maxId, nWaves,
        labels0) { (lo, hi) =>
      val waveDocs = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val wb = Dedup.minHashBanded(waveDocs).localCheckpoint(true)
      val wavePairs = Dedup.minHashPairsAgainst(wb, accBanded, docs)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val prevBanded = accBanded
      accBanded = accBanded.unionByName(wb).localCheckpoint(true)
      graft.Snap.free(prevBanded)
      graft.Snap.free(wb) // both consumers checkpointed
      (waveDocs.select(col("doc_id")), wavePairs)
    }

    // ── batch twin: one full self-join over everything ──
    val allPairs = Dedup.minHashPairs(docs)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val batchLabels = Dedup.nearDupClusters(docs.select(col("doc_id")),
      allPairs).localCheckpoint(true)
    val batchLive = allPairs.filter(col("id_b") >= splitId) // id_a < id_b:
      // arrivals hold the HIGH ids, so a pair touching one has id_b ≥ split
    val result = waveVerdict(spark, "n_docs", labels, batchLabels,
      livePairs, batchLive)
    Seq(labels, accBanded, livePairs, allPairs, batchLabels)
      .foreach(graft.Snap.free(_))
    result
  }

  private def ttlParityReplay(spark: SparkSession, dir: String,
      horizonMinutes: Int, nBatches: Int, tbl: String,
      arrange: Array[StatefulOps.DocIn] => Array[StatefulOps.DocIn],
      requireLate: Boolean): DataFrame = {
    import spark.implicits._
    val horizonMs = horizonMinutes * 60000L

    // collectParityDocs returns doc_id-sorted rows (ts is monotone in
    // doc_id); `arrange` sets the ARRIVAL order under test
    val docs = arrange(collectParityDocs(spark, dir, "minhashTtlParity"))
    require(docs.nonEmpty, s"no documents in $dir")
    val nLate = docs.iterator.sliding(2).withPartial(false)
      .count(p => p(1).doc_id < p(0).doc_id)
    val emitted = replay(spark, tbl, wavesOf(docs.toSeq, nBatches))(ds =>
      StatefulOps.lshCandidatesStreamTtl(bandedAtT0(spark, ds.toDF()),
        horizonMs).toDF())

    val documents = graft.Tables.documents(spark, dir)
    val streamCand = emitted
      .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
    // ts is doc_id-linear, so the horizon is an id-distance predicate
    val batchCand = withinHorizon(
        bandCandidates(graft.ops.Dedup.minHashBanded(documents)), horizonMs)
      .localCheckpoint(true)
    val (cOnlyB, cOnlyS, _, _) = diffCounts(batchCand, streamCand)

    val streamed = graft.ops.Dedup.jaccardVerify(streamCand, documents)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val batchFull = graft.ops.Dedup.minHashPairs(documents)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val batch = withinHorizon(batchFull, horizonMs).localCheckpoint(true)
    val beyond = batchFull.count() - batch.count()
    setParity(spark, batch, streamed, Seq("n_beyond_horizon" -> beyond),
      extraOk = cOnlyB == 0L && cOnlyS == 0L && beyond > 0L &&
        (!requireLate || nLate > 0))
  }
}
