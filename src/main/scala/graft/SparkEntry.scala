package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Analytics, Analytics2}
import graft.logs.{LogQuery, LogQueryParams}
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Driver contract — the complete operator inventory (SURVEY.md §2 + the
  * north-star extension surface), each entry paired with equivalent DuckDB
  * SQL in [[oracleSql]] where SQL-expressible.
  *
  * Oracle-parity conventions used throughout:
  *  - events.ts is nanosecond parquet; Spark reads it ms-truncated
  *    ([[Tables.events]]), oracles wrap it in
  *    `date_trunc('milliseconds', ts)` (the `EV` CTE).
  *  - double aggregates go through [[Cols.dsum]]/[[Cols.davg]]
  *    (decimal-exact, order-independent) on both sides.
  *  - ROW_NUMBER ranks are cast to BIGINT on both sides.
  *  - every query has a deterministic total ORDER BY.
  */
object SparkEntry {

  private def ts(s: String) = to_timestamp(lit(s))

  /** The drift → retrain → serve scenario's splits, shared by the two
    * epoch rows: base corpus (vec_id % 7 ≠ 0), then arrival thirds d0
    * (in-distribution) / d1 / d2, with d1 and d2 SHIFTED bit-exactly
    * (float(abs(x) + 0.5) per dimension — the same IEEE double add +
    * float round the DuckDB replica performs). */
  private def epochShiftSplits(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    def shift(df: DataFrame): DataFrame = df.withColumn("embedding",
      transform(col("embedding"), x => (abs(x) + lit(0.5d)).cast("float")))
    val arr = emb.filter(col("vec_id") % 7 === 0)
    (emb.filter(col("vec_id") % 7 =!= 0),
      arr.filter(col("vec_id") % 3 === 0),
      shift(arr.filter(col("vec_id") % 3 === 1)),
      shift(arr.filter(col("vec_id") % 3 === 2)))
  }

  /** Decoded 128-bit pHash fingerprints of a document slice — the ONE
    * definition all three image-tier incremental/retire/rewrite rows
    * band-join through (they share the closed-form texture oracle, so a
    * drifted copy would silently diverge a row from its twins). */
  private def pHashFrame(s: SparkSession,
      d: DataFrame): DataFrame = {
    import s.implicits._
    Multimodal.pHashes(Multimodal.imagePngMedia(s, d))
      .filter(_.decoded).toDF()
      .select(col("media_id").as("doc_id"),
        col("ph0").as("sh0"), col("ph1").as("sh1"))
  }

  /** The runnable vector pipeline's epoch-handoff lifecycle: init on the
    * base corpus → d0 arrives → the SHIFTED d1 arrives and its committed
    * gauge row must FIRE (require — a quiet gauge fails both rows that
    * read this state) → maintenance window retrains to epoch 1
    * re-anchored on the post-shift distribution → d2 arrives under the
    * new quantizer. Serves q_embstream_epoch_handoff (d2's pair ledger)
    * and q_embstream_gauge (d1's health row). */
  private def buildEmbStreamEpoch(s: SparkSession, dir: String): String = {
    import graft.streaming.EmbeddingStream
    val (base, d0, d1, d2) = epochShiftSplits(s, dir)
    val r = s"target/embstream_epoch/${graft.sources.ManagedTable.tag(dir)}"
    new org.apache.hadoop.fs.Path(r)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(r), true)
    EmbeddingStream.initFromCorpus(s, r, base, refDelta = d0)
    def vecs(df: DataFrame) = df.select(col("vec_id"), col("embedding"))
    EmbeddingStream.processBatch(vecs(d0), 0L, r)
    EmbeddingStream.processBatch(vecs(d1), 1L, r)
    val g = EmbeddingStream.gaugeRows(s, r)
      .filter(col("batch_id") === 1L).head()
    require(g.getAs[Boolean]("retrain"),
      s"the in-pipeline gauge must fire on the shifted batch: $g")
    EmbeddingStream.retrainEpoch(s, r, 1, refDelta = d1)
    EmbeddingStream.processBatch(vecs(d2), 2L, r)
    r
  }

  /** The state root of runnable-pipeline gate `kind` over `dir`, built
    * ONCE per JVM (ManagedTable.once — a standing pipeline's state is
    * built once, then SERVED by every row that reads it) by its
    * [[graft.streaming.ParityCheck]] builder, which names those rows. */
  private def gateRoot(s: SparkSession, dir: String, kind: String): String =
    graft.sources.ManagedTable.once(
        s"${s.sparkContext.applicationId}/$kind/$dir") {
      import graft.streaming.ParityCheck._
      kind match {
        case "embstream_epoch" => buildEmbStreamEpoch(s, dir)
        case "docstream_capped" => buildCappedPipeline(s, dir)
        case "docstream_decontam" => buildDecontamPipeline(s, dir)
        case "fpstream_gate" => buildFingerprintPipeline(s, dir)
        case "fpstream_capped" => buildCappedFingerprintPipeline(s, dir)
        case "fpstream_decontam" => buildDecontamFingerprintPipeline(s, dir)
        case "embstream_decontam" => buildDecontamEmbeddingPipeline(s, dir)
      }
    }

  /** One-time month-partitioned copy of the events fixture written through
    * [[graft.logs.LogTable.append]] (the reference's `PARTITION BY
    * toYYYYMM(ts)` layout, db.go:51) — the storage side of
    * q_logs_flagship_partitioned. Same stale-dir guard + per-key build
    * lock as every persisted artifact (ManagedTable.once); sorted within
    * months on (event_type, ts), the fixture's stand-in for the DDL's
    * ORDER BY (service, ts). */
  private def eventsMonthlyPath(s: SparkSession, dir: String): String =
    graft.sources.ManagedTable.once(
      s"${s.sparkContext.applicationId}/events_monthly/$dir") {
      val warehouse = new org.apache.hadoop.fs.Path(
        new java.net.URI(s.conf.get("spark.sql.warehouse.dir")))
      val loc = new org.apache.hadoop.fs.Path(warehouse,
        s"events_monthly_${graft.sources.ManagedTable.tag(dir)}")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.logs.LogTable.append(Tables.events(s, dir), loc.toString,
        sortCols = Seq("event_type", "ts"))
      loc.toString
    }

  /** Recall verdict for an approximate kNN frame vs the brute-force truth
    * (same probes/k): one row (n_truth, recall_ok). The approx tier's
    * cosines are exact re-ranks, so precision is 1 by construction; recall
    * against the deterministic truth set is the meaningful assertion. */
  private def knnRecallCheck(approx: DataFrame, embeddings: DataFrame,
      bound: Double): DataFrame = {
    val truth = Similarity.bruteForceTopK(embeddings, 0L until 10L, 5)
      .select(col("probe_id"), col("vec_id"))
    approx.select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      .join(truth, Seq("probe_id", "vec_id"), "right")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
      .select(col("n_truth"),
        (col("n_hits").cast("double") >= col("n_truth").cast("double") * lit(bound))
          .as("recall_ok"))
  }

  /** Recall verdict for an approximate near-dup PAIR frame vs the exact
    * all-pairs truth at the same threshold: one row (n_truth, recall_ok).
    * Every LSH pair is exact-cosine-verified (precision 1 by
    * construction), so recall against a NONZERO truth set is the
    * assertion that actually exercises the bucketed path — the fixture
    * has no pairs at the 0.9 near-dup regime, which made the plain
    * oracle row vacuous (0 = 0). */
  private def pairRecallCheck(approx: DataFrame, truth: DataFrame,
      bound: Double): DataFrame =
    approx.select(col("id_a"), col("id_b"), lit(1).as("hit"))
      .join(truth.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "right")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
      .select(col("n_truth"),
        (col("n_hits").cast("double") >= col("n_truth").cast("double") * lit(bound))
          .as("recall_ok"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_logs_flagship")(spark, "/root/testdata/sf0.001")

  /** Source mixing rates (ppm) for q_data_mix: a skewed mixture — half
    * rate for even sources, full for odd, a few dropped entirely. */
  private val MixRates: Seq[(String, Long)] =
    (0 until 18).map(i => s"src$i" -> (if (i % 2 == 0) 500000L else 1000000L))

  /** Oracle-side events view with ms-truncated ts (see [[Tables.events]]). */
  private val EV =
    "SELECT event_id, date_trunc('milliseconds', ts) AS ts, user_id, event_type, value, props FROM events"

  /** Queries whose FIRST run in a JVM pays a one-time layout/index write
    * (bucketed tables, z-order / daily-partitioned copies, the persisted
    * IVF index — all memoized per (app, dir)). Bench warms these untimed
    * before the measured rounds: the write is a one-time ingest decision,
    * the reads are the workload, and timing the write once out of N
    * samples corrupts the median (r5: q21_bkt median 3.3× its min). */
  val layoutQueries: Seq[String] = Seq(
    "q5_local_supplier_bkt", "q21_waiting_suppliers_bkt",
    "q_zorder_slice", "q_partition_prune", "q_knn_ivf_idx",
    "q_dedup_clusters_idx", "q_bm25_idx",
    // first run writes the persisted cluster-label and rank tables
    "q_central_survivors", "q_triangles",
    // first run writes the cluster-partitioned PQ codes table
    "q_knn_ivfpq",
    // first run writes the month-partitioned LogTable layout / reads the
    // persisted IVF assignment
    "q_logs_flagship_partitioned", "q_semdedup",
    // first run writes the persisted pHash pair + image-family tables
    "q_phash_clusters",
    // first run writes the persisted BASE cluster labelings the
    // incremental merges maintain
    "q_dedup_clusters_incr", "q_dedup_survivors_incr", "q_phash_clusters_incr",
    // first runs read the persisted pair/label/index tables they retire;
    // the compose row additionally writes + TTLs the month layout once
    "q_dedup_clusters_retire", "q_dedup_survivors_retire", "q_bm25_retire",
    "q_retention_compose", "q_dedup_clusters_lifecycle",
    // first runs build the dedicated _rwret index copies AND rewrite them
    "q_bm25_retire_rewrite", "q_dedup_minhash_retire_rewrite",
    "q_semdedup_retire_rewrite", "q_phash_pairs_retire_rewrite",
    // first runs write the persisted BASE inverted index / pHash index /
    // base-trained IVF index / base band-signature index
    "q_bm25_incr", "q_phash_pairs_incr", "q_semdedup_incr",
    "q_dedup_minhash_incr", "q_dedup_minhash_retire", "q_semdedup_retire",
    "q_phash_pairs_retire",
    // first run writes the persisted DSIR count table
    "q_importance_weights_incr",
    // first run writes the base-trained IVF index the gauge reads
    "q_knn_ivf_drift_check",
    // first run writes the base-trained index (gauge) AND the retrained
    // _epoch2 index the serve paths read
    "q_knn_ivf_epoch_serve", "q_knn_ivf_epoch_topk",
    // first run drives the runnable vector pipeline's whole lifecycle
    // (init → arrivals → gauge fire → epoch retrain → post-retrain batch)
    "q_embstream_epoch_handoff", "q_embstream_gauge",
    // first run drives the capped runnable document pipeline (flood
    // waves, restart, consolidation) whose ledger this row reads
    "q_docstream_gauge",
    // first runs drive the media pipeline's gate scenarios (codec waves,
    // quarantine / template flood, restart) whose ledgers these rows read
    "q_fpstream_gauge", "q_fpstream_alerts", "q_fpstream_capped_gauge",
    // first run writes the persisted base band-signature index the
    // health gauge probes (shared with q_dedup_minhash_incr)
    "q_dedup_band_health")

  /** Verification-harness rows excluded from Bench timing: each replays
    * the fixture through a driver-orchestrated MemoryStream (collect →
    * micro-batch feed → set-compare), so its wall time measures the test
    * harness, not the engine. They remain full members of the
    * CORRECTNESS gate. */
  val verificationOnly: Set[String] = Set(
    "q_sessionize_stream_parity", "q_counter_increase_stream_parity",
    "q_dedup_stream_parity", "q_funnel_stream_parity",
    "q_dedup_minhash_stream_parity", "q_dedup_minhash_ttl_stream_parity",
    "q_dedup_minhash_late_stream_parity", "q_dedup_live_pipeline_parity",
    "q_semdedup_live_parity", "q_dedup_deep_live_parity",
    "q_docstream_restart_parity", "q_embstream_restart_parity",
    "q_docstream_capped_parity", "q_fpstream_restart_parity",
    "q_fpstream_capped_parity", "q_fpstream_decontam_parity",
    "q_docstream_decontam_parity", "q_embstream_decontam_parity")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ───────────────────────── reference parity: the logs read path ──
    "q_logs_flagship" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .filter(col("ts") >= ts("2024-01-05 00:00:00") && col("ts") < ts("2024-01-20 00:00:00"))
        .orderBy(col("ts").desc, col("event_id"))
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")),

    // the flagship over the MONTH-PARTITIONED LogTable layout: the fixture
    // written once through LogTable.append (PARTITION BY toYYYYMM(ts),
    // db.go:51), queried with the ts range AND the derived monthPredicate
    // so whole month directories prune (non-empty PartitionFilters —
    // PLANS.md receipt). Same rows, same oracle as q_logs_flagship: the
    // month bound is implied by the ts range.
    "q_logs_flagship_partitioned" -> ((s, dir) => {
      val path = eventsMonthlyPath(s, dir)
      val schema = Tables.events(s, dir).schema
        .add("month", org.apache.spark.sql.types.StringType)
      val from = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z"))
      val to = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-20T00:00:00Z"))
      s.read.schema(schema).parquet(path)
        .filter(col("event_type") === "error")
        .filter(col("ts") >= lit(from) && col("ts") < lit(to))
        .filter(graft.logs.LogQuery.monthPredicate(col("month"), from, to))
        .orderBy(col("ts").desc, col("event_id"))
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }),

    "q_logs_flagship_user" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .filter(col("ts") >= ts("2024-01-01 00:00:00") && col("ts") < ts("2024-02-01 00:00:00"))
        .filter(get_json_object(col("props"), "$.k") === "42")
        .orderBy(col("ts").desc, col("event_id"))
        .limit(50)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")),

    "q_logs_count" -> ((s, dir) =>
      Tables.events(s, dir).agg(count(lit(1)).as("n"))),

    "q_logs_by_level" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // the spark.sql entry path: temp view + SQL text (incl. HAVING, which
    // no DataFrame query exercises) — proves the library's tables work
    // from the SQL surface, not just the DataFrame builders
    "q_sql_having" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_sql")
      s.sql(s"""SELECT event_type, COUNT(*) AS n,
               |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
               |FROM events_sql
               |WHERE value > 10
               |GROUP BY event_type
               |HAVING COUNT(*) > 100
               |ORDER BY event_type""".stripMargin)
    }),

    "q_logs_retention" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("ts") >= ts("2024-01-15 00:00:00"))
        .groupBy(date_format(col("ts"), "yyyyMM").as("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("month"))),

    // ───────────────────────── relational analytics ──
    "q1_pricing" -> ((s, dir) =>
      Analytics.pricingSummary(Tables.lineitem(s, dir), "1998-09-01 00:00:00")),

    "q3_shipping" -> ((s, dir) =>
      Analytics.shippingPriority(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        "BUILDING", "1996-06-30 00:00:00")),

    "q5_local_supplier" -> ((s, dir) =>
      Analytics.localSupplierVolume(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        "ASIA", "1996-01-01 00:00:00", "1997-01-01 00:00:00")),

    // same query over the bucketed fact layout: lineitem/orders persisted
    // bucketed+sorted on the order key (one-time write, memoized per JVM),
    // so the fact-fact join consumes co-located buckets with ZERO exchange
    // on either side — the storage fix for the one super-linear 100x soak
    // row (SCALE.md: q5 8.7x). Shares q5's oracle.
    "q5_local_supplier_bkt" -> ((s, dir) => {
      val (li, o) = analytics.Bucketing.bucketedFacts(s, dir,
        Tables.lineitem(s, dir), Tables.orders(s, dir))
      Analytics.localSupplierVolume(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), o, li,
        "ASIA", "1996-01-01 00:00:00", "1997-01-01 00:00:00")
    }),

    "q_daily_counts" -> ((s, dir) =>
      Analytics.dailyCounts(Tables.events(s, dir))),

    // the same report served from the memoized hourly summary table
    // (ClickHouse materialized-view pattern): scans group rows, not events
    "q_daily_counts_mv" -> ((s, dir) =>
      analytics.MaterializedRollup.dailyCountsFromRollup(s, dir, Tables.events(s, dir))),

    "q_top_events_per_user" -> ((s, dir) =>
      Analytics.topEventsPerUser(Tables.events(s, dir), 3)),

    // sequential first-occurrence funnel with a completion horizon
    "q_funnel" -> ((s, dir) =>
      analytics.Behavior.funnelCounts(Tables.events(s, dir),
        Seq("signup", "view", "purchase"), horizonHours = 6)),

    // day-over-day retention with exact integer rates
    "q_retention" -> ((s, dir) =>
      analytics.Behavior.dailyRetention(Tables.events(s, dir))),

    // sequenceMatch('(?1).*(?2).*(?3)'): strict-order subsequence witness
    "q_sequence_match" -> ((s, dir) =>
      analytics.Behavior.sequenceMatches(Tables.events(s, dir),
        Seq("signup", "click", "purchase"))),

    // sequenceCount('(?1).*(?2)'): non-overlapping matches in closed form
    "q_sequence_count" -> ((s, dir) =>
      analytics.Behavior.sequenceCounts(Tables.events(s, dir), "signup", "purchase")),

    // ClickHouse-exact restart-scan variant: one lag window
    "q_sequence_count_ch" -> ((s, dir) =>
      analytics.Behavior.sequenceCountsRestartScan(Tables.events(s, dir), "signup", "purchase")),

    // windowFunnel: max level within ONE window anchored at the chain start
    "q_window_funnel" -> ((s, dir) =>
      analytics.Behavior.windowFunnelLevels(Tables.events(s, dir),
        Seq("signup", "view", "purchase"), windowHours = 6)),

    // sequenceNextNode: the event right after the chain completes
    "q_sequence_next" -> ((s, dir) =>
      analytics.Behavior.sequenceNextNode(Tables.events(s, dir),
        Seq("signup", "purchase"))),

    // ClickHouse retention(): cohort-anchored condition flags
    "q_retention_cohort" -> ((s, dir) =>
      analytics.Behavior.retentionCohort(Tables.events(s, dir),
        Seq(("signup", 0), ("purchase", 1), ("purchase", 7)))),

    // alerting: hours whose count is >2 sample-sigma off the key's norm
    "q_rate_anomaly" -> ((s, dir) =>
      analytics.Anomaly.rateAnomalies(Tables.events(s, dir), 2.0)),

    // uniqState/uniqMerge: distinct users from mergeable HLL partials
    "q_distinct_users_mv" -> ((s, dir) =>
      analytics.MaterializedRollup.distinctUsersFromSketches(s, dir, Tables.events(s, dir))),

    // the same anomaly flags served from the hourly rollup's group rows
    "q_rate_anomaly_mv" -> ((s, dir) => {
      val table = analytics.MaterializedRollup.hourlyRollupTable(s, dir, Tables.events(s, dir))
      analytics.Anomaly.rateAnomaliesFromCounts(
        s.table(table).select(col("event_type"), col("hour").as("hr"), col("n")), 2.0)
    }),

    // gauge LOCF resampling onto the hourly grid via the AsOfJoin operator
    "q_gauge_locf" -> ((s, dir) =>
      analytics.Gauge.hourlyLocf(s, Tables.events(s, dir))),

    // counter/gauge time-series kernels: ClickHouse deltaSum, Prometheus
    // increase() with reset handling, intervalLengthSum, time-decayed score
    "q_delta_sum" -> ((s, dir) =>
      analytics.TimeSeries.deltaSum(Tables.events(s, dir))),

    "q_counter_increase" -> ((s, dir) =>
      analytics.TimeSeries.counterIncrease(Tables.events(s, dir))),

    // streaming↔batch parity verdict for the counter operator: streamed
    // per-sample increases summed by (user, hour) must equal the batch
    // rollup exactly (see q_sessionize_stream_parity for the pattern)
    "q_counter_increase_stream_parity" -> ((s, dir) =>
      streaming.ParityCheck.counterIncreaseParity(s, dir)),

    // rollup-served twin: disjoint slice states merged then stitched
    "q_counter_increase_mv" -> ((s, dir) =>
      analytics.CounterRollup.increaseFromSlices(Tables.events(s, dir),
        Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00"))),

    // robust median/MAD anomaly twin of q_rate_anomaly
    "q_mad_anomaly" -> ((s, dir) =>
      analytics.Anomaly.madAnomalies(Tables.events(s, dir), k = 3)),

    // CUSUM level-shift per type over hourly counts: exact-integer
    // prefix-sum-minus-running-min, peak hour earliest-on-ties
    "q_cusum" -> ((s, dir) =>
      analytics.Anomaly.cusumShift(Tables.events(s, dir))),

    // lag-24h autocorrelation of hourly counts: the daily-seasonality
    // detector, BIGINT moments + a 3-op mirrored double tail
    "q_autocorr" -> ((s, dir) =>
      analytics.TimeSeries.lagAutocorr(Tables.events(s, dir), 24)),

    // ANOVA eta-squared of the hour-of-day factor: variance fraction the
    // daily profile explains (ordered 24-cell fold, cramersV discipline)
    "q_hod_seasonality" -> ((s, dir) =>
      analytics.TimeSeries.hourOfDaySeasonality(Tables.events(s, dir))),

    // top first-3-step user journeys (path analysis)
    "q_top_journeys" -> ((s, dir) =>
      analytics.Behavior.topJourneys(Tables.events(s, dir), steps = 3, k = 10)),

    // cohort retention triangle (first-activity-day cohorts × age)
    "q_cohort_triangle" -> ((s, dir) =>
      analytics.Behavior.cohortTriangle(Tables.events(s, dir))),

    // hourly SLO error-budget burn rate
    "q_slo_burn" -> ((s, dir) =>
      analytics.Anomaly.sloBurn(Tables.events(s, dir), slo = 0.999)),

    // trailing-24h distinct users per hour
    "q_rolling_dau" -> ((s, dir) =>
      analytics.Analytics7.rollingDau(Tables.events(s, dir))),

    // Apdex score per event_type (T = 100.00)
    "q_apdex" -> ((s, dir) =>
      analytics.Anomaly.apdex(Tables.events(s, dir), tCents = 10000L)),

    // equi-depth histogram (deterministic histogram() analogue)
    "q_equidepth_hist" -> ((s, dir) =>
      analytics.Analytics7.equiDepthHistogram(Tables.events(s, dir), bins = 10)),

    // per-language char-trigram feature table (lang-ID training features)
    "q_char_trigrams" -> ((s, dir) =>
      TextAnalysis.charTrigramProfile(Tables.documents(s, dir), k = 10)),

    // exact discrete percentile bands per (type, day) — the quantile heatmap
    "q_value_bands" -> ((s, dir) =>
      analytics.Analytics7.valueBands(Tables.events(s, dir))),

    // cross-source rare-shingle overlap matrix (corpus governance)
    "q_source_overlap" -> ((s, dir) =>
      ops.Contamination.sourceOverlap(Tables.documents(s, dir))),

    // 2-D slice over the z-ordered layout — a pure permutation of the
    // raw table, so the raw-events oracle must match exactly
    "q_zorder_slice" -> ((s, dir) => {
      val path = sources.ZOrderLayout.eventsZPath(s, dir, Tables.events(s, dir))
      Tables.read(s, path)
        .filter(col("user_id").between(40, 60) && col("value").between(100.0, 200.0))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    }),

    "q_interval_union" -> ((s, dir) =>
      analytics.TimeSeries.intervalUnionSeconds(Tables.events(s, dir))),

    // daily-partitioned layout read through a dynamic-partition-pruned
    // join (top-revenue-day dim) — oracle is the same math on raw events
    "q_partition_prune" -> ((s, dir) =>
      sources.PartitionedLayout.countsOnTopRevenueDays(
        s, dir, Tables.events(s, dir), k = 5)),

    "q_decayed_score" -> ((s, dir) =>
      analytics.TimeSeries.decayedScore(Tables.events(s, dir), horizonHours = 30)),

    // largest-triangle-three-buckets downsampling (parallel anchor variant)
    "q_lttb" -> ((s, dir) =>
      analytics.Lttb.downsample(Tables.events(s, dir), nBuckets = 24)),

    // ClickHouse aggregate-function analogues: uniqUpTo, topKWeighted,
    // quantileExactWeighted (counting), boundingRatio
    "q_uniq_upto" -> ((s, dir) =>
      analytics.Analytics7.uniqUpTo(Tables.events(s, dir), n = 20)),

    "q_topk_weighted" -> ((s, dir) =>
      analytics.Analytics7.topKWeighted(Tables.events(s, dir), k = 5)),

    "q_weighted_median" -> ((s, dir) =>
      analytics.Analytics7.weightedMedian(Tables.events(s, dir))),

    "q_bounding_ratio" -> ((s, dir) =>
      analytics.Analytics7.boundingRatio(Tables.events(s, dir))),

    // delta/dod + zigzag-varint codec sizing as pure column arithmetic
    "q_codec_stats" -> ((s, dir) =>
      analytics.CodecStats.deltaEncodingStats(Tables.events(s, dir))),

    "q_agg_if" -> ((s, dir) =>
      analytics.Analytics7.aggIfReport(Tables.events(s, dir), thresholdCents = 10000L)),

    "q_avg_weighted" -> ((s, dir) =>
      analytics.Analytics7.avgWeighted(Tables.events(s, dir))),

    // per-label fixed-point class centroids over the embeddings table
    "q_embedding_centroids" -> ((s, dir) =>
      ops.Quantization.labelCentroids(Tables.embeddings(s, dir))),

    // reproducible global training order (content-hash shuffle + GlobalRank)
    "q_train_order" -> ((s, dir) =>
      ops.Sampling.trainOrder(Tables.documents(s, dir))),

    // near-dup pairs crossing train/val/test splits (leakage audit)
    "q_split_leakage" -> ((s, dir) =>
      ops.Sampling.crossSplitLeakage(Tables.documents(s, dir))),

    // token-budget chunking plan (context-window splitting, overlap 16)
    "q_chunking" -> ((s, dir) =>
      TextAnalysis.chunkPlan(Tables.documents(s, dir), maxTokens = 64, stride = 48)),

    // reproducible per-language eval sample
    "q_eval_sample" -> ((s, dir) =>
      ops.Sampling.evalSample(Tables.documents(s, dir), k = 5)),

    // domain balancing: hard per-source cap, quality-ranked
    "q_domain_cap" -> ((s, dir) =>
      ops.Sampling.domainCap(Tables.documents(s, dir), cap = 20)),

    // BPE first-merge candidate table: top adjacent-token pairs
    "q_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMergePairs(Tables.documents(s, dir), k = 20)),

    // per-source exact-discrete-percentile quality gate (counting-based)
    "q_quality_gate" -> ((s, dir) =>
      TextAnalysis.adaptiveQualityGate(Tables.documents(s, dir), 0.25)),

    // count-min heavy hitters with the two-sided sandwich verdict
    "q_heavy_hitters" -> ((s, dir) =>
      ops.Sketches.heavyHitters(Tables.documents(s, dir), phi = 0.01)),

    "q_sessionize" -> ((s, dir) =>
      Analytics.sessionize(Tables.events(s, dir), 30)),

    // streaming↔batch parity verdict: the fixture replayed through the
    // stateful streaming sessionizer (MemoryStream, 4 micro-batches,
    // sentinel-flushed) must equal the batch operator's session set
    // exactly — green here means the streaming path carries q_sessionize's
    // DuckDB-oracle guarantee transitively
    "q_sessionize_stream_parity" -> ((s, dir) =>
      streaming.ParityCheck.sessionizeParity(s, dir, 30)),

    // streaming dropDuplicates vs batch dedup over the same
    // duplicate-injected replay (in-batch + cross-batch copies)
    "q_dedup_stream_parity" -> ((s, dir) =>
      streaming.ParityCheck.dedupParity(s, dir)),

    // streaming funnel completions vs the batch min-chain final count
    "q_funnel_stream_parity" -> ((s, dir) =>
      streaming.ParityCheck.funnelParity(s, dir)),

    // INCREMENTAL MinHash-LSH near-dup: the stateful band-bucket stream
    // must emit exactly the batch band-join's candidate set across any
    // micro-batch boundaries, and the shared jaccard verify must land
    // on q_dedup_minhash's pair set — the live-ingest dedup tier
    // carrying the batch tier's oracle guarantee transitively
    "q_dedup_minhash_stream_parity" -> ((s, dir) =>
      streaming.ParityCheck.minhashParity(s, dir)),

    // BOUNDED-HORIZON live dedup (the TTL variant the round-8 doc
    // promised): per-bucket state evicts members older than the horizon
    // and whole idle buckets expire with the watermark, so state holds
    // (rate × horizon) rows instead of the corpus; the gate asserts
    // candidate AND verified-pair equality against the time-windowed
    // batch twin, plus that the horizon actually excludes pairs
    // (n_beyond_horizon > 0 — no vacuous TTL)
    "q_dedup_minhash_ttl_stream_parity" -> ((s, dir) =>
      streaming.ParityCheck.minhashTtlParity(s, dir, horizonMinutes = 240)),

    // the LATE-DELIVERY twin: same horizon, same oracle truth, but the
    // replay arrives in a deterministic out-of-order permutation inside
    // the operator's watermark — gating that the retention slack and the
    // two-sided emission bound hold end to end through real Structured
    // Streaming, not just in the property-tested pure transition
    "q_dedup_minhash_late_stream_parity" -> ((s, dir) =>
      streaming.ParityCheck.minhashTtlLateParity(s, dir, horizonMinutes = 240)),

    // the COMPOSED live-dedup pipeline, gated as one flow: arrival waves
    // run the exact tier (bloom-screened history dedup, survivors
    // appended), the near-dup tier (TTL stream LSH + shared jaccard
    // verify), and the label tier (incremental CC merge into the
    // pre-existing history labeling) — and the final label table must
    // equal the all-at-once batch twin, with survivor-set and
    // candidate-set equality folded into the same verdict
    "q_dedup_live_pipeline_parity" -> ((s, dir) =>
      streaming.ParityCheck.livePipelineParity(s, dir)),

    // the SAME composed scenario driven through the RUNNABLE pipeline
    // (streaming.DocumentStream — one checkpointed foreachBatch query)
    // with a STOP after the second micro-batch and a RESTART from the
    // checkpoint: crash-recovery is part of the gated contract, and the
    // oracle restates every count independently
    "q_docstream_restart_parity" -> ((s, dir) =>
      streaming.ParityCheck.restartPipelineParity(s, dir)),

    // the SAME runnable pipeline with the HOT-BUCKET CAP live (the
    // minHashPairsCapped kernel as a per-batch LeftAnti prune over the
    // batch ∪ admission-reachable band state) under a template flood in
    // EVERY wave: final state must equal the capped batch twin, and the
    // inline health ledger must show the cap intervening per batch
    "q_docstream_capped_parity" -> ((s, dir) =>
      streaming.ParityCheck.cappedRestartParity(s, dir,
        gateRoot(s, dir, "docstream_capped"))),

    // the capped pipeline's committed health-ledger row for the LAST
    // batch: arrived/admitted counts, hottest-bucket share + candidate
    // rate (integer ppb), hot-bucket count, verified pairs, alert —
    // hash-checked against the independent DuckDB replica of the
    // per-wave occupancy cut
    "q_docstream_gauge" -> ((s, dir) => {
      val root = gateRoot(s, dir, "docstream_capped")
      val g = graft.streaming.DocumentStream.gaugeRows(s, s"$root/state")
      g.join(g.agg(max(col("batch_id")).as("batch_id")), Seq("batch_id"))
        .select(col("n_arrived"), col("n_admitted"),
          col("top_share_ppb"), col("cand_ppb"), col("hot_buckets"),
          col("n_pairs"), col("alert"))
    }),

    // the runnable VECTOR pipeline (streaming.EmbeddingStream — exact
    // hash tier, fixed-centroid assignment with the inline drift gauge,
    // cluster-local pairing, label merge) driven through the same
    // stop/restart/consolidation-straddle protocol; same batch twin and
    // the same oracle as the hand-driven embedding gate
    "q_embstream_restart_parity" -> ((s, dir) =>
      streaming.ParityCheck.embeddingRestartParity(s, dir)),

    // the runnable FINGERPRINT (media) pipeline — the third tier over
    // the shared BatchState: arrivals decode through the real PNG codec
    // per micro-batch (corrupt payloads quarantine into the ledger),
    // band-join the persisted fingerprint index, merge labels; stop
    // after wave 2, restart straddling a consolidation; final state
    // equals the all-at-once batch twin, counts restated by the
    // closed-form texture oracle without decoding a pixel
    "q_fpstream_restart_parity" -> ((s, dir) =>
      streaming.ParityCheck.fingerprintRestartParity(s, dir,
        gateRoot(s, dir, "fpstream_gate"))),

    // the media pipeline's committed ledger row for the LAST batch
    // (decode health + pair flow + the defense columns: hot_buckets,
    // quar_ppb, alert) — hash-checked against the closed-form per-wave
    // replica (no pixel decoded on the oracle side)
    "q_fpstream_gauge" -> ((s, dir) => {
      val root = gateRoot(s, dir, "fpstream_gate")
      val g = graft.streaming.FingerprintStream.gaugeRows(s, s"$root/state")
      g.join(g.agg(max(col("batch_id")).as("batch_id")), Seq("batch_id"))
        .select(col("n_arrived"), col("n_decoded"),
          col("n_quarantined"), col("n_pairs"), col("top_share_ppb"),
          col("hot_buckets"), col("quar_ppb"), col("alert"))
    }),

    // the media ledger's QUARANTINE-RATE alert policy over the whole
    // run: corrupt (%13) arrivals quarantine per payload, and every
    // batch whose quarantine share exceeds the 5% threshold marks its
    // ledger row — the "corrupted upstream batch pages someone" receipt,
    // restated closed-form from the id classes
    "q_fpstream_alerts" -> ((s, dir) => {
      val root = gateRoot(s, dir, "fpstream_gate")
      graft.streaming.FingerprintStream.gaugeRows(s, s"$root/state")
        .agg(count(lit(1)).as("n_batches"),
          sum(col("n_quarantined")).as("quar_total"),
          count(when(col("alert"), 1)).as("n_alerts"))
    }),

    // the CAPPED media pipeline gated end to end: a DECODABLE
    // template-image flood — traffic quarantine CANNOT stop — under the
    // live hot-bucket cap, with a restart straddling a consolidation;
    // final index/pair/label state must equal the per-wave capped batch
    // twin and the ledger's hot-bucket accounting must match the twin's
    // per-wave hot sets exactly (counts restated by the closed-form
    // texture oracle)
    "q_fpstream_capped_parity" -> ((s, dir) =>
      streaming.ParityCheck.fpCappedRestartParity(s, dir,
        gateRoot(s, dir, "fpstream_capped"))),

    // RETROACTIVE DECONTAMINATION, media tier: the same template flood
    // run UNCAPPED (junk pairs persisted, flood mega-cluster), then
    // FingerprintStream.decontaminate at the corpus-level cap — the
    // post-repair pair/label state must hash-equal the GLOBAL capped
    // batch operator over the standing index, and the report must show
    // real repair work (cost ∝ flood-touched components, never a full
    // rebuild). Counts restated closed-form by the texture oracle.
    "q_fpstream_decontam_parity" -> ((s, dir) =>
      streaming.ParityCheck.fpDecontamParity(s, dir,
        gateRoot(s, dir, "fpstream_decontam"))),

    // RETROACTIVE DECONTAMINATION, text tier: a NEAR-dup template flood
    // (kept by the exact tier — the traffic byte-dedup cannot stop) run
    // uncapped, then DocumentStream.decontaminate — post-repair state
    // must equal the global-occupancy capped batch twin; the DuckDB
    // MinHash replica restates every count with the same suffix rewrite
    "q_docstream_decontam_parity" -> ((s, dir) =>
      streaming.ParityCheck.docDecontamParity(s, dir,
        gateRoot(s, dir, "docstream_decontam"))),

    // RETROACTIVE DECONTAMINATION, vector tier: a sign-flip mode-collapse
    // flood (distinct bytes — the exact tier keeps it; exactly
    // representable — the DuckDB replica holds identical floats) run
    // uncapped, then EmbeddingStream.decontaminate at the DERIVED corpus
    // cap (max occupancy over flood-free clusters) — post-repair state
    // must equal the cool-cluster policy truth; the bit-exact IVF chain
    // restates every count under the same rewrite
    "q_embstream_decontam_parity" -> ((s, dir) =>
      streaming.ParityCheck.embDecontamParity(s, dir,
        gateRoot(s, dir, "embstream_decontam"))),

    // the capped media run's WHOLE-LEDGER verdict: batches, arrivals,
    // cap interventions (hot bucket count), alert count, committed
    // pairs, quarantines — the "defense actually fired" receipt on the
    // media tier, restated closed-form per wave by the texture oracle
    "q_fpstream_capped_gauge" -> ((s, dir) => {
      val root = gateRoot(s, dir, "fpstream_capped")
      graft.streaming.FingerprintStream.gaugeRows(s, s"$root/state")
        .agg(count(lit(1)).as("n_batches"),
          sum(col("n_arrived")).as("arrived_total"),
          sum(col("hot_buckets")).as("hot_buckets_total"),
          count(when(col("alert"), 1)).as("n_alerts"),
          sum(col("n_pairs")).as("pairs_total"),
          sum(col("n_quarantined")).as("quar_total"))
    }),

    // the EMBEDDING live pipeline gate: waves of arriving vectors run
    // assign → cluster-local pair → incremental label merge against the
    // standing base-trained index; final labels and live pairs must equal
    // the all-at-once batch twin under the same quantizer
    "q_semdedup_live_parity" -> ((s, dir) =>
      streaming.ParityCheck.embeddingLiveParity(s, dir)),

    // the DEEP-HISTORY live near-dup gate: waves of arriving documents
    // band → candidate vs everything banded so far → verify → label merge;
    // the final labeling and live pairs must equal one full minHashPairs
    // self-join + CC over the whole corpus (signature corpus-independence
    // makes wave order irrelevant)
    "q_dedup_deep_live_parity" -> ((s, dir) =>
      streaming.ParityCheck.minhashDeepLiveParity(s, dir)),

    // sessionize composed with the counting-percentile construction
    "q_session_length_pcts" -> ((s, dir) =>
      Analytics.sessionLengthPercentiles(Tables.events(s, dir), 30)),

    "q_distinct_users" -> ((s, dir) =>
      Analytics.distinctUsers(Tables.events(s, dir))),

    "q_approx_distinct_users" -> ((s, dir) =>
      Analytics.approxDistinctUsersChecked(Tables.events(s, dir))),

    "q_purchase_no_signup" -> ((s, dir) =>
      Analytics.purchasedNeverSignedUp(Tables.events(s, dir))),

    "q_rollup_revenue" -> ((s, dir) =>
      Analytics.revenueRollup(Tables.lineitem(s, dir))),

    "q_asof_join" -> ((s, dir) =>
      Analytics.lastOrderBeforeEvent(Tables.events(s, dir), Tables.orders(s, dir))),

    "q_asof_join_exec" -> ((s, dir) =>
      Analytics.lastOrderBeforeEventExec(s, Tables.events(s, dir), Tables.orders(s, dir))),

    "q_range_join" -> ((s, dir) =>
      analytics.RangeJoin.shipmentsInWindows(Tables.orders(s, dir), Tables.lineitem(s, dir))),

    "q4_order_priority" -> ((s, dir) =>
      Analytics2.orderPriority(Tables.orders(s, dir), Tables.lineitem(s, dir),
        "1996-01-01 00:00:00", "1997-01-01 00:00:00")),

    "q_customer_ltv" -> ((s, dir) =>
      Analytics2.customerOrderStats(Tables.customer(s, dir), Tables.orders(s, dir))),

    // ADAPTIVELY salted fact-to-dim join: per-key fan-out derived from
    // observed counts (g = ceil(|key|/target); keys at/under the target
    // pay no replication), same result as the plain equi-join, verified
    // against the unsalted oracle SQL. target=64 makes the fixture's
    // hotter users actually engage the salt path (g=2) so the gate
    // exercises it, while a uniform corpus at scale runs salt-free
    "q_skew_join" -> ((s, dir) => {
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      analytics.SkewJoin.saltedJoinAdaptive(Tables.events(s, dir), dim,
        key = "user_id", idCol = "event_id", targetPerKey = 64)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"), Cols.dsum(col("value")).as("sum_value"))
        .orderBy(col("c_nationkey"))
    }),

    "q_running_revenue" -> ((s, dir) =>
      Analytics2.runningRevenue(Tables.orders(s, dir))),

    "q_event_deltas" -> ((s, dir) =>
      Analytics2.eventDeltas(Tables.events(s, dir))),

    "q_moving_avg" -> ((s, dir) =>
      Analytics2.movingAvg(Tables.events(s, dir))),

    // RANGE (event-time) frame twin: trailing 30 min per user
    "q_trailing_window" -> ((s, dir) =>
      Analytics2.trailingWindow(Tables.events(s, dir), minutes = 30)),

    // counting-based exact percentile twin: same values as q_percentiles
    // from O(distinct values) per-task state instead of all-group-rows
    "q_percentiles_big" -> ((s, dir) =>
      Analytics2.quantityPercentilesScalable(Tables.lineitem(s, dir))),

    "q_percentiles" -> ((s, dir) =>
      Analytics2.quantityPercentiles(Tables.lineitem(s, dir))),

    "q_approx_percentiles" -> ((s, dir) =>
      Analytics2.approxQuantityPercentilesChecked(Tables.lineitem(s, dir))),

    "q_string_funcs" -> ((s, dir) =>
      Analytics2.partNameStrings(Tables.part(s, dir))),

    "q_value_buckets" -> ((s, dir) =>
      Analytics2.valueBuckets(Tables.events(s, dir))),

    "q_union_activity" -> ((s, dir) =>
      Analytics2.unionActivity(Tables.events(s, dir))),

    "q_tumbling_windows" -> ((s, dir) =>
      Analytics2.tumblingCounts(Tables.events(s, dir))),

    "q_token_freq" -> ((s, dir) =>
      Analytics2.tokenFrequency(Tables.documents(s, dir), 30)),

    // ───────────────────────── dedup ──
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir))),

    "q_dedup_drop" -> ((s, dir) =>
      Dedup.exactDropList(Tables.documents(s, dir))),

    // incremental history dedup: bloom-negative rows bypass the anti-join
    "q_dedup_history" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.historyDedupBloom(s,
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0))
    }),

    // bootstrap case: EMPTY history → NULL bloom must read as "definitely
    // unseen" and pass the whole first batch (the r5-advice defect, now a
    // gate row, not just a spec)
    "q_dedup_history_bootstrap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.historyDedupBloom(s, docs, docs.filter(lit(false)))
    }),

    "q_dedup_char_jaccard" -> ((s, dir) =>
      Dedup.charJaccardPairs(Tables.documents(s, dir), 0.9)),

    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashPairs(Tables.documents(s, dir), n = 3, k = 64, bands = 16, threshold = 0.5)),

    // INCREMENTAL minhash: arriving docs (doc_id % 7 == 0) band-join the
    // persisted base band-signature index + the delta self-join; verify
    // shingles candidate endpoints only — near-dup against ALL history at
    // cost ∝ delta (the TTL stream covers the horizon; this covers deep
    // history). Signature corpus-independence makes the result EXACTLY
    // the full run's delta-touching slice, same oracle chain
    "q_dedup_minhash_incr" -> ((s, dir) =>
      Dedup.minHashPairsIncremental(s, dir,
        Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0),
        Tables.documents(s, dir).filter(col("doc_id") % 7 === 0))),

    // the retention × serving composition: the standing index RETIRES the
    // base docs at doc_id % 11 == 0 (broadcast anti-join on the persisted
    // band/lookup rows — Dedup.expireRows), and the % 7 == 0 arrivals
    // band-join what survives; per-document signature independence makes
    // the result exactly the incremental run over (base − expired),
    // which is what the oracle recomputes
    "q_dedup_minhash_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") % 7 =!= 0)
      Dedup.minHashPairsIncremental(s, dir, base,
        docs.filter(col("doc_id") % 7 === 0),
        expiredIds = Some(base.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"))))
    }),

    // q_dedup_minhash_retire's MAINTENANCE-WINDOW twin: the dedicated
    // _rwret band index + doc-text lookup are physically REWRITTEN once
    // (expired rows dropped in place, band/shard partitioning preserved)
    // and arrivals run the plain incremental plan against them — NO
    // per-batch anti-join; same pairs, same oracle as the serve-time
    // expiry path
    "q_dedup_minhash_retire_rewrite" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") % 7 =!= 0)
      Dedup.minHashPairsIncrementalRewritten(s, dir, base,
        docs.filter(col("doc_id") % 7 === 0),
        expiredIds = base.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id")))
    }),

    // 128-bit simhash (FNV vote word + splitmix64-mixed vote word) through
    // hammingPairs128's 4x32-bit banding — radius 24 of 128 keeps the
    // 64-bit tier's 12-of-64 vote-fraction threshold
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simHash128Pairs(Tables.documents(s, dir), maxHamming = 24)),

    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.3)),

    // DEFAULTS to the persisted label table (the q_semdedup precedent):
    // cluster labels are an ingest-side derivation — a reader must not
    // pay the O(log n) CC re-convergence on every query when the _idx
    // twins prove the warm read is 20-100x cheaper. The _build row below
    // keeps the lazy build path timed; identical rows, same recursive-CTE
    // oracle either way
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClustersPersisted(s, dir, Tables.documents(s, dir),
        Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9), 0.9)),

    // the keep list: canonical survivor + member count per component —
    // also off the persisted labels (one grouped count on the read path)
    "q_dedup_survivors" -> ((s, dir) =>
      Dedup.survivorsFromLabels(
        Dedup.nearDupClustersPersisted(s, dir, Tables.documents(s, dir),
          Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9), 0.9))),

    // the keep list READ over the incrementally-merged labels — the
    // composition a live pipeline actually serves after each delta
    // merge (one grouped count over q_dedup_clusters_incr's output,
    // which is hash-equal to the full labeling, so the survivors oracle
    // carries over verbatim)
    "q_dedup_survivors_incr" -> ((s, dir) =>
      Dedup.survivorsFromLabels(queries("q_dedup_clusters_incr")(s, dir))),

    // RETENTION label maintenance — the dual of the incremental merge:
    // docs at doc_id % 11 == 0 play the TTL-expired set; the persisted
    // full-corpus labeling retires them via Dedup.retireClusterDelta at
    // cost ∝ the components they touch, re-converged from the PERSISTED
    // pair table's surviving edges (removal can SPLIT a component, so
    // pass-through labeling of survivors would be wrong). Hash-equal to
    // a full rebuild over the surviving corpus — the oracle recomputes
    // the closure over documents WHERE doc_id % 11 <> 0
    "q_dedup_clusters_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.charJaccardPairsPersisted(s, dir, docs, 0.9)
      val baseLabels = Dedup.nearDupClustersPersisted(s, dir, docs, pairs, 0.9)
      Dedup.retireClusterDelta(baseLabels, pairs,
        docs.filter(col("doc_id") % 11 === 0).select(col("doc_id")))
    }),

    // the keep list served right after a retention pass — one grouped
    // count over the retired labeling (hash-equal to the rebuild's, so
    // the survivors oracle carries over with the same WHERE)
    "q_dedup_survivors_retire" -> ((s, dir) =>
      Dedup.survivorsFromLabels(queries("q_dedup_clusters_retire")(s, dir))),

    // the LIFECYCLE composition the merge and retire rows prove only in
    // isolation: labels maintained through an ARRIVAL epoch
    // (mergeClusterDelta — q_dedup_clusters_incr's plan, equal to the
    // full-corpus labeling) and then a RETENTION epoch
    // (retireClusterDelta over the persisted pair table) must equal the
    // from-scratch rebuild on the surviving corpus — maintenance deltas
    // of DIFFERENT kinds compose without drift, so a standing labeling
    // never needs a rebuild between epochs. Same oracle as
    // q_dedup_clusters_retire (the closure over doc_id % 11 <> 0)
    "q_dedup_clusters_lifecycle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merged = queries("q_dedup_clusters_incr")(s, dir)
      Dedup.retireClusterDelta(merged,
        Dedup.charJaccardPairsPersisted(s, dir, docs, 0.9),
        docs.filter(col("doc_id") % 11 === 0).select(col("doc_id")))
    }),

    // RETENTION COMPOSED across the storage and label layers — one
    // replayed TTL scenario: documents get event times (t0 + doc_id · 6 h,
    // spanning several months), land in the reference's month-partitioned
    // LogTable layout, and age out through LogTable.retention (whole-month
    // directory drops + one boundary-month rewrite, db.go:59-65); the SAME
    // cutoff drives Dedup.retireClusterDelta over the persisted labeling.
    // The row asserts the two layers agree on the surviving corpus —
    // layouts_agree folds both set-differences — and the oracle restates
    // every count from the id arithmetic (ts ≥ cutoff ⇔ doc_id ≥ the 3/5
    // split, for ANY epoch: months are UTC-formatted from the same ms
    // values the cutoff compares against)
    "q_retention_compose" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val splitId = (maxId + 1L) * 3L / 5L
      val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val hourMs = 6L * 3600000L
      val cutoff = new java.sql.Timestamp(t0Ms + splitId * hourMs)
      val path = graft.sources.ManagedTable.once(
        s"${s.sparkContext.applicationId}/ttl_docs/$dir") {
        val warehouse = new org.apache.hadoop.fs.Path(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")))
        val loc = new org.apache.hadoop.fs.Path(warehouse,
          s"ttl_docs_${graft.sources.ManagedTable.tag(dir)}")
        val fsys = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fsys.exists(loc)) fsys.delete(loc, true)
        graft.logs.LogTable.append(
          docs.withColumn("ts",
            timestamp_millis(lit(t0Ms) + col("doc_id") * hourMs)),
          loc.toString, sortCols = Seq("doc_id"))
        graft.logs.LogTable.retention(s, loc.toString, cutoff,
          sortCols = Seq("doc_id"))
        loc.toString
      }
      val surviving = s.read.schema(docs.schema
          .add("ts", org.apache.spark.sql.types.TimestampType)
          .add("month", org.apache.spark.sql.types.StringType))
        .parquet(path).select(col("doc_id")).localCheckpoint(true)
      val pairs = Dedup.charJaccardPairsPersisted(s, dir, docs, 0.9)
      val baseLabels = Dedup.nearDupClustersPersisted(s, dir, docs, pairs, 0.9)
      val retired = Dedup.retireClusterDelta(baseLabels, pairs,
        docs.filter(col("doc_id") < splitId).select(col("doc_id")))
        .localCheckpoint(true)
      val onlyLayout = surviving
        .exceptAll(retired.select(col("doc_id"))).count()
      val onlyLabels = retired.select(col("doc_id"))
        .exceptAll(surviving).count()
      s.createDataFrame(Seq((surviving.count(),
        docs.count() - surviving.count(),
        retired.select(col("cluster_id")).distinct().count(),
        onlyLayout == 0L && onlyLabels == 0L)))
        .toDF("n_surviving", "n_expired", "n_clusters", "layouts_agree")
    }),

    // the one row that still times the full lazy build (pair generation +
    // large-star/small-star convergence in-query) — the write-path cost a
    // capacity planner needs a number for
    "q_dedup_clusters_build" -> ((s, dir) =>
      Dedup.nearDupClusters(Tables.documents(s, dir),
        Dedup.charJaccardPairs(Tables.documents(s, dir), 0.9))),

    // INCREMENTAL label maintenance — the live-corpus merge path: the
    // corpus is split deterministically (doc_id % 7 == 0 plays the
    // newly-arrived delta), the PERSISTED base labeling (built once over
    // the base slice, like every other layout artifact) absorbs the
    // delta's near-dup pairs via Dedup.mergeClusterDelta at cost ∝ delta
    // (star contraction re-runs over delta-touched components ONLY), and
    // the result is hash-equal to the full rebuild — so it shares
    // q_dedup_clusters' recursive-CTE oracle verbatim. The benched read
    // is the merge itself: delta pair filter + delta-sized contraction +
    // broadcast-anti pass-through of untouched labels
    "q_dedup_clusters_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isDelta = col("doc_id") % 7 === 0
      val baseLabels = graft.sources.ManagedTable.persisted(s,
        "neardup_clusters_base900_" + graft.sources.ManagedTable.tag(dir))(
        Dedup.nearDupClusters(docs.filter(!isDelta),
          Dedup.charJaccardPairs(docs.filter(!isDelta), 0.9)))
      val deltaPairs =
        Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9)
          .filter(col("id_a") % 7 === 0 || col("id_b") % 7 === 0)
      Dedup.mergeClusterDelta(baseLabels,
        docs.filter(isDelta).select(col("doc_id")), deltaPairs)
    }),

    // the PERSISTED label table read directly (round 8, mirroring
    // q_central_survivors/q_semdedup): connected components are an
    // ingest-side derivation too — the _idx read path is one scan of
    // the labeling, not a re-convergence over the persisted pairs.
    // Identical rows (the table IS nearDupClusters' output), same
    // recursive-CTE oracles
    "q_dedup_clusters_idx" -> ((s, dir) =>
      Dedup.nearDupClustersPersisted(s, dir, Tables.documents(s, dir),
        Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9), 0.9)),

    // degree histogram of the near-dup graph off the persisted pair
    // table: clique-tail diagnostic, two integer aggs over the edge set
    "q_degree_dist" -> ((s, dir) =>
      Dedup.degreeDistribution(
        Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9))),

    // asymmetric 3-shingle containment >= 0.05 within source blocks: the
    // quote-inclusion detector symmetric jaccard misses
    "q_containment" -> ((s, dir) =>
      Dedup.shingleContainment(Tables.documents(s, dir), 3, 50000000L)),
    // keep list off the persisted labels: one grouped count on the read
    // path (the CC convergence is the one-time layout write)
    "q_dedup_survivors_idx" -> ((s, dir) =>
      Dedup.survivorsFromLabels(
        Dedup.nearDupClustersPersisted(s, dir, Tables.documents(s, dir),
          Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9), 0.9))),

    // centrality over the near-dup graph (5 fixed ppb PageRank rounds off
    // the persisted pair table): which member of a duplicate family is
    // most corroborated — the canonical-representative signal
    "q_pagerank" -> ((s, dir) =>
      analytics.Graph.pageRankPpb(Tables.documents(s, dir),
        Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9))),

    // the composite keep list: each duplicate family's most-central
    // member (PageRank argmax, min-id ties) with its member count —
    // read off the PERSISTED cluster + rank tables (one join, one
    // grouped argmax on the read path; the derivations are one-time
    // layout writes, warmed like every other *_idx artifact)
    "q_central_survivors" -> ((s, dir) =>
      analytics.Graph.centralSurvivorsFrom(
        Dedup.nearDupClustersPersisted(s, dir, Tables.documents(s, dir),
          Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9), 0.9),
        analytics.Graph.pageRankPpbPersisted(s, dir, Tables.documents(s, dir),
          Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9), 0.9))),

    // triangle counts + ppb clustering coefficient over the same graph:
    // template-family density vs drift-chain sparsity. Capped: complete
    // cliques and families above 24 members (off the persisted labels)
    // take the closed-form clique credit C(deg,2); only small incomplete
    // components are enumerated — worst-case output bounded, and the
    // same rule is in the DuckDB oracle, so both branches are
    // hash-checked at the gate SF (largest sf0.01 family has 25 members)
    "q_triangles" -> ((s, dir) =>
      analytics.Graph.triangleStatsCapped(Tables.documents(s, dir),
        Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9),
        Dedup.nearDupClustersPersisted(s, dir, Tables.documents(s, dir),
          Dedup.charJaccardPairsPersisted(s, dir, Tables.documents(s, dir), 0.9), 0.9))),

    "q_dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, dir), 0.4)),

    "q_dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsLsh(Tables.embeddings(s, dir), 0.9)),

    // the nonzero-truth exercise of the LSH pair path: the fixture's pair
    // mass sits at cosine ~0.4, so the bucketed candidate generation is
    // verified against 59 true pairs (sf0.01), not an empty set. bits=4/
    // tables=16 measures 0.93 recall there (deterministic hyperplanes);
    // bound 0.9 = measured floor minus noise, so a regression in the
    // hyperplane family fails loudly instead of eroding to a slack bound
    "q_dedup_embedding_lsh_check" -> ((s, dir) =>
      pairRecallCheck(
        Similarity.embeddingNearDupPairsLsh(Tables.embeddings(s, dir), 0.4,
          bits = 4, tables = 16),
        Similarity.embeddingNearDupPairs(Tables.embeddings(s, dir), 0.4),
        bound = 0.9)),

    // SemDeDup: cluster-local semantic dedup — within-cluster pairwise
    // work (Σ|c|² not n²), hash-exact oracle via the replicated IVF chain.
    // DEFAULTS to the persisted IVF assignment (like q_central_survivors):
    // the lazy plan re-ran the k-means chain inside every query (~3× the
    // warm indexed read, SCALE.md); re-running dedup at a new threshold
    // should re-pay only the pair scan. The lazy construction stays
    // covered by SimilaritySpec's persisted-vs-lazy equality case.
    "q_semdedup" -> ((s, dir) =>
      Similarity.semanticDedupPairsPersisted(s, dir,
        Tables.embeddings(s, dir), 0.4)),

    // SemDeDup off the persisted IVF index: assignment read, not rebuilt
    // (re-running dedup at a new threshold re-pays only the pair scan);
    // identical rows, same oracle as q_semdedup
    "q_semdedup_idx" -> ((s, dir) =>
      Similarity.semanticDedupPairsPersisted(s, dir,
        Tables.embeddings(s, dir), 0.4)),

    // INCREMENTAL SemDeDup: arriving vectors (vec_id % 7 == 0) assigned to
    // the persisted BASE-trained centroids (add-after-train) and compared
    // cluster-locally against the standing assignment + each other —
    // nothing re-clusters, nothing corpus-sized shuffles; the oracle
    // replicates the base-trained chain bit-for-bit
    "q_semdedup_incr" -> ((s, dir) =>
      Similarity.semanticDedupPairsIncremental(s, dir,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 =!= 0),
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0), 0.4)),

    // retention x arrival-time serving on the vector tier: base vectors
    // at vec_id % 11 == 0 retire from the persisted assignment (broadcast
    // anti-join; the base-trained CENTROIDS stay — train-once), and the
    // % 7 == 0 arrivals pair only with what survives — exactly the
    // incremental run over (base − expired), which the oracle recomputes
    // under the same base-trained chain
    // the vector tier's HOT-CLUSTER CAP under an embedding-template
    // flood (every 5th vector rewritten to the corpus-minimum vector —
    // the collapsed-cluster shape a mode-collapsed encoder produces):
    // over-occupied clusters are quarantined from pair generation, so
    // the join's worst key is bounded by cap² while the retrain the
    // gauge prescribes amortizes. Hash-exact: the DuckDB replica applies
    // the same occupancy rule to the same deterministic assignment.
    "q_semdedup_capped" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tpl = broadcast(emb.orderBy(col("vec_id")).limit(1)
        .select(col("embedding").as("tpl_emb")))
      val rew = emb.crossJoin(tpl).select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("tpl_emb"))
          .otherwise(col("embedding")).as("embedding"))
      Similarity.semanticDedupPairsCapped(rew, 0.4)
    }),

    "q_semdedup_retire" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 7 =!= 0)
      Similarity.semanticDedupPairsIncremental(s, dir, base,
        emb.filter(col("vec_id") % 7 === 0), 0.4,
        expiredIds = Some(base.filter(col("vec_id") % 11 === 0)
          .select(col("vec_id"))))
    }),

    // q_semdedup_retire's MAINTENANCE-WINDOW twin: the dedicated _rwret
    // cluster-partitioned assignment is physically REWRITTEN once
    // (expired vectors dropped in place; the base-trained centroids
    // stay — train-once) and arrivals run the plain incremental plan
    // against it — NO per-batch anti-join; same pairs, same oracle as
    // the serve-time expiry path
    "q_semdedup_retire_rewrite" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 7 =!= 0)
      Similarity.semanticDedupPairsIncrementalRewritten(s, dir, base,
        emb.filter(col("vec_id") % 7 === 0), 0.4,
        expiredIds = base.filter(col("vec_id") % 11 === 0)
          .select(col("vec_id")))
    }),

    "q_embedding_stats" -> ((s, dir) =>
      Similarity.embeddingStats(Tables.embeddings(s, dir))),

    // int8 scalar quantization (FAISS-SQ8 shape): integer aggregates of
    // the quantized codes are exact, so the frame hash-matches DuckDB
    "q_embedding_quantize" -> ((s, dir) =>
      ops.Quantization.quantizeSummary(Tables.embeddings(s, dir))),

    // ───────────────────────── similarity search ──
    "q_knn_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), 0L until 10L, 5)),

    // int8 quantized scan + exact re-rank; deterministic, hash-compared
    "q_knn_int8" -> ((s, dir) =>
      Similarity.int8TopK(Tables.embeddings(s, dir), 0L until 10L, 5)),

    "q_knn_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), 0L until 10L, 5)),

    "q_knn_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), 0L until 10L, 5)),

    // same query off the PERSISTED index (build-once/query-many): probed
    // buckets come off the cluster-partitioned assignment table via
    // partition pruning; identical rows, same oracle as q_knn_ivf
    "q_knn_ivf_idx" -> ((s, dir) =>
      Similarity.ivfTopKPersisted(s, dir, Tables.embeddings(s, dir),
        0L until 10L, 5)),

    // product-quantization ADC: m=8 subspaces × 16 codes, asymmetric
    // LUT scan + exact re-rank — deterministic, hash-compared end to end
    "q_knn_pq" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir), 0L until 10L, 5)),

    // IVF-PQ composite (FAISS IndexIVFPQ shape): coarse bucket pruning
    // off the persisted cluster-partitioned codes table AND O(m) ADC
    // scanning inside probed buckets, exact re-rank over the pool —
    // both index halves are one-time persisted layouts. nProbe=8/
    // poolFactor=16 sized so the double approximation measures ≥0.64
    // recall at both gate SFs (0.64 sf0.001 / 0.74 sf0.01)
    "q_knn_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopKPersisted(s, dir, Tables.embeddings(s, dir),
        0L until 10L, 5, nProbe = 8, poolFactor = 16)),

    // recall verdicts for the approximate kNN tiers: truth = brute force,
    // verdict (containment holds by construction — every approx row is
    // exact-cosine-verified) is what the oracle asserts
    "q_knn_lsh_check" -> ((s, dir) =>
      knnRecallCheck(Similarity.lshTopK(Tables.embeddings(s, dir), 0L until 10L, 5),
        Tables.embeddings(s, dir), 0.4)),

    // bounds sit below the deterministic measured recalls at the gate SF
    // (LSH 0.48; IVF 0.64 with the registered defaults — nProbe=6 of 32
    // buckets and 2 Lloyd refinement rounds over the hash-sampled seeds,
    // up from 0.40 unrefined)
    "q_knn_ivf_check" -> ((s, dir) =>
      knnRecallCheck(Similarity.ivfTopK(Tables.embeddings(s, dir), 0L until 10L, 5),
        Tables.embeddings(s, dir), 0.6)),

    // the composite's recall twin: double approximation (bucket cut ∩
    // PQ pool cut) — bound 0.6, below the deterministic measured floor
    // (0.64 at sf0.001, 0.74 at sf0.01), so a regression in either the
    // coarse quantizer or the codebook fails loudly
    "q_knn_ivfpq_check" -> ((s, dir) =>
      knnRecallCheck(
        Similarity.ivfPqTopKPersisted(s, dir, Tables.embeddings(s, dir),
          0L until 10L, 5, nProbe = 8, poolFactor = 16),
        Tables.embeddings(s, dir), 0.6)),

    // IVF DRIFT GAUGE: quantization fit of one held-out arrival batch
    // (odd % 7 == 0 ids) vs a reference batch (even ones) against the
    // base-trained persisted centroids — the retrain trigger for the
    // add-after-train contract, held-out vs held-out so Lloyd's
    // overfit-to-training gap cancels. In-distribution fixture halves →
    // drift ≈ 0, retrain = false; the `ivfdrift` soak shows the gauge
    // moving under a genuinely shifted batch. Every arithmetic step is
    // ppb-integer or a bit-identical IEEE cosine, so the row
    // hash-matches its DuckDB replica exactly
    "q_knn_ivf_drift_check" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val delta = emb.filter(col("vec_id") % 7 === 0)
      Similarity.ivfDriftGauge(s, dir, emb.filter(col("vec_id") % 7 =!= 0),
        delta.filter(col("vec_id") % 2 === 0),
        delta.filter(col("vec_id") % 2 =!= 0))
    }),

    // the CLOSED drift → retrain → serve loop as one gated row: arrival
    // thirds d1/d2 come from a shifted distribution (one-orthant mode
    // collapse — float(abs(x)+0.5), bit-exact on both engines); the
    // epoch-0 gauge must FIRE on d1 (require — a quiet gauge fails the
    // row), the policy executes (ivfRetrainEpoch on base ∪ d0 ∪ d1 under
    // the _epoch2 suffix; epoch 1 is SimilaritySpec's), and d2 then
    // serves INCREMENTALLY against the new epoch's centroids. The oracle
    // trains from scratch on the accumulated corpus, so hash-equality
    // proves the epoch handoff loses nothing vs a full rebuild.
    "q_knn_ivf_epoch_serve" -> ((s, dir) => {
      val (base, d0, d1, d2) = epochShiftSplits(s, dir)
      val g0 = Similarity.ivfDriftGauge(s, dir, base, d0, d1).head()
      require(g0.getBoolean(7),
        s"epoch-0 gauge must fire on the shifted arrival batch: $g0")
      val corpus1 = base.unionByName(d0).unionByName(d1)
      Similarity.ivfRetrainEpoch(s, dir, corpus1, epoch = 2)
      Similarity.semanticDedupPairsIncremental(s, dir, corpus1, d2,
        threshold = 0.4, suffix = "_epoch2")
    }),

    // the SAME drift → retrain → serve cycle run INSIDE the runnable
    // vector pipeline (streaming.EmbeddingStream): d0 and the shifted d1
    // arrive as micro-batches — the inline per-batch gauge must FIRE on
    // d1's committed health row — then a maintenance window retrains to
    // epoch 1 (centroids over the standing corpus, in-place directory
    // reassignment, gauge re-anchor) and d2 arrives as the next batch.
    // d2's emitted pair set must equal the from-scratch incremental
    // serve on (base ∪ d0 ∪ d1): the SAME oracle as the batch-side
    // epoch row, so the two harnesses pin the same handoff truth
    "q_embstream_epoch_handoff" -> ((s, dir) =>
      graft.streaming.EmbeddingStream
        .pairsOfBatch(s, gateRoot(s, dir, "embstream_epoch"), 2L)
        .orderBy(col("id_a"), col("id_b"))),

    // the same pipeline's committed GAUGE-LEDGER row for the shifted
    // batch: the inline per-batch gauge's NUMBERS (fit drift + occupancy
    // in integer ppb), not just its boolean, hash-checked against the
    // independent DuckDB replica of the handoff scenario
    "q_embstream_gauge" -> ((s, dir) =>
      graft.streaming.EmbeddingStream
        .gaugeRows(s, gateRoot(s, dir, "embstream_epoch"))
        .filter(col("batch_id") === 1L)
        .select(col("n_ref"), col("n_new"), col("ref_fit_ppb"),
          col("new_fit_ppb"), col("drift_ppb"), col("ref_top_share_ppb"),
          col("new_top_share_ppb"), col("retrain"), col("hot_clusters"))),

    // the kNN leg of the same epoch handoff: top-k serving resumes
    // against the retrained _epoch2 index (probes and candidates are
    // accumulated-corpus members; the served third is the next arrival
    // batch, not yet in any index). The oracle trains from scratch on
    // the accumulated corpus — hash-equality proves the rotated index
    // serves exactly what a full rebuild would.
    "q_knn_ivf_epoch_topk" -> ((s, dir) => {
      val (base, d0, d1, _) = epochShiftSplits(s, dir)
      val corpus1 = base.unionByName(d0).unionByName(d1)
      Similarity.ivfRetrainEpoch(s, dir, corpus1, epoch = 2)
      Similarity.ivfTopKPersisted(s, dir, corpus1, probeIds = 0L to 9L,
        k = 5, suffix = "_epoch2")
    }),

    // band-index HEALTH gauge — the MinHash twin of the IVF drift gauge:
    // answers never decay (signatures are corpus-independent) but bucket
    // economics can; two integer-ppb signals (batch concentration +
    // index collision rate) vs an in-distribution reference, thresholds
    // calibrated by the bandhealth soak (SCALE.md)
    "q_dedup_band_health" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val delta = docs.filter(col("doc_id") % 7 === 0)
      ops.Dedup.bandIndexHealthGauge(s, dir,
        docs.filter(col("doc_id") % 7 =!= 0),
        delta.filter(col("doc_id") % 2 === 0),
        delta.filter(col("doc_id") % 2 =!= 0))
    }),

    // the band-health alert's EXECUTABLE remediation: over-occupied LSH
    // buckets (here a deterministic template flood — every 11th doc's
    // text rewritten to shared boilerplate) are excluded from candidate
    // generation before the pair join — the stop-word policy on the LSH
    // axis, Lucene's maxDocFreq analogue — and the surviving candidates
    // exact-verify as usual. Deterministically recall-bounded: the
    // DuckDB oracle applies the SAME occupancy rule, so the policy
    // itself is the hash-gated contract, and the pair join's worst key
    // is bounded by cap² instead of flood²
    "q_dedup_minhash_capped" -> ((s, dir) =>
      ops.Dedup.minHashPairsCapped(
        Tables.documents(s, dir).withColumn("text",
          when(col("doc_id") % 11 === 0,
            lit(OracleSql.CappedFloodTemplate)).otherwise(col("text"))))),

    // ───────────────────────── text analysis ──
    "q_text_stats" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(Tables.documents(s, dir))),

    "q_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir))),

    "q_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(Tables.documents(s, dir), 3)),

    // C4-style corpus-wide span dedup: keep each distinct 5-token span's
    // first occurrence, report the per-document survival ledger
    "q_span_dedup" -> ((s, dir) =>
      TextAnalysis.spanDedup(Tables.documents(s, dir), 5)),

    // Lee et al. repeated-span signal: sliding 5-gram windows duplicated
    // anywhere in the corpus, per-doc count + exact ppb fraction
    "q_repeated_ngrams" -> ((s, dir) =>
      TextAnalysis.repeatedNgramStats(Tables.documents(s, dir), 5)),

    // Gopher rule-based quality flags (word count, mean word length,
    // alpha-word fraction, stopword floor)
    "q_gopher_quality" -> ((s, dir) =>
      TextAnalysis.gopherQualityFlags(Tables.documents(s, dir))),

    // training-sequence packing: streaming-concat token layout, 2048/pack
    "q_pack" -> ((s, dir) =>
      ops.Packing.sequencePacks(Tables.documents(s, dir), 2048L)),

    // BM25 (raw-odds idf — cross-engine-exact, see Search.scaladoc) top-50
    "q_bm25" -> ((s, dir) =>
      ops.Search.bm25TopK(Tables.documents(s, dir),
        Seq("spark", "vector", "merge"), k = 50)),

    // INCREMENTAL BM25: the persisted BASE index (docs at doc_id % 7 != 0,
    // built once) absorbs the % 7 == 0 slice as a freshly-aggregated
    // delta by union — df/N/Σdl recompose exactly from the two halves,
    // so the scores hash-match the full-corpus scan path's oracle
    "q_bm25_incr" -> ((s, dir) =>
      ops.Search.bm25TopKIncremental(s, dir,
        Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0),
        Tables.documents(s, dir).filter(col("doc_id") % 7 === 0),
        Seq("spark", "vector", "merge"), k = 50)),

    // RETIRED BM25: the full-corpus persisted index drops the % 11 == 0
    // docs' posting/doclen rows (broadcast anti-join, Dedup.expireRows);
    // df/N/Σdl recompose from the survivors, so the scores hash-match a
    // rebuild over the surviving corpus — the reference's TTL semantics
    // applied to the index artifacts
    "q_bm25_retire" -> ((s, dir) =>
      ops.Search.bm25TopKRetired(s, dir, Tables.documents(s, dir),
        Tables.documents(s, dir).filter(col("doc_id") % 11 === 0)
          .select(col("doc_id")),
        Seq("spark", "vector", "merge"), k = 50)),

    // RETIRED BM25, maintenance-window form: the postings/doclen tables
    // are physically REWRITTEN once (expired rows dropped in place) and
    // serving reads them through the plain indexed plan — shard pruning
    // intact, NO per-query anti-join; same rows, same oracle as
    // q_bm25_retire (serve cost receipt: SCALE.md retire-rewrite rows)
    "q_bm25_retire_rewrite" -> ((s, dir) =>
      ops.Search.bm25TopKRetiredRewritten(s, dir, Tables.documents(s, dir),
        Tables.documents(s, dir).filter(col("doc_id") % 11 === 0)
          .select(col("doc_id")),
        Seq("spark", "vector", "merge"), k = 50)),

    // BM25 off the persisted term-sharded inverted index: partition
    // pruning on the query terms' shards, zero corpus tokenization
    "q_bm25_idx" -> ((s, dir) =>
      ops.Search.bm25TopKIndexed(s, dir, Tables.documents(s, dir),
        Seq("spark", "vector", "merge"), k = 50)),

    // conjunctive retrieval off the same inverted index: docs containing
    // ALL query terms, shard-pruned posting-list intersection
    "q_boolean_and" -> ((s, dir) =>
      ops.Search.booleanAndIndexed(s, dir, Tables.documents(s, dir),
        Seq("spark", "vector", "merge"))),

    // exact phrase search off the POSITIONAL postings: consecutive
    // occurrence counts via position-list intersection
    "q_phrase" -> ((s, dir) =>
      ops.Search.phraseIndexed(s, dir, Tables.documents(s, dir),
        Seq("query", "key"))),

    // result snippets: +-3-token context around the first phrase hit,
    // text re-attached only for the bounded match frame
    "q_snippets" -> ((s, dir) =>
      ops.Search.snippetsIndexed(s, dir, Tables.documents(s, dir),
        Seq("query", "key"), context = 3)),

    // NEAR operator: spark/merge within 5 tokens, pair counts from the
    // same positional posting lists
    "q_proximity" -> ((s, dir) =>
      ops.Search.proximityIndexed(s, dir, Tables.documents(s, dir),
        "spark", "merge", window = 5)),

    // wildcard `s*` term-dictionary lookup: vocabulary scan over the
    // postings table (hash shards can't prune a prefix range), df + ctf
    "q_prefix_search" -> ((s, dir) =>
      ops.Search.prefixTermsIndexed(s, dir, Tables.documents(s, dir), "s")),

    // more-like-this: docs sharing vocabulary with probe doc 7, each
    // shared term scored 1e9 div df off the postings (broadcast probe)
    "q_more_like_this" -> ((s, dir) =>
      ops.Search.moreLikeThisIndexed(s, dir, Tables.documents(s, dir),
        probeId = 7L, k = 20)),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 leg and the
    // dense cosine-kNN leg (ppb integer contributions, full-outer fuse)
    "q_hybrid_rrf" -> ((s, dir) =>
      // sparse leg off the persisted term-sharded postings (bit-identical
      // to the scan leg, same oracle): the fused query tracks q_bm25_idx's
      // pruned-scan economics instead of re-tokenizing the corpus
      ops.Search.hybridRrfTopKIndexed(s, dir, Tables.documents(s, dir),
        Tables.embeddings(s, dir), Seq("spark", "vector", "merge"),
        probeId = 7L, nCand = 100, k = 20)),

    // bigram-LM perplexity filter: train on doc_id%5!=0, score the rest
    "q_lm_score" -> ((s, dir) =>
      ops.Search.bigramLmScore(Tables.documents(s, dir))),

    // Drain-lite log-template mining over synthesized event log lines
    "q_log_templates" -> ((s, dir) =>
      TextAnalysis.logTemplates(
        Tables.events(s, dir).select(
          concat(col("event_type"), lit(": took "),
            round(col("value") * 100).cast("long").cast("string"),
            lit("ms user="), col("user_id").cast("string")).as("msg"),
          col("user_id").as("group_key"), col("ts")),
        prefixTokens = 8)),

    // bloom-filter runtime join pruning (the InjectRuntimeFilter shape as
    // user SQL): the scalar subquery builds the filter over the ~2%
    // selective dim keys; the fact scan drops non-joining rows BEFORE the
    // shuffle. Oracle = the plain join (blooms have no false negatives).
    "q_bloom_join" -> ((s, dir) => {
      GraftExtensions.register(s)
      Tables.orders(s, dir).createOrReplaceTempView("orders_bf")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_bf")
      s.sql("""SELECT o.o_orderkey, COUNT(*) AS n_items,
              |  SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS qty_cents
              |FROM lineitem_bf l
              |JOIN orders_bf o ON l.l_orderkey = o.o_orderkey
              |WHERE bloom_might_contain(
              |        (SELECT bloom_build(o_orderkey, 16384) FROM orders_bf
              |         WHERE o_totalprice > 490000.0),
              |        l.l_orderkey)
              |  AND o.o_totalprice > 490000.0
              |GROUP BY o.o_orderkey
              |ORDER BY o.o_orderkey""".stripMargin)
    }),

    // KMV theta-sketch set intersection (what HLL cannot do), estimate
    // hash-checked against a full DuckDB replica + in-frame exact verdict
    "q_kmv_intersect" -> ((s, dir) =>
      ops.Sketches.kmvIntersections(Tables.events(s, dir), k = 64)),

    // ───────────────────────── statistical tests (exact-sums discipline) ──
    "q_welch_ttest" -> ((s, dir) =>
      analytics.Stats.welchTTest(Tables.events(s, dir))),

    "q_cramers_v" -> ((s, dir) =>
      analytics.Stats.cramersV(Tables.events(s, dir))),

    "q_linreg" -> ((s, dir) =>
      analytics.Stats.groupLinReg(Tables.events(s, dir))),

    "q_type_diversity" -> ((s, dir) =>
      analytics.Stats.typeDiversity(Tables.events(s, dir))),

    // two-sample KS distance purchase-vs-click in exact ppb (floor-div
    // ECDFs over the distinct value domain)
    "q_ks_test" -> ((s, dir) =>
      analytics.Stats.ksTest(Tables.events(s, dir), "purchase", "click")),

    // Mann-Whitney U for the same two samples, tie-midranks kept integer
    // by doubling
    "q_mannwhitney" -> ((s, dir) =>
      analytics.Stats.mannWhitneyU(Tables.events(s, dir), "purchase", "click")),

    // hourly error-rate Wilson 95% bounds (mirrored double tree)
    "q_wilson_ci" -> ((s, dir) =>
      analytics.Stats.wilsonErrorBounds(Tables.events(s, dir))),

    // Benford first-digit screen over positive cent amounts: observed
    // ppb vs pre-computed log-table literals, zero-filled 9-digit grid
    "q_benford" -> ((s, dir) =>
      analytics.Stats.benfordProfile(Tables.events(s, dir))),

    // WITH FILL INTERPOLATE analogue: hourly grid, linear interpolation
    // between bracketing samples, trailing carry-forward. Registered over
    // a dashboard-shaped 48 h range — the unbounded grid is |users|×|hours|
    // rows (10.8 M at sf0.1), which measures output volume, not the plan.
    "q_gauge_fill" -> ((s, dir) =>
      analytics.Gauge.hourlyInterpolated(
        Tables.events(s, dir).filter(
          col("ts") >= ts("2024-01-10 00:00:00") &&
            col("ts") < ts("2024-01-12 00:00:00")))),

    // ───────────────────────── sampling / splitting / mixing ──
    "q_data_split" -> ((s, dir) =>
      ops.Sampling.splitCounts(Tables.documents(s, dir))),

    "q_data_mix" -> ((s, dir) =>
      ops.Sampling.mixCounts(Tables.documents(s, dir), MixRates.toMap)),

    // DSIR-shaped importance weighting (hashed unigram+bigram buckets,
    // target = src1/src7): per-raw-doc fixed-point Σ(ppb_t − ppb_r) —
    // the data-selection score, integer-exact on both engines
    "q_importance_weights" -> ((s, dir) =>
      ops.Sampling.importanceWeights(Tables.documents(s, dir))),

    // INCREMENTAL DSIR: the persisted ≤B·|sources|-row count table (docs
    // at doc_id % 7 != 0, built once) absorbs the % 7 == 0 arrival slice
    // with one delta-only tokenize, and the ARRIVALS score through a
    // broadcast of the merged ppb model — the keep/resample decision a
    // curation pipeline makes at arrival time, at cost ∝ delta.
    // Bit-identical to the full recompute restricted to the delta's raw
    // docs, which is exactly what the oracle states
    "q_importance_weights_incr" -> ((s, dir) =>
      ops.Sampling.importanceWeightsIncremental(s, dir,
        Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0),
        Tables.documents(s, dir).filter(col("doc_id") % 7 === 0))),

    // the EXACT-LLR upgrade: Σ log2(p_t/p_r) in fixed point over the raw
    // counts — rare-but-discriminative features outrank merely-frequent
    // ones (relative odds, not absolute mass); both engines index the
    // same 256-entry log table, so the score hash-matches exactly
    "q_importance_weights_llr" -> ((s, dir) =>
      ops.Sampling.importanceWeightsLlr(Tables.documents(s, dir))),

    // the selection audit: per-source counts of positively-scored raw
    // docs — where a DSIR-style selection would actually draw from
    "q_importance_mix" -> ((s, dir) =>
      ops.Sampling.importanceMix(Tables.documents(s, dir))),

    // the resample step: per-source quota draw of the most target-like
    // documents (top 20% by score, doc_id tiebreak) through GlobalRank's
    // range-partitioned per-group ranking — engine-exact row numbers
    "q_importance_resample" -> ((s, dir) =>
      ops.Sampling.importanceResample(Tables.documents(s, dir))),

    "q_lang_stats" -> ((s, dir) =>
      TextAnalysis.langStats(Tables.documents(s, dir))),

    // PII scrub with deterministic planted PII on every third doc (the
    // fixture carries none — raw redaction would pass vacuously); both
    // changed and untouched branches are exercised
    "q_pii_redaction" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      ops.Redaction.piiReport(docs, ops.Redaction.withPlantedPii(docs))
    }),

    // train-vs-eval n-gram overlap audit; eval side = every 17th doc (407
    // of 470 train docs overlap at the gate SF — non-vacuous)
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      ops.Contamination.benchmarkOverlap(
        docs.filter(pmod(col("doc_id"), lit(17)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(17)) === 0), n = 3)
    }),

    // Gopher-style repetition/diversity quality signals
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(Tables.documents(s, dir))),

    "q_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir))),

    "q_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir))),

    "q_latest_event" -> ((s, dir) =>
      analytics.Analytics3.latestEventPerUser(Tables.events(s, dir))),

    "q7_nation_trade" -> ((s, dir) =>
      analytics.Analytics3.nationTrade(
        Tables.nation(s, dir), Tables.supplier(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), "NATION_1", "NATION_2")),

    "q8_market_share" -> ((s, dir) =>
      analytics.Analytics4.marketShare(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.part(s, dir), "ASIA", "ECONOMY", "NATION_2",
        "1995-01-01 00:00:00", "1997-01-01 00:00:00")),

    "q10_returned_items" -> ((s, dir) =>
      analytics.Analytics4.returnedItems(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir), "1996-01-01 00:00:00", "1996-04-01 00:00:00")),

    "q17_small_qty" -> ((s, dir) =>
      analytics.Analytics4.smallQuantityRevenue(
        Tables.lineitem(s, dir), Tables.part(s, dir), "Brand#1", "ECONOMY")),

    "q_cube_activity" -> ((s, dir) =>
      analytics.Analytics4.cubeActivity(Tables.events(s, dir))),

    "q_purchase_and_signup" -> ((s, dir) =>
      analytics.Analytics4.purchasedAndSignedUp(Tables.events(s, dir))),

    "q_full_outer_activity" -> ((s, dir) =>
      analytics.Analytics4.fullOuterActivity(Tables.events(s, dir))),

    "q_profile_events" -> ((s, dir) =>
      analytics.Analytics4.profileEvents(Tables.events(s, dir))),

    "q_spend_ranks" -> ((s, dir) =>
      analytics.Analytics4.spendRanks(Tables.events(s, dir))),

    "q_session_window" -> ((s, dir) =>
      analytics.Analytics3.sessionWindows(Tables.events(s, dir), 30)),

    "q_top_events_agg" -> ((s, dir) =>
      analytics.TopKAggregator.topEventsPerUser(Tables.events(s, dir), 3)),

    "q_pivot_daily" -> ((s, dir) =>
      analytics.Analytics3.dailyTypePivot(Tables.events(s, dir),
        Seq("click", "error", "purchase", "signup", "view"))),

    "q_ntile_spend" -> ((s, dir) =>
      analytics.Analytics3.spendQuartiles(Tables.events(s, dir))),

    "q_hourly_profile" -> ((s, dir) =>
      analytics.Analytics3.hourlyProfile(Tables.events(s, dir))),

    "q_sliding_windows" -> ((s, dir) =>
      analytics.Analytics3.slidingCounts(Tables.events(s, dir))),

    "q_leading_words" -> ((s, dir) =>
      analytics.Analytics3.leadingWords(Tables.documents(s, dir))),

    "q_pipeline_clean" -> ((s, dir) =>
      ops.CleanPipeline.attrition(
        ops.CleanPipeline.clean(Tables.documents(s, dir)))),

    "q_pipeline_clean_cj" -> ((s, dir) =>
      ops.CleanPipeline.cleanCharJaccard(Tables.documents(s, dir))),

    // ───────────────────────── multimodal plumbing ──
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.payloadMeta(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF())
        .orderBy(col("media_id"))),

    // REAL image resize (decode → exact integer box-average → PNG
    // re-encode): the digest columns are checked at PIXEL level — the
    // fixture raster is closed-form in doc_id, so the oracle recomputes
    // every source pixel, block average, and rolling digest; a single
    // wrong pixel breaks the hash compare. The re-encoded payload is
    // spec-verified by decode + digest round-trip (container bytes are
    // encoder-specific, so they stay out of the gate row)
    "q_image_resize" -> ((s, dir) => {
      import s.implicits._
      Multimodal.resizeImages(
        Multimodal.imagePngMedia(s, Tables.documents(s, dir)))
        .filter(_.decoded).toDF()
        .select(col("media_id"), col("in_w"), col("in_h"),
          col("out_w"), col("out_h"), col("out_sum"), col("out_fp"))
        .orderBy(col("media_id"))
    }),

    // REAL audio downsample (WAV decode → exact integer block average →
    // WAV re-encode at rate/4): sample-level oracle like q_image_resize
    "q_audio_resample" -> ((s, dir) => {
      import s.implicits._
      Multimodal.resampleAudio(
        Multimodal.audioWavMedia(s, Tables.documents(s, dir)))
        .filter(_.decoded).toDF()
        .select(col("media_id"), col("in_rate"), col("out_rate"),
          col("in_frames"), col("out_frames"), col("out_sum"), col("out_fp"))
        .orderBy(col("media_id"))
    }),

    "q_multimodal_image" -> ((s, dir) => {
      import s.implicits._
      Multimodal.imageFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    // perceptual-hash image dedup: REAL PNG decode → DCT pHash → banded
    // hamming pairs (the image-side near-dup tier, sharing simhash's
    // candidate/verify machinery). Same-pattern fixtures differ only by
    // a uniform brightness shift, which moves only the DCT DC term —
    // identical hashes (hamming 0) from different payload bytes — so
    // the oracle predicts the full pair frame from doc_id classes
    // without decoding a pixel
    "q_phash_pairs" -> ((s, dir) => {
      import s.implicits._
      Dedup.hammingPairs128(
        Multimodal.pHashes(
          Multimodal.imagePngMedia(s, Tables.documents(s, dir)))
          .filter(_.decoded).toDF()
          .select(col("media_id").as("doc_id"),
            col("ph0").as("sh0"), col("ph1").as("sh1")),
        maxHamming = 3)
    }),

    // the hot-bucket cap on the HAMMING-BAND axis, batch form (the
    // q_dedup_minhash_capped policy for media): every even media_id
    // re-sends the corpus-minimum image's bytes — a byte-identical
    // DECODABLE template flood — and band buckets whose occupancy
    // exceeds a quarter of the image corpus are excluded from pair
    // generation (the flood class runs ~0.6·corpus hot at any SF while
    // organic texture classes sit at ~0.1·corpus — the scale-free
    // margin a fixed absolute cap cannot give). The DuckDB oracle
    // applies the same occupancy rule per texture class, so the POLICY
    // is the hash-gated contract
    "q_phash_pairs_capped" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.imagePngMedia(s, Tables.documents(s, dir))
        .toDF()
      val tpl = broadcast(media.orderBy(col("media_id")).limit(1)
        .select(col("payload").as("tpl_payload")))
      val flooded = media.crossJoin(tpl).select(col("media_id"),
        col("kind"),
        when(col("media_id") % 2 === 0, col("tpl_payload"))
          .otherwise(col("payload")).as("payload"), col("source"))
        .as[Multimodal.MediaRow]
      val fp = Multimodal.pHashes(flooded).filter(_.decoded).toDF()
        .select(col("media_id").as("doc_id"),
          col("ph0").as("sh0"), col("ph1").as("sh1"))
      val nImg = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1).count()
      Dedup.hammingPairs128Capped(fp, maxHamming = 3,
        cap = (nImg / 4L).toInt)
    }),

    // arrival-time pair GENERATION against the persisted fingerprint
    // index: delta images (doc_id % 21 == 1) decode and band-join the
    // base index (broadcast delta, streaming index scan — no shuffle of
    // either side) for delta×base pairs, plus the tiny delta self-join
    // for delta×delta — exactly the full pair frame's delta-touching
    // subset, so the closed-form texture-class oracle filters directly.
    // Codec cost ∝ delta; the corpus is touched only through the narrow
    // 3-column index table
    "q_phash_pairs_incr" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val isDelta = col("doc_id") % 21 === 1
      val idx = graft.sources.ManagedTable.persisted(s,
        "phash_index_base_" + graft.sources.ManagedTable.tag(dir))(
        pHashFrame(s, docs.filter(!isDelta)))
      // snapshot: the delta fingerprints feed the between-join AND the
      // delta self-join; without it the delta decodes twice
      val deltaH = pHashFrame(s, docs.filter(isDelta)).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // both legs stay UNSORTED; one presentation sort over the union
      Dedup.hammingPairs128Between(deltaH, idx, 3)
        .unionByName(Dedup.hammingPairs128Unordered(deltaH, 3))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // retention x serving on the IMAGE tier: base images at doc_id % 11
    // == 0 retire from the persisted fingerprint index (broadcast
    // anti-join — per-document fingerprints, so expiry is exact), and
    // arriving images band-join what survives; the closed-form texture
    // oracle drops exactly the expired endpoints
    "q_phash_pairs_retire" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val isDelta = col("doc_id") % 21 === 1
      val idx = graft.sources.ManagedTable.persisted(s,
        "phash_index_base_" + graft.sources.ManagedTable.tag(dir))(
        pHashFrame(s, docs.filter(!isDelta)))
      val expired = docs.filter(!isDelta && col("doc_id") % 11 === 0)
        .select(col("doc_id"))
      val deltaH = pHashFrame(s, docs.filter(isDelta)).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingPairs128Between(deltaH,
        Dedup.expireRows(idx, "doc_id", expired), 3)
        .unionByName(Dedup.hammingPairs128Unordered(deltaH, 3))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q_phash_pairs_retire's MAINTENANCE-WINDOW twin (the
    // bm25TopKRetiredRewritten pattern on the image tier): the dedicated
    // _rwret fingerprint index is physically REWRITTEN once (expired
    // rows dropped in place — per-document fingerprints, so the
    // rewritten index IS the survivors') and arrivals band-join it
    // through the plain hammingPairs128Between plan, NO per-batch
    // anti-join; same rows, same closed-form oracle as the serve-time
    // expiry path
    "q_phash_pairs_retire_rewrite" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val isDelta = col("doc_id") % 21 === 1
      val name = "phash_index_rwret_" + graft.sources.ManagedTable.tag(dir)
      graft.sources.ManagedTable.once(
          s"${s.sparkContext.applicationId}/phash_rwret/$dir") {
        graft.sources.ManagedTable.persisted(s, name)(
          pHashFrame(s, docs.filter(!isDelta)))
        graft.sources.ManagedTable.rewriteExpired(s, name, "doc_id",
          docs.filter(!isDelta && col("doc_id") % 11 === 0)
            .select(col("doc_id")))
      }
      val deltaH = pHashFrame(s, docs.filter(isDelta)).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingPairs128Between(deltaH, s.table(name), 3)
        .unionByName(Dedup.hammingPairs128Unordered(deltaH, 3))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // the multimodal × graph composition: connected components over the
    // pHash near-dup graph — image families. Each texture class is a
    // clique (hamming 0 within, far across), so the labeling is exactly
    // "minimum doc_id of the class" — a closed-form oracle, no
    // recursive CTE needed. Reads the PERSISTED label table (the
    // q_dedup_clusters economics applied to the image tier: family
    // labels are an ingest-side derivation; a reader must not pay
    // per-query PNG decode + CC re-convergence). The expensive build
    // stage stays timed through q_phash_pairs, which runs the decode →
    // pHash → banded join lazily every query.
    "q_phash_clusters" -> ((s, dir) =>
      Multimodal.pHashClustersPersisted(s, dir, Tables.documents(s, dir))),

    // incremental family maintenance on the IMAGE tier — the same
    // Dedup.mergeClusterDelta path as q_dedup_clusters_incr, fed pHash
    // pairs: images at doc_id % 21 == 1 play the newly-ingested delta,
    // their pairs merge into the persisted base labeling at cost ∝
    // delta, and the result is exactly the full family labeling (the
    // closed-form texture-class oracle, unchanged)
    "q_phash_clusters_incr" -> ((s, dir) => {
      val imgs = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
      val pairs = Multimodal.pHashPairsPersisted(s, dir, Tables.documents(s, dir))
      val baseLabels = graft.sources.ManagedTable.persisted(s,
        "phash_clusters_base_" + graft.sources.ManagedTable.tag(dir))(
        Dedup.nearDupClusters(
          imgs.filter(!(col("doc_id") % 21 === 1)).select(col("doc_id")),
          pairs.filter(!(col("id_a") % 21 === 1) && !(col("id_b") % 21 === 1))))
      Dedup.mergeClusterDelta(baseLabels,
        imgs.filter(col("doc_id") % 21 === 1).select(col("doc_id")),
        pairs.filter((col("id_a") % 21 === 1) || (col("id_b") % 21 === 1)))
    }),

    // audio near-dup: REAL WAV decode → spectral band fingerprint →
    // the same banded hamming join. Same-waveform fixtures differ only
    // by an integer gain, which scales every band energy by gain² and
    // leaves the 64 band-comparison bits untouched — so the pair frame
    // is again an exact function of doc_id classes for the oracle
    "q_audio_fp_pairs" -> ((s, dir) => {
      import s.implicits._
      Dedup.hammingPairs128(
        Multimodal.audioFingerprints(
          Multimodal.audioWavMedia(s, Tables.documents(s, dir)))
          .filter(_.decoded).toDF()
          .select(col("media_id").as("doc_id"),
            col("afp0").as("sh0"), col("afp1").as("sh1")),
        maxHamming = 3)
    }),

    // video near-dup by FRAME VOTE: real GIF container decode →
    // per-frame DCT pHash → banded hamming over frame hashes → pairs
    // agreeing on ≥ 3 frames. The fixture's 4 class-shared frames match
    // exactly (brightness shifts cancel in the mean-centered hash) and
    // the doc-unique tail frame never does, so the oracle states the
    // full (id_a, id_b, n_frames = 4) frame from doc_id classes alone
    "q_video_fp_pairs" -> ((s, dir) => {
      import s.implicits._
      Multimodal.videoFpPairs(
        Multimodal.framePHashes(
          Multimodal.videoNearDupMedia(s, Tables.documents(s, dir)),
          stride = 1, maxFrames = 8)
          .filter(_.decoded).toDF(),
        maxHamming = 3, minFrames = 3)
    }),

    // REAL container decode: the fixture's animated GIFs carry
    // 1 + doc_id % 7 frames, so the oracle predicts what the ImageIO
    // walk must find; pixel hashes (not SQL-expressible) are projected
    // out here and asserted in MultimodalSpec
    "q_multimodal_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(
        Multimodal.videoGifMedia(s, Tables.documents(s, dir)),
        stride = 1, maxFrames = 4)
        .toDF().select(col("media_id"), col("frame_idx"), col("decoded"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // quarantine branch: text payloads are not video containers — one
    // (-1, payload-FNV, false) row each, hash-exact against the oracle
    "q_multimodal_frames_quarantine" -> ((s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)),
        stride = 1, maxFrames = 4)
        .toDF().orderBy(col("media_id"))
    }),

    "q_multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      Multimodal.audioFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    "q2_min_cost_supplier" -> ((s, dir) =>
      analytics.Analytics5.minBalanceSupplier(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.supplier(s, dir),
        Tables.part(s, dir), Tables.lineitem(s, dir), "EUROPE", 15, "STANDARD")),

    "q6_forecast_revenue" -> ((s, dir) =>
      analytics.Analytics5.forecastRevenue(Tables.lineitem(s, dir),
        "1996-01-01 00:00:00", "1997-01-01 00:00:00", 0.05, 0.07, 24.0)),

    "q9_product_profit" -> ((s, dir) =>
      analytics.Analytics5.productProfit(
        Tables.nation(s, dir), Tables.supplier(s, dir), Tables.part(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), "red")),

    "q11_important_parts" -> ((s, dir) =>
      analytics.Analytics5.importantParts(
        Tables.nation(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        "NATION_3", 0.001)),

    "q12_ship_speed" -> ((s, dir) =>
      analytics.Analytics5.shipSpeedPriority(
        Tables.orders(s, dir), Tables.lineitem(s, dir),
        "1996-01-01 00:00:00", "1997-01-01 00:00:00", 60)),

    "q13_order_distribution" -> ((s, dir) =>
      analytics.Analytics5.customerOrderDistribution(
        Tables.customer(s, dir), Tables.orders(s, dir), "5-LOW")),

    "q14_promo_revenue" -> ((s, dir) =>
      analytics.Analytics5.promoRevenue(
        Tables.lineitem(s, dir), Tables.part(s, dir),
        "1996-03-01 00:00:00", "1996-04-01 00:00:00", "PROMO")),

    "q22_idle_rich" -> ((s, dir) =>
      analytics.Analytics5.idleRichCustomers(
        Tables.customer(s, dir), Tables.orders(s, dir),
        Seq("AUTOMOBILE", "BUILDING", "MACHINERY"), "2000-01-01 00:00:00")),

    "q15_top_supplier" -> ((s, dir) =>
      analytics.Analytics6.topSupplier(
        Tables.supplier(s, dir), Tables.lineitem(s, dir),
        "1996-01-01 00:00:00", "1996-04-01 00:00:00")),

    "q16_part_supplier_cnt" -> ((s, dir) =>
      analytics.Analytics6.partSupplierCounts(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        "Brand#1", "PROMO", Seq(1, 5, 10, 15, 20, 25, 30, 35))),

    "q18_large_volume" -> ((s, dir) =>
      analytics.Analytics6.largeVolumeCustomers(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir), 300.0)),

    "q19_disjunctive" -> ((s, dir) =>
      analytics.Analytics6.disjunctiveRevenue(
        Tables.lineitem(s, dir), Tables.part(s, dir), Seq(
          ("Brand#1", 1, 5, 1.0, 11.0),
          ("Brand#2", 1, 10, 10.0, 20.0),
          ("Brand#3", 1, 15, 20.0, 30.0)))),

    "q20_part_promotion" -> ((s, dir) =>
      analytics.Analytics6.partPromotionSuppliers(
        Tables.supplier(s, dir), Tables.part(s, dir), Tables.lineitem(s, dir),
        "STANDARD", "1996-01-01 00:00:00", "1997-01-01 00:00:00", 0.5)),

    "q21_waiting_suppliers" -> ((s, dir) =>
      analytics.Analytics6.waitingSuppliers(
        Tables.supplier(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir), 60)),

    // q21 over the bucketed fact layout: the twice-paid lineitem⋈orders
    // shuffle (the 100× soak's one super-linear row) disappears — both
    // fact scans read co-located orderkey buckets, and the per-(order,
    // supplier) aggregates cluster on a subset of the bucket key
    "q21_waiting_suppliers_bkt" -> ((s, dir) => {
      val (li, o) = analytics.Bucketing.bucketedFacts(
        s, dir, Tables.lineitem(s, dir), Tables.orders(s, dir))
      analytics.Analytics6.waitingSuppliers(Tables.supplier(s, dir), o, li, 60)
    }))

  private val DSUM = Cols.dsumSql _
  private val DAVG = Cols.davgSql _
  private val REV = Cols.decSumSql(Cols.decRevenueSql("l_extendedprice", "l_discount"))
  private val CHARGE = Cols.decSumSql(Cols.decChargeSql("l_extendedprice", "l_discount", "l_tax"))

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q_logs_flagship" ->
      s"""WITH ev AS ($EV)
         |SELECT event_id, ts, user_id, event_type, value, props FROM ev
         |WHERE event_type = 'error'
         |  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
         |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin,

    // same rows as q_logs_flagship: the month-partition filter on the
    // Spark side is implied by the ts range, so the oracle is unchanged
    "q_logs_flagship_partitioned" ->
      s"""WITH ev AS ($EV)
         |SELECT event_id, ts, user_id, event_type, value, props FROM ev
         |WHERE event_type = 'error'
         |  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
         |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin,

    "q_logs_flagship_user" ->
      s"""WITH ev AS ($EV)
         |SELECT event_id, ts, user_id, event_type, value, props FROM ev
         |WHERE event_type = 'purchase'
         |  AND ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'
         |  AND json_extract_string(props, '$$.k') = '42'
         |ORDER BY ts DESC, event_id LIMIT 50""".stripMargin,

    "q_logs_count" -> "SELECT COUNT(*) AS n FROM events",

    "q_logs_by_level" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type",

    "q_sql_having" ->
      s"""SELECT event_type, COUNT(*) AS n, ${DSUM("value")} AS total_value
         |FROM events
         |WHERE value > 10
         |GROUP BY event_type
         |HAVING COUNT(*) > 100
         |ORDER BY event_type""".stripMargin,

    "q_logs_retention" ->
      s"""WITH ev AS ($EV)
         |SELECT strftime(ts, '%Y%m') AS month, COUNT(*) AS n FROM ev
         |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${DSUM("l_quantity")} AS sum_qty,
         |  ${DSUM("l_extendedprice")} AS sum_base_price,
         |  $REV AS sum_disc_price,
         |  $CHARGE AS sum_charge,
         |  ${DAVG("l_quantity")} AS avg_qty,
         |  ${DAVG("l_extendedprice")} AS avg_price,
         |  ${DAVG("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping" ->
      s"""SELECT l_orderkey, o_orderdate,
         |  $REV AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      s"""SELECT n_name,
         |  $REV AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_daily_counts" ->
      s"""WITH ev AS ($EV)
         |SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n,
         |  ${DSUM("value")} AS total_value
         |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_top_events_per_user" ->
      s"""WITH ranked AS (
         |  SELECT user_id, event_id, event_type, value,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rank
         |  FROM events)
         |SELECT user_id, event_id, event_type, value, rank FROM ranked
         |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    "q_sessionize" ->
      s"""WITH ev AS ($EV),
         |s1 AS (SELECT user_id, event_id, ts,
         |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev),
         |s2 AS (SELECT user_id, event_id, ts,
         |         CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
         |              THEN 1 ELSE 0 END AS new_session FROM s1),
         |s3 AS (SELECT user_id, event_id, ts,
         |         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s2)
         |SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
         |  COUNT(*) AS n_events
         |FROM s3 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // parity verdict: n_batch recomputed independently by the sessionize
    // replica; stream side must equal it with empty set-differences
    "q_sessionize_stream_parity" ->
      s"""WITH ev AS ($EV),
         |s1 AS (SELECT user_id, event_id, ts,
         |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev),
         |s2 AS (SELECT user_id,
         |         CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
         |              THEN 1 ELSE 0 END AS new_session FROM s1),
         |n AS (SELECT CAST(SUM(new_session) AS BIGINT) AS n_sessions FROM s2)
         |SELECT n_sessions AS n_batch, n_sessions AS n_stream,
         |  CAST(0 AS BIGINT) AS n_only_batch, CAST(0 AS BIGINT) AS n_only_stream,
         |  true AS parity_ok
         |FROM n""".stripMargin,

    // dedup parity: the independently-stated expectation is the DISTINCT
    // (user_id, event_id) count — what both dedup legs must converge to
    // regardless of how many duplicate copies the replay injected
    "q_dedup_stream_parity" ->
      s"""WITH ev AS ($EV),
         |n AS (SELECT COUNT(*) AS n FROM
         |        (SELECT DISTINCT user_id, event_id FROM ev) t)
         |SELECT n AS n_batch, n AS n_stream,
         |  CAST(0 AS BIGINT) AS n_only_batch, CAST(0 AS BIGINT) AS n_only_stream,
         |  true AS parity_ok
         |FROM n""".stripMargin,

    // minhash-LSH parity: the independently-stated expectation is the
    // HUGEINT MinHash replica's thresholded pair count — what both the
    // batch band-join and the stateful streaming buckets must converge to
    "q_dedup_minhash_stream_parity" ->
      s"""WITH pairs AS (
         |${OracleSql.minhashPairsSql(bands = 16, threshold = 0.5)}
         |),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs)
         |SELECT n AS n_batch, n AS n_stream,
         |  CAST(0 AS BIGINT) AS n_only_batch, CAST(0 AS BIGINT) AS n_only_stream,
         |  true AS parity_ok
         |FROM n""".stripMargin,

    // bounded-horizon minhash parity: the expectation is the SAME HUGEINT
    // replica restricted to the horizon (ts = 2024-01-01 + doc_id
    // minutes, so the 240-minute window is an id-distance predicate),
    // plus the exact count of full-history pairs the horizon excludes
    "q_dedup_minhash_ttl_stream_parity" ->
      s"""WITH pairs AS (
         |${OracleSql.minhashPairsSql(bands = 16, threshold = 0.5)}
         |),
         |w AS (SELECT * FROM pairs WHERE abs(id_a - id_b) <= 240),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS nf FROM w)
         |SELECT n AS n_batch, n AS n_stream,
         |  CAST(0 AS BIGINT) AS n_only_batch, CAST(0 AS BIGINT) AS n_only_stream,
         |  nf - n AS n_beyond_horizon, true AS parity_ok
         |FROM n""".stripMargin,

    // composed live-pipeline parity: every count independently restated
    // — kept corpus (history + min-doc_id-per-unseen-text arrivals),
    // dropped arrivals, live pairs (HUGEINT MinHash replica among kept
    // arrivals within the 60-minute id-distance horizon), and the
    // cluster count of the recursive closure over (history pairs ∪ live
    // pairs); the Spark row's three set-equalities must all hold for
    // parity_ok=true to match
    "q_dedup_live_pipeline_parity" ->
      s"""WITH RECURSIVE hh AS (
         |  SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
         |docs_sub AS (
         |  -- the harness's duplicate-traffic rewrite: arrivals with
         |  -- doc_id % 11 == 0 re-send the corpus-minimum document
         |  SELECT doc_id,
         |    CASE WHEN doc_id >= (SELECT h FROM hh) AND doc_id % 11 = 0
         |         THEN (SELECT text FROM documents
         |               WHERE doc_id = (SELECT MIN(doc_id) FROM documents))
         |         ELSE text END AS text
         |  FROM documents),
         |pairs AS (
         |${OracleSql.minhashPairsSql(bands = 16, threshold = 0.5, rel = "docs_sub")}
         |),
         |hist AS (SELECT doc_id, text FROM docs_sub
         |         WHERE doc_id < (SELECT h FROM hh)),
         |arr AS (SELECT doc_id, text FROM docs_sub
         |        WHERE doc_id >= (SELECT h FROM hh)),
         |kept_arr AS (
         |  SELECT MIN(doc_id) AS doc_id FROM arr
         |  WHERE text NOT IN (SELECT text FROM hist)
         |  GROUP BY text),
         |kept AS (SELECT doc_id FROM hist
         |         UNION ALL SELECT doc_id FROM kept_arr),
         |edges0 AS (
         |  SELECT id_a, id_b FROM pairs, hh
         |  WHERE id_a < hh.h AND id_b < hh.h
         |  UNION ALL
         |  SELECT id_a, id_b FROM pairs, hh
         |  WHERE id_a >= hh.h AND id_b >= hh.h
         |    AND abs(id_a - id_b) <= 60
         |    AND id_a IN (SELECT doc_id FROM kept_arr)
         |    AND id_b IN (SELECT doc_id FROM kept_arr)),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM edges0
         |  UNION ALL SELECT id_b, id_a FROM edges0),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM kept
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
         |           FROM reach GROUP BY a)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM arr)
         |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM kept_arr) AS n_dropped,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges0 e, hh
         |     WHERE e.id_a >= hh.h) AS n_pairs_live,
         |  (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM labels)
         |    AS n_clusters,
         |  CAST(0 AS BIGINT) AS n_only_live,
         |  CAST(0 AS BIGINT) AS n_only_batch,
         |  true AS parity_ok""".stripMargin,

    // the late-delivery replay must land on the SAME time-windowed truth
    "q_dedup_minhash_late_stream_parity" ->
      s"""WITH pairs AS (
         |${OracleSql.minhashPairsSql(bands = 16, threshold = 0.5)}
         |),
         |w AS (SELECT * FROM pairs WHERE abs(id_a - id_b) <= 240),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS nf FROM w)
         |SELECT n AS n_batch, n AS n_stream,
         |  CAST(0 AS BIGINT) AS n_only_batch, CAST(0 AS BIGINT) AS n_only_stream,
         |  nf - n AS n_beyond_horizon, true AS parity_ok
         |FROM n""".stripMargin,

    // funnel parity: the independently-stated expectation is the batch
    // min-chain funnel's final-step user count
    "q_funnel_stream_parity" ->
      s"""WITH ev AS ($EV),
         |s0 AS (SELECT user_id, MIN(ts) AS t FROM ev WHERE event_type = 'signup' GROUP BY user_id),
         |s1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s0 ON e.user_id = s0.user_id
         |       WHERE e.event_type = 'view' AND e.ts >= s0.t
         |         AND e.ts < s0.t + INTERVAL 6 HOUR GROUP BY e.user_id),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s1 ON e.user_id = s1.user_id
         |       WHERE e.event_type = 'purchase' AND e.ts >= s1.t
         |         AND e.ts < s1.t + INTERVAL 6 HOUR GROUP BY e.user_id),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s2)
         |SELECT n AS n_batch, n AS n_stream, true AS parity_ok FROM n""".stripMargin,

    "q_distinct_users" ->
      "SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1 ORDER BY 1",

    "q_session_length_pcts" ->
      s"""WITH ev AS ($EV),
         |s1 AS (SELECT user_id, event_id, ts,
         |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev),
         |s2 AS (SELECT user_id, event_id, ts,
         |         CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
         |              THEN 1 ELSE 0 END AS new_session FROM s1),
         |s3 AS (SELECT user_id, event_id,
         |         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s2),
         |sess AS (SELECT user_id, session_id, COUNT(*) AS n_events
         |         FROM s3 GROUP BY 1, 2)
         |SELECT quantile_cont(n_events, 0.5) AS p50,
         |  quantile_cont(n_events, 0.9) AS p90,
         |  MIN(n_events) AS min_len, MAX(n_events) AS max_len,
         |  COUNT(*) AS n_sessions
         |FROM sess""".stripMargin,

    "q_purchase_no_signup" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'signup'
        |ORDER BY user_id""".stripMargin,

    "q_rollup_revenue" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  $REV AS revenue,
         |  COUNT(*) AS n
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_asof_join" ->
      s"""WITH ev AS ($EV),
         |o AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey,
         |        arg_max(o_totalprice, o_orderkey) AS o_totalprice
         |      FROM orders GROUP BY 1, 2)
         |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
         |FROM ev e ASOF JOIN o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
         |ORDER BY e.event_id""".stripMargin,

    // same semantics through the custom physical operator — same oracle
    "q_asof_join_exec" ->
      s"""WITH ev AS ($EV),
         |o AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey,
         |        arg_max(o_totalprice, o_orderkey) AS o_totalprice
         |      FROM orders GROUP BY 1, 2)
         |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
         |FROM ev e ASOF JOIN o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
         |ORDER BY e.event_id""".stripMargin,

    "q_range_join" ->
      s"""SELECT o.o_orderkey, COUNT(*) AS n_ship,
         |  ${Cols.dsumSql("l.l_quantity")} AS sum_qty
         |FROM orders o JOIN lineitem l
         |  ON l.l_shipdate >= o.o_orderdate
         | AND l.l_shipdate <= o.o_orderdate + INTERVAL 6 DAY
         |WHERE o.o_orderkey % 97 = 0
         |GROUP BY 1""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_customer_ltv" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS lifetime_value
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,

    "q_running_revenue" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q_event_deltas" ->
      s"""WITH ev AS ($EV)
         |SELECT user_id, event_id, ts, value,
         |  lag(value) OVER w AS prev_value,
         |  lead(value) OVER w AS next_value,
         |  epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS ms_since_prev
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_moving_avg" ->
      s"""WITH ev AS ($EV)
         |SELECT user_id, event_id, ts,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg3
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, substring(p_name, 1, 5) AS prefix5,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat_ws('/', p_brand, p_type) AS brand_type
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin,

    "q_value_buckets" ->
      """SELECT CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid'
        |            ELSE 'high' END AS bucket, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_union_activity" ->
      s"""WITH both_legs AS (
         |  SELECT user_id, value FROM events WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT user_id, value FROM events WHERE event_type = 'signup')
         |SELECT user_id, COUNT(*) AS n, ${DSUM("value")} AS total_value
         |FROM both_legs GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_tumbling_windows" ->
      s"""WITH ev AS ($EV)
         |SELECT make_timestamp((epoch_ms(ts) // 21600000) * 21600000 * 1000) AS w_start,
         |  event_type, COUNT(*) AS n, ${DSUM("value")} AS total_value
         |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_token_freq" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 30""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "q_dedup_drop" ->
      """WITH c AS (SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id
        |           FROM documents GROUP BY 1)
        |SELECT d.doc_id, c.keep_id FROM documents d
        |JOIN c ON md5(d.text) = c.text_hash
        |WHERE d.doc_id <> c.keep_id ORDER BY d.doc_id""".stripMargin,

    // the bloom is correctness-transparent (no false negatives + exact
    // re-check), so the oracle is the plain anti-join
    "q_dedup_history" ->
      """WITH inc AS (SELECT doc_id, md5(text) AS text_hash FROM documents
        |             WHERE doc_id % 3 = 0),
        |hist AS (SELECT DISTINCT md5(text) AS h FROM documents
        |         WHERE doc_id % 3 <> 0)
        |SELECT doc_id, text_hash FROM inc
        |WHERE text_hash NOT IN (SELECT h FROM hist)
        |ORDER BY doc_id""".stripMargin,

    // empty history → everything survives
    "q_dedup_history_bootstrap" ->
      """SELECT doc_id, md5(text) AS text_hash FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_char_jaccard" ->
      """SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  jaccard(a.text, b.text) AS jaccard
        |FROM documents a JOIN documents b
        |  ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE jaccard(a.text, b.text) >= 0.9
        |ORDER BY source, id_a, id_b""".stripMargin,

    // transitive closure via recursive CTE = the fixpoint min-label
    // propagation computes; min per reachability set = cluster id
    "q_dedup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id, MIN(b) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // the retire twin: the identical closure over the SURVIVING corpus
    // (doc_id % 11 <> 0) — pairs, seeds, and labels all restricted, so
    // the oracle IS the full rebuild the retirement must equal
    "q_dedup_clusters_retire" ->
      """WITH RECURSIVE d AS (
        |  SELECT * FROM documents WHERE doc_id % 11 <> 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id, MIN(b) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // the composed TTL row: survivors and labels restated from the id
    // arithmetic (ts ≥ cutoff ⇔ doc_id ≥ the 3/5 split), agreement as
    // the expected literal — a Spark-side layer divergence mismatches it
    "q_retention_compose" ->
      """WITH RECURSIVE hh AS (
        |  SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
        |d AS (
        |  SELECT doc_id, text, source FROM documents
        |  WHERE doc_id >= (SELECT h FROM hh)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
        |           FROM reach GROUP BY a)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_surviving,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
        |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_expired,
        |  (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM labels)
        |    AS n_clusters,
        |  true AS layouts_agree""".stripMargin,

    "q_dedup_survivors_retire" ->
      """WITH RECURSIVE d AS (
        |  SELECT * FROM documents WHERE doc_id % 11 <> 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
        |           FROM reach GROUP BY a)
        |SELECT cluster_id AS doc_id, COUNT(*) AS n_members
        |FROM labels GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // ordered-pair containment over distinct 3-shingles, source-blocked
    "q_containment" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         array_to_string(tk[(i + 1):(i + 3)], ' ') AS sh
        |       FROM t, unnest(range(0, greatest(len(tk) - 2, 0))) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_a FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |          FROM sh a JOIN sh b
        |            ON a.source = b.source AND a.sh = b.sh
        |               AND a.doc_id != b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
        |  CAST(n_a AS BIGINT) AS n_a,
        |  CAST((n_inter * 1000000000) // n_a AS BIGINT) AS containment_ppb
        |FROM inter JOIN sizes ON sizes.doc_id = inter.id_a
        |WHERE (n_inter * 1000000000) // n_a >= 50000000
        |ORDER BY id_a, id_b""".stripMargin,

    // degree histogram over the same edge set as the clusters oracle
    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
        |        FROM edges GROUP BY src)
        |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,

    // composite of the two proven graph fragments: recursive-CTE
    // transitive closure labels + the unrolled integer PageRank, fused by
    // a per-cluster (rank DESC, doc_id) row_number argmax
    "q_central_survivors" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
        |           FROM reach GROUP BY a),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
        |r1 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r0.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r1.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r2.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r4 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r3.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN r3 ON e.src = r3.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r5 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r4.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN r4 ON e.src = r4.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |ranks AS (SELECT d.doc_id,
        |            CAST(COALESCE(r5.pr, 150000000) AS BIGINT) AS rank_ppb
        |          FROM documents d LEFT JOIN r5 ON d.doc_id = r5.node),
        |j AS (SELECT l.doc_id, l.cluster_id, r.rank_ppb
        |      FROM labels l JOIN ranks r ON l.doc_id = r.doc_id),
        |m AS (SELECT cluster_id, COUNT(*) AS n_members FROM j GROUP BY 1),
        |w AS (SELECT cluster_id, doc_id AS rep_doc_id, rank_ppb AS rep_rank_ppb,
        |        row_number() OVER (PARTITION BY cluster_id
        |                           ORDER BY rank_ppb DESC, doc_id) AS rn
        |      FROM j)
        |SELECT w.cluster_id, w.rep_doc_id, w.rep_rank_ppb, m.n_members
        |FROM w JOIN m ON w.cluster_id = m.cluster_id
        |WHERE w.rn = 1 ORDER BY w.cluster_id""".stripMargin,

    // capped triangle census: complete cliques and components above 24
    // members take the closed-form clique credit C(deg,2) per node
    // (labels via the same recursive-CTE closure as q_dedup_clusters);
    // only small incomplete components run the compact-forward
    // enumeration (a<b<c wedges closed by an EXISTS probe)
    "q_triangles" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |e AS (SELECT id_a AS u, id_b AS v FROM pairs),
        |edges AS (SELECT u AS src, v AS dst FROM e
        |          UNION ALL SELECT v, u FROM e),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, ed.dst FROM reach r JOIN edges ed ON r.b = ed.src),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
        |           FROM reach GROUP BY a),
        |sizes AS (SELECT cluster_id, COUNT(*) AS m FROM labels GROUP BY 1),
        |ecnt AS (SELECT l.cluster_id, COUNT(*) AS n_edges
        |         FROM e JOIN labels l ON e.u = l.doc_id GROUP BY 1),
        |closed AS (SELECT s.cluster_id
        |           FROM sizes s JOIN ecnt c ON s.cluster_id = c.cluster_id
        |           WHERE s.m > 24 OR c.n_edges * 2 = s.m * (s.m - 1)),
        |deg AS (SELECT node, COUNT(*) AS deg FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e) t
        |        GROUP BY node),
        |esmall AS (SELECT e.u, e.v FROM e JOIN labels l ON e.u = l.doc_id
        |           WHERE l.cluster_id NOT IN (SELECT cluster_id FROM closed)),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM esmall e1 JOIN esmall e2 ON e1.v = e2.u
        |        WHERE EXISTS (SELECT 1 FROM esmall e3
        |                      WHERE e3.u = e1.u AND e3.v = e2.v)),
        |pn AS (SELECT node, COUNT(*) AS n_triangles FROM (
        |         SELECT a AS node FROM tri
        |         UNION ALL SELECT b FROM tri
        |         UNION ALL SELECT c FROM tri) t
        |       GROUP BY node
        |       UNION ALL
        |       SELECT d.node, (d.deg * (d.deg - 1)) // 2
        |       FROM deg d JOIN labels l ON d.node = l.doc_id
        |       WHERE l.cluster_id IN (SELECT cluster_id FROM closed))
        |SELECT d.doc_id, deg.deg,
        |  CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN deg.deg < 2 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((2 * COALESCE(pn.n_triangles, 0) * 1000000000)
        |                 // (deg.deg * (deg.deg - 1)) AS BIGINT) END AS coeff_ppb
        |FROM documents d JOIN deg ON d.doc_id = deg.node
        |LEFT JOIN pn ON d.doc_id = pn.node
        |ORDER BY d.doc_id""".stripMargin,

    // phrase scan replica: every start offset i with tk[i..i+1] matching;
    // overlaps count in both engines, 1-based list indexing in DuckDB
    "q_phrase" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |c AS (SELECT doc_id,
        |        CAST(len(list_filter(range(1, len(tk)),
        |          i -> tk[i] = 'query' AND tk[i + 1] = 'key')) AS BIGINT) AS n_occ
        |      FROM t)
        |SELECT doc_id, n_occ FROM c WHERE n_occ > 0 ORDER BY doc_id""".stripMargin,

    // snippet replica: 1-based start ss[1]; the window bounds map to the
    // Spark 0-based slice exactly (checked at both clamp edges)
    "q_snippets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |c AS (SELECT doc_id, tk,
        |        list_filter(range(1, len(tk)),
        |          i -> tk[i] = 'query' AND tk[i + 1] = 'key') AS ss
        |      FROM t)
        |SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_occ,
        |  array_to_string(list_slice(tk, greatest(ss[1] - 3, 1), ss[1] + 4), ' ') AS snippet
        |FROM c WHERE len(ss) > 0 ORDER BY doc_id""".stripMargin,

    // NEAR replica: 1-based position lists; only position DIFFERENCES
    // enter the predicate so the indexing basis cancels
    "q_proximity" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |p AS (SELECT doc_id,
        |        list_filter(range(1, len(tk) + 1), i -> tk[i] = 'spark') AS pa,
        |        list_filter(range(1, len(tk) + 1), i -> tk[i] = 'merge') AS pb
        |      FROM t),
        |c AS (SELECT doc_id,
        |        CAST(COALESCE(list_sum(list_transform(pa,
        |          x -> len(list_filter(pb, y -> abs(y - x) <= 5)))), 0) AS BIGINT) AS n_pairs
        |      FROM p)
        |SELECT doc_id, n_pairs FROM c WHERE n_pairs > 0 ORDER BY doc_id""".stripMargin,

    // term-dictionary prefix scan: df = distinct docs, ctf = occurrences
    "q_prefix_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |s AS (SELECT doc_id, unnest(tk) AS tok FROM t)
        |SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
        |  CAST(COUNT(*) AS BIGINT) AS total_tf
        |FROM s WHERE tok LIKE 's%' GROUP BY tok ORDER BY tok""".stripMargin,

    // probe doc 7's distinct terms, rarity-weighted (1e9 // df) overlap
    "q_more_like_this" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |s AS (SELECT DISTINCT doc_id, tok
        |      FROM (SELECT doc_id, unnest(tk) AS tok FROM t)),
        |probe AS (SELECT tok FROM s WHERE doc_id = 7),
        |hits AS (SELECT s.tok, s.doc_id FROM s JOIN probe USING (tok)),
        |dfs AS (SELECT tok, COUNT(*) AS df FROM hits GROUP BY tok)
        |SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared,
        |  CAST(SUM(1000000000 // df) AS BIGINT) AS score_ppb
        |FROM hits h JOIN dfs USING (tok)
        |WHERE h.doc_id != 7
        |GROUP BY h.doc_id
        |ORDER BY score_ppb DESC, doc_id LIMIT 20""".stripMargin,

    // posting-list AND: same tokenizer CTE as q_bm25, conjunctive filter
    "q_boolean_and" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS dl,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'spark')) AS BIGINT) AS tf_spark,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'vector')) AS BIGINT) AS tf_vector,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'merge')) AS BIGINT) AS tf_merge
        |  FROM documents)
        |SELECT doc_id, dl FROM d
        |WHERE tf_spark > 0 AND tf_vector > 0 AND tf_merge > 0
        |ORDER BY doc_id""".stripMargin,

    // 5 fixed ppb-fixed-point PageRank rounds, unrolled as plain CTE
    // levels (no recursion, no convergence test — mirrors the Spark
    // loop exactly). SUM(BIGINT) is HUGEINT in DuckDB → cast back.
    "q_pagerank" ->
      """WITH pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |      UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
        |r1 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r0.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r1.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r2.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r4 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r3.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM e JOIN r3 ON e.src = r3.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r5 AS (SELECT e.dst AS node,
        |         CAST(150000000 + (85 * SUM(r4.pr // deg.deg)) // 100 AS BIGINT) AS pr
        |       FROM e JOIN r4 ON e.src = r4.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |ranks AS (SELECT d.doc_id,
        |            CAST(COALESCE(r5.pr, 150000000) AS BIGINT) AS rank_ppb
        |          FROM documents d LEFT JOIN r5 ON d.doc_id = r5.node)
        |SELECT doc_id, rank_ppb FROM ranks ORDER BY doc_id""".stripMargin,

    "q_dedup_survivors" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE jaccard(a.text, b.text) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
        |           FROM reach GROUP BY a)
        |SELECT cluster_id AS doc_id, COUNT(*) AS n_members
        |FROM labels GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_dedup_embedding" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
        |FROM base a JOIN base b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_knn_bruteforce" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, e AS pe FROM base WHERE vec_id < 10),
        |sims AS (SELECT p.probe_id, b.vec_id,
        |    list_dot_product(b.e, p.pe) /
        |      (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(p.pe, p.pe))) AS cosine
        |  FROM base b CROSS JOIN probes p WHERE b.vec_id <> p.probe_id),
        |ranked AS (SELECT probe_id, vec_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
        |  FROM sims)
        |SELECT probe_id, vec_id, cosine, rank FROM ranked
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // full bit-exact replica of the int8 tier: quantize, integer-dot
    // candidate ranking (scales cancel in the quantized cosine), pool cut,
    // exact re-rank -- every double expression mirrors the Spark tree
    "q_knn_int8" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |sc AS (SELECT vec_id, e,
        |    list_aggregate(list_transform(e, x -> abs(x)), 'max') AS scale FROM base),
        |q AS (SELECT vec_id, e,
        |    list_transform(e, x -> CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE)
        |      ELSE CAST(CAST(floor(x * 127.0 / scale + 0.5) AS INTEGER) AS DOUBLE) END) AS qd
        |  FROM sc),
        |qq AS (SELECT vec_id, e, qd,
        |    CAST(list_dot_product(qd, qd) AS BIGINT) AS qn FROM q),
        |pq AS (SELECT vec_id AS probe_id, qd AS p_qd, qn AS p_qn FROM qq WHERE vec_id < 10),
        |cand AS (SELECT p.probe_id, b.vec_id,
        |    CASE WHEN b.qn = 0 OR p.p_qn = 0 THEN -2.0
        |         ELSE list_dot_product(b.qd, p.p_qd) / sqrt(CAST(b.qn * p.p_qn AS DOUBLE))
        |    END AS cos_q
        |  FROM qq b CROSS JOIN pq p WHERE b.vec_id <> p.probe_id),
        |pool AS (SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_q DESC, vec_id) AS qrank
        |    FROM cand) WHERE qrank <= 20),
        |sims AS (SELECT c.probe_id, c.vec_id,
        |    list_dot_product(b.e, p.e) /
        |      (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(p.e, p.e))) AS cosine
        |  FROM pool c JOIN base b ON c.vec_id = b.vec_id
        |              JOIN base p ON c.probe_id = p.vec_id),
        |ranked AS (SELECT probe_id, vec_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
        |  FROM sims)
        |SELECT probe_id, vec_id, cosine, rank FROM ranked
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS punct_ratio,
        |  CAST(len(list_intersect(list_transform(string_split_regex(trim(text), '\s+'), t -> lower(t)),
        |       ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'])) AS DOUBLE)
        |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS stopword_ratio,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |    / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |                    ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  ${DSUM("CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE)")} AS total_tokens,
         |  ${DAVG("CAST(length(text) AS DOUBLE)")} AS avg_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_latest_event" ->
      s"""WITH ev AS ($EV),
         |r AS (SELECT user_id, event_id, ts, event_type, value,
         |        ROW_NUMBER() OVER (PARTITION BY user_id
         |          ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
         |SELECT user_id, event_id, ts, event_type, value FROM r
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q7_nation_trade" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  ${Cols.decSumSql(Cols.decRevenueSql("l_extendedprice", "l_discount"))} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      s"""WITH pern AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, n2.n_name AS supp_nation,
         |    $REV AS volume
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY 1, 2)
         |SELECT o_year,
         |  ${DSUM("CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0.0 END")}
         |    / ${DSUM("volume")} AS mkt_share
         |FROM pern GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name,
         |  $REV AS revenue,
         |  c_acctbal, n_name
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q17_small_qty" ->
      s"""WITH parts AS (
         |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_type = 'ECONOMY'),
         |avgq AS (
         |  SELECT l_partkey, ${DAVG("l_quantity")} AS avg_qty
         |  FROM lineitem JOIN parts ON l_partkey = p_partkey
         |  GROUP BY l_partkey)
         |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
         |FROM lineitem
         |JOIN parts ON lineitem.l_partkey = p_partkey
         |JOIN avgq ON lineitem.l_partkey = avgq.l_partkey
         |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,

    "q_cube_activity" ->
      s"""WITH ev AS ($EV),
         |ev2 AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day, value FROM ev)
         |SELECT event_type, hour_of_day,
         |  COUNT(*) AS n, ${DSUM("value")} AS total_value
         |FROM ev2
         |GROUP BY CUBE (event_type, hour_of_day)
         |ORDER BY event_type ASC NULLS FIRST, hour_of_day ASC NULLS FIRST""".stripMargin,

    "q_purchase_and_signup" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'signup'
        |ORDER BY user_id""".stripMargin,

    "q_profile_events" ->
      s"""WITH ev AS ($EV)
         |SELECT COUNT(*) AS n_rows,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  COUNT(DISTINCT event_type) AS n_types,
         |  CAST(COALESCE(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_props,
         |  MIN(ts) AS min_ts, MAX(ts) AS max_ts,
         |  MIN(value) AS min_value, MAX(value) AS max_value
         |FROM ev""".stripMargin,

    // peers defined by total_spend alone (no tie-break in the window
    // ORDER BY) — the semantics that actually exercises dense_rank's
    // peer-group collapse; rank outputs are peer-determined, so the query
    // is deterministic even with spend ties
    "q_spend_ranks" ->
      s"""WITH spend AS (
         |  SELECT user_id, ${DSUM("value")} AS total_spend
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
         |SELECT user_id, total_spend,
         |  CAST(DENSE_RANK() OVER w AS BIGINT) AS dense_rank,
         |  PERCENT_RANK() OVER w AS percent_rank,
         |  CUME_DIST() OVER w AS cume_dist
         |FROM spend
         |WINDOW w AS (ORDER BY total_spend DESC)
         |ORDER BY user_id""".stripMargin,

    "q_full_outer_activity" ->
      """WITH p AS (SELECT user_id, COUNT(*) AS n_purchases FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id),
        |s AS (SELECT user_id, COUNT(*) AS n_signups FROM events
        |      WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT COALESCE(p.user_id, s.user_id) AS user_id, n_purchases, n_signups
        |FROM p FULL OUTER JOIN s ON p.user_id = s.user_id
        |ORDER BY user_id""".stripMargin,

    "q_pivot_daily" ->
      s"""WITH ev AS ($EV)
         |SELECT date_trunc('day', ts) AS day,
         |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
         |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
         |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
         |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ntile_spend" ->
      s"""WITH spend AS (
         |  SELECT user_id, ${DSUM("value")} AS total_spend
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
         |SELECT user_id, total_spend,
         |  CAST(NTILE(4) OVER (ORDER BY total_spend DESC, user_id) AS BIGINT) AS quartile
         |FROM spend ORDER BY quartile, user_id""".stripMargin,

    "q_hourly_profile" ->
      s"""WITH ev AS ($EV)
         |SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, event_type,
         |  COUNT(*) AS n, ${DSUM("value")} AS total_value
         |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_sliding_windows" ->
      s"""WITH ev AS ($EV),
         |w AS (
         |  SELECT make_timestamp((epoch_ms(ts) // 1800000) * 1800000 * 1000) AS w_start,
         |    event_type FROM ev
         |  UNION ALL
         |  SELECT make_timestamp(((epoch_ms(ts) // 1800000) - 1) * 1800000 * 1000) AS w_start,
         |    event_type FROM ev)
         |SELECT w_start, event_type, COUNT(*) AS n
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_leading_words" ->
      """SELECT regexp_extract(text, '^\s*([a-z]+)', 1) AS first_word, COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY n DESC, first_word LIMIT 20""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_funnel" ->
      s"""WITH ev AS ($EV),
         |s0 AS (SELECT user_id, MIN(ts) AS t FROM ev WHERE event_type = 'signup' GROUP BY user_id),
         |s1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s0 ON e.user_id = s0.user_id
         |       WHERE e.event_type = 'view' AND e.ts >= s0.t
         |         AND e.ts < s0.t + INTERVAL 6 HOUR GROUP BY e.user_id),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s1 ON e.user_id = s1.user_id
         |       WHERE e.event_type = 'purchase' AND e.ts >= s1.t
         |         AND e.ts < s1.t + INTERVAL 6 HOUR GROUP BY e.user_id)
         |SELECT CAST(0 AS BIGINT) AS step_idx, 'signup' AS step, (SELECT COUNT(*) FROM s0) AS n_users
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), 'view', (SELECT COUNT(*) FROM s1)
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'purchase', (SELECT COUNT(*) FROM s2)
         |ORDER BY step_idx""".stripMargin,

    // exact counts + the literal-true sketch verdict (the CMS sandwich is
    // a deterministic fact for fixed seeds; a false verdict hash-fails)
    "q_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents),
        |exact AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
        |tot AS (SELECT SUM(n) AS N FROM exact)
        |SELECT e.token, e.n, true AS cms_ok
        |FROM exact e, tot
        |WHERE e.n >= 0.01 * tot.N
        |ORDER BY e.token""".stripMargin,

    "q_quality_gate" ->
      """WITH t AS (SELECT doc_id, source,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, n_tokens, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
        |cc AS (SELECT source, n_tokens,
        |        SUM(cnt) OVER (PARTITION BY source ORDER BY n_tokens
        |                       ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(cnt) OVER (PARTITION BY source) AS total
        |      FROM c),
        |thr AS (SELECT source, MIN(n_tokens) AS thr FROM cc
        |        WHERE cum >= ceil(0.25 * total) GROUP BY 1)
        |SELECT t.source, thr.thr, COUNT(*) AS n_docs,
        |  CAST(COUNT(*) FILTER (WHERE t.n_tokens >= thr.thr) AS BIGINT) AS n_kept,
        |  COUNT(*) - CAST(COUNT(*) FILTER (WHERE t.n_tokens >= thr.thr) AS BIGINT) AS n_dropped
        |FROM t JOIN thr ON t.source = thr.source
        |GROUP BY 1, 2 ORDER BY t.source""".stripMargin,

    "q_gauge_locf" ->
      s"""WITH ev AS ($EV),
         |s AS (SELECT user_id AS s_user, ts AS s_ts, arg_max(value, event_id) AS s_value
         |      FROM ev GROUP BY 1, 2),
         |b AS (SELECT date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1 FROM ev),
         |g AS (SELECT u.user_id, gs.hr
         |      FROM (SELECT DISTINCT user_id FROM ev) u
         |      CROSS JOIN b, unnest(generate_series(b.t0, b.t1, INTERVAL 1 HOUR)) AS gs(hr))
         |SELECT g.user_id, g.hr, s.s_value AS value
         |FROM g ASOF JOIN s ON g.user_id = s.s_user AND s.s_ts <= g.hr
         |ORDER BY user_id, hr""".stripMargin,

    "q_delta_sum" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM ev),
         |d AS (SELECT user_id,
         |        cents - lag(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
         |      FROM c)
         |SELECT user_id,
         |  CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS delta_sum_cents,
         |  COUNT(*) AS n_samples
         |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_counter_increase" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM ev),
         |d AS (SELECT user_id, ts, cents,
         |        lag(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |      FROM c)
         |SELECT user_id, date_trunc('hour', ts) AS hr,
         |  CAST(SUM(CASE WHEN prev IS NULL THEN cents
         |                WHEN cents >= prev THEN cents - prev
         |                ELSE cents END) AS BIGINT) AS increase_cents
         |FROM d GROUP BY user_id, date_trunc('hour', ts)
         |ORDER BY user_id, hr""".stripMargin,

    // parity verdict: n_batch = (user, hour) group count recomputed by
    // the counter replica; stream side must equal with empty differences
    "q_counter_increase_stream_parity" ->
      s"""WITH ev AS ($EV),
         |n AS (SELECT COUNT(*) AS n_groups FROM
         |  (SELECT DISTINCT user_id, date_trunc('hour', ts) FROM ev))
         |SELECT CAST(n_groups AS BIGINT) AS n_batch,
         |  CAST(n_groups AS BIGINT) AS n_stream,
         |  CAST(0 AS BIGINT) AS n_only_batch, CAST(0 AS BIGINT) AS n_only_stream,
         |  true AS parity_ok
         |FROM n""".stripMargin,

    "q_interval_union" ->
      s"""WITH ev AS ($EV),
         |iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
         |         epoch_us(ts) + CAST(round(value) AS BIGINT) * 1000000 AS e
         |       FROM ev),
         |sw AS (SELECT user_id, s, e,
         |         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |       FROM iv)
         |SELECT user_id,
         |  CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(prev_end, s)), 0)) AS BIGINT) // 1000000
         |    AS covered_seconds,
         |  COUNT(*) AS n_intervals
         |FROM sw GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_decayed_score" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
         |        CAST((MAX(epoch_us(ts)) OVER (PARTITION BY user_id) - epoch_us(ts))
         |          // 3600000000 AS INTEGER) AS age_h
         |      FROM ev),
         |w AS (SELECT user_id, cents,
         |        CASE WHEN age_h < 30 THEN CAST(1 AS BIGINT) << (30 - age_h)
         |             ELSE CAST(0 AS BIGINT) END AS weight
         |      FROM c)
         |SELECT user_id, CAST(SUM(cents * weight) AS BIGINT) AS decayed_score,
         |  CAST(MAX(CASE WHEN weight > 0 THEN 1 ELSE 0 END) AS BOOLEAN) AS active
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_lttb" ->
      s"""WITH ev AS ($EV),
         |pts AS (SELECT event_type AS series, event_id, ts, epoch_us(ts) AS x,
         |          CAST(round(value * 100) AS BIGINT) AS y, value
         |        FROM ev),
         |b AS (SELECT series AS b_series, MIN(x) AS xmin,
         |        (MAX(x) - MIN(x)) // 24 + 1 AS width
         |      FROM pts GROUP BY 1),
         |bk AS (SELECT p.*, CAST((x - xmin) // width AS INTEGER) AS bucket
         |       FROM pts p JOIN b ON p.series = b.b_series),
         |st AS (SELECT series AS s_series, bucket AS s_bucket,
         |         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         |         CAST(COUNT(*) AS HUGEINT) AS cnt
         |       FROM bk GROUP BY 1, 2),
         |nb AS (SELECT s_series, s_bucket, cnt,
         |         lag(sx) OVER w AS psx, lag(sy) OVER w AS psy, lag(cnt) OVER w AS pc,
         |         lead(sx) OVER w AS nsx, lead(sy) OVER w AS nsy, lead(cnt) OVER w AS nc
         |       FROM st WINDOW w AS (PARTITION BY s_series ORDER BY s_bucket)),
         |j AS (SELECT bk.*, nb.psx, nb.psy, nb.pc, nb.nsx, nb.nsy, nb.nc,
         |        CAST(bk.x AS HUGEINT) AS xd, CAST(bk.y AS HUGEINT) AS yd
         |      FROM bk JOIN nb ON bk.series = nb.s_series AND bk.bucket = nb.s_bucket),
         |keyed AS (SELECT series, bucket,
         |        {'c1': CASE WHEN pc IS NULL THEN xd
         |                    WHEN nc IS NULL THEN -xd
         |                    ELSE -abs((xd * pc - psx) * (nsy * pc - psy * nc)
         |                            - (nsx * pc - psx * nc) * (yd * pc - psy)) END,
         |         'c2': CASE WHEN pc IS NULL OR nc IS NULL THEN CAST(event_id AS HUGEINT)
         |                    ELSE xd END,
         |         'c3': CAST(event_id AS HUGEINT),
         |         'ts': ts, 'value': value} AS cand
         |      FROM j),
         |sel AS (SELECT series, bucket, MIN(cand) AS best
         |        FROM keyed GROUP BY series, bucket)
         |SELECT series AS event_type, bucket, best.ts AS ts, best.value AS value
         |FROM sel ORDER BY event_type, bucket""".stripMargin,

    "q_apdex" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM ev),
         |a AS (SELECT event_type, COUNT(*) AS n_total,
         |        CAST(SUM(CASE WHEN c <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
         |        CAST(SUM(CASE WHEN c > 10000 AND c <= 40000 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_tolerating
         |      FROM c GROUP BY event_type)
         |SELECT event_type, n_total, n_satisfied, n_tolerating,
         |  CAST(n_satisfied * 2 + n_tolerating AS DOUBLE) / (n_total * 2) AS apdex
         |FROM a ORDER BY event_type""".stripMargin,

    "q_equidepth_hist" ->
      s"""WITH ev AS ($EV),
         |g AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
         |        COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
         |cw AS (SELECT event_type, c, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |       FROM g),
         |b AS (SELECT event_type, c, cnt,
         |        CAST((cum - 1) * 10 // n AS INTEGER) + 1 AS bin FROM cw)
         |SELECT event_type, bin, MIN(c) AS lo_cents, MAX(c) AS hi_cents,
         |  CAST(SUM(cnt) AS BIGINT) AS n_events, COUNT(*) AS n_distinct
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_rolling_dau" ->
      s"""WITH ev AS ($EV),
         |uh AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr FROM ev),
         |t AS (SELECT user_id,
         |        unnest(generate_series(hr, hr + INTERVAL 23 HOUR, INTERVAL 1 HOUR)) AS at_hr
         |      FROM uh),
         |p AS (SELECT DISTINCT hr AS at_hr FROM uh)
         |SELECT t.at_hr, COUNT(DISTINCT t.user_id) AS dau_24h
         |FROM t JOIN p USING (at_hr)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_char_trigrams" ->
      """WITH t AS (SELECT lang, text FROM documents WHERE length(text) >= 3),
        |g AS (SELECT lang, u.tri
        |      FROM t, unnest(list_transform(range(1, length(text) - 1),
        |        i -> text[i:i+2])) AS u(tri)),
        |c AS (SELECT lang, tri, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |        ORDER BY cnt DESC, tri) AS INTEGER) AS rnk FROM c)
        |SELECT lang, tri AS trigram, cnt, rnk FROM r WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin,

    "q_cohort_triangle" ->
      s"""WITH ev AS ($EV),
         |d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS dy FROM ev),
         |f AS (SELECT user_id, MIN(dy) AS cohort FROM d GROUP BY user_id),
         |c AS (SELECT f.cohort,
         |        CAST(date_diff('day', f.cohort, d.dy) AS INTEGER) AS age_days,
         |        COUNT(DISTINCT d.user_id) AS n_active
         |      FROM d JOIN f USING (user_id) GROUP BY 1, 2),
         |s AS (SELECT *, MAX(CASE WHEN age_days = 0 THEN n_active END)
         |        OVER (PARTITION BY cohort) AS cohort_size FROM c)
         |SELECT cohort, age_days, n_active, cohort_size,
         |  CAST(n_active AS DOUBLE) / cohort_size AS retention_rate
         |FROM s ORDER BY cohort, age_days""".stripMargin,

    "q_slo_burn" ->
      s"""WITH ev AS ($EV),
         |h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n_total,
         |        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
         |      FROM ev GROUP BY 1)
         |SELECT hr, n_total, n_err,
         |  CAST(n_err AS DOUBLE) / n_total AS err_rate,
         |  (CAST(n_err AS DOUBLE) / n_total) /
         |    (CAST(1.0 AS DOUBLE) - CAST(0.999 AS DOUBLE)) AS burn_rate
         |FROM h ORDER BY hr""".stripMargin,

    "q_top_journeys" ->
      s"""WITH ev AS ($EV),
         |r AS (SELECT user_id, event_type,
         |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |      FROM ev),
         |p AS (SELECT user_id,
         |        MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
         |        MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
         |        MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
         |      FROM r WHERE rn <= 3 GROUP BY user_id),
         |j AS (SELECT concat_ws('>', s1, s2, s3) AS journey FROM p)
         |SELECT journey, COUNT(*) AS n_users FROM j GROUP BY journey
         |ORDER BY n_users DESC, journey LIMIT 10""".stripMargin,

    "q_value_bands" ->
      s"""WITH ev AS ($EV),
         |g AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(round(value * 100) AS BIGINT) AS c, COUNT(*) AS cnt
         |      FROM ev GROUP BY 1, 2, 3),
         |cw AS (SELECT event_type, day, c,
         |         CAST(SUM(cnt) OVER (PARTITION BY event_type, day ORDER BY c
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY event_type, day) AS BIGINT) AS n
         |       FROM g)
         |SELECT event_type, day,
         |  MIN(CASE WHEN cum * 100 >= n * 50 THEN c END) AS p50_cents,
         |  MIN(CASE WHEN cum * 100 >= n * 90 THEN c END) AS p90_cents,
         |  MIN(CASE WHEN cum * 100 >= n * 99 THEN c END) AS p99_cents,
         |  MAX(n) AS n_events
         |FROM cw GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (SELECT doc_id, source,
        |         unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |                ELSE list_distinct(list_transform(range(1, len(tk) - 1),
        |                       i -> array_to_string(tk[i:i+2], ' ')))
        |                END) AS s
        |       FROM toks),
        |df AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s),
        |rare AS (SELECT DISTINCT sh.s, sh.source
        |         FROM sh JOIN df ON sh.s = df.s WHERE df.df <= 10)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(*) AS shared_shingles
        |FROM rare a JOIN rare b ON a.s = b.s AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // nine pre-computed log-table literals; all counting exact-integer
    "q_benford" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT CAST(round(value * 100) AS BIGINT) AS c FROM ev),
         |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |      FROM c WHERE c > 0),
         |k AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_d FROM d GROUP BY digit),
         |t AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM k),
         |g AS (SELECT CAST(i AS INTEGER) AS digit FROM unnest(range(1, 10)) AS u(i))
         |SELECT g.digit, CAST(COALESCE(k.n_d, 0) AS BIGINT) AS n_d,
         |  CAST((COALESCE(k.n_d, 0) * 1000000000) // t.n AS BIGINT) AS observed_ppb,
         |  CAST(CASE g.digit
         |    WHEN 1 THEN 301029995 WHEN 2 THEN 176091259 WHEN 3 THEN 124938736
         |    WHEN 4 THEN 96910013  WHEN 5 THEN 79181246  WHEN 6 THEN 66946789
         |    WHEN 7 THEN 57991946  WHEN 8 THEN 51152522  ELSE 45757490 END AS BIGINT)
         |    AS benford_ppb,
         |  CAST(ABS((COALESCE(k.n_d, 0) * 1000000000) // t.n - CASE g.digit
         |    WHEN 1 THEN 301029995 WHEN 2 THEN 176091259 WHEN 3 THEN 124938736
         |    WHEN 4 THEN 96910013  WHEN 5 THEN 79181246  WHEN 6 THEN 66946789
         |    WHEN 7 THEN 57991946  WHEN 8 THEN 51152522  ELSE 45757490 END) AS BIGINT)
         |    AS dev_ppb
         |FROM g LEFT JOIN k USING (digit) CROSS JOIN t ORDER BY digit""".stripMargin,

    // ordered 24-cell fold, then (ssb_raw - cm) / (sxx - cm)
    "q_hod_seasonality" ->
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
         |        CAST(COUNT(*) AS BIGINT) AS x
         |      FROM ev GROUP BY 1, 2),
         |h2 AS (SELECT event_type, x, CAST(hour(hr) AS INTEGER) AS hod FROM h),
         |g AS (SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n_g,
         |        CAST(SUM(x) AS BIGINT) AS s_g FROM h2 GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
         |      FROM h2 GROUP BY 1),
         |cc AS (SELECT g.event_type, n, sx, sxx, hod,
         |         CAST(s_g * s_g AS DOUBLE) / n_g AS cell
         |       FROM g JOIN t USING (event_type)),
         |f AS (SELECT event_type, n, sx, sxx,
         |        CAST(COUNT(*) AS BIGINT) AS n_hods,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list(cell ORDER BY hod)), (acc, x) -> acc + x) AS ssb_raw
         |      FROM cc GROUP BY 1, 2, 3, 4)
         |SELECT event_type, n AS n_hours, n_hods,
         |  (ssb_raw - CAST(sx * sx AS DOUBLE) / n) /
         |  (CAST(sxx AS DOUBLE) - CAST(sx * sx AS DOUBLE) / n) AS eta2
         |FROM f
         |WHERE (CAST(sxx AS DOUBLE) - CAST(sx * sx AS DOUBLE) / n) > 0.0
         |ORDER BY event_type""".stripMargin,

    // integer moments, then num / (sqrt(d1) * sqrt(d2)) — 3 IEEE ops
    "q_autocorr" ->
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
         |        CAST(COUNT(*) AS BIGINT) AS x
         |      FROM ev GROUP BY 1, 2),
         |p AS (SELECT a.event_type, a.x, b.x AS y
         |      FROM h a JOIN h b
         |        ON a.event_type = b.event_type
         |           AND a.hr = b.hr - INTERVAL 24 HOUR),
         |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(x * x) AS BIGINT) AS sxx,
         |        CAST(SUM(y * y) AS BIGINT) AS syy,
         |        CAST(SUM(x * y) AS BIGINT) AS sxy
         |      FROM p GROUP BY event_type),
         |d AS (SELECT event_type, n,
         |        n * sxy - sx * sy AS num,
         |        n * sxx - sx * sx AS d1, n * syy - sy * sy AS d2
         |      FROM m)
         |SELECT event_type, n AS n_pairs,
         |  CAST(num AS DOUBLE) / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE))) AS r
         |FROM d WHERE d1 > 0 AND d2 > 0 ORDER BY event_type""".stripMargin,

    // scaled deviations m*x - T keep the prefix sums integral
    "q_cusum" ->
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
         |        CAST(COUNT(*) AS BIGINT) AS x
         |      FROM ev GROUP BY 1, 2),
         |w AS (SELECT event_type, hr, x,
         |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS m,
         |        CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS t
         |      FROM h),
         |s AS (SELECT event_type, hr, m,
         |        CAST(SUM(m * x - t) OVER (PARTITION BY event_type ORDER BY hr
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
         |      FROM w),
         |c AS (SELECT event_type, hr, m,
         |        s - MIN(s) OVER (PARTITION BY event_type ORDER BY hr
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
         |      FROM s),
         |r AS (SELECT event_type, m AS n_hours, cusum, hr,
         |        ROW_NUMBER() OVER (PARTITION BY event_type
         |          ORDER BY cusum DESC, hr) AS rn
         |      FROM c)
         |SELECT event_type, n_hours, CAST(cusum AS BIGINT) AS max_cusum,
         |  hr AS peak_hr
         |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q_mad_anomaly" ->
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
         |      FROM ev GROUP BY 1, 2),
         |g1 AS (SELECT event_type, n AS v, COUNT(*) AS c FROM h GROUP BY 1, 2),
         |m1 AS (SELECT event_type, MIN(v) AS med FROM (
         |        SELECT event_type, v,
         |          SUM(c) OVER (PARTITION BY event_type ORDER BY v
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |          SUM(c) OVER (PARTITION BY event_type) AS tot
         |        FROM g1) t WHERE cum * 2 >= tot GROUP BY event_type),
         |d AS (SELECT h.event_type, h.hr, h.n, m1.med, abs(h.n - m1.med) AS dev
         |      FROM h JOIN m1 USING (event_type)),
         |g2 AS (SELECT event_type, dev AS v, COUNT(*) AS c FROM d GROUP BY 1, 2),
         |m2 AS (SELECT event_type, MIN(v) AS mad FROM (
         |        SELECT event_type, v,
         |          SUM(c) OVER (PARTITION BY event_type ORDER BY v
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |          SUM(c) OVER (PARTITION BY event_type) AS tot
         |        FROM g2) t WHERE cum * 2 >= tot GROUP BY event_type)
         |SELECT d.event_type, d.hr, d.n, d.med, m2.mad
         |FROM d JOIN m2 USING (event_type)
         |WHERE d.dev > m2.mad * 3
         |ORDER BY event_type, hr""".stripMargin,

    "q_zorder_slice" ->
      s"""WITH ev AS ($EV)
         |SELECT event_id, ts, user_id, event_type, value, props FROM ev
         |WHERE user_id BETWEEN 40 AND 60 AND value BETWEEN 100.0 AND 200.0
         |ORDER BY event_id""".stripMargin,

    "q_uniq_upto" ->
      s"""WITH ev AS ($EV)
         |SELECT event_type, LEAST(COUNT(DISTINCT user_id), 21) AS uniq_upto,
         |  COUNT(*) AS n_events
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_topk_weighted" ->
      s"""WITH ev AS ($EV),
         |g AS (SELECT event_type, user_id,
         |        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS weight_cents
         |      FROM ev GROUP BY 1, 2),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
         |        ORDER BY weight_cents DESC, user_id) AS INTEGER) AS rnk
         |      FROM g)
         |SELECT event_type, user_id, weight_cents, rnk
         |FROM r WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin,

    "q_weighted_median" ->
      s"""WITH ev AS ($EV),
         |g AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
         |        CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS w
         |      FROM ev GROUP BY 1, 2),
         |cw AS (SELECT event_type, c, w,
         |         CAST(SUM(w) OVER (PARTITION BY event_type ORDER BY c
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w,
         |         CAST(SUM(w) OVER (PARTITION BY event_type) AS BIGINT) AS tot_w
         |       FROM g)
         |SELECT event_type, MIN(c) AS weighted_median_cents, MAX(tot_w) AS total_weight
         |FROM cw WHERE cum_w * 2 >= tot_w
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_bounding_ratio" ->
      s"""WITH ev AS ($EV),
         |p AS (SELECT user_id,
         |        {'x': epoch_us(ts), 'id': event_id,
         |         'c': CAST(round(value * 100) AS BIGINT)} AS pt
         |      FROM ev),
         |e AS (SELECT user_id, MIN(pt) AS fp, MAX(pt) AS lp FROM p GROUP BY user_id)
         |SELECT user_id,
         |  CASE WHEN lp.x = fp.x THEN NULL
         |       ELSE CAST(lp.c - fp.c AS DOUBLE) / ((lp.x - fp.x) / 1000000.0)
         |  END AS cents_per_second
         |FROM e ORDER BY user_id""".stripMargin,

    "q_codec_stats" -> {
      def vcost(z: String) =
        s"""CASE WHEN $z < 128 THEN 1 WHEN $z < 16384 THEN 2
           | WHEN $z < 2097152 THEN 3 WHEN $z < 268435456 THEN 4
           | WHEN $z < 34359738368 THEN 5 WHEN $z < 4398046511104 THEN 6
           | WHEN $z < 562949953421312 THEN 7 WHEN $z < 72057594037927936 THEN 8
           | ELSE 9 END""".stripMargin.replaceAll("\n", "")
      s"""WITH ev AS ($EV),
         |s AS (SELECT user_id, ts, event_id, epoch_ms(ts) AS x,
         |        CAST(round(value * 100) AS BIGINT) AS c FROM ev),
         |l AS (SELECT user_id, x, c,
         |        lag(x, 1) OVER w AS px, lag(x, 2) OVER w AS ppx, lag(c, 1) OVER w AS pc
         |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |st AS (SELECT user_id,
         |         CASE WHEN px IS NULL THEN x
         |              WHEN ppx IS NULL THEN x - px
         |              ELSE (x - px) - (px - ppx) END AS tsv,
         |         CASE WHEN pc IS NULL THEN c ELSE c - pc END AS vv
         |       FROM l),
         |z AS (SELECT user_id,
         |        CASE WHEN tsv >= 0 THEN tsv * 2 ELSE tsv * -2 - 1 END AS zt,
         |        CASE WHEN vv >= 0 THEN vv * 2 ELSE vv * -2 - 1 END AS zv
         |      FROM st)
         |SELECT user_id, COUNT(*) AS n_samples,
         |  COUNT(*) * 16 AS raw_bytes,
         |  CAST(SUM(${vcost("zt")}) AS BIGINT) AS enc_ts_bytes,
         |  CAST(SUM(${vcost("zv")}) AS BIGINT) AS enc_val_bytes,
         |  CAST(COUNT(*) * 16 AS DOUBLE) /
         |    (CAST(SUM(${vcost("zt")}) AS BIGINT) + CAST(SUM(${vcost("zv")}) AS BIGINT))
         |    AS compression_ratio
         |FROM z GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    "q_agg_if" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT event_type,
         |        CASE WHEN CAST(round(value * 100) AS BIGINT) >= 10000
         |             THEN CAST(round(value * 100) AS BIGINT) END AS qc
         |      FROM ev)
         |SELECT event_type,
         |  CAST(SUM(CASE WHEN qc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS count_if,
         |  CAST(SUM(qc) AS BIGINT) AS sum_if,
         |  MIN(qc) AS min_if, MAX(qc) AS max_if
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_avg_weighted" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
         |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS wt
         |      FROM ev)
         |SELECT event_type,
         |  CAST(SUM(c * wt) AS BIGINT) AS wv_sum,
         |  CAST(SUM(wt) AS BIGINT) AS w_sum,
         |  CAST(CAST(SUM(c * wt) AS BIGINT) AS DOUBLE) / CAST(SUM(wt) AS BIGINT)
         |    AS avg_weighted_cents
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_embedding_centroids" ->
      """WITH e AS (
        |  SELECT label, CAST(t.pos AS INTEGER) AS pos,
        |    CAST(round(CAST(embedding[t.pos + 1] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(len(embedding))) AS t(pos))
        |SELECT label, pos,
        |  CAST(SUM(q) AS BIGINT) / COUNT(*) / 1048576.0 AS centroid,
        |  COUNT(*) AS n_vecs
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "q_train_order" -> OracleSql.trainOrderSql,
    "q_split_leakage" -> OracleSql.crossSplitLeakageSql(trainPct = 90, valPct = 5),
    "q_eval_sample" -> OracleSql.evalSampleSql(k = 5),

    "q_chunking" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    END AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        CAST(u.k AS INTEGER) AS chunk_idx
        |      FROM t, unnest(range((n_tokens - 1) // 48 + 1)) AS u(k)
        |      WHERE n_tokens > 0)
        |SELECT doc_id, chunk_idx,
        |  CAST(chunk_idx AS BIGINT) * 48 + 1 AS start_tok,
        |  LEAST(64, n_tokens - CAST(chunk_idx AS BIGINT) * 48) AS n_toks
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_bpe_merges" ->
      """WITH tk AS (
        |  SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |p AS (SELECT u.pair
        |      FROM tk, unnest(list_transform(range(len(t) - 1),
        |        i -> t[i + 1] || ' ' || t[i + 2])) AS u(pair)
        |      WHERE len(t) >= 2)
        |SELECT pair, COUNT(*) AS cnt
        |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    // BM25 with raw-odds idf: only +,*,/ doubles with the same association
    // as the Spark side, so scores are bit-identical (no ln anywhere).
    "q_bm25" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS dl,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'spark')) AS BIGINT) AS tf_spark,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'vector')) AS BIGINT) AS tf_vector,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'merge')) AS BIGINT) AS tf_merge
        |  FROM documents),
        |s AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
        |        SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |        SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector,
        |        SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
        |      FROM d),
        |sc AS (SELECT doc_id, dl, tf_spark, tf_vector, tf_merge,
        |    ((n_docs - df_spark + 0.5) / (df_spark + 0.5))
        |      * (CAST(tf_spark AS DOUBLE) * 1.2 + CAST(tf_spark AS DOUBLE))
        |      / (CAST(tf_spark AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * (CAST(dl * n_docs AS DOUBLE) / sum_dl)))
        |  + ((n_docs - df_vector + 0.5) / (df_vector + 0.5))
        |      * (CAST(tf_vector AS DOUBLE) * 1.2 + CAST(tf_vector AS DOUBLE))
        |      / (CAST(tf_vector AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * (CAST(dl * n_docs AS DOUBLE) / sum_dl)))
        |  + ((n_docs - df_merge + 0.5) / (df_merge + 0.5))
        |      * (CAST(tf_merge AS DOUBLE) * 1.2 + CAST(tf_merge AS DOUBLE))
        |      / (CAST(tf_merge AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * (CAST(dl * n_docs AS DOUBLE) / sum_dl)))
        |  AS score
        |  FROM d, s)
        |SELECT doc_id, dl, tf_spark, tf_vector, tf_merge, score
        |FROM sc WHERE score > 0.0
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    // RRF fusion: the proven q_bm25 scoring tree (top-100 + rank) fused
    // with the proven brute-force cosine tree (probe 7, top-100) by
    // integer ppb reciprocal ranks — FULL OUTER on doc_id, 0 for a
    // missing leg, top-20.
    "q_hybrid_rrf" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS dl,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'spark')) AS BIGINT) AS tf_spark,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'vector')) AS BIGINT) AS tf_vector,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x = 'merge')) AS BIGINT) AS tf_merge
        |  FROM documents),
        |s AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
        |        SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |        SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector,
        |        SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
        |      FROM d),
        |sc AS (SELECT doc_id,
        |    ((n_docs - df_spark + 0.5) / (df_spark + 0.5))
        |      * (CAST(tf_spark AS DOUBLE) * 1.2 + CAST(tf_spark AS DOUBLE))
        |      / (CAST(tf_spark AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * (CAST(dl * n_docs AS DOUBLE) / sum_dl)))
        |  + ((n_docs - df_vector + 0.5) / (df_vector + 0.5))
        |      * (CAST(tf_vector AS DOUBLE) * 1.2 + CAST(tf_vector AS DOUBLE))
        |      / (CAST(tf_vector AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * (CAST(dl * n_docs AS DOUBLE) / sum_dl)))
        |  + ((n_docs - df_merge + 0.5) / (df_merge + 0.5))
        |      * (CAST(tf_merge AS DOUBLE) * 1.2 + CAST(tf_merge AS DOUBLE))
        |      / (CAST(tf_merge AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * (CAST(dl * n_docs AS DOUBLE) / sum_dl)))
        |  AS score
        |  FROM d, s),
        |tl AS (SELECT doc_id,
        |         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_text
        |       FROM (SELECT doc_id, score FROM sc WHERE score > 0.0
        |             ORDER BY score DESC, doc_id LIMIT 100)),
        |base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |pv AS (SELECT e AS pe FROM base WHERE vec_id = 7),
        |sims AS (SELECT b.vec_id,
        |    list_dot_product(b.e, pv.pe) /
        |      (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(pv.pe, pv.pe))) AS cosine
        |  FROM base b CROSS JOIN pv WHERE b.vec_id <> 7),
        |vl AS (SELECT doc_id, rank_vec FROM (
        |         SELECT vec_id AS doc_id,
        |           CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank_vec
        |         FROM sims)
        |       WHERE rank_vec <= 100),
        |f AS (SELECT COALESCE(tl.doc_id, vl.doc_id) AS doc_id, rank_text, rank_vec,
        |        COALESCE(1000000000 // (60 + rank_text), 0)
        |          + COALESCE(1000000000 // (60 + rank_vec), 0) AS rrf_ppb
        |      FROM tl FULL OUTER JOIN vl ON tl.doc_id = vl.doc_id)
        |SELECT doc_id, rank_text, rank_vec, CAST(rrf_ppb AS BIGINT) AS rrf_ppb
        |FROM f ORDER BY rrf_ppb DESC, doc_id LIMIT 20""".stripMargin,

    // fixed-point ppb probabilities (integer floor division) — order-free
    // sums, so the distributed aggregation hash-matches exactly
    "q_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |              ELSE list_transform(range(1, len(tk)),
        |                     i -> tk[i] || ' ' || tk[i + 1]) END AS bgs
        |       FROM t),
        |tr AS (SELECT bgs FROM bg WHERE doc_id % 5 != 0),
        |ho AS (SELECT doc_id, bgs FROM bg WHERE doc_id % 5 = 0),
        |trb AS (SELECT u.b AS bigram FROM tr, unnest(bgs) AS u(b)),
        |bc AS (SELECT bigram, COUNT(*) AS b_cnt FROM trb GROUP BY 1),
        |cc AS (SELECT string_split(bigram, ' ')[1] AS ctx, COUNT(*) AS u_cnt
        |       FROM trb GROUP BY 1),
        |vo AS (SELECT COUNT(DISTINCT tok) AS v_size FROM (
        |         SELECT string_split(bigram, ' ')[1] AS tok FROM trb
        |         UNION ALL
        |         SELECT string_split(bigram, ' ')[2] AS tok FROM trb) toks),
        |sc AS (SELECT ho.doc_id, u.b AS bigram, string_split(u.b, ' ')[1] AS ctx
        |       FROM ho, unnest(bgs) AS u(b)),
        |w AS (SELECT sc.doc_id,
        |        CASE WHEN bc.b_cnt IS NULL THEN 1 ELSE 0 END AS oov,
        |        (COALESCE(bc.b_cnt, 0) + 1) * 1000000000 AS b1e9,
        |        COALESCE(cc.u_cnt, 0) + vo.v_size AS uv
        |      FROM sc LEFT JOIN bc USING (bigram) LEFT JOIN cc USING (ctx)
        |      CROSS JOIN vo)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  CAST(SUM(b1e9 // uv) AS BIGINT) AS sum_ppb,
        |  CAST(CAST(SUM(b1e9 // uv) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_ppb
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_log_templates" ->
      s"""WITH ev AS ($EV),
         |m AS (SELECT event_type || ': took '
         |          || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
         |          || 'ms user=' || CAST(user_id AS VARCHAR) AS msg,
         |        user_id AS group_key, ts
         |      FROM ev),
         |t AS (SELECT array_to_string(list_slice(
         |          regexp_split_to_array(trim(
         |            regexp_replace(msg, '[0-9]+', '<num>', 'g')), '\\s+'),
         |          1, 8), ' ') AS template,
         |        group_key, ts
         |      FROM m)
         |SELECT template, COUNT(*) AS n_msgs,
         |  COUNT(DISTINCT group_key) AS n_keys,
         |  MIN(ts) AS first_seen, MAX(ts) AS last_seen
         |FROM t GROUP BY template ORDER BY n_msgs DESC, template""".stripMargin,

    // the bloom prefilter admits no false negatives and the join re-checks
    // exactly, so the oracle is simply the join without the bloom
    "q_bloom_join" ->
      """SELECT o.o_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 490000.0
        |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin,

    "q_kmv_intersect" -> OracleSql.kmvIntersectionsSql(EV, 64),

    "q_trailing_window" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS tms,
         |        CAST(round(value * 100) AS BIGINT) AS cents
         |      FROM ev)
         |SELECT user_id, event_id, ts,
         |  COUNT(*) OVER w AS n_trailing,
         |  CAST(SUM(cents) OVER w AS BIGINT) AS cents_trailing
         |FROM c
         |WINDOW w AS (PARTITION BY user_id ORDER BY tms
         |  RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_partition_prune" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS d,
         |        event_type, CAST(round(value * 100) AS BIGINT) AS cents
         |      FROM ev),
         |rev AS (SELECT d, CAST(SUM(cents) AS BIGINT) AS rev FROM c
         |        WHERE event_type = 'purchase' GROUP BY d),
         |top AS (SELECT d FROM (
         |          SELECT d, ROW_NUMBER() OVER (ORDER BY rev DESC, d) AS rn
         |          FROM rev) z WHERE rn <= 5)
         |SELECT c.d, c.event_type, COUNT(*) AS n
         |FROM c JOIN top USING (d)
         |GROUP BY c.d, c.event_type ORDER BY c.d, c.event_type""".stripMargin,

    "q_welch_ttest" ->
      s"""WITH ev AS ($EV),
         |m AS (SELECT event_type, COUNT(*) AS n,
         |        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
         |        CAST(SUM(CAST(round(value * 100) AS BIGINT)
         |          * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc2
         |      FROM ev GROUP BY event_type),
         |s AS (SELECT event_type, n,
         |        CAST(sc AS DOUBLE) / n AS mean,
         |        (CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n)
         |          / CAST(n - 1 AS DOUBLE) AS var FROM m)
         |SELECT a.event_type AS type_a, a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
         |  b.event_type AS type_b, b.n AS n_b, b.mean AS mean_b, b.var AS var_b,
         |  (a.mean - b.mean) /
         |    sqrt(a.var / CAST(a.n AS DOUBLE) + b.var / CAST(b.n AS DOUBLE)) AS t,
         |  ((a.var / CAST(a.n AS DOUBLE) + b.var / CAST(b.n AS DOUBLE))
         |    * (a.var / CAST(a.n AS DOUBLE) + b.var / CAST(b.n AS DOUBLE))) /
         |  ((a.var / CAST(a.n AS DOUBLE)) * (a.var / CAST(a.n AS DOUBLE))
         |      / CAST(a.n - 1 AS DOUBLE)
         |    + (b.var / CAST(b.n AS DOUBLE)) * (b.var / CAST(b.n AS DOUBLE))
         |      / CAST(b.n - 1 AS DOUBLE)) AS df
         |FROM s a JOIN s b ON a.event_type < b.event_type
         |ORDER BY type_a, type_b""".stripMargin,

    "q_cramers_v" ->
      s"""WITH ev AS ($EV),
         |obs AS (SELECT event_type AS rt, dayofweek(ts) + 1 AS ct,
         |          COUNT(*) AS o
         |        FROM ev GROUP BY 1, 2),
         |cells AS (SELECT g.rt, g.ct, COALESCE(obs.o, 0) AS o
         |          FROM (SELECT a.rt, b.ct
         |                FROM (SELECT DISTINCT rt FROM obs) a,
         |                     (SELECT DISTINCT ct FROM obs) b) g
         |          LEFT JOIN obs ON g.rt = obs.rt AND g.ct = obs.ct),
         |rt_tot AS (SELECT rt, CAST(SUM(o) AS BIGINT) AS rn FROM cells GROUP BY rt),
         |ct_tot AS (SELECT ct, CAST(SUM(o) AS BIGINT) AS cn FROM cells GROUP BY ct),
         |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn,
         |          COUNT(DISTINCT rt) AS r, COUNT(DISTINCT ct) AS c FROM cells),
         |cc AS (SELECT nn, r, c, rt, ct,
         |         (CAST(o AS DOUBLE) - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / nn)
         |           * (CAST(o AS DOUBLE) - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / nn)
         |           / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / nn) AS cell
         |       FROM cells JOIN rt_tot USING (rt) JOIN ct_tot USING (ct)
         |       CROSS JOIN tot),
         |f AS (SELECT nn AS n, r, c,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list(cell ORDER BY rt, ct)), (acc, x) -> acc + x) AS chi2
         |      FROM cc GROUP BY nn, r, c)
         |SELECT n, r, c, chi2,
         |  sqrt(chi2 / (CAST(n AS DOUBLE)
         |    * CAST(LEAST(r - 1, c - 1) AS DOUBLE))) AS v
         |FROM f""".stripMargin,

    "q_linreg" ->
      s"""WITH ev AS ($EV),
         |z AS (SELECT event_type,
         |        (epoch_us(ts) // 1000000 - 1704067200) // 3600 AS x,
         |        CAST(round(value * 100) AS BIGINT) AS y
         |      FROM ev),
         |m AS (SELECT event_type, COUNT(*) AS n,
         |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(x * x) AS BIGINT) AS sxx,
         |        CAST(SUM(x * y) AS BIGINT) AS sxy
         |      FROM z GROUP BY event_type),
         |sl AS (SELECT event_type, n,
         |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
         |         sx, sy
         |       FROM m)
         |SELECT event_type, n, slope,
         |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
         |    AS intercept
         |FROM sl ORDER BY event_type""".stripMargin,

    "q_gauge_fill" ->
      s"""WITH ev0 AS ($EV),
         |ev AS (SELECT * FROM ev0
         |       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |         AND ts < TIMESTAMP '2024-01-12 00:00:00'),
         |s AS (SELECT user_id, ts AS t, 0 AS g,
         |        CAST(round(arg_max(value, event_id) * 100) AS BIGINT) AS c
         |      FROM ev GROUP BY user_id, ts),
         |b AS (SELECT date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1 FROM ev),
         |gr AS (SELECT u.user_id, gs.t, 1 AS g, CAST(NULL AS BIGINT) AS c
         |       FROM (SELECT DISTINCT user_id FROM ev) u
         |       CROSS JOIN b, unnest(generate_series(b.t0, b.t1, INTERVAL 1 HOUR)) AS gs(t)),
         |al AS (SELECT user_id, t, g, c, epoch_ms(t) AS tms FROM
         |        (SELECT * FROM s UNION ALL SELECT * FROM gr) z),
         |f AS (SELECT user_id, t, g, tms,
         |        last_value(c IGNORE NULLS) OVER wb AS pc,
         |        last_value(CASE WHEN c IS NOT NULL THEN tms END IGNORE NULLS)
         |          OVER wb AS pt,
         |        first_value(c IGNORE NULLS) OVER wa AS nc,
         |        first_value(CASE WHEN c IS NOT NULL THEN tms END IGNORE NULLS)
         |          OVER wa AS nt
         |      FROM al
         |      WINDOW
         |        wb AS (PARTITION BY user_id ORDER BY tms, g
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |        wa AS (PARTITION BY user_id ORDER BY tms, g
         |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, t AS hr,
         |  CASE WHEN nc IS NULL OR nt = pt THEN CAST(pc AS DOUBLE)
         |       ELSE CAST(pc AS DOUBLE) + (CAST(nc AS DOUBLE) - CAST(pc AS DOUBLE))
         |         * (CAST(tms - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END
         |    AS value_cents
         |FROM f WHERE g = 1 AND pc IS NOT NULL
         |ORDER BY user_id, hr""".stripMargin,

    "q_type_diversity" ->
      s"""WITH ev AS ($EV),
         |c AS (SELECT user_id, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         |g AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
         |        COUNT(*) AS n_types, CAST(SUM(c * c) AS BIGINT) AS s2
         |      FROM c GROUP BY user_id)
         |SELECT user_id, n_events, n_types,
         |  CAST(1000000000 - (s2 * 1000000000) // (n_events * n_events) AS BIGINT)
         |    AS simpson_ppb
         |FROM g ORDER BY user_id""".stripMargin,

    // floor-div ECDFs over the distinct value domain; same window frame
    // both engines, BIGINT throughout
    "q_ks_test" ->
      s"""WITH ev AS ($EV),
         |v AS (SELECT value,
         |        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |      FROM ev WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
         |      GROUP BY value),
         |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM v),
         |c AS (SELECT
         |        CAST(SUM(ca) OVER (ORDER BY value
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cca,
         |        CAST(SUM(cb) OVER (ORDER BY value
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ccb
         |      FROM v)
         |SELECT t.n_a, t.n_b,
         |  CAST(MAX(ABS((cca * 1000000000) // t.n_a - (ccb * 1000000000) // t.n_b)) AS BIGINT) AS d_ppb
         |FROM c CROSS JOIN t GROUP BY t.n_a, t.n_b""".stripMargin,

    // doubled midranks (2p + t + 1) keep tie handling integral
    "q_mannwhitney" ->
      s"""WITH ev AS ($EV),
         |v AS (SELECT value,
         |        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |      FROM ev WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
         |      GROUP BY value),
         |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM v),
         |c AS (SELECT ca, (ca + cb) AS tt,
         |        CAST(SUM(ca + cb) OVER (ORDER BY value
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (ca + cb) AS BIGINT) AS p
         |      FROM v)
         |SELECT t.n_a, t.n_b,
         |  CAST(SUM(ca * (2 * p + tt + 1)) AS BIGINT) AS r2_a,
         |  CAST(SUM(ca * (2 * p + tt + 1)) - t.n_a * (t.n_a + 1) AS BIGINT) AS u2_a
         |FROM c CROSS JOIN t GROUP BY t.n_a, t.n_b""".stripMargin,

    // the Spark-side double tree mirrored token-for-token
    "q_wilson_ci" ->
      s"""WITH ev AS ($EV),
         |a AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n,
         |        SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS k
         |      FROM ev GROUP BY 1)
         |SELECT hr, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
         |  ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
         |      + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
         |    - 1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
         |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
         |        + 3.8416 / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
         |  / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_lo,
         |  ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
         |      + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
         |    + 1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
         |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
         |        + 3.8416 / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
         |  / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_hi
         |FROM a ORDER BY hr""".stripMargin,

    "q_retention_cohort" ->
      s"""WITH ev AS ($EV),
         |d0 AS (SELECT date_trunc('day', MIN(ts)) AS d0 FROM ev),
         |f AS (SELECT user_id,
         |        BOOL_OR(event_type = 'signup'
         |          AND CAST(date_diff('day', d0.d0, date_trunc('day', ts)) AS INTEGER) = 0) AS r1,
         |        BOOL_OR(event_type = 'purchase'
         |          AND CAST(date_diff('day', d0.d0, date_trunc('day', ts)) AS INTEGER) = 1) AS r2,
         |        BOOL_OR(event_type = 'purchase'
         |          AND CAST(date_diff('day', d0.d0, date_trunc('day', ts)) AS INTEGER) = 7) AS r3
         |      FROM ev CROSS JOIN d0 GROUP BY user_id)
         |SELECT CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cond1,
         |  CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cond2,
         |  CAST(SUM(CASE WHEN r1 AND r3 THEN 1 ELSE 0 END) AS BIGINT) AS n_cond3
         |FROM f""".stripMargin,

    // chained conditional running maxima mirror the Spark construction;
    // BOOL_OR replicates Spark's max-over-boolean level flags
    "q_window_funnel" ->
      s"""WITH ev AS ($EV),
         |f AS (SELECT user_id, ts, event_id, event_type, epoch_ms(ts) AS t
         |      FROM ev WHERE event_type IN ('signup', 'view', 'purchase')),
         |c1 AS (SELECT *, MAX(CASE WHEN event_type = 'signup' THEN t END)
         |         OVER (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS UNBOUNDED PRECEDING) AS m1 FROM f),
         |c2 AS (SELECT *, MAX(CASE WHEN event_type = 'view' THEN m1 END)
         |         OVER (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS UNBOUNDED PRECEDING) AS m2 FROM c1),
         |u AS (SELECT user_id,
         |        BOOL_OR(m1 IS NOT NULL) AS l1,
         |        BOOL_OR(event_type = 'view' AND t - m1 <= 21600000) AS l2,
         |        BOOL_OR(event_type = 'purchase' AND t - m2 <= 21600000) AS l3
         |      FROM c2 GROUP BY 1)
         |SELECT CAST(0 AS BIGINT) AS level_idx, 'signup' AS step,
         |  (SELECT COUNT(*) FROM u WHERE l1) AS n_users
         |UNION ALL SELECT CAST(1 AS BIGINT), 'view', (SELECT COUNT(*) FROM u WHERE l2)
         |UNION ALL SELECT CAST(2 AS BIGINT), 'purchase', (SELECT COUNT(*) FROM u WHERE l3)
         |ORDER BY level_idx""".stripMargin,

    // restart-scan completes a match exactly at each b whose previous
    // filtered event is an a (run-compression argument in the scaladoc)
    "q_sequence_count_ch" ->
      s"""WITH ev AS ($EV),
         |f AS (SELECT user_id, ts, event_id, event_type,
         |        LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |      FROM ev WHERE event_type IN ('signup', 'purchase'))
         |SELECT user_id, COUNT(*) AS n_matches
         |FROM f WHERE event_type = 'purchase' AND prev = 'signup'
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the min-cut closed form of greedy non-overlapping matching: count =
    // tot_b + min(0, min over prefixes of (cum_a - cum_b))
    "q_sequence_count" ->
      s"""WITH ev AS ($EV),
         |f AS (SELECT user_id, ts, event_id,
         |        CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_a,
         |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_b
         |      FROM ev WHERE event_type IN ('signup', 'purchase')),
         |c AS (SELECT user_id, is_b,
         |        SUM(is_a) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                        ROWS UNBOUNDED PRECEDING) AS cum_a,
         |        SUM(is_b) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                        ROWS UNBOUNDED PRECEDING) AS cum_b
         |      FROM f)
         |SELECT user_id,
         |  CAST(SUM(is_b) + least(MIN(cum_a - cum_b), 0) AS BIGINT) AS n_matches
         |FROM c GROUP BY user_id
         |HAVING SUM(is_b) + least(MIN(cum_a - cum_b), 0) > 0
         |ORDER BY user_id""".stripMargin,

    // integer moment sums (exact on both engines), then identical IEEE
    // double trees for mean/variance/z -- hash-exact anomaly flags
    "q_rate_anomaly" ->
      s"""WITH ev AS ($EV),
         |hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
         |           FROM ev GROUP BY 1, 2),
         |stats AS (SELECT event_type, COUNT(*) AS n_hours, SUM(n) AS sum_n,
         |            SUM(n * n) AS sum_n2
         |          FROM hourly GROUP BY 1),
         |j AS (SELECT h.event_type, h.hr, h.n, s.n_hours, s.sum_n, s.sum_n2
         |      FROM hourly h JOIN stats s ON h.event_type = s.event_type
         |      WHERE s.n_hours > 1),
         |m AS (SELECT event_type, hr, n,
         |        CAST(sum_n AS DOUBLE) / n_hours AS mean,
         |        CAST(n_hours * sum_n2 - sum_n * sum_n AS DOUBLE) /
         |          CAST(n_hours * (n_hours - 1) AS DOUBLE) AS variance
         |      FROM j)
         |SELECT event_type, hr, n, mean,
         |  (CAST(n AS DOUBLE) - mean) / sqrt(variance) AS z
         |FROM m
         |WHERE variance > 0
         |  AND abs((CAST(n AS DOUBLE) - mean) / sqrt(variance)) > 2.0
         |ORDER BY event_type, hr""".stripMargin,

    "q_skew_join" ->
      s"""WITH ev AS ($EV)
         |SELECT c.c_nationkey, COUNT(*) AS n_events,
         |  ${Cols.dsumSql("e.value")} AS sum_value
         |FROM ev e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "q_sequence_match" ->
      s"""WITH ev AS ($EV),
         |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
         |       WHERE event_type = 'signup' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, s1.t1, MIN(e.ts) AS t2 FROM ev e
         |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
         |       WHERE e.event_type = 'click' GROUP BY 1, 2),
         |s3 AS (SELECT e.user_id, s2.t1, s2.t2, MIN(e.ts) AS t3 FROM ev e
         |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
         |       WHERE e.event_type = 'purchase' GROUP BY 1, 2, 3)
         |SELECT user_id, t1, t2, t3 FROM s3 ORDER BY user_id""".stripMargin,

    "q_sequence_next" ->
      s"""WITH ev AS ($EV),
         |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
         |       WHERE event_type = 'signup' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_end FROM ev e
         |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
         |       WHERE e.event_type = 'purchase' GROUP BY 1),
         |nx AS (SELECT user_id, t_end, event_type AS next_type, ts AS next_ts
         |       FROM (SELECT e.user_id, s2.t_end, e.event_type, e.ts,
         |               ROW_NUMBER() OVER (PARTITION BY e.user_id
         |                 ORDER BY e.ts, e.event_id) AS rn
         |             FROM ev e JOIN s2 ON e.user_id = s2.user_id
         |               AND e.ts > s2.t_end) z
         |       WHERE rn = 1)
         |SELECT s2.user_id, s2.t_end, nx.next_type, nx.next_ts
         |FROM s2 LEFT JOIN nx ON s2.user_id = nx.user_id
         |ORDER BY s2.user_id""".stripMargin,

    "q_domain_cap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |    END AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_tokens,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY n_tokens DESC, doc_id) AS INTEGER) AS rnk
        |      FROM t)
        |SELECT doc_id, source, n_tokens, rnk FROM r WHERE rnk <= 20
        |ORDER BY source, rnk""".stripMargin,

    "q_retention" ->
      s"""WITH ev AS ($EV),
         |d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS dy FROM ev)
         |SELECT a.dy AS dy, COUNT(*) AS n_active,
         |  CAST(COUNT(*) FILTER (WHERE b.user_id IS NOT NULL) AS BIGINT) AS n_retained,
         |  CAST(COUNT(*) FILTER (WHERE b.user_id IS NOT NULL) AS DOUBLE) / COUNT(*)
         |    AS retention_rate
         |FROM d a LEFT JOIN d b
         |  ON a.user_id = b.user_id AND b.dy = a.dy + INTERVAL 1 DAY
         |GROUP BY a.dy ORDER BY dy""".stripMargin,

    "q_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |spans AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
        |    array_to_string(tk[(i * 5) + 1 : (i * 5) + 5], ' ') AS span
        |  FROM t, unnest(range(0, greatest((len(tk) + 4) // 5, 1))) AS u(i)
        |  WHERE length(trim(array_to_string(tk[(i * 5) + 1 : (i * 5) + 5], ' '))) > 0),
        |flagged AS (
        |  SELECT doc_id,
        |    (ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, span_idx)) = 1 AS kept
        |  FROM spans),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM flagged GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_spans, 0) AS n_spans, COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(n_spans, 0) - COALESCE(n_kept, 0) AS n_dropped
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // sliding windows (overlapping), duplicated = >= 2 positions corpus-wide
    "q_repeated_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, array_to_string(tk[(i + 1):(i + 5)], ' ') AS ng
        |  FROM t, unnest(range(0, greatest(len(tk) - 4, 0))) AS u(i)),
        |c AS (SELECT ng, COUNT(*) AS c FROM s GROUP BY ng)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |  CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST((SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) * 1000000000) // COUNT(*) AS BIGINT) AS dup_ppb
        |FROM s JOIN c USING (ng) GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,

    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  (cum_tokens - n_tokens) // 2048 AS pack_id,
        |  (cum_tokens - n_tokens) % 2048 AS offset_in_pack
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_gopher_quality" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_words,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS n_nonws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_words,
        |    n_nonws / greatest(n_words, 1) AS mean_word_len,
        |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(tk), 1) AS alpha_word_frac,
        |    CAST(len(list_intersect(list_transform(tk, x -> lower(x)),
        |      ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'])) AS BIGINT) AS stopword_hits
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stopword_hits,
        |  n_words >= 50 AND n_words <= 100000 AS words_in_range,
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS mean_len_ok,
        |  alpha_word_frac >= 0.8 AS alpha_ok,
        |  stopword_hits >= 2 AS stopwords_ok,
        |  (n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |    AND alpha_word_frac >= 0.8 AND stopword_hits >= 2 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_token_counts" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_embedding_stats" ->
      s"""WITH base AS (
         |  SELECT label,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS n_vecs,
         |  ${DAVG("nrm")} AS avg_norm,
         |  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
         |FROM base GROUP BY label ORDER BY label""".stripMargin,

    "q_embedding_quantize" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
        |      AS scale, embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale,
        |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS INTEGER) END) AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |  CAST(list_aggregate(list_transform(qv, x -> CAST(x AS BIGINT)), 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(list_transform(qv, x -> CAST(abs(x) AS BIGINT)), 'sum') AS BIGINT) AS q_l1,
        |  list_aggregate(qv, 'min') AS q_min,
        |  list_aggregate(qv, 'max') AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_top_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, lower(t.token) AS token, COUNT(*) AS tf
        |  FROM documents, unnest(string_split_regex(trim(text), '\s+')) AS t(token)
        |  WHERE t.token <> ''
        |  GROUP BY doc_id, lower(t.token)),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |ranked AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS BIGINT) AS rank
        |  FROM tf JOIN df USING (token))
        |SELECT doc_id, token, tf, df, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // PII scrub: identical planting + regex cascade on both engines (the
    // patterns stay in the Java/RE2-common subset); counts are staged the
    // same way (IPs counted after emails are gone, phones after both)
    "q_pii_redaction" -> {
      val plant = "CASE WHEN doc_id % 3 = 0 THEN concat('contact user', doc_id, " +
        "'@example.com at 10.0.', doc_id % 256, '.7 or 555-01', doc_id % 10, " +
        "'-4242 ', text) ELSE text END"
      s"""WITH src AS (SELECT doc_id, $plant AS t FROM documents),
         |r1 AS (SELECT doc_id, t, regexp_replace(t, '${ops.Redaction.EmailRe}', '<EMAIL>', 'g') AS t1 FROM src),
         |r2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '${ops.Redaction.Ipv4Re}', '<IP>', 'g') AS t2 FROM r1),
         |r3 AS (SELECT doc_id, t, t1, t2, regexp_replace(t2, '${ops.Redaction.PhoneRe}', '<PHONE>', 'g') AS t3 FROM r2)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${ops.Redaction.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t1, '${ops.Redaction.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t2, '${ops.Redaction.PhoneRe}')) AS BIGINT) AS n_phones,
         |  t3 <> t AS changed,
         |  md5(t3) AS redacted_md5
         |FROM r3 ORDER BY doc_id""".stripMargin
    },

    // same shingling as the minhash chain (already oracle-proven), split
    // into train/eval by doc_id mod, distinct eval grams, per-doc overlap
    "q_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |shingled AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(tk) - 1),
        |                i -> array_to_string(tk[i:i+2], ' ')))
        |    END AS sh
        |  FROM toks),
        |evalg AS (SELECT DISTINCT unnest(sh) AS s FROM shingled WHERE doc_id % 17 = 0),
        |trainx AS (SELECT doc_id, unnest(sh) AS s FROM shingled WHERE doc_id % 17 <> 0)
        |SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(e.s) AS n_contaminated,
        |  CAST(COUNT(e.s) AS DOUBLE) / COUNT(*) AS contamination
        |FROM trainx t LEFT JOIN evalg e ON t.s = e.s
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "q_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS tk
        |  FROM documents),
        |toks AS (SELECT doc_id, lower(unnest(tk)) AS token FROM base),
        |tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY doc_id, token),
        |ts AS (SELECT doc_id, SUM(cnt) AS n_tokens, COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt
        |       FROM tc GROUP BY doc_id),
        |bg AS (SELECT doc_id,
        |         lower(unnest(list_transform(range(1, len(tk)), i -> concat(tk[i], ' ', tk[i+1])))) AS bigram
        |       FROM base),
        |bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram),
        |bs AS (SELECT doc_id, MAX(cnt) AS top_bi_cnt FROM bc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(ts.n_distinct, 0) AS DOUBLE) / greatest(COALESCE(ts.n_tokens, 0), 1) AS distinct_ratio,
        |  CAST(COALESCE(ts.top_cnt, 0) AS DOUBLE) / greatest(COALESCE(ts.n_tokens, 0), 1) AS top_token_ratio,
        |  CAST(COALESCE(bs.top_bi_cnt, 0) AS DOUBLE) / greatest(COALESCE(ts.n_tokens, 0) - 1, 1) AS top_bigram_ratio
        |FROM documents d
        |LEFT JOIN ts ON d.doc_id = ts.doc_id
        |LEFT JOIN bs ON d.doc_id = bs.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_data_split" -> OracleSql.splitCountsSql(trainPct = 90, valPct = 5),
    "q_data_mix" -> OracleSql.mixCountsSql(MixRates),
    "q_importance_weights" ->
      OracleSql.importanceWeightsSql(Seq("src1", "src7"), buckets = 4096),
    // count-table ∪ delta recomposition is exact; scores restricted to
    // the delta slice
    "q_importance_weights_incr" ->
      OracleSql.importanceWeightsIncrSql(Seq("src1", "src7"), buckets = 4096),
    "q_importance_weights_llr" ->
      OracleSql.importanceWeightsLlrSql(Seq("src1", "src7"), buckets = 4096),
    "q_importance_mix" ->
      OracleSql.importanceMixSql(Seq("src1", "src7"), buckets = 4096),
    "q_importance_resample" ->
      OracleSql.importanceResampleSql(Seq("src1", "src7"), buckets = 4096,
        keepPerMille = 200),

    "q_multimodal_image" -> OracleSql.multimodalImageSql,
    "q_image_resize" -> OracleSql.imageResizeSql(),
    "q_audio_resample" -> OracleSql.audioResampleSql(),

    // the pHash pair frame is an exact function of the fixture's doc_id
    // classes (pattern = doc_id % 5 among doc_id % 3 = 1 docs; the
    // brightness jitter is DC-only, so same-pattern hashes are
    // bit-identical → hamming 0, cross-pattern hashes are far): the
    // oracle states the full (id_a, id_b, hamming) frame without
    // decoding a pixel
    "q_phash_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
        |WHERE a.doc_id % 3 = 1 AND b.doc_id % 3 = 1
        |ORDER BY id_a, id_b""".stripMargin,

    // image families: each texture class is a clique, so every doc's
    // component label is the minimum doc_id sharing its class
    // delta-touching subset of the closed-form pair frame
    "q_phash_pairs_incr" ->
      """SELECT id_a, id_b, hamming FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(0 AS BIGINT) AS hamming
        |  FROM documents a JOIN documents b
        |    ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
        |  WHERE a.doc_id % 3 = 1 AND b.doc_id % 3 = 1)
        |WHERE id_a % 21 = 1 OR id_b % 21 = 1
        |ORDER BY id_a, id_b""".stripMargin,

    // retire twin: the same closed-form texture pairs with expired base
    // endpoints removed (live = delta or not % 11)
    "q_phash_pairs_retire" ->
      """SELECT id_a, id_b, hamming FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(0 AS BIGINT) AS hamming
        |  FROM documents a JOIN documents b
        |    ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
        |  WHERE a.doc_id % 3 = 1 AND b.doc_id % 3 = 1)
        |WHERE (id_a % 21 = 1 OR id_b % 21 = 1)
        |  AND (id_a % 21 = 1 OR id_a % 11 <> 0)
        |  AND (id_b % 21 = 1 OR id_b % 11 <> 0)
        |ORDER BY id_a, id_b""".stripMargin,

    // maintenance-window rewrite serves bit-identical rows — one oracle
    "q_phash_pairs_retire_rewrite" ->
      """SELECT id_a, id_b, hamming FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(0 AS BIGINT) AS hamming
        |  FROM documents a JOIN documents b
        |    ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
        |  WHERE a.doc_id % 3 = 1 AND b.doc_id % 3 = 1)
        |WHERE (id_a % 21 = 1 OR id_b % 21 = 1)
        |  AND (id_a % 21 = 1 OR id_a % 11 <> 0)
        |  AND (id_b % 21 = 1 OR id_b % 11 <> 0)
        |ORDER BY id_a, id_b""".stripMargin,

    // the incremental image-family merge is exact — same closed-form
    // clique oracle as the full labeling
    "q_phash_clusters_incr" ->
      """SELECT a.doc_id,
        |  (SELECT MIN(b.doc_id) FROM documents b
        |   WHERE b.doc_id % 3 = 1 AND b.doc_id % 5 = a.doc_id % 5)
        |    AS cluster_id
        |FROM documents a WHERE a.doc_id % 3 = 1
        |ORDER BY doc_id""".stripMargin,

    "q_phash_clusters" ->
      """SELECT a.doc_id,
        |  (SELECT MIN(b.doc_id) FROM documents b
        |   WHERE b.doc_id % 3 = 1 AND b.doc_id % 5 = a.doc_id % 5)
        |    AS cluster_id
        |FROM documents a WHERE a.doc_id % 3 = 1
        |ORDER BY a.doc_id""".stripMargin,

    // same class structure for the audio tier (waveform = doc_id % 5
    // among doc_id % 3 = 0 docs; the gain variants are spectral-ratio
    // invariant → hamming 0 within class, far across classes)
    "q_audio_fp_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
        |WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 = 0
        |ORDER BY id_a, id_b""".stripMargin,
    // video frame-vote families: the 4 class-shared frames (class =
    // doc_id % 5 among doc_id % 3 = 2 docs) match bit-exactly, the
    // doc-unique tail frame never does → every same-class pair scores
    // exactly 4 matched frames
    "q_video_fp_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(4 AS BIGINT) AS n_frames
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
        |WHERE a.doc_id % 3 = 2 AND b.doc_id % 3 = 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_multimodal_frames" -> OracleSql.multimodalFramesSql(stride = 1, maxFrames = 4),
    "q_multimodal_frames_quarantine" -> OracleSql.multimodalFramesQuarantineSql,
    "q_multimodal_audio" -> OracleSql.multimodalAudioSql,

    // ── approximate tier: exact sides recomputed, verdicts asserted ──
    "q_approx_distinct_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, true AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_approx_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // ── hash-sketch tier: full SQL replicas of the native expressions ──
    // the raw kNN queries themselves (not just their recall twins):
    // hyperplane sign bits / xxhash64 seeds, Lloyd means, buckets,
    // candidates and ranks all replicated bit-exactly in DuckDB
    "q_knn_lsh" -> OracleSql.knnLshSql(),
    "q_knn_ivf" -> OracleSql.knnIvfSql(),
    "q_knn_ivf_idx" -> OracleSql.knnIvfSql(),
    "q_knn_pq" -> OracleSql.knnPqSql(),
    "q_knn_ivfpq" -> OracleSql.knnIvfPqSql(nProbe = 8, poolFactor = 16),
    "q_semdedup" -> OracleSql.semDedupPairsSql(),
    "q_semdedup_idx" -> OracleSql.semDedupPairsSql(),
    "q_semdedup_incr" -> OracleSql.semDedupPairsIncrSql(),
    "q_semdedup_retire" -> OracleSql.semDedupPairsRetireSql(),
    // maintenance-window rewrite serves bit-identical rows — one oracle
    "q_semdedup_retire_rewrite" -> OracleSql.semDedupPairsRetireSql(),
    "q_knn_ivf_drift_check" -> OracleSql.ivfDriftSql(),
    "q_knn_ivf_epoch_serve" -> OracleSql.semDedupEpochServeSql(),
    "q_knn_ivf_epoch_topk" -> OracleSql.knnIvfEpochServeSql(),
    "q_semdedup_live_parity" -> OracleSql.semDedupLiveParitySql(),
    "q_lang_id" -> OracleSql.langIdSql,
    "q_fingerprint" -> OracleSql.fingerprintSql,
    "q_dedup_minhash" -> OracleSql.minhashPairsSql(bands = 16, threshold = 0.5),
    "q_dedup_minhash_incr" -> OracleSql.minhashPairsIncrSql(),
    "q_dedup_minhash_retire" -> OracleSql.minhashPairsRetireSql(),
    // maintenance-window rewrite serves bit-identical rows — one oracle
    "q_dedup_minhash_retire_rewrite" -> OracleSql.minhashPairsRetireSql(),
    "q_dedup_band_health" -> OracleSql.bandHealthSql(),
    "q_dedup_deep_live_parity" -> OracleSql.minhashDeepLiveParitySql(),
    "q_dedup_ngram" -> OracleSql.minhashPairsSql(bands = 32, threshold = 0.3),
    "q_dedup_simhash" -> OracleSql.simhash128PairsSql(maxHamming = 24),
    "q_pipeline_clean" -> OracleSql.pipelineCleanSql(bands = 16, threshold = 0.5),
    "q_pipeline_clean_cj" -> OracleSql.pipelineCleanCjSql(threshold = 0.9),

    // LSH near-dup: every emitted pair is exact-cosine-verified, and at the
    // fixture's near-dup regime (bits=8, tables=16, cosine>=0.9) recall is
    // complete, so the independent exact pairwise query IS the oracle
    "q_dedup_embedding_lsh" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
        |FROM base a JOIN base b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // LSH pair-path recall verdict at the 0.4 regime: truth count
    // recomputed independently by exact pairwise cosine; recall_ok is the
    // asserted verdict (nonzero n_truth is what makes this non-vacuous)
    "q_dedup_embedding_lsh_check" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT COUNT(*) AS n_truth, true AS recall_ok
        |FROM base a JOIN base b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4""".stripMargin,

    // kNN recall verdicts: n_truth recomputed independently; recall_ok and
    // zero-false-positive are the asserted verdict
    "q_knn_lsh_check" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, e AS pe FROM base WHERE vec_id < 10),
        |sims AS (SELECT p.probe_id, b.vec_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
        |      list_dot_product(b.e, p.pe) /
        |        (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(p.pe, p.pe))) DESC,
        |      b.vec_id) AS BIGINT) AS rank
        |  FROM base b CROSS JOIN probes p WHERE b.vec_id <> p.probe_id)
        |SELECT COUNT(*) AS n_truth, true AS recall_ok FROM sims WHERE rank <= 5""".stripMargin,

    "q_knn_ivf_check" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, e AS pe FROM base WHERE vec_id < 10),
        |sims AS (SELECT p.probe_id, b.vec_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
        |      list_dot_product(b.e, p.pe) /
        |        (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(p.pe, p.pe))) DESC,
        |      b.vec_id) AS BIGINT) AS rank
        |  FROM base b CROSS JOIN probes p WHERE b.vec_id <> p.probe_id)
        |SELECT COUNT(*) AS n_truth, true AS recall_ok FROM sims WHERE rank <= 5""".stripMargin,

    "q_knn_ivfpq_check" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, e AS pe FROM base WHERE vec_id < 10),
        |sims AS (SELECT p.probe_id, b.vec_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
        |      list_dot_product(b.e, p.pe) /
        |        (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(p.pe, p.pe))) DESC,
        |      b.vec_id) AS BIGINT) AS rank
        |  FROM base b CROSS JOIN probes p WHERE b.vec_id <> p.probe_id)
        |SELECT COUNT(*) AS n_truth, true AS recall_ok FROM sims WHERE rank <= 5""".stripMargin,

    "q2_min_cost_supplier" ->
      s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         |cand AS (
         |  SELECT p_partkey, p_type, s_acctbal, s_name, n_name
         |  FROM ps
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'STANDARD')
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_type
         |FROM cand c1
         |WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM cand c2
         |                   WHERE c2.p_partkey = c1.p_partkey)
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    "q6_forecast_revenue" ->
      s"""SELECT ${Cols.decSumSql(Cols.decDiscountedSql("l_extendedprice", "l_discount"))}
         |  AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q9_product_profit" ->
      s"""SELECT n_name AS nation,
         |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         |  CAST(SUM(${Cols.decRevenueSql("l_extendedprice", "l_discount")}
         |    - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)))
         |    AS DOUBLE) AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY n_name, o_year
         |ORDER BY nation, o_year DESC""".stripMargin,

    "q11_important_parts" ->
      s"""WITH v AS (
         |  SELECT l_partkey, $REV AS value
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3'
         |  GROUP BY l_partkey)
         |SELECT l_partkey, value FROM v
         |WHERE value > (SELECT ${DSUM("value")} FROM v) * 0.001
         |ORDER BY value DESC, l_partkey""".stripMargin,

    "q12_ship_speed" ->
      s"""SELECT
         |  CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
         |       THEN 'SLOW' ELSE 'FAST' END AS ship_speed,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         |    AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
         |    AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1 ORDER BY ship_speed""".stripMargin,

    "q13_order_distribution" ->
      s"""SELECT c_count, COUNT(*) AS custdist FROM (
         |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
         |  FROM customer
         |  LEFT OUTER JOIN orders
         |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
         |  GROUP BY c_custkey)
         |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      s"""SELECT 100.0 *
         |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0.0 END
         |    AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
         |  / $REV AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,

    "q22_idle_rich" ->
      s"""WITH segs AS (
         |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
         |  WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY'))
         |SELECT c_mktsegment, COUNT(*) AS numcust, ${DSUM("c_acctbal")} AS totacctbal
         |FROM segs s
         |WHERE c_acctbal > (SELECT ${DAVG("c_acctbal")} FROM segs WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = s.c_custkey
         |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, $REV AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q16_part_supplier_cnt" ->
      s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         |SELECT p_brand, p_type, p_size,
         |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
         |FROM ps JOIN part ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         |  AND p_size IN (1,5,10,15,20,25,30,35)
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q18_large_volume" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
         |FROM (SELECT l_orderkey, ${DSUM("l_quantity")} AS total_qty
         |      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300.0)
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q19_disjunctive" ->
      s"""SELECT $REV AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         |        AND l_quantity BETWEEN 1.0 AND 11.0)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         |        AND l_quantity BETWEEN 10.0 AND 20.0)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
         |        AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,

    "q20_part_promotion" ->
      s"""WITH shipped AS (
         |  SELECT l_partkey, l_suppkey, ${DSUM("l_quantity")} AS qty
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY l_partkey, l_suppkey),
         |pp AS (SELECT l_partkey, ${DSUM("qty")} AS total_qty
         |       FROM shipped GROUP BY l_partkey)
         |SELECT s_name, s_acctbal
         |FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM shipped
         |  JOIN pp USING (l_partkey)
         |  JOIN part ON l_partkey = p_partkey
         |  WHERE p_type = 'STANDARD' AND qty > total_qty * 0.5)
         |ORDER BY s_name""".stripMargin,

    "q21_waiting_suppliers" ->
      s"""WITH lo AS (
         |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F')
         |SELECT s_name, COUNT(*) AS numwait
         |FROM lo l1 JOIN supplier ON l1.l_suppkey = s_suppkey
         |WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
         |  AND EXISTS (SELECT 1 FROM lo l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lo l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
         |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)

  /** Restrict an oracle's `documents`-scanning CTE to a WHERE clause —
    * the retire twins' corpus cut. Textual by necessity (the base oracle
    * is inline SQL), but GUARDED: the marker must appear exactly once,
    * so a reformatted base oracle fails the map construction loudly
    * instead of silently verifying the retire row against the full
    * corpus (the r12 review finding). */
  private def restrictDocsCte(sql: String, where: String): String = {
    val marker = "  FROM documents),"
    require(sql.indexOf(marker) >= 0 &&
      sql.indexOf(marker) == sql.lastIndexOf(marker),
      s"oracle lost its unique '$marker' CTE tail; update restrictDocsCte")
    sql.replace(marker, s"  FROM documents WHERE $where),")
  }

  /** Oracles; the alternate-implementation queries share their twin's SQL. */
  def oracleSql: Map[String, String] = baseOracleSql ++ Map(
    // the runnable restarted pipeline lands on the hand-driven gate's truth
    "q_docstream_restart_parity" ->
      baseOracleSql("q_dedup_live_pipeline_parity"),
    // the runnable VECTOR pipeline lands on the hand-driven embedding
    // gate's truth (shared batch twin, shared counts)
    "q_embstream_restart_parity" ->
      baseOracleSql("q_semdedup_live_parity"),
    // the in-pipeline epoch handoff serves exactly what the batch-side
    // rotation serves: the from-scratch incremental build on the
    // accumulated corpus — one oracle pins both harnesses
    "q_embstream_epoch_handoff" ->
      baseOracleSql("q_knn_ivf_epoch_serve"),
    "q_embstream_gauge" -> OracleSql.embStreamGaugeSql(),
    // the capped runnable pipeline: global-occupancy capped chain (equal
    // to the per-wave capped stream under the gate's fixture margins)
    "q_docstream_capped_parity" -> OracleSql.cappedPipelineParitySql(),
    "q_docstream_gauge" -> OracleSql.docStreamGaugeSql(),
    "q_dedup_minhash_capped" -> OracleSql.minhashPairsCappedSql(),
    "q_semdedup_capped" -> OracleSql.semDedupPairsCappedSql(),
    // the media pipeline gate: closed-form texture-class truth — image
    // docs form hamming-0 cliques per doc_id % 5 class; corrupt
    // (% 13 == 0) arrivals quarantine and leave every surface
    "q_fpstream_restart_parity" ->
      """WITH hh AS (SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
        |img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |quar AS (SELECT doc_id FROM img, hh
        |         WHERE doc_id >= hh.h AND doc_id % 13 = 0),
        |inc AS (SELECT doc_id FROM img
        |        WHERE doc_id NOT IN (SELECT doc_id FROM quar)),
        |arrinc AS (SELECT doc_id FROM inc, hh WHERE doc_id >= hh.h),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |        FROM inc a JOIN inc b
        |          ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5),
        |livep AS (SELECT id_a, id_b FROM prs, hh WHERE id_b >= hh.h),
        |labels AS (SELECT a.doc_id,
        |  (SELECT MIN(b.doc_id) FROM inc b
        |   WHERE b.doc_id % 5 = a.doc_id % 5) AS cluster_id
        |  FROM inc a)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM arrinc) AS n_indexed,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM quar) AS n_quarantined,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM livep) AS n_pairs_live,
        |  (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM labels)
        |    AS n_clusters,
        |  CAST(0 AS BIGINT) AS n_only_live,
        |  CAST(0 AS BIGINT) AS n_only_batch,
        |  true AS parity_ok""".stripMargin,

    // the media ledger's last-batch row, per-wave closed-form: arrivals
    // split id-ordered into ceil(n/chunk) waves of chunk = max(1, n//4);
    // a pair is committed at its LATER endpoint's wave
    "q_fpstream_gauge" ->
      """WITH hh AS (SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
        |img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |quar AS (SELECT doc_id FROM img, hh
        |         WHERE doc_id >= hh.h AND doc_id % 13 = 0),
        |inc AS (SELECT doc_id FROM img
        |        WHERE doc_id NOT IN (SELECT doc_id FROM quar)),
        |arr AS (SELECT doc_id FROM img, hh WHERE doc_id >= hh.h),
        |arrix AS (SELECT doc_id,
        |            row_number() OVER (ORDER BY doc_id) - 1 AS rn FROM arr),
        |prm AS (SELECT GREATEST(1, COUNT(*) // 4) AS chunk FROM arr),
        |wv AS (SELECT a.doc_id, a.rn // p.chunk AS wave FROM arrix a, prm p),
        |lastw AS (SELECT MAX(wave) AS w FROM wv),
        |wdocs AS (SELECT wv.doc_id FROM wv, lastw WHERE wv.wave = lastw.w),
        |pairsw AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inc a JOIN inc b
        |    ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
        |  WHERE b.doc_id IN (SELECT doc_id FROM wdocs)),
        |topx AS (SELECT COALESCE(MAX(c), 0) AS mx FROM
        |  (SELECT COUNT(*) AS c FROM wdocs
        |   WHERE doc_id % 13 <> 0 GROUP BY doc_id % 5)),
        |nd AS (SELECT COUNT(*) AS n FROM wdocs WHERE doc_id % 13 <> 0),
        |shr AS (SELECT CASE WHEN n = 0 THEN 0
        |          ELSE mx * 1000000000 // n END AS s FROM topx, nd)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wdocs) AS n_arrived,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wdocs
        |     WHERE doc_id % 13 <> 0) AS n_decoded,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wdocs
        |     WHERE doc_id % 13 = 0) AS n_quarantined,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairsw) AS n_pairs,
        |  (SELECT CAST(s AS BIGINT) FROM shr) AS top_share_ppb,
        |  CAST(0 AS BIGINT) AS hot_buckets,
        |  (SELECT CAST((COUNT(*) FILTER (WHERE doc_id % 13 = 0))
        |     * 1000000000 // COUNT(*) AS BIGINT) FROM wdocs) AS quar_ppb,
        |  ((SELECT s FROM shr) > 400000000 OR
        |   (SELECT (COUNT(*) FILTER (WHERE doc_id % 13 = 0))
        |     * 1000000000 // COUNT(*) > 50000000 FROM wdocs))
        |    AS alert""".stripMargin,

    // the quarantine-rate alert policy over the uncapped media run's
    // whole ledger: one row per wave; a wave with ≥ 1 corrupt arrival in
    // ~16 sits above the 5% threshold and marks alert
    "q_fpstream_alerts" ->
      """WITH hh AS (SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
        |img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |arr AS (SELECT doc_id FROM img, hh WHERE doc_id >= hh.h),
        |arrix AS (SELECT doc_id,
        |            row_number() OVER (ORDER BY doc_id) - 1 AS rn FROM arr),
        |prm AS (SELECT GREATEST(1, COUNT(*) // 4) AS chunk FROM arr),
        |wv AS (SELECT a.doc_id, a.rn // p.chunk AS wave FROM arrix a, prm p),
        |wq AS (SELECT wave, COUNT(*) AS n,
        |         COUNT(*) FILTER (WHERE doc_id % 13 = 0) AS q
        |       FROM wv GROUP BY wave),
        |wmx AS (SELECT wave, MAX(c) AS mx, SUM(c) AS nd FROM
        |          (SELECT wave, doc_id % 5 AS cls, COUNT(*) AS c
        |           FROM wv WHERE doc_id % 13 <> 0 GROUP BY wave, cls)
        |        GROUP BY wave)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wq) AS n_batches,
        |  (SELECT CAST(SUM(q) AS BIGINT) FROM wq) AS quar_total,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wq LEFT JOIN wmx
        |     ON wq.wave = wmx.wave
        |   WHERE q * 1000000000 // n > 50000000
        |      OR COALESCE(mx * 1000000000 // nd, 0) > 400000000)
        |    AS n_alerts""".stripMargin,

    // the CAPPED media pipeline: per-wave batch-side occupancy cut over
    // the texture classes (a hot band bucket IS a hot class — four
    // buckets per class; flood = even media_ids re-sending the
    // corpus-minimum image), pairs committed at the later endpoint's
    // wave iff that wave left the class cool, plus the recursive label
    // closure over base cliques ∪ committed pairs
    "q_fpstream_capped_parity" ->
      """WITH RECURSIVE
        |hh AS (SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
        |img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |c0 AS (SELECT MIN(doc_id) % 5 AS c FROM img),
        |eff AS (SELECT i.doc_id,
        |          CASE WHEN i.doc_id >= hh.h AND i.doc_id % 2 = 0
        |               THEN (SELECT c FROM c0) ELSE i.doc_id % 5 END AS cls
        |        FROM img i, hh),
        |arr AS (SELECT e.doc_id, e.cls FROM eff e, hh
        |        WHERE e.doc_id >= hh.h),
        |basec AS (SELECT e.doc_id, e.cls FROM eff e, hh
        |          WHERE e.doc_id < hh.h),
        |arrix AS (SELECT doc_id,
        |            row_number() OVER (ORDER BY doc_id) - 1 AS rn FROM arr),
        |prm AS (SELECT GREATEST(1, COUNT(*) // 4) AS chunk FROM arr),
        |wv AS (SELECT a.doc_id, a.rn // p.chunk AS wave FROM arrix a, prm p),
        |aw AS (SELECT r.doc_id, r.cls, w.wave FROM arr r
        |       JOIN wv w ON r.doc_id = w.doc_id),
        |occ AS (SELECT wave, cls, COUNT(*) AS c FROM aw GROUP BY wave, cls),
        |hot AS (SELECT wave, cls FROM occ WHERE c > 5),
        |livep AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM eff a JOIN aw b ON a.cls = b.cls AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |                    WHERE h.wave = b.wave AND h.cls = b.cls)),
        |edges0 AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM basec a JOIN basec b
        |    ON a.cls = b.cls AND a.doc_id < b.doc_id
        |  UNION ALL SELECT id_a, id_b FROM livep),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM edges0
        |          UNION ALL SELECT id_b, id_a FROM edges0),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM img
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
        |           FROM reach GROUP BY a)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM arr) AS n_indexed,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM livep) AS n_pairs_live,
        |  (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM labels)
        |    AS n_clusters,
        |  (SELECT CAST(4 * COUNT(*) AS BIGINT) FROM hot)
        |    AS hot_buckets_total,
        |  (SELECT CAST(COUNT(DISTINCT wave) AS BIGINT) FROM hot)
        |    AS n_hot_batches,
        |  CAST(0 AS BIGINT) AS n_only_live,
        |  CAST(0 AS BIGINT) AS n_only_batch,
        |  true AS parity_ok""".stripMargin,

    // the capped run's whole-ledger verdict, same per-wave closed form
    "q_fpstream_capped_gauge" ->
      """WITH hh AS (SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
        |img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |c0 AS (SELECT MIN(doc_id) % 5 AS c FROM img),
        |eff AS (SELECT i.doc_id,
        |          CASE WHEN i.doc_id >= hh.h AND i.doc_id % 2 = 0
        |               THEN (SELECT c FROM c0) ELSE i.doc_id % 5 END AS cls
        |        FROM img i, hh),
        |arr AS (SELECT e.doc_id, e.cls FROM eff e, hh
        |        WHERE e.doc_id >= hh.h),
        |arrix AS (SELECT doc_id,
        |            row_number() OVER (ORDER BY doc_id) - 1 AS rn FROM arr),
        |prm AS (SELECT GREATEST(1, COUNT(*) // 4) AS chunk FROM arr),
        |wv AS (SELECT a.doc_id, a.rn // p.chunk AS wave FROM arrix a, prm p),
        |aw AS (SELECT r.doc_id, r.cls, w.wave FROM arr r
        |       JOIN wv w ON r.doc_id = w.doc_id),
        |occ AS (SELECT wave, cls, COUNT(*) AS c FROM aw GROUP BY wave, cls),
        |hot AS (SELECT wave, cls FROM occ WHERE c > 5),
        |livep AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM eff a JOIN aw b ON a.cls = b.cls AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |                    WHERE h.wave = b.wave AND h.cls = b.cls)),
        |wstat AS (SELECT wave, MAX(c) AS mx, SUM(c) AS n
        |          FROM occ GROUP BY wave),
        |walert AS (SELECT w.wave FROM wstat w
        |           WHERE mx * 1000000000 // n > 400000000
        |              OR EXISTS (SELECT 1 FROM hot h
        |                         WHERE h.wave = w.wave))
        |SELECT
        |  (SELECT CAST(COUNT(DISTINCT wave) AS BIGINT) FROM wv)
        |    AS n_batches,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM arr) AS arrived_total,
        |  (SELECT CAST(4 * COUNT(*) AS BIGINT) FROM hot)
        |    AS hot_buckets_total,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM walert) AS n_alerts,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM livep) AS pairs_total,
        |  CAST(0 AS BIGINT) AS quar_total""".stripMargin,

    // media decontamination: the uncapped run persisted every texture
    // clique (base init + arrivals); the repair applies the GLOBAL
    // occupancy rule at cap = corpus // 4, so the flood-inflated class
    // loses every pair (its members become singletons) while the four
    // organic classes keep their cliques — and dropped = the hot
    // class's whole clique set, hot_buckets = 4 per hot class
    "q_fpstream_decontam_parity" ->
      """WITH RECURSIVE
        |hh AS (SELECT (MAX(doc_id) + 1) * 3 // 5 AS h FROM documents),
        |img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |c0 AS (SELECT MIN(doc_id) % 5 AS c FROM img),
        |eff AS (SELECT i.doc_id,
        |          CASE WHEN i.doc_id >= hh.h AND i.doc_id % 2 = 0
        |               THEN (SELECT c FROM c0) ELSE i.doc_id % 5 END AS cls
        |        FROM img i, hh),
        |capn AS (SELECT COUNT(*) // 4 AS cap FROM img),
        |occ AS (SELECT cls, COUNT(*) AS c FROM eff GROUP BY cls),
        |hot AS (SELECT o.cls FROM occ o, capn WHERE o.c > capn.cap),
        |cool AS (SELECT e.doc_id, e.cls FROM eff e
        |         WHERE e.cls NOT IN (SELECT cls FROM hot)),
        |coolp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |          FROM cool a JOIN cool b
        |            ON a.cls = b.cls AND a.doc_id < b.doc_id),
        |allp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM eff a JOIN eff b
        |           ON a.cls = b.cls AND a.doc_id < b.doc_id),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM coolp
        |          UNION ALL SELECT id_b, id_a FROM coolp),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM img
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
        |           FROM reach GROUP BY a)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM coolp) AS n_pairs_after,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM allp)
        |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM coolp) AS n_dropped,
        |  (SELECT CAST(4 * COUNT(*) AS BIGINT) FROM hot) AS hot_buckets,
        |  (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM labels)
        |    AS n_clusters,
        |  CAST(0 AS BIGINT) AS n_only_live,
        |  CAST(0 AS BIGINT) AS n_only_batch,
        |  true AS parity_ok""".stripMargin,

    // text decontamination: the full MinHash replica with the NEAR-dup
    // suffix rewrite and the standing-band global occupancy rule
    "q_docstream_decontam_parity" ->
      graft.OracleSql.decontamPipelineParitySql(),

    // vector decontamination: the bit-exact IVF chain under the
    // sign-flip rewrite, derived cap, cool-cluster pairs + closure
    "q_embstream_decontam_parity" ->
      graft.OracleSql.embDecontamParitySql(),

    // the batch capped pHash operator: classes over a quarter of the
    // image corpus (the flood) emit no pairs; organic classes keep
    // their hamming-0 cliques
    "q_phash_pairs_capped" ->
      """WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |c0 AS (SELECT MIN(doc_id) % 5 AS c FROM img),
        |eff AS (SELECT doc_id,
        |          CASE WHEN doc_id % 2 = 0 THEN (SELECT c FROM c0)
        |               ELSE doc_id % 5 END AS cls FROM img),
        |capn AS (SELECT COUNT(*) // 4 AS cap FROM img),
        |occ AS (SELECT cls, COUNT(*) AS c FROM eff GROUP BY cls),
        |cool AS (SELECT e.doc_id, e.cls FROM eff e
        |         JOIN occ o ON e.cls = o.cls CROSS JOIN capn
        |         WHERE o.c <= capn.cap)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM cool a JOIN cool b ON a.cls = b.cls AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q_session_window" -> baseOracleSql("q_sessionize"),
    "q_top_events_agg" -> baseOracleSql("q_top_events_per_user"),
    "q5_local_supplier_bkt" -> baseOracleSql("q5_local_supplier"),
    "q21_waiting_suppliers_bkt" -> baseOracleSql("q21_waiting_suppliers"),
    // persisted-pair-table twins: same closure, same transitive oracle
    "q_dedup_clusters_idx" -> baseOracleSql("q_dedup_clusters"),
    // the incremental merge is exact: hash-equal to the full rebuild,
    // so the recursive-CTE closure over the FULL pair set is its oracle
    "q_dedup_clusters_incr" -> baseOracleSql("q_dedup_clusters"),
    // merge-then-retire lifecycle = the retire rebuild on survivors:
    // maintenance deltas of different kinds compose, one oracle proves it
    "q_dedup_clusters_lifecycle" -> baseOracleSql("q_dedup_clusters_retire"),
    "q_dedup_survivors_incr" -> baseOracleSql("q_dedup_survivors"),
    "q_dedup_survivors_idx" -> baseOracleSql("q_dedup_survivors"),
    // lazy-build row: same labeling, same transitive oracle
    "q_dedup_clusters_build" -> baseOracleSql("q_dedup_clusters"),
    // inverted-index twin: same tokenizer, same score expression
    "q_bm25_idx" -> baseOracleSql("q_bm25"),
    // base-index ∪ delta-batch recomposition is exact — full-corpus oracle
    "q_bm25_incr" -> baseOracleSql("q_bm25"),
    // retired index = rebuild over the survivors: same scoring SQL with
    // the d CTE restricted to the surviving corpus
    "q_bm25_retire" -> restrictDocsCte(baseOracleSql("q_bm25"),
      "doc_id % 11 <> 0"),
    // the physically-rewritten retired index serves the SAME rows as the
    // serve-time anti-join path — one oracle for both serve paths
    "q_bm25_retire_rewrite" -> restrictDocsCte(baseOracleSql("q_bm25"),
      "doc_id % 11 <> 0"),
    // the counting-based twin must reproduce quantile_cont bit-for-bit
    "q_percentiles_big" -> baseOracleSql("q_percentiles"),
    "q_daily_counts_mv" -> baseOracleSql("q_daily_counts"),
    // serving-layer twin: BIGINT count partials make the z doubles identical
    "q_rate_anomaly_mv" -> baseOracleSql("q_rate_anomaly"),
    // mergeable deltaSumTimestamp state: slice → merge → serve must equal
    // the direct one-pass counter increase exactly
    "q_counter_increase_mv" -> baseOracleSql("q_counter_increase"),
    // sketch-union estimate asserted against the exact count in-query;
    // the oracle recomputes the exact side and the literal-true verdict
    "q_distinct_users_mv" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, true AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
