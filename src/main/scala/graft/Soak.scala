package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.ParityCheck

/** Scale-soak harness: replicate the bench fixtures N× with disjoint key
  * spaces, run the headline queries at 1× and N×, and print one JSON line
  * per (scale, query) with the elapsed seconds — the evidence base for
  * SCALE.md's does-the-plan-survive-a-scale-up curves.
  *
  * Replication offsets every surrogate/foreign key by `copy × 10¹⁰` so the
  * N× corpus has N× distinct customers/orders/users/documents rather than
  * N identical copies of each row — selectivities and group counts scale
  * the way a bigger dataset's would, which is what the curves are supposed
  * to measure. Dimension tables (region, nation) are not replicated, as in
  * any real star schema growth. events.ts is replicated raw (whatever
  * physical shape the fixture ships — [[Tables.events]] probes it) so the
  * written parquet round-trips through the same adaptive loader.
  *
  * Usage: `runMain graft.Soak [factor] [baseDir] [outDir] [mode]` — the
  * mode names one runner in [[modes]] (default `all`, the headline
  * sweep [[headlineSoak]]); an unknown mode prints the known ones and
  * exits 1 before a SparkSession starts. `linear` restricts the sweep to
  * [[linearHeadline]] (used at 100×, where the quadratic-OUTPUT dedup
  * tiers would measure answer size, not plans); `streaming` runs the
  * end-to-end ingest soak instead ([[streamingSoak]]: micro-batched
  * stream ingest → file-count growth → compaction → flagship query, with
  * parity asserted at each step); `truegrowth` measures the dedup tiers
  * on freshly GENERATED corpora whose duplicate-family size stays
  * constant as n grows ([[trueGrowthSoak]]) — the regime replication
  * cannot produce. The pipeline soaks build each tier's corpus and root
  * through one per-tier fixture ([[longFixture]]) and split arrivals
  * with [[evenWaves]]; every set comparison is
  * [[graft.streaming.ParityCheck.diffCounts]].
  */
object Soak {

  /** Wire-shaped record for the streaming soak's memory source. */
  final case class Wire(ts: String, service: String, level: String, msg: String,
      attrs: Map[String, String], trace_id: String, span_id: String)

  /** Events-shaped record for the rollup-upkeep soak phase. */
  final case class EvWire(ts: java.sql.Timestamp, event_type: String, value: Double)

  private val Off = 10000000000L // > any fixture key; copy i adds i*Off

  /** Key columns to offset, per table. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def replicate(df: DataFrame, keys: Seq[String], n: Int): DataFrame =
    (0 until n).map { i =>
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Off)))
    }.reduce(_ unionByName _)

  /** The queries whose scale behavior the curves track: one per plan
    * family (scan+topK, broadcast-join agg, shuffle agg, window/session,
    * global rank, text agg, hash dedup, banded LSH dedup, blocked
    * quadratic dedup, brute/bucketed ANN, as-of merge, full pipeline). */
  val headline: Seq[String] = Seq(
    "q_logs_flagship", "q1_pricing", "q5_local_supplier", "q5_local_supplier_bkt",
    "q8_market_share", "q_rollup_revenue", "q_sessionize", "q_ntile_spend",
    "q_spend_ranks", "q_token_freq",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_char_jaccard",
    "q_dedup_clusters", "q_knn_bruteforce", "q_knn_lsh", "q_knn_ivf",
    "q_dedup_embedding_lsh", "q_asof_join_exec", "q_pipeline_clean",
    "q_data_split", "q_pii_redaction", "q_contamination", "q_repetition",
    "q_semdedup", "q_span_dedup", "q_gopher_quality",
    "q16_part_supplier_cnt", "q21_waiting_suppliers",
    "q_funnel", "q_retention", "q_pack",
    // round-5 families; q_range_join is quadratic UNDER REPLICATION only
    // (copies share the same date span, so every window matches every
    // copy's shipments — real growth extends the time axis instead)
    "q_range_join", "q_knn_int8", "q_embedding_quantize",
    "q_sequence_match", "q_skew_join",
    // round-6: persisted-layout twins (index read, not rebuilt)
    "q_knn_ivf_idx", "q_semdedup_idx", "q_dedup_clusters_idx",
    // round-7: IVF-PQ composite (bucket-pruned ADC off persisted codes)
    "q_knn_ivfpq",
    // round-5 additions: time-series kernels + tokenizer/training-prep
    "q_delta_sum", "q_interval_union", "q_lttb", "q_topk_weighted",
    "q_train_order", "q_bpe_merges",
    "q_counter_increase_mv", "q_mad_anomaly", "q_value_bands",
    "q_codec_stats", "q_top_journeys", "q_source_overlap",
    "q_cohort_triangle", "q_slo_burn", "q_rolling_dau", "q_char_trigrams",
    "q_split_leakage", "q_chunking", "q_eval_sample", "q_apdex",
    "q_equidepth_hist",
    // round-5 additions: retrieval/LM scoring, runtime-filter join,
    // theta sketch, stats tests, interpolating gap fill
    "q_bm25", "q_lm_score", "q_log_templates", "q_bloom_join",
    "q_kmv_intersect", "q_welch_ttest", "q_cramers_v", "q_linreg",
    "q_type_diversity", "q_gauge_fill", "q_knn_pq", "q_partition_prune",
    "q_trailing_window", "q_dedup_history")

  /** The subset whose work scales linearly in the data (excludes the
    * dedup tiers whose OUTPUT grows quadratically under replication) —
    * used for the 100× run, where a quadratic-output query would measure
    * answer size, not plan quality. */
  val linearHeadline: Seq[String] = Seq(
    "q_logs_flagship", "q1_pricing", "q5_local_supplier", "q5_local_supplier_bkt",
    "q8_market_share", "q_rollup_revenue", "q_sessionize", "q_ntile_spend",
    "q_spend_ranks", "q_token_freq",
    "q_dedup_exact", "q_knn_bruteforce", "q_knn_lsh", "q_knn_ivf",
    "q_asof_join_exec", "q_data_split", "q_pii_redaction", "q_repetition",
    "q_span_dedup", "q_gopher_quality",
    "q16_part_supplier_cnt", "q21_waiting_suppliers",
    "q_funnel", "q_retention", "q_pack",
    "q_knn_int8", "q_embedding_quantize", "q_sequence_match", "q_skew_join",
    "q_knn_ivfpq",
    "q_delta_sum", "q_interval_union", "q_lttb", "q_topk_weighted",
    "q_train_order", "q_bpe_merges",
    "q_counter_increase_mv", "q_mad_anomaly", "q_value_bands",
    "q_codec_stats", "q_top_journeys",
    "q_cohort_triangle", "q_slo_burn", "q_rolling_dau", "q_chunking",
    "q_eval_sample", "q_apdex", "q_equidepth_hist",
    // round-5 additions (q_gauge_fill stays 10×-only: its OUTPUT is
    // |users|×|hours| — linear in users but ~1e9 rows at 100×)
    "q_bm25", "q_lm_score", "q_log_templates", "q_bloom_join",
    "q_kmv_intersect", "q_welch_ttest", "q_cramers_v", "q_linreg",
    "q_type_diversity", "q_knn_pq", "q_partition_prune",
    "q_trailing_window", "q_dedup_history")

  /** End-to-end streaming soak: replay the events fixture `factor`× as
    * wire-shaped rows through [[graft.streaming.LogStream.ingest]] (one
    * micro-batch per replay round — the many-small-files regime), then
    *
    *  1. assert ingest-then-query PARITY: total row count and every
    *     (service, level) group count read back from the table equal
    *     factor × the source's, so no micro-batch dropped or duplicated
    *     rows on the way through normalize → partitioned append;
    *  2. measure the small-file growth and assert [[graft.logs.LogTable
    *     .compact]] bounds it back to ≤ filesPerMonth per month;
    *  3. run the reference flagship query (service + ts-range + top-K)
    *     against the compacted table and assert it returns its limit and
    *     parity re-holds after compaction.
    *
    * Prints one SOAK json line per phase with wall seconds. */
  def streamingSoak(spark: SparkSession, factor: Int, baseDir: String, outDir: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = s"$outDir/stream_logs"
    val ckpt = s"$outDir/stream_ckpt"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(table, ckpt)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    def parquetFiles(): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(table), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    // per-month-partition file counts — the MergeTree "parts per
    // partition" health metric; compaction must bound EVERY partition,
    // not just the total
    def filesPerMonth(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(table), true)
      val m = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) {
          val month = p.getParent.getName
          if (month.startsWith("month=")) m(month.stripPrefix("month=")) += 1
        }
      }
      m.toMap
    }
    // events fixture → wire rows (ts rendered RFC3339 so ingest re-parses);
    // Tables.events handles whichever physical ts shape the fixture ships
    val wire = Tables.events(spark, baseDir)
      .select(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("ts"),
        concat(lit("svc"), pmod(col("user_id"), lit(8))).as("service"),
        upper(col("event_type")).as("level"),
        concat(lit("event "), col("event_id")).as("msg"),
        map(lit("et"), col("event_type")).as("attrs"),
        concat(lit("tr"), col("event_id")).as("trace_id"),
        concat(lit("sp"), col("event_id")).as("span_id"))
      .as[Wire]
    val rows = wire.collect()
    val groups = wire.groupBy(col("service"), col("level")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Wire]
    val q = graft.streaming.LogStream.ingest(mem.toDF(), table, ckpt)
    val t0 = System.nanoTime()
    for (i <- 1 to factor) {
      mem.addData(rows.toSeq)
      q.processAllAvailable() // force a micro-batch boundary per replay
      // growth curve: small files accumulate linearly with micro-batches —
      // the curve SCALE.md plots against the post-compaction bound
      println(s"""SOAK {"phase":"ingest_curve","replay":$i,"files":${parquetFiles()}}""")
    }
    q.stop()
    val ingestSec = (System.nanoTime() - t0) / 1e9
    val filesBefore = parquetFiles()

    def assertParity(tag: String): Long = {
      val got = graft.logs.LogTable.read(spark, table)
      val n = got.count()
      require(n == rows.length.toLong * factor,
        s"$tag parity: read $n rows, expected ${rows.length.toLong * factor}")
      val gotGroups = got.groupBy(col("service"), col("level")).count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      require(gotGroups == groups.map { case (k, v) => k -> v * factor },
        s"$tag parity: per-(service, level) counts diverge")
      n
    }
    val nIngested = assertParity("post-ingest")
    println(f"""SOAK {"phase":"ingest","factor":$factor,"rows":$nIngested,"files":$filesBefore,"sec":$ingestSec%.2f}""")

    def timeFlagship(): (Int, Double) = {
      val t = System.nanoTime()
      val got = graft.logs.LogQuery.flagship(
        graft.logs.LogTable.read(spark, table),
        graft.logs.LogQueryParams("svc0",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2024-12-31 00:00:00"),
          level = None, user = None, limit = 100)).collect()
      (got.length, (System.nanoTime() - t) / 1e9)
    }
    // flagship latency ON THE SMALL-FILE LAYOUT — what a dashboard pays
    // when queries race ingest between merges
    val (rowsPre, secPre) = timeFlagship()
    require(rowsPre == 100, s"flagship (pre-compact) returned $rowsPre rows")
    println(f"""SOAK {"phase":"flagship_precompact","rows":$rowsPre,"files":$filesBefore,"sec":$secPre%.2f}""")

    val t1 = System.nanoTime()
    graft.logs.LogTable.compact(spark, table, filesPerMonth = 1)
    val compactSec = (System.nanoTime() - t1) / 1e9
    val filesAfter = parquetFiles()
    val perMonth = filesPerMonth()
    val months = graft.logs.LogTable.read(spark, table)
      .select(col("month")).distinct().count()
    require(filesAfter <= months,
      s"compaction left $filesAfter files for $months months")
    // the bound must hold per PARTITION, not just in aggregate — one
    // unmerged month is exactly the straggler MergeTree merges prevent
    perMonth.foreach { case (m, n) =>
      require(n <= 1L, s"month $m has $n files after compact(filesPerMonth=1)")
    }
    require(filesBefore > filesAfter,
      s"streaming left no small files to compact ($filesBefore -> $filesAfter)")
    assertParity("post-compact")
    println(f"""SOAK {"phase":"compact","files_before":$filesBefore,"files_after":$filesAfter,"months":$months,"sec":$compactSec%.2f}""")

    val (rowsPost, secPost) = timeFlagship()
    require(rowsPost == 100, s"flagship (post-compact) returned $rowsPost rows")
    println(f"""SOAK {"phase":"flagship_query","rows":$rowsPost,"files":$filesAfter,"sec":$secPost%.2f}""")

    // phase 4: materialized-rollup upkeep under the same replay regime —
    // one additive upsertDelta per micro-batch, then assert the
    // incrementally-maintained summary is bit-identical to one batch
    // rebuild over the full factor× corpus (the invariant the spec proves
    // at toy scale, held here across `factor` real merges).
    val evRows = Tables.events(spark, baseDir)
      .select(col("ts"), col("event_type"), col("value"))
      .as[EvWire].collect()
    val rollupTbl = "soak_rollup_inc"
    val rollupRef = "soak_rollup_ref"
    for (t <- Seq(rollupTbl, rollupRef)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EvWire]
    val t3 = System.nanoTime()
    val q2 = mem2.toDF().writeStream
      .foreachBatch { (delta: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.analytics.MaterializedRollup.upsertDelta(spark, rollupTbl, delta.toDF())
      }
      .option("checkpointLocation", s"$outDir/rollup_ckpt")
      .start()
    for (_ <- 1 to factor) {
      mem2.addData(evRows.toSeq)
      q2.processAllAvailable()
    }
    q2.stop()
    val upkeepSec = (System.nanoTime() - t3) / 1e9
    graft.analytics.MaterializedRollup.upsertDelta(spark, rollupRef,
      Seq.fill(factor)(evRows.toSeq).flatten.toDF())
    val inc = spark.table(rollupTbl).orderBy("event_type", "hour")
      .collect().map(_.toSeq).toSeq
    val ref = spark.table(rollupRef).orderBy("event_type", "hour")
      .collect().map(_.toSeq).toSeq
    require(inc == ref,
      s"rollup upkeep diverged from batch rebuild (${inc.length} vs ${ref.length} groups)")
    println(f"""SOAK {"phase":"rollup_upkeep","merges":$factor,"groups":${inc.length},"sec":$upkeepSec%.2f}""")

    // phase 5: streaming funnel at factor× user cardinality — replicate
    // the events with offset user ids (factor× distinct users, same time
    // axis), replay in event-time order, and assert completions are
    // EXACTLY factor × the base corpus's batch-funnel final count: the
    // per-user state machine must neither cross-talk between users nor
    // lose chains across micro-batch boundaries as the state store scales.
    val funnelSteps = Seq("signup", "view", "purchase")
    val baseFinal = graft.analytics.Behavior.funnelCounts(
      Tables.events(spark, baseDir), funnelSteps, 6)
      .collect().last.getAs[Long]("n_users")
    val evIn = Tables.events(spark, baseDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.StatefulOps.EventIn].collect()
    val replicated = (0 until factor).flatMap(i =>
      evIn.map(e => e.copy(event_id = e.event_id + i * Off, user_id = e.user_id + i * Off)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val mem3 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.StatefulOps.EventIn]
    val t4 = System.nanoTime()
    val q3 = graft.streaming.StatefulOps.funnelStream(mem3.toDS(), funnelSteps, horizonHours = 6)
      .writeStream.format("memory").queryName("soak_funnel").outputMode("append").start()
    val batchSize = math.max(1, replicated.length / 4)
    replicated.grouped(batchSize).foreach { b =>
      mem3.addData(b); q3.processAllAvailable()
    }
    q3.stop()
    val funnelSec = (System.nanoTime() - t4) / 1e9
    val completions = spark.table("soak_funnel").count()
    require(completions == baseFinal * factor,
      s"streaming funnel at $factor x: $completions completions, expected ${baseFinal * factor}")
    println(f"""SOAK {"phase":"streaming_funnel","users_x":$factor,"completions":$completions,"sec":$funnelSec%.2f}""")
  }

  /** TRUE-growth corpus for the dedup scale receipts: `n` NEW synthetic
    * documents from the same generator family as the fixture (its own
    * vocabulary, comparable token-length range, near-dup families at
    * CONSTANT density — every 10-doc block's members with hash-selected
    * membership mutate the block head instead of drawing fresh text, so
    * each family stays ~2-3 docs at ANY n). The replication soak cannot
    * measure this regime: offsetting copies grows each duplicate family
    * linearly with factor, which grows PAIR output quadratically — an
    * output-bound artifact of replication, not a property of the plans
    * (SCALE.md's standing analysis; this generator is the data that
    * confirms it). Everything is hash-deterministic column arithmetic —
    * no RNG, no driver-side loop; generation itself distributes. */
  def trueGrowthDocuments(spark: SparkSession, baseDir: String, n: Long): DataFrame = {
    val fixture = Tables.documents(spark, baseDir)
    // same generator family: the fixture's OWN vocabulary and length range
    val vocab = fixture
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "").distinct()
      .orderBy(col("tok")).collect().map(_.getString(0))
    val lens = fixture
      .select(size(split(trim(col("text")), "\\s+")).as("len"))
      .agg(min(col("len")).as("lo"), max(col("len")).as("hi")).head()
    val (lo, hi) = (lens.getInt(0).max(1), lens.getInt(1).max(2))
    val vlit = array(vocab.map(lit): _*)
    val base = spark.range(n).select(col("id").as("doc_id"))
      // family head: every block of 10 ids; ~20% of docs are near-dup
      // members seeded from the HEAD's id (constant family size at any n)
      .withColumn("is_dup", pmod(xxhash64(col("doc_id"), lit(3)), lit(10L)) < 2L)
      .withColumn("seed",
        when(col("is_dup"), (col("doc_id") - pmod(col("doc_id"), lit(10L))))
          .otherwise(col("doc_id")))
      .withColumn("len",
        (lit(lo) + pmod(xxhash64(col("seed"), lit(1)), lit((hi - lo + 1).toLong)))
          .cast("int"))
    val toks = transform(sequence(lit(0), col("len") - 1),
      p => element_at(vlit, (pmod(xxhash64(col("seed"), p), lit(vocab.length.toLong)) + 1L).cast("int")))
    base
      .withColumn("body", concat_ws(" ", toks))
      // near-dup members mutate the head: one extra member-specific token
      .withColumn("text",
        when(col("is_dup"), concat_ws(" ", col("body"),
          element_at(vlit, (pmod(xxhash64(col("doc_id"), lit(9)), lit(vocab.length.toLong)) + 1L).cast("int"))))
          .otherwise(col("body")))
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(8L))).as("source"),
        length(col("text")).as("n_chars"))
  }

  /** `lshttl` mode: the state-size receipt for the bounded-horizon
    * streaming LSH — replay `factor` time-shifted copies of the fixture
    * documents (copy c: ids offset by c·Off, event times offset by
    * c·span so the stream's clock genuinely advances) through BOTH
    * streaming LSH variants and print the state-store row count after
    * every copy. The unbounded variant ([[graft.streaming.StatefulOps
    * .lshCandidatesStream]]) must grow ~linearly — per-bucket membership
    * IS the memory of dedup-against-all-history — while the TTL variant
    * ([[lshCandidatesStreamTtl]], 240-minute horizon ≪ span) must stay
    * ~flat: eviction at arrival plus watermark timeouts cap held rows at
    * (arrival rate × horizon) regardless of stream length. */
  def lshTtlSoak(spark: SparkSession, factor: Int, baseDir: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val horizonMs = 240 * 60000L
    val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val docs = Tables.documents(spark, baseDir)
      .select(col("doc_id"), col("text"))
      .as[graft.streaming.StatefulOps.DocIn].collect().sortBy(_.doc_id)
    val spanMs = (docs.last.doc_id + 1) * 60000L

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverseIterator
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).find(_ >= 0).getOrElse(-1L)

    for (variant <- Seq("unbounded", "ttl")) {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.StatefulOps.DocIn]
      val bandedRaw = graft.ops.Dedup.minHashBanded(mem.toDF())
      val name = s"lshttl_$variant"
      try spark.catalog.dropTempView(name) catch { case _: Exception => () }
      val stream =
        if (variant == "unbounded")
          graft.streaming.StatefulOps.lshCandidatesStream(
            bandedRaw.as[graft.streaming.StatefulOps.BandIn])
        else
          graft.streaming.StatefulOps.lshCandidatesStreamTtl(
            bandedRaw
              // ts = t0 + copy·span + (doc_id mod Off) minutes: monotone
              // in arrival order, identical in-copy spacing every copy
              .withColumn("ts", timestamp_millis(lit(t0Ms) +
                expr(s"doc_id DIV ${Off}L") * spanMs +
                pmod(col("doc_id"), lit(Off)) * 60000L))
              .select(col("doc_id"), col("ts"), col("band"), col("bh"))
              .as[graft.streaming.StatefulOps.BandTsIn],
            horizonMs)
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        for (c <- 0 until factor) {
          // every token is tagged with the copy ordinal, so each copy is
          // genuinely FRESH content (the production regime — new
          // documents arriving over time). Replaying identical texts
          // would hash into the same buckets, and numRowsTotal counts
          // state KEYS — a flat key count would hide the unbounded
          // variant's linear growth. With fresh content the unbounded
          // key set grows ~linearly (every bucket ever touched is held
          // forever) while TTL timeouts reap buckets idle past the
          // horizon
          mem.addData(docs.map(d => d.copy(doc_id = d.doc_id + c * Off,
            text = d.text.split("\\s+").map(t => s"${t}c$c").mkString(" "))).toSeq)
          q.processAllAvailable()
          println(s"""SOAK {"phase":"lsh_state","variant":"$variant","copy":${c + 1},"state_rows":${stateRows(q)}}""")
        }
      } finally q.stop()
    }
  }

  /** `truegrowth` mode: generate fresh 1× and factor× corpora from
    * [[trueGrowthDocuments]], run the near-dup tiers on both, and print
    * SOAK lines tagged `true1x` / `true{factor}x` — the apples-to-apples
    * growth curve where duplicate-family size is height-constant. */
  def trueGrowthSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String, queries: Seq[String]): Unit = {
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/$tag"
      persisted(spark, trueGrowthDocuments(spark, baseDir, n),
        s"$dir/documents.parquet")
      for (name <- queries) {
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""SOAK {"scale":"$tag","query":"$name","docs":$n,"sec":$sec%.2f}""")
        } catch {
          case e: Throwable =>
            println(s"""SOAK {"scale":"$tag","query":"$name","error":"${e.getClass.getSimpleName}: ${e.getMessage.take(120)}"}""")
        }
      }
    }
  }

  /** `incrcc` mode: the update-cost receipt for
    * [[graft.ops.Dedup.mergeClusterDelta]] — the claim under test is
    * "merging a pair delta costs ∝ delta, NOT ∝ corpus". Generates
    * height-constant TRUE-growth corpora at 1× and factor×, holds the
    * DELTA CONSTANT across scales (doc_id % 7 == 0 within the 1× id
    * range only), materializes the inputs a live pipeline would already
    * have persisted (base label table, delta pair set) UNTIMED, then
    * times (a) the incremental merge and (b) the full rebuild at each
    * scale. Flat (a) against a ~linear (b) is the receipt; both outputs
    * are asserted set-equal before timing is trusted. */
  def incrCcSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/incrcc_$tag"
      val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
        s"$dir/documents.parquet")
      val isDelta = col("doc_id") % 7 === 0 && col("doc_id") < nBase
      // UNTIMED prep — in production these are persisted artifacts: the
      // label table from the previous corpus version, the delta pairs
      // from the arrival-side near-dup pass
      graft.ops.Dedup.nearDupClusters(docs.filter(!isDelta),
        graft.ops.Dedup.charJaccardPairs(docs.filter(!isDelta), 0.9))
        .write.mode("overwrite").parquet(s"$dir/base_labels.parquet")
      graft.ops.Dedup.charJaccardPairs(docs, 0.9)
        .filter((col("id_a") % 7 === 0 && col("id_a") < nBase) ||
          (col("id_b") % 7 === 0 && col("id_b") < nBase))
        .write.mode("overwrite").parquet(s"$dir/delta_pairs.parquet")
      val baseLabels = spark.read.parquet(s"$dir/base_labels.parquet")
      val deltaPairs = spark.read.parquet(s"$dir/delta_pairs.parquet")
      val deltaDocs = docs.filter(isDelta).select(col("doc_id"))
      val nDelta = deltaDocs.count()
      val t0 = System.nanoTime()
      val merged = graft.ops.Dedup.mergeClusterDelta(baseLabels, deltaDocs,
        deltaPairs)
      merged.write.format("noop").mode("overwrite").save()
      val mergeSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val full = graft.ops.Dedup.nearDupClusters(docs,
        graft.ops.Dedup.charJaccardPairs(docs, 0.9))
      full.write.format("noop").mode("overwrite").save()
      val rebuildSec = (System.nanoTime() - t1) / 1e9
      // timing is only evidence if the answers agree
      val diff = setDiff(merged, full)
      println(f"""SOAK {"phase":"incrcc","scale":"$tag","docs":$n,"delta_docs":$nDelta,"merge_sec":$mergeSec%.2f,"rebuild_sec":$rebuildSec%.2f,"label_diff":$diff}""")
      require(diff == 0L, s"merged labels != rebuild at $tag: $diff")

      // vary-delta-hold-corpus direction: a HALF delta (doc_id % 14 == 0
      // — every other member of the %7 set) merged against the same
      // corpus; cost should track the delta, not the held corpus.
      // Merged labels aren't cross-checked here (the half-merge answers
      // a different corpus membership question); the full-delta run
      // above carries the equality evidence.
      val isHalf = col("doc_id") % 14 === 0 && col("doc_id") < nBase
      val halfDocs = docs.filter(isHalf).select(col("doc_id"))
      val halfPairs = deltaPairs
        .filter((col("id_a") % 14 === 0 && col("id_a") < nBase) ||
          (col("id_b") % 14 === 0 && col("id_b") < nBase))
      val nHalf = halfDocs.count()
      val t2 = System.nanoTime()
      graft.ops.Dedup.mergeClusterDelta(baseLabels, halfDocs, halfPairs)
        .write.format("noop").mode("overwrite").save()
      val halfSec = (System.nanoTime() - t2) / 1e9
      println(f"""SOAK {"phase":"incrcc_half","scale":"$tag","docs":$n,"delta_docs":$nHalf,"merge_sec":$halfSec%.2f}""")
    }
  }

  /** `docstream` mode: the runnable live-dedup pipeline
    * ([[graft.streaming.DocumentStream]]) under TRUE-growth load — the
    * per-batch latency and state-size receipt the wave-replay gates
    * don't give. A TRUE-growth corpus splits 3/5 into standing history
    * and arrivals; arrivals stream through the checkpointed pipeline in
    * `nWaves` micro-batches (constant batch size as the corpus grows —
    * the live-serving regime), then a TTL retirement expires the oldest
    * slice of history and the janitor reclaims aged band state. Printed
    * per scale: init cost (standing artifacts), per-batch seconds
    * (median over waves — MUST stay flat as history grows; every
    * per-batch read of corpus-sized state is candidate-pruned), retire
    * seconds, and state rows before/after. The final label table is
    * asserted equal to CC over the maintained kept/pair state (the
    * standing invariant) before any timing is trusted. */
  def docStreamSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String, nWaves: Int = 8): Unit = {
    import graft.streaming.DocumentStream
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/docstream_$tag"
      val root = s"$dir/state"
      val fx = longFixture(spark, "doc", n, nBase, baseDir, dir, root,
        freshDir(spark, dir), nWaves, consolidateEvery = 0)
      val waveSecs = streamWaves(fx, s"$dir/ckpt")
      // invariant before timing is trusted
      val diff = DocumentStream.labelDiff(spark, root)
      val keptRows = DocumentStream.keptIds(spark, root).count()
      // TTL: the oldest half of the standing history expires, PLUS every
      // 5th arrival — arrivals are what hold band state, so the retire
      // receipt can show CANDIDATE GENERATION dropping to the surviving
      // corpus's (history-only expiry would leave bands untouched and
      // the candidate probe vacuous)
      val expired = fx.corpus.filter(col("doc_id") < fx.splitId / 2 ||
          (col("doc_id") >= fx.arrFrom && col("doc_id") % 5 === 0))
        .select(col("doc_id"))
      // candidate-economics probe: the LAST wave's banding against the
      // standing band state, before vs after the retire — retired docs
      // must stop generating candidates immediately, not at age-out
      val lastWave = fx.wave(fx.waves - 1)
      val probe = graft.ops.Dedup.minHashBanded(
          lastWave.select(col("doc_id"), col("text")))
        .select(col("band"), col("bh"))
        .localCheckpoint(true)
      def candLegs(): Long = probe.join(
        DocumentStream.bandState(spark, root)
          .select(col("band"), col("bh")), Seq("band", "bh")).count()
      val candPre = candLegs()
      // event time grows with doc_id: the last wave holds the high water
      val highWater = lastWave.agg(max(col("ts_ms"))).head().getLong(0)
      val retireSec = timed(DocumentStream.retire(spark, root, expired,
        highWaterMs = Some(highWater)))
      val candPost = candLegs()
      val keptAfter = DocumentStream.keptIds(spark, root).count()
      println(f"""SOAK {"phase":"docstream","scale":"$tag",${fx.head},"arrivals":${fx.arrivals},"waves":${waveSecs.length},"init_sec":${fx.initSec}%.2f,"median_wave_sec":${medSec(waveSecs)}%.2f,"max_wave_sec":${waveSecs.max}%.2f,"label_diff":$diff,"kept_rows":$keptRows,"retire_sec":$retireSec%.2f,"kept_after_retire":$keptAfter,"cand_legs_pre_retire":$candPre,"cand_legs_post_retire":$candPost}""")
      require(diff == 0L, s"labels != CC at $tag: $diff")
    }
  }

  /** Stream a fixture's waves through its tier's checkpointed query
    * (`ckpt`), one micro-batch each; returns the per-wave seconds. */
  private def streamWaves(fx: LongFixture, ckpt: String): Seq[Double] = {
    val (q, addWave) = fx.feed(ckpt)
    try (0 until fx.waves).map { i =>
      timed { addWave(i); q.processAllAvailable() }
    } finally q.stop()
  }

  /** Median of 5 timed runs after one untimed warm-up (the warm-up
    * builds persisted tables on first touch) — the serve-cost protocol
    * the rewrite receipts share. */
  private def med5(f: => Unit): Double = {
    f
    val xs = (1 to 5).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    xs.sorted.apply(2)
  }

  // shared long-horizon measurement helpers (every timed-wave receipt
  // MUST report through identical formulas — a fix to one
  // slope receipt's math must not silently diverge from the other's)
  private def medSec(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)
  private def p99Sec(xs: Seq[Double]): Double =
    xs.sorted.apply((xs.length - 1) * 99 / 100)
  private def batchDirCount(fsys: org.apache.hadoop.fs.FileSystem,
      root: String, sub: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
    if (!fsys.exists(p)) 0
    else fsys.listStatus(p).count(_.getPath.getName.startsWith("batch="))
  }
  private def dirBytes(fsys: org.apache.hadoop.fs.FileSystem,
      p: String): Long =
    fsys.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength

  /** Seconds one block takes. */
  private def timed(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  /** The per-batch slope fields every timed-wave receipt prints. */
  private def slopeFields(xs: Seq[Double]): String = {
    val third = xs.length / 3
    f""""median_batch_sec":${medSec(xs)}%.2f,"p99_batch_sec":${p99Sec(xs)}%.2f,"first_third_median":${medSec(xs.take(third))}%.2f,"last_third_median":${medSec(xs.takeRight(third))}%.2f"""
  }

  /** `corpus` written to `path` (spread over the session's parallelism)
    * and read back — every soak measures against the persisted corpus,
    * so generating it never lands in a timed phase. */
  private def persisted(spark: SparkSession, corpus: DataFrame,
      path: String): DataFrame = {
    corpus.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The multiset difference of `a` and `b` in both directions, columns
    * matched by position (exceptAll's rule) and counted by
    * [[ParityCheck.diffCounts]] — 0 when the answers agree. */
  private def setDiff(a: DataFrame, b: DataFrame): Long = {
    val (onlyA, onlyB, _, _) =
      ParityCheck.diffCounts(a, b.toDF(a.columns.toSeq: _*))
    onlyA + onlyB
  }

  /** A fresh output directory (emptied first) and its file system. */
  private def freshDir(spark: SparkSession,
      dir: String): org.apache.hadoop.fs.FileSystem = {
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(dir), true)
    fsys
  }

  /** Media rows for doc ids [lo, hi) — the true-growth image generators'
    * input shape. */
  private def mediaDocs(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(8L))).as("source"))

  /** The decodable true-growth images' fingerprints (doc_id, sh0, sh1). */
  private def trueGrowthFps(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    graft.ops.Multimodal.pHashes(
        graft.ops.Multimodal.imagePngMediaTrueGrowth(spark, docs))
      .filter(_.decoded).toDF()
      .select(col("media_id").as("doc_id"),
        col("ph0").as("sh0"), col("ph1").as("sh1"))
  }

  /** `xs` in exactly min(n, |xs|) consecutive waves whose sizes differ
    * by at most one — a soak runs the batch count it asks for. */
  private[graft] def evenWaves[A](xs: Seq[A], n: Int): Seq[Seq[A]] = {
    require(n > 0, s"wave count must be positive: $n")
    val k = math.min(n, xs.length)
    (0 until k).map(i => xs.slice((i.toLong * xs.length / k).toInt,
      ((i + 1).toLong * xs.length / k).toInt))
  }

  /** One tier's true-growth fixture at one scale, its root initialized:
    * the SOAK fields ahead of "arrivals", the corpus with its split and
    * first arrival id, the arrival count, the init seconds, the wave
    * count with wave i as a frame, a runner of wave i through
    * `processBatch`, a feed (the tier's checkpointed query over a memory
    * stream, plus an adder of wave i), the subs whose directory counts
    * print, the trailing byte field, and whether the line carries
    * label_diff. */
  private final case class LongFixture(tier: graft.streaming.IndexTier,
      head: String, corpus: DataFrame, splitId: Long, arrFrom: Long,
      arrivals: Int, initSec: Double, waves: Int, wave: Int => DataFrame,
      runBatch: Int => Unit,
      feed: String => (org.apache.spark.sql.streaming.StreamingQuery,
        Int => Unit),
      dirSubs: Seq[String], tail: () => String, printsDiff: Boolean)

  private def longFixture(spark: SparkSession, tier: String, n: Long,
      nBase: Long, baseDir: String, dir: String, root: String,
      fsys: org.apache.hadoop.fs.FileSystem, nBatches: Int,
      consolidateEvery: Int): LongFixture = {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal}
    import graft.streaming.{DocumentStream, EmbeddingStream, FingerprintStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val splitId = n * 3L / 5L
    // CONSTANT arrival stream regardless of corpus scale (the live-
    // serving regime): the last nBase·2/5 ids arrive
    val arrFrom = n - nBase * 2L / 5L
    tier match {
      case "doc" =>
        val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
          s"$dir/documents.parquet")
        val history = docs.filter(col("doc_id") < splitId)
        // minute-spaced event times
        val arrivals = docs.filter(col("doc_id") >= arrFrom)
          .select(col("doc_id"),
            (lit(t0Ms) + (col("doc_id") - splitId) * 60000L).as("ts_ms"),
            col("text"))
          .as[DocumentStream.DocTsIn].collect().sortBy(_.doc_id).toSeq
        val initSec = timed {
          val histPairs = Dedup.minHashPairs(history).localCheckpoint(true)
          DocumentStream.init(spark, root, history, histPairs,
            Dedup.nearDupClusters(history, histPairs))
        }
        val waves = evenWaves(arrivals, nBatches)
        val wave = (i: Int) => waves(i).toDF()
        LongFixture(DocumentStream, s""""docs":$n,"history":$splitId""",
          docs, splitId, arrFrom, arrivals.length, initSec, waves.length,
          wave, i => DocumentStream.processBatch(wave(i), i.toLong, root,
            3600000L, consolidateEvery = consolidateEvery),
          ckpt => {
            val mem = MemoryStream[DocumentStream.DocTsIn]
            (DocumentStream.start(mem.toDF(), root, ckpt, 3600000L,
              consolidateEvery = consolidateEvery), i => mem.addData(waves(i)))
          },
          Seq("hist", "kept", "pairs", "hw", "bands"),
          () => s""","hist_bytes":${dirBytes(fsys, s"$root/hist")}""",
          printsDiff = true)
      case "fp" =>
        val docs = mediaDocs(spark, 0L, n)
        val initSec = timed {
          val baseFps = trueGrowthFps(spark,
              docs.filter(col("doc_id") < splitId))
            .localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.DISK_ONLY)
          val basePairs = Dedup.hammingPairs128(baseFps, 3)
            .localCheckpoint(true)
          FingerprintStream.init(spark, root, baseFps, basePairs,
            Dedup.nearDupClusters(baseFps.select(col("doc_id")),
              basePairs.select(col("id_a"), col("id_b"))))
        }
        val arrivals = Multimodal.imagePngMediaTrueGrowth(spark,
            docs.filter(col("doc_id") >= arrFrom))
          .collect().sortBy(_.media_id).toSeq
        val waves = evenWaves(arrivals, nBatches)
        val wave = (i: Int) => spark.createDataset(waves(i)).toDF()
        LongFixture(FingerprintStream, s""""docs":$n,"images":${n / 3}""",
          docs, splitId, arrFrom, arrivals.length, initSec, waves.length,
          wave, i => FingerprintStream.processBatch(wave(i), i.toLong, root,
            maxHamming = 3, consolidateEvery = consolidateEvery),
          _ => throw new UnsupportedOperationException(
            "no soak streams the media tier through its query"),
          Seq("fps", "pairs", "gauge"), () => "", printsDiff = false)
      case "emb" =>
        val emb = persisted(spark, trueGrowthEmbeddings(spark, baseDir, n),
          s"$dir/embeddings.parquet")
        val arrFrame = emb.filter(col("vec_id") >= arrFrom)
          .select(col("vec_id"), col("embedding"))
        val arrivals = arrFrame.as[EmbeddingStream.VecIn]
          .collect().sortBy(_.vec_id).toSeq
        val initSec = timed(EmbeddingStream.initFromCorpus(spark, root,
          emb.filter(col("vec_id") < splitId), refDelta = arrFrame,
          threshold = 0.4))
        val waves = evenWaves(arrivals, nBatches)
        val wave = (i: Int) =>
          waves(i).toDF().select(col("vec_id"), col("embedding"))
        LongFixture(EmbeddingStream, s""""vectors":$n,"base":$splitId""",
          emb, splitId, arrFrom, arrivals.length, initSec, waves.length,
          wave, i => EmbeddingStream.processBatch(wave(i), i.toLong, root,
            0.4, consolidateEvery = consolidateEvery),
          ckpt => {
            val mem = MemoryStream[EmbeddingStream.VecIn]
            (EmbeddingStream.start(mem.toDF(), root, ckpt, 0.4,
              consolidateEvery = consolidateEvery), i => mem.addData(waves(i)))
          },
          Seq("vecs", "vhash", "pairs", "gauge"),
          () => s""","vecs_bytes":${dirBytes(fsys, s"$root/vecs")}""",
          printsDiff = true)
    }
  }

  /** `docstreamlong` / `fpstreamlong` / `embstreamlong` modes (`tier` =
    * doc / fp / emb): a runnable pipeline under a LONG batch horizon —
    * the receipt the wave soaks cannot give: per-batch cost must be flat
    * in BATCH COUNT, not just corpus size, which is exactly what the
    * consolidation fold (the MergeTree background-merge analogue) buys —
    * without it every batch re-lists and re-opens one directory per
    * prior batch per state sub. Per scale (×1 and ×factor standing
    * corpus, CONSTANT arrival stream), `nBatches` constant-size
    * micro-batches drive the tier's `processBatch` DIRECTLY (the wave
    * soaks measure the streaming engine's trigger latency; this isolates
    * the state-maintenance slope), with `consolidateEvery` batches
    * between folds (0 = the unbounded counterfactual). The media tier
    * runs real PNG bytes through the real javax.imageio codec — its
    * dominant per-batch cost; the vector tier folds full embeddings, the
    * heaviest per-row state. Printed per scale: median/p99 batch
    * seconds, first/last-third medians (the flatness verdict), the
    * consolidation batches' median (the fold's amortized price), final
    * per-sub directory counts vs one-per-batch, and state bytes. The
    * standing invariant ([[graft.streaming.IndexTier.labelDiff]] = 0)
    * must hold or the run fails. */
  def streamLongSoak(spark: SparkSession, tier: String, factor: Int,
      baseDir: String, outDir: String, nBatches: Int,
      consolidateEvery: Int): Unit = {
    val nBase = (if (tier == "emb") Tables.embeddings(spark, baseDir)
      else Tables.documents(spark, baseDir)).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/${tier}streamlong_$tag"
      val root = s"$dir/state"
      val fsys = freshDir(spark, dir)
      val fx = longFixture(spark, tier, n, nBase, baseDir, dir, root, fsys,
        nBatches, consolidateEvery)
      val batchSecs = (0 until fx.waves).map(i => timed(fx.runBatch(i)))
      val consSecs = batchSecs.zipWithIndex.collect {
        case (s, i) if consolidateEvery > 0 && i > 0 &&
          i % consolidateEvery == 0 => s }
      val diff = fx.tier.labelDiff(spark, root)
      val diffField = if (fx.printsDiff) s""""label_diff":$diff,""" else ""
      val dirCounts = fx.dirSubs
        .map(s => s""""$s":${batchDirCount(fsys, root, s)}""").mkString(",")
      println(f"""SOAK {"phase":"${tier}streamlong","scale":"$tag",${fx.head},"arrivals":${fx.arrivals},"batches":${fx.waves},"consolidate_every":$consolidateEvery,${slopeFields(batchSecs)},"consolidation_median_sec":${medSec(consSecs)}%.2f,$diffField"dirs":{$dirCounts},"unconsolidated_dirs_per_sub":${fx.waves + 1},"state_bytes":${dirBytes(fsys, root)}${fx.tail()}}""")
      require(diff == 0L, s"labels != CC at $tag: $diff")
    }
  }

  /** Per-tier flood scenario sizes: (batches, cap, organic rows per
    * batch, default flood rows per batch). */
  private val FloodSizes = Map("doc" -> (48, 16, 64, 64),
    "emb" -> (32, 30, 64, 128), "fp" -> (32, 30, 48, 64))

  /** One tier's flood scenario: initialize a root, run wave i under a
    * cap (0 = uncapped) with a fold every k batches, the mode's ledger
    * fields, the tier's query over a memory stream (root, checkpoint,
    * FAIR pool — 5 ms trigger, a fold every 8 batches) with a feeder of
    * wave i, and the frames to free at the end. */
  private final case class FloodFixture(tier: graft.streaming.IndexTier,
      init: String => Unit, runBatch: (String, Int, Int, Int) => Unit,
      fields: String => String,
      feed: (String, String, Option[String]) =>
        (org.apache.spark.sql.streaming.StreamingQuery, Int => Unit),
      frames: Seq[DataFrame])

  private def floodFixture(spark: SparkSession, tier: String,
      baseDir: String, dir: String, nBatches: Int, organicPerBatch: Int,
      floodPerBatch: Int): FloodFixture = {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal}
    import graft.streaming.{DocumentStream, EmbeddingStream, FingerprintStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val organicNeeded = nBatches * organicPerBatch
    tier match {
      case "doc" =>
        val template = graft.OracleSql.CappedFloodTemplate
        val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val horizonMs = 3600000L
        // the soak's premise is "the whole run sits inside the horizon —
        // nothing ages out of the uncapped measurement"; at 500 ms spacing
        // that bounds rows-per-run, so an oversized env override must fail
        // loudly here rather than silently age early flood state out
        val spanMs = nBatches.toLong * (organicPerBatch + floodPerBatch) * 500L
        require(spanMs <= horizonMs,
          s"event span ${spanMs} ms exceeds the $horizonMs ms horizon — " +
          "lower nBatches/organicPerBatch/SPARK_GRAFT_FLOOD_PER_BATCH so " +
          "the whole run stays horizon-resident")
        val n = math.max(Tables.documents(spark, baseDir).count(),
          organicNeeded * 5L / 2L + 10L)
        val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
          s"$dir/documents.parquet")
        val splitId = n * 3L / 5L
        val history = docs.filter(col("doc_id") < splitId)
        val organicPool = docs.filter(col("doc_id") >= splitId)
          .select(col("doc_id"), col("text"))
          .limit(organicNeeded)
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        require(organicPool.length == organicNeeded,
          s"organic pool short: ${organicPool.length} < $organicNeeded")
        var floodId = n + 1000000L
        var k = 0L
        // sub-second event spacing: the whole run sits inside the horizon
        val waves = (0 until nBatches).map { i =>
          (organicPool.slice(i * organicPerBatch, (i + 1) * organicPerBatch) ++
            (0 until floodPerBatch).map { _ =>
              floodId += 1; (floodId, template)
            }).map { case (id, tx) =>
              k += 1; DocumentStream.DocTsIn(id, t0Ms + k * 500L, tx)
            }.toSeq
        }
        val histPairs = Dedup.minHashPairs(history).localCheckpoint(true)
        val histLabels = Dedup.nearDupClusters(history, histPairs)
          .localCheckpoint(true)
        FloodFixture(DocumentStream,
          DocumentStream.init(spark, _, history, histPairs, histLabels),
          (root, i, hc, every) => DocumentStream.processBatch(
            waves(i).toDF(), i.toLong, root, horizonMs,
            consolidateEvery = every, hotBucketCap = hc),
          root => {
            val g = DocumentStream.gaugeRows(spark, root)
              .agg(count(when(col("alert"), 1)).as("alerts"),
                count(when(col("hot_buckets") > 0, 1)).as("interventions"),
                sum(col("cand_ppb")).as("cand_ppb_sum")).head()
            s""""alerts":${g.getLong(0)},"interventions":${g.getLong(1)},"cand_ppb_sum":${g.getLong(2)}"""
          },
          (root, ckpt, pool) => {
            val mem = MemoryStream[DocumentStream.DocTsIn]
            (DocumentStream.start(mem.toDF(), root, ckpt, horizonMs,
              maxDelayMs = 5L, consolidateEvery = 8, schedulerPool = pool),
              i => mem.addData(waves(i)))
          },
          Seq(histPairs, histLabels))
      case "emb" =>
        val n = math.max(Tables.embeddings(spark, baseDir).count(),
          organicNeeded * 5L / 2L + 10L)
        val emb = persisted(spark, trueGrowthEmbeddings(spark, baseDir, n)
          .select(col("vec_id"), col("embedding")), s"$dir/embeddings.parquet")
        val splitId = n * 3L / 5L
        val organicPool = emb.filter(col("vec_id") >= splitId)
          .orderBy(col("vec_id")).limit(organicNeeded)
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        require(organicPool.length == organicNeeded,
          s"organic pool short: ${organicPool.length}")
        // near-copies of one base vector: distinct bytes (a per-copy
        // component nudge), so the exact tier keeps them and they all
        // assign to one cluster
        val src = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        var k = 0
        val waves = (0 until nBatches).map { i =>
          organicPool.slice(i * organicPerBatch,
            (i + 1) * organicPerBatch).toSeq ++
            (0 until floodPerBatch).map { _ =>
              k += 1
              val v = src.clone(); v(0) = v(0) + k * 1e-4f
              (9000000L + k, v)
            }
        }
        FloodFixture(EmbeddingStream,
          EmbeddingStream.initFromCorpus(spark, _,
            emb.filter(col("vec_id") < splitId),
            refDelta = emb.filter(col("vec_id") >= splitId)),
          (root, i, hc, every) => EmbeddingStream.processBatch(
            waves(i).toDF("vec_id", "embedding"), i.toLong, root,
            consolidateEvery = every, hotClusterCap = hc),
          root => {
            val nPairs = EmbeddingStream.livePairs(spark, root).count()
            val alerts = EmbeddingStream.gaugeRows(spark, root)
              .filter(col("retrain")).count()
            // cap interventions are LEDGER rows (hot_clusters > 0)
            val interventions = EmbeddingStream.gaugeRows(spark, root)
              .agg(sum(col("hot_clusters"))).head().getLong(0)
            s""""pairs":$nPairs,"gauge_alerts":$alerts,"hot_cluster_interventions":$interventions"""
          },
          (root, ckpt, pool) => {
            val mem = MemoryStream[(Long, Array[Float])]
            (EmbeddingStream.start(mem.toDF().toDF("vec_id", "embedding"),
              root, ckpt, maxDelayMs = 5L, consolidateEvery = 8,
              schedulerPool = pool), i => mem.addData(waves(i)))
          },
          Nil)
      case "fp" =>
        // organic arrivals: true-growth texture families (block 15 — every
        // per-batch band bucket sits well under the cap); image ids ≡ 1 mod
        // 3, so `organicNeeded` images span 3× that many doc ids
        val mTotal = (organicNeeded.toLong * 2L + 10L) * 3L
        val splitM = mTotal / 2L
        val baseFps = trueGrowthFps(spark, mediaDocs(spark, 0L, splitM))
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val basePairs = Dedup.hammingPairs128(baseFps, 3).localCheckpoint(true)
        val baseLabels = Dedup.nearDupClusters(
          baseFps.select(col("doc_id")),
          basePairs.select(col("id_a"), col("id_b"))).localCheckpoint(true)
        val organicPool = Multimodal.imagePngMediaTrueGrowth(spark,
            mediaDocs(spark, splitM, mTotal))
          .collect().sortBy(_.media_id).take(organicNeeded).toSeq
        require(organicPool.length == organicNeeded,
          s"organic pool short: ${organicPool.length} < $organicNeeded")
        // the flood payload: ONE fixed texture from a seed range no fixture
        // or generator uses (4.0e9 — doc textures sit at 1.0e9+, audio
        // 1.1e9+, video 2.0e9+/3.0e9+), so the flood never collides with
        // organic traffic; byte-identical copies under fresh ids, exactly a
        // re-posted viral image
        val floodPayload = Multimodal.pngBytes(
          Multimodal.textureImage(4000000000L, 0))
        var floodId = mTotal + 1000000L
        val waves = (0 until nBatches).map { i =>
          organicPool.slice(i * organicPerBatch, (i + 1) * organicPerBatch) ++
            (0 until floodPerBatch).map { _ =>
              floodId += 1
              Multimodal.MediaRow(floodId, "image", floodPayload, "flood")
            }
        }
        FloodFixture(FingerprintStream,
          FingerprintStream.init(spark, _, baseFps, basePairs, baseLabels),
          (root, i, hc, every) => FingerprintStream.processBatch(
            spark.createDataset(waves(i)).toDF(), i.toLong, root,
            maxHamming = 3, consolidateEvery = every, hotBucketCap = hc),
          root => {
            val nPairs = FingerprintStream.livePairs(spark, root).count()
            val g = FingerprintStream.gaugeRows(spark, root)
              .agg(count(when(col("alert"), 1)).as("alerts"),
                count(when(col("hot_buckets") > 0, 1)).as("interventions"),
                coalesce(sum(col("n_quarantined")), lit(0L)).as("quar")).head()
            s""""pairs":$nPairs,"alerts":${g.getLong(0)},"interventions":${g.getLong(1)},"quarantined":${g.getLong(2)}"""
          },
          (root, ckpt, pool) => {
            val mem = MemoryStream[Multimodal.MediaRow]
            (FingerprintStream.start(mem.toDF(), root, ckpt, maxHamming = 3,
              maxDelayMs = 5L, consolidateEvery = 8, schedulerPool = pool),
              i => mem.addData(waves(i)))
          },
          Seq(baseFps, basePairs, baseLabels))
    }
  }

  /** `docstreamflood` / `embstreamflood` / `fpstreamflood` modes (`tier`
    * = doc / emb / fp): the hot-key cap's receipt on a RUNNABLE pipeline
    * — every batch carries `floodPerBatch` template arrivals alongside
    * constant organic traffic ([[FloodSizes]]): byte-identical template
    * texts (the whole run inside the horizon — nothing ages out),
    * near-copies of one base vector, or byte-identical copies of one
    * DECODABLE texture (quarantine never fires — which is exactly why the
    * cap has to exist). UNCAPPED, the flood bucket's between-join legs
    * grow linearly with the standing state (cumulative quadratic — the
    * per-batch slope this mode exists to show) and the junk pairs
    * persist; CAPPED, the occupancy prune drops the flood buckets from
    * every join, so per-batch time stays at the organic baseline for ANY
    * flood duration. Printed per mode: first/last-third per-batch
    * medians (the slope verdict) and the tier's ledger counts (detection
    * fires in BOTH modes — the cap is the automatic remediation, not the
    * detector), with the standing invariant
    * ([[graft.streaming.IndexTier.labelDiff]] = 0) gating the timing. */
  def streamFloodSoak(spark: SparkSession, tier: String, baseDir: String,
      outDir: String, floodPerBatch: Option[Int] = None): Unit = {
    val (nBatches, cap, organicPerBatch, defaultFlood) = FloodSizes(tier)
    val flood = floodPerBatch.getOrElse(defaultFlood)
    val dir = s"$outDir/${tier}streamflood"
    freshDir(spark, dir)
    val fx = floodFixture(spark, tier, baseDir, dir, nBatches,
      organicPerBatch, flood)
    for ((mode, hc) <- Seq("uncapped" -> 0, "capped" -> cap)) {
      val root = s"$dir/$mode"
      fx.init(root)
      val batchSecs = (0 until nBatches)
        .map(i => timed(fx.runBatch(root, i, hc, 16)))
      val fields = fx.fields(root)
      val diff = fx.tier.labelDiff(spark, root)
      require(diff == 0L, s"$mode labels != CC: $diff")
      println(f"""SOAK {"phase":"${tier}streamflood","mode":"$mode","cap":$hc,"batches":$nBatches,"organic_per_batch":$organicPerBatch,"flood_per_batch":$flood,${slopeFields(batchSecs)},$fields}""")
    }
    fx.frames.foreach(graft.Snap.free(_))
  }

  /** `capflood` mode: the hot-bucket cap's SCALE receipt
    * ([[graft.ops.Dedup.minHashPairsCapped]] vs the plain operator under
    * a growing template flood). A TRUE-growth corpus has every 11th
    * document's text rewritten to shared boilerplate, so the flood's
    * band buckets hold n/11 members each: the UNCAPPED pair join pays
    * (n/11)² collisions per flood bucket (candidate count quadratic in
    * corpus size at FIXED flood fraction — the skew a single hot key
    * imposes corpus-wide), while the capped operator's occupancy prune
    * drops those buckets entirely, bounding the worst join key at the
    * cap. Printed per scale: raw band-collision legs and distinct
    * verified pairs for both operators, and wall time — the uncapped
    * slope must be quadratic in the flood count, the capped one flat in
    * it (organic work only). Answers: capped ⊆ uncapped asserted before
    * timing is trusted. */
  def capFloodSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String, cap: Int = 16): Unit = {
    import graft.ops.Dedup
    val template = graft.OracleSql.CappedFloodTemplate
    capReceipt(spark, "capflood", Tables.documents(spark, baseDir).count(),
        factor, outDir, cap) { (n, dir) =>
      val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          lit(template)).otherwise(col("text"))), s"$dir/documents.parquet")
      val flood = n / 11 + (if (n % 11 > 0) 1 else 0)
      (s""""docs":$n,"flood_docs":$flood""", flood,
        () => Dedup.minHashPairs(docs),
        () => Dedup.minHashPairsCapped(docs, cap = cap))
    }
  }

  /** `semcapflood` mode: the hot-CLUSTER cap's scale receipt
    * ([[graft.ops.Similarity.semanticDedupPairsCapped]] vs the plain
    * operator under a growing embedding flood). A TRUE-growth vector
    * corpus has every 5th embedding rewritten to one template vector —
    * the collapsed cluster a mode-collapsed upstream encoder produces —
    * so the flood cluster holds n/5 members: the UNCAPPED cluster-local
    * join pays (n/5)² pairs in that one cluster (quadratic in corpus
    * size at fixed flood fraction), the CAPPED operator quarantines it
    * and pays organic work only. Subset invariant asserted off the
    * cached frames before timing is trusted. */
  def semCapFloodSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String, cap: Int = 64): Unit = {
    import graft.ops.Similarity
    capReceipt(spark, "semcapflood", Tables.embeddings(spark, baseDir).count(),
        factor, outDir, cap) { (n, dir) =>
      val raw = trueGrowthEmbeddings(spark, baseDir, n)
      val tpl = broadcast(raw.orderBy(col("vec_id")).limit(1)
        .select(col("embedding").as("tpl_emb")))
      val emb = persisted(spark, raw.crossJoin(tpl).select(col("vec_id"),
          when(col("vec_id") % 5 === 0, col("tpl_emb"))
            .otherwise(col("embedding")).as("embedding")),
        s"$dir/embeddings.parquet")
      val flood = n / 5 + (if (n % 5 > 0) 1 else 0)
      // n/k stays constant across scales (the semanticDedupPairs
      // contract: cluster count scales with the corpus so per-cluster
      // work is bounded) — a FIXED k at growing n would push every
      // organic cluster over the cap and the receipt would measure the
      // miscalibration, not the flood
      val k = math.max(32L, n / 16L).toInt
      (s""""vectors":$n,"ncentroids":$k,"flood_vecs":$flood""", flood,
        () => Similarity.semanticDedupPairs(emb, 0.4, nCentroids = k),
        () => Similarity.semanticDedupPairsCapped(emb, 0.4,
          nCentroids = k, cap = cap))
    }
  }

  /** The capped-vs-plain scale receipt both cap soaks print. Per scale
    * (×1 and ×factor of `nBase`) `fixture(n, dir)` writes the flooded
    * corpus and returns the SOAK fields ahead of "cap", the flood size
    * and the two pair operators. Each frame materializes ONCE (timed
    * through the eager snapshot); the counts AND the subset invariant
    * read the cached rows — the deliberately-quadratic uncapped flood
    * join must not be re-paid for a bookkeeping check. Capped ⊆
    * uncapped is asserted before timing is trusted. */
  private def capReceipt(spark: SparkSession, phase: String, nBase: Long,
      factor: Int, outDir: String, cap: Int)(
      fixture: (Long, String) => (String, Long, () => DataFrame,
        () => DataFrame)): Unit =
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/${phase}_$tag"
      freshDir(spark, dir)
      val (fields, flood, uncappedOp, cappedOp) = fixture(n, dir)
      def run(f: () => DataFrame): (DataFrame, Long, Double) = {
        val t = System.nanoTime()
        val df = f().localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val c = df.count()
        (df, c, (System.nanoTime() - t) / 1e9)
      }
      val (uncappedDf, uncapped, uncappedSec) = run(uncappedOp)
      val (cappedDf, capped, cappedSec) = run(cappedOp)
      val (diff, _, _, _) = ParityCheck.diffCounts(
        cappedDf.select(col("id_a"), col("id_b")),
        uncappedDf.select(col("id_a"), col("id_b")))
      require(diff == 0L, s"capped must be a subset of uncapped: $diff")
      println(f"""SOAK {"phase":"$phase","scale":"$tag",$fields,"cap":$cap,"uncapped_pairs":$uncapped,"uncapped_sec":$uncappedSec%.2f,"capped_pairs":$capped,"capped_sec":$cappedSec%.2f,"flood_pairs_expected":${flood * (flood - 1) / 2}}""")
      Seq(uncappedDf, cappedDf).foreach(graft.Snap.free(_))
    }

  /** `fpdecontam` mode: the retroactive-decontamination cost receipt —
    * the missing half of the flood story the caps alone leave open. The
    * `fpstreamflood` scenario ([[streamFloodSoak]]) runs BOTH modes
    * first (uncapped: junk pairs persisted + flood mega-cluster; capped:
    * organic-only),
    * then [[graft.streaming.FingerprintStream.decontaminate]] repairs
    * the POLLUTED root at a corpus-level cap and the receipt asserts:
    *
    *  1. EXACTNESS — the repaired root's pair AND label state equals
    *     the capped run's (the deployment that ran uncapped through the
    *     incident lands, post-repair, exactly where a correctly-capped
    *     one would be; both flood-bucket-only sets coincide on this
    *     scenario since organic families never touch the flood bucket);
    *  2. COST ∝ DAMAGE — the same operator on the CLEAN capped root
    *     pays only the occupancy scan (drops nothing, rewrites
    *     nothing): the polluted-vs-clean repair-time ratio tracks the
    *     junk-pair mass, not the corpus.
    *
    * Printed: per-mode repair seconds, pairs before/after, report
    * counts (hot buckets, members, suspects, dropped). */
  def fpDecontamSoak(spark: SparkSession, baseDir: String, outDir: String,
      floodPerBatch: Option[Int], decontamCap: Int = 64): Unit = {
    import graft.streaming.FingerprintStream
    // build the two roots (uncapped polluted, capped clean) with the
    // flood scenario — the receipts this mode extends
    streamFloodSoak(spark, "fp", baseDir, outDir, floodPerBatch)
    val dir = s"$outDir/fpstreamflood"
    for (mode <- Seq("uncapped", "capped")) {
      val root = s"$dir/$mode"
      val before = FingerprintStream.livePairs(spark, root).count()
      val t0 = System.nanoTime()
      val rep = FingerprintStream.decontaminate(spark, root, decontamCap)
        .head()
      val repairSec = (System.nanoTime() - t0) / 1e9
      val after = FingerprintStream.livePairs(spark, root).count()
      println(f"""SOAK {"phase":"fpdecontam","mode":"$mode","decontam_cap":$decontamCap,"repair_sec":$repairSec%.2f,"pairs_before":$before,"pairs_after":$after,"hot_buckets":${rep.getAs[Long]("hot_buckets")},"members":${rep.getAs[Long]("n_members")},"suspects":${rep.getAs[Long]("n_suspects")},"dropped":${rep.getAs[Long]("n_dropped")}}""")
    }
    // exactness: the repaired uncapped root == the capped run's state
    val pu = FingerprintStream.livePairs(spark, s"$dir/uncapped")
      .select(col("id_a"), col("id_b"))
    val pc = FingerprintStream.livePairs(spark, s"$dir/capped")
      .select(col("id_a"), col("id_b"))
    val pDiff = setDiff(pu, pc)
    require(pDiff == 0L, s"repaired pairs != capped pairs: $pDiff")
    val lu = FingerprintStream.labels(spark, s"$dir/uncapped")
    val lc = FingerprintStream.labels(spark, s"$dir/capped")
    val lDiff = setDiff(lu, lc)
    require(lDiff == 0L, s"repaired labels != capped labels: $lDiff")
    println("""SOAK {"phase":"fpdecontam","parity":"repaired uncapped == capped (pairs+labels)"}""")
  }

  /** `coresidency` mode: all THREE runnable pipelines in ONE session
    * against one executor pool — the production shape none of the
    * per-tier flatness receipts covers. Phase 1 runs each tier SOLO
    * (fresh roots, `nBatches` constant-size batches, per-batch
    * timings); phase 2 re-initializes fresh roots and drives the same
    * batches CO-RESIDENT — each round launches the three tiers'
    * processBatch on concurrent threads over the shared SparkContext
    * and joins them (concurrent tieredFolds, shared shuffle/disk/GC).
    * Printed per tier: solo vs co-resident medians and their ratio,
    * plus co-resident first/last-third medians (cross-tier flatness),
    * gated by each tier's standing invariant (labels == CC) on the
    * co-resident roots. */
  def coResidencySoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String, nBatches: Int = 24, perBatch: Int = 48): Unit = {
    val dir = s"$outDir/coresidency"
    freshDir(spark, dir)
    // each tier's flood-scenario fixture with its organic traffic only;
    // the media tier is codec-dominated, so it carries half the rows
    val fixtures = Seq("text" -> "doc", "vector" -> "emb", "media" -> "fp")
      .map { case (name, tier) => name -> floodFixture(spark, tier, baseDir,
        dir, nBatches, if (tier == "fp") math.max(8, perBatch / 2)
          else perBatch, floodPerBatch = 0) }
    val tiers = fixtures.map(_._1)
    val fx = fixtures.toMap

    // ── phase 1: each tier SOLO ──
    val solo = tiers.map { name =>
      val root = s"$dir/solo_$name"
      fx(name).init(root)
      name -> (0 until nBatches).map(i =>
        timed(fx(name).runBatch(root, i, 0, 8)))
    }.toMap

    // ── phase 2: CO-RESIDENT — per round, all three tiers concurrently,
    // through the PRODUCTION entry points: each tier is a real
    // checkpointed StreamingQuery started with `schedulerPool =
    // Some("tier-<name>")` (the pipelines' own FAIR-pool parameter —
    // the knob a deployment turns, not a hand-rolled thread property).
    // Under default FIFO a cheap tier's jobs queue behind an expensive
    // tier's stages and its wall time stretches to the round's critical
    // path; FAIR pools (the session runs spark.scheduler.mode=FAIR)
    // give the tiers equal shares. The 5 ms trigger keeps per-round
    // drain latency negligible next to ~1 s batches. ──
    tiers.foreach(n => fx(n).init(s"$dir/co_$n"))
    val feeds = tiers.map(n => n -> fx(n).feed(s"$dir/co_$n",
      s"$dir/co_ckpt_$n", Some(s"tier-$n"))).toMap
    val coSecs = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      (0 until nBatches).foreach { i =>
        tiers.foreach(n => feeds(n)._2(i))
        val threads = tiers.map { name =>
          new Thread(() => {
            try {
              val sec = timed(feeds(name)._1.processAllAvailable())
              coSecs.synchronized { coSecs(name) = coSecs(name) :+ sec }
            } catch { case e: Throwable => failure.compareAndSet(null, e) }
          }, s"coresidency-$name")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        Option(failure.get()).foreach(throw _)
      }
    } finally feeds.values.foreach(_._1.stop())

    // ── invariants + verdicts ──
    for (name <- tiers) {
      val diff = fx(name).tier.labelDiff(spark, s"$dir/co_$name")
      require(diff == 0L, s"co-resident $name labels != CC: $diff")
      val co = coSecs(name)
      val third = co.length / 3
      val ratio = medSec(co) / medSec(solo(name))
      println(f"""SOAK {"phase":"coresidency","tier":"$name","batches":$nBatches,"solo_median_sec":${medSec(solo(name))}%.2f,"co_median_sec":${medSec(co)}%.2f,"co_over_solo":$ratio%.2f,"co_first_third_median":${medSec(co.take(third))}%.2f,"co_last_third_median":${medSec(co.takeRight(third))}%.2f,"co_p99_sec":${p99Sec(co)}%.2f}""")
    }
    fx.values.foreach(_.frames.foreach(graft.Snap.free(_)))
  }


  /** `bandhealth` mode: the blind-spot + threshold-calibration receipt
    * for [[graft.ops.Dedup.bandIndexHealthGauge]] (the ivfdrift soak's
    * protocol on the text tier). Three cases per scale, each probing one
    * signal's territory:
    *
    *  - `in_distribution`: arrivals from the same generator — BOTH
    *    signals must stay quiet (this calibrates the thresholds'
    *    headroom);
    *  - `template_flood`: every arrival carries one boilerplate text —
    *    batch concentration must fire at ~1e9 ppb while the collision
    *    signal shows its blind spot (a CLEAN standing index has nothing
    *    to collide with);
    *  - `hot_standing_bucket`: 5% of the BASE shares one template and
    *    only 10% of each arrival batch brushes it — batch concentration
    *    stays under threshold (its blind spot) while the collision
    *    signal must fire (hits ∝ hot-bucket occupancy × bands).
    *
    * Both rows print; the receipt is the gap between them. */
  def bandHealthSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    val nFix = Tables.documents(spark, baseDir).count()
    val template =
      lit("click here to unsubscribe from this newsletter and follow our updates")
    for ((tag, mult) <- Seq("true1x" -> 1, s"true${factor}x" -> factor)) {
      val nBase = nFix * mult
      val dir = s"$outDir/bandhealth_$tag"
      val docs = persisted(spark,
        trueGrowthDocuments(spark, baseDir, nBase + 2 * (nBase / 8)),
        s"$dir/documents.parquet")
      val base = docs.filter(col("doc_id") < nBase)
      val refB = docs.filter(col("doc_id") >= nBase &&
        col("doc_id") < nBase + nBase / 8)
      val newB = docs.filter(col("doc_id") >= nBase + nBase / 8)
      def row(name: String, baseDocs: => org.apache.spark.sql.DataFrame,
          nb: org.apache.spark.sql.DataFrame, suffix: String): Unit = {
        val t0 = System.nanoTime()
        val r = graft.ops.Dedup.bandIndexHealthGauge(spark, dir, baseDocs,
          refB, nb, suffix = suffix).head()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""SOAK {"phase":"bandhealth","case":"$name","scale":"$tag","n_base":$nBase,"n_ref":${r.getLong(0)},"n_new":${r.getLong(1)},"ref_top_share_ppb":${r.getLong(2)},"new_top_share_ppb":${r.getLong(3)},"ref_cand_ppb":${r.getLong(4)},"new_cand_ppb":${r.getLong(5)},"alert":${r.getBoolean(6)},"sec":$sec%.2f}""")
      }
      row("in_distribution", base, newB, "_base")
      row("template_flood", base, newB.withColumn("text", template), "_base")
      val hotBase = base.withColumn("text",
        when(col("doc_id") % 20 === 0, template).otherwise(col("text")))
      val brushNew = newB.withColumn("text",
        when(col("doc_id") % 10 === 0, template).otherwise(col("text")))
      row("hot_standing_bucket", hotBase, brushNew, "_hot")
    }
  }

  /** `retirerewrite` mode: the serve-cost A/B behind
    * [[graft.sources.ManagedTable.rewriteExpired]] — the verdict the
    * physical-rewrite path must earn: the serve-time anti-join
    * ([[graft.ops.Search.bm25TopKRetired]]) is a standing per-query tax
    * that GROWS with the expired set, while the rewritten index
    * ([[graft.ops.Search.bm25TopKRetiredRewritten]]) serves at the
    * never-expired baseline. Per scale: baseline indexed serve, the
    * anti-join serve at three expired fractions (1/11, 1/3, 1/2), the
    * one-time rewrite cost, and the post-rewrite serve — answers
    * asserted equal (rewritten rows == anti-join rows for the same
    * expired set) before any timing is trusted. Serve times are medians
    * of 5 runs after a warm-up. */
  def retireRewriteSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    val terms = Seq("spark", "vector", "merge")
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/retrw_$tag"
      val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
        s"$dir/documents.parquet")
      val baseSec = med5(
        graft.ops.Search.bm25TopKIndexed(spark, dir, docs, terms).collect())
      val antijoin = Seq(11L, 3L, 2L).map { m =>
        val e = docs.filter(col("doc_id") % m === 0).select(col("doc_id"))
        m -> med5(
          graft.ops.Search.bm25TopKRetired(spark, dir, docs, e, terms)
            .collect())
      }
      // the rewrite targets the largest expired set (1/2) — the regime
      // where the per-query anti-join tax is at its worst
      val expired = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"))
      val tRw = System.nanoTime()
      val rewrittenRows = graft.ops.Search.bm25TopKRetiredRewritten(
        spark, dir, docs, expired, terms).collect()
      val rewriteSec = (System.nanoTime() - tRw) / 1e9 // build + rewrite + serve
      val antijoinRows = graft.ops.Search.bm25TopKRetired(
        spark, dir, docs, expired, terms).collect()
      require(rewrittenRows.toSeq == antijoinRows.toSeq,
        "rewritten serve diverged from the anti-join serve")
      val servedSec = med5(graft.ops.Search.bm25TopKRetiredRewritten(
        spark, dir, docs, expired, terms).collect())
      val aj = antijoin.map { case (m, s) => f""""mod$m":$s%.3f""" }.mkString(",")
      println(f"""SOAK {"phase":"retirerewrite","scale":"$tag","docs":$n,"base_serve_sec":$baseSec%.3f,"antijoin_serve_sec":{$aj},"rewrite_once_sec":$rewriteSec%.2f,"rewritten_serve_sec":$servedSec%.3f}""")
    }
  }

  /** `mhrewrite` mode: [[retireRewriteSoak]]'s protocol on the MINHASH
    * tier — the serve-cost A/B behind
    * [[graft.ops.Dedup.minHashPairsIncrementalRewritten]]. The access
    * pattern differs from BM25's (per-ARRIVAL-BATCH incremental serving,
    * not per-query top-k), so the anti-join tax lands differently: every
    * batch anti-joins the expired set against BOTH the persisted band
    * index and the shard-pruned doc-text lookup before the delta joins
    * them. Per scale: the never-expired incremental serve, the anti-join
    * serve at three expired fractions (1/11, 1/3, 1/2), the one-time
    * rewrite (targeting the worst 1/2 set), and the post-rewrite serve —
    * pair sets asserted equal before any timing is trusted. */
  def mhRewriteSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/mhrw_$tag"
      val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
        s"$dir/documents.parquet")
      val base = docs.filter(col("doc_id") % 7 =!= 0)
      val delta = docs.filter(col("doc_id") % 7 === 0)
      val baseSec = med5(graft.ops.Dedup
        .minHashPairsIncremental(spark, dir, base, delta).collect())
      val antijoin = Seq(11L, 3L, 2L).map { m =>
        val e = base.filter(col("doc_id") % m === 0).select(col("doc_id"))
        m -> med5(graft.ops.Dedup.minHashPairsIncremental(spark, dir,
          base, delta, expiredIds = Some(e)).collect())
      }
      // the rewrite targets the largest expired set (1/2) — the per-batch
      // anti-join tax at its worst
      val expired = base.filter(col("doc_id") % 2 === 0).select(col("doc_id"))
      val tRw = System.nanoTime()
      val rewrittenRows = graft.ops.Dedup.minHashPairsIncrementalRewritten(
        spark, dir, base, delta, expiredIds = expired).collect()
      val rewriteSec = (System.nanoTime() - tRw) / 1e9 // build + rewrite + serve
      val antijoinRows = graft.ops.Dedup.minHashPairsIncremental(
        spark, dir, base, delta, expiredIds = Some(expired)).collect()
      require(rewrittenRows.toSeq == antijoinRows.toSeq,
        "rewritten minhash serve diverged from the anti-join serve")
      val servedSec = med5(graft.ops.Dedup.minHashPairsIncrementalRewritten(
        spark, dir, base, delta, expiredIds = expired).collect())
      val aj = antijoin.map { case (m, s) => f""""mod$m":$s%.3f""" }.mkString(",")
      println(f"""SOAK {"phase":"mhrewrite","scale":"$tag","docs":$n,"base_serve_sec":$baseSec%.3f,"antijoin_serve_sec":{$aj},"rewrite_once_sec":$rewriteSec%.2f,"rewritten_serve_sec":$servedSec%.3f}""")
    }
  }

  /** `containab` mode: the snapshot-vs-recompute A/B for
    * [[graft.ops.Dedup.shingleContainment]]'s corpus-token-sized distinct
    * shingle frame (the r11 verdict's open measurement): time the
    * DISK_ONLY snapshot against the drop-the-snapshot
    * ([[graft.ops.Sampling.importanceWeights]]) convention on TRUE-growth
    * corpora at 1× and `factor`×, answers asserted equal first. */
  def containAbSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/containab_$tag"
      val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
        s"$dir/documents.parquet")
      def run(name: String, snap: Boolean): Long = {
        val t0 = System.nanoTime()
        graft.ops.Dedup.shingleContainment(docs, 3, 50000000L, snapshot = snap)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = spark.read.parquet(s"$dir/$name.parquet").count()
        println(f"""SOAK {"phase":"containab","scale":"$tag","docs":$n,"variant":"$name","rows":$rows,"sec":$sec%.2f}""")
        rows
      }
      run("warm", snap = true) // JIT/page-cache warm pass, not compared
      val a = run("snapshot", snap = true)
      val b = run("recompute", snap = false)
      val (diff, _, _, _) = ParityCheck.diffCounts(
        spark.read.parquet(s"$dir/snapshot.parquet"),
        spark.read.parquet(s"$dir/recompute.parquet"))
      require(a == b && diff == 0L, s"containment variants disagree: $a vs $b, diff $diff")
    }
  }

  /** `retirecc` mode: the update-cost receipt for
    * [[graft.ops.Dedup.retireClusterDelta]] — the claim under test is
    * "retiring an expired set from the persisted labeling costs ∝ the
    * components it touches (plus one narrow pair-table scan), NOT ∝ the
    * corpus". The expired set is held CONSTANT across scales (doc_id %
    * 11 == 0 within the 1× id range); the rebuild twin is what a
    * pipeline without the retire path pays per retention pass:
    * re-converging connected components over ALL surviving persisted
    * pairs (no pair re-generation — removal adds no pairs — so the twin
    * is the CONSERVATIVE comparison; a pair-regenerating rebuild would
    * only be slower). Timing is evidence only because the label sets
    * are asserted equal first. A half-size expired set (% 22) times the
    * vary-delta direction.
    *
    * The pair tier here is MinHash (family-bounded components by the
    * TRUE-growth construction). Char-jaccard over the shared-vocabulary
    * generator was measured to produce a near-clique (1.1M pairs / 5k
    * docs, one giant component): an expired doc there touches THE WHOLE
    * CORPUS, and retire correctly degenerates to the rebuild — exactly
    * the documented contract boundary ("a purge touching most
    * components should take the full rebuild"), not the steady-state
    * regime this receipt measures. */
  def retireCcSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/retirecc_$tag"
      val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
        s"$dir/documents.parquet")
      // UNTIMED prep — in production these are the standing persisted
      // artifacts every label reader already depends on
      graft.ops.Dedup.minHashPairs(docs)
        .write.mode("overwrite").parquet(s"$dir/pairs.parquet")
      val pairs = spark.read.parquet(s"$dir/pairs.parquet")
      graft.ops.Dedup.nearDupClusters(docs, pairs)
        .write.mode("overwrite").parquet(s"$dir/labels.parquet")
      val labels = spark.read.parquet(s"$dir/labels.parquet")
      val isExpired = col("doc_id") % 11 === 0 && col("doc_id") < nBase
      val expired = docs.filter(isExpired).select(col("doc_id"))
      val nExp = expired.count()
      val t0 = System.nanoTime()
      val retired = graft.ops.Dedup.retireClusterDelta(labels, pairs, expired)
      retired.write.format("noop").mode("overwrite").save()
      val retireSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val survPairs = pairs.filter(
        !(col("id_a") % 11 === 0 && col("id_a") < nBase) &&
          !(col("id_b") % 11 === 0 && col("id_b") < nBase))
      val rebuilt = graft.ops.Dedup.nearDupClusters(
        docs.filter(!isExpired), survPairs)
      rebuilt.write.format("noop").mode("overwrite").save()
      val rebuildSec = (System.nanoTime() - t1) / 1e9
      // timing is only evidence if the answers agree
      val diff = setDiff(retired, rebuilt)
      println(f"""SOAK {"phase":"retirecc","scale":"$tag","docs":$n,"expired_docs":$nExp,"retire_sec":$retireSec%.2f,"rebuild_sec":$rebuildSec%.2f,"label_diff":$diff}""")
      require(diff == 0L, s"retired labels != rebuild at $tag: $diff")

      // vary-expired-hold-corpus: half the expired set against the same
      // corpus — cost should track the expired-touched components
      val isHalf = col("doc_id") % 22 === 0 && col("doc_id") < nBase
      val halfExp = docs.filter(isHalf).select(col("doc_id"))
      val nHalf = halfExp.count()
      val t2 = System.nanoTime()
      graft.ops.Dedup.retireClusterDelta(labels, pairs, halfExp)
        .write.format("noop").mode("overwrite").save()
      val halfSec = (System.nanoTime() - t2) / 1e9
      println(f"""SOAK {"phase":"retirecc_half","scale":"$tag","docs":$n,"expired_docs":$nHalf,"retire_sec":$halfSec%.2f}""")
    }
  }

  /** `truegrowthmedia` mode: the TRUE-growth receipts for the
    * image/audio/video near-dup tiers — generate media corpora whose
    * duplicate-FAMILY height is constant as n grows
    * ([[graft.ops.Multimodal.imagePngMediaTrueGrowth]] and siblings:
    * family = doc_id DIV 15, full-64-bit seeds), run each tier's full
    * codec→fingerprint→banded-pair pipeline at 1× and factor×, and
    * print SOAK lines with the PAIR counts — which must grow ~linearly
    * with the corpus, unlike the replication fixture where every class
    * grows with the corpus and pair output is quadratic by
    * construction. */
  def trueGrowthMediaSoak(spark: SparkSession, factor: Int, baseDir: String): Unit = {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal}
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val docs = mediaDocs(spark, 0L, n)
      val runs: Seq[(String, () => DataFrame)] = Seq(
        "q_phash_pairs" -> (() => Dedup.hammingPairs128(
          trueGrowthFps(spark, docs), maxHamming = 3)),
        "q_audio_fp_pairs" -> (() => Dedup.hammingPairs128(
          Multimodal.audioFingerprints(Multimodal.audioWavMediaTrueGrowth(spark, docs))
            .filter(_.decoded).toDF()
            .select(col("media_id").as("doc_id"),
              col("afp0").as("sh0"), col("afp1").as("sh1")),
          maxHamming = 3)),
        "q_video_fp_pairs" -> (() => Multimodal.videoFpPairs(
          Multimodal.framePHashes(
            Multimodal.videoNearDupMediaTrueGrowth(spark, docs),
            stride = 1, maxFrames = 8)
            .filter(_.decoded).toDF(),
          maxHamming = 3, minFrames = 3)))
      for ((name, q) <- runs) {
        val t0 = System.nanoTime()
        try {
          val pairs = q().count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""SOAK {"scale":"$tag","query":"$name","docs":$n,"pairs":$pairs,"sec":$sec%.2f}""")
        } catch {
          case e: Throwable =>
            println(s"""SOAK {"scale":"$tag","query":"$name","error":"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"}""")
        }
      }
    }
  }

  /** TRUE-growth embedding corpus for the incremental-SemDeDup receipt:
    * `n` synthetic vectors in the fixture's dimension, hash-deterministic
    * column arithmetic only ([[trueGrowthDocuments]]' contract). ~20% of
    * vectors are near-dup family members: the 10-block head's vector with
    * ONE member-specific component nudged — cosine with the head stays
    * high while heads are mutually near-orthogonal noise, so duplicate
    * families are height-constant at ANY n (the regime replication cannot
    * produce: replicated copies are exact duplicates of the original and
    * pair output grows quadratically by construction). */
  def trueGrowthEmbeddings(spark: SparkSession, baseDir: String, n: Long): DataFrame = {
    val dim = Tables.embeddings(spark, baseDir)
      .select(size(col("embedding")).as("d")).head().getInt(0)
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("is_dup", pmod(xxhash64(col("vec_id"), lit(3)), lit(10L)) < 2L)
      .withColumn("seed",
        when(col("is_dup"), col("vec_id") - pmod(col("vec_id"), lit(10L)))
          .otherwise(col("vec_id")))
      // component c of the head vector: uniform-ish in [-1, 1] off the
      // seed hash; a dup member adds 0.05 to its ONE member-chosen
      // component — small against the vector norm, so the family cosine
      // stays far above any cross-family noise
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), c =>
        ((pmod(xxhash64(col("seed"), c), lit(2000001L)) - 1000000L)
          .cast("double") / 1000000.0 +
          when(col("is_dup") && c === pmod(col("vec_id"), lit(dim.toLong)).cast("int"),
            0.05).otherwise(0.0)).cast("float")))
      .withColumn("label", pmod(col("vec_id"), lit(10L)).cast("int"))
      .select(col("vec_id"), col("embedding"), col("label"))
  }

  /** `embstream` mode: the runnable VECTOR pipeline
    * ([[graft.streaming.EmbeddingStream]]) under TRUE-growth load — the
    * vector twin of the `docstream` receipt, plus the two legs only this
    * pipeline has: the IN-LOOP drift gauge / epoch handoff and the
    * cluster-probe candidate economics across retire.
    *
    * Protocol per scale (×1 and ×factor standing corpus, CONSTANT
    * arrival stream): init standing artifacts (centroids + assignment +
    * pair table + labeling + gauge reference), stream the arrivals in
    * `nWaves` constant-size micro-batches through the checkpointed
    * query (median wave sec MUST stay flat — per-batch state reads are
    * candidate- or broadcast-pruned), then:
    *
    *  1. EPOCH leg — a SHIFTED batch (one-orthant mode collapse, the
    *     ivfdrift soak's case) arrives; its committed gauge row must
    *     FIRE. [[graft.streaming.EmbeddingStream.retrainEpoch]] rotates
    *     to epoch 1 (timed — the amortized maintenance pass, expected ∝
    *     corpus), and a SECOND shifted sample arrives under epoch 1: its
    *     gauge row must be QUIET (re-anchored) and its batch time flat
    *     vs the pre-retrain waves (serving cost does not inherit the
    *     retrain's).
    *  2. RETIRE leg — the oldest half of the base corpus plus every 5th
    *     arrival expires; labels must re-converge to CC over the
    *     surviving kept/pair state (label_diff 0 before timing is
    *     trusted), and the cluster-probe legs (last wave's assignment
    *     joined on cluster into the standing state — what the
    *     between-join pays per batch) must DROP ∝ the expired share.
    *
    * Wave batches run with `consolidateEvery = 4`, so the fold cost is
    * inside the medians (the directory-count slope itself is the
    * docstreamlong receipt — the machinery is the shared
    * [[graft.streaming.BatchState]]). */
  def embStreamSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String, nWaves: Int = 8): Unit = {
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    val threshold = 0.4
    val nBase = Tables.embeddings(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/embstream_$tag"
      val root = s"$dir/state"
      val fx = longFixture(spark, "emb", n, nBase, baseDir, dir, root,
        freshDir(spark, dir), nWaves, consolidateEvery = 4)
      val (emb, splitId) = (fx.corpus, fx.splitId)
      val base = emb.filter(col("vec_id") < splitId)
      val arrFrame = emb.filter(col("vec_id") >= fx.arrFrom)
        .select(col("vec_id"), col("embedding"))
      val waveSecs = streamWaves(fx, s"$dir/ckpt")
      // invariant before timing is trusted
      val diff = EmbeddingStream.labelDiff(spark, root)

      // ── epoch leg: shifted traffic fires → ACCUMULATE → retrain →
      // quiet + flat. A corpus-proportional retrain gives a new mode
      // ~ (mass/corpus)·k centroids, and the occupancy-collapse
      // threshold (0.40) needs several of them — so a single
      // constant-size shifted batch can NEVER re-anchor the share
      // signal at TRUE growth (measured: 25 shifted vectors in a
      // 3,200-vector corpus keep 100% top-share under epoch 1). The
      // protocol is therefore the gauge doc's own policy: the first
      // shifted batch FIRES the alert, shifted arrivals accumulate
      // until the mode holds ≈ corpus/2 mass (several centroids'
      // worth), and only then does the maintenance window retrain. ──
      // the shift moves HALF the dimensions into the positive orthant
      // (even dims: abs(x)+1.0) and leaves the rest — a real
      // distribution shift that RETAINS angular diversity, so a retrain
      // with enough mode mass can re-anchor BOTH signals. Calibrated by
      // one-off sweeps on the synthetic corpus (since removed): the
      // FULL-orthant shift (every dim) collapses the mode into one tight
      // angular cluster whose top-share stays ~0.43 under ANY retrain —
      // traffic that IS one semantic bucket keeps the occupancy alarm on
      // by design (the gauge working, not the handoff failing) — while
      // eps 0.5 on half the dims is too weak to fire epoch 0 at 1×
      // (drift 39 < 50 M ppb; the synthetic corpus' in-distribution fit
      // is only ~0.26, so shifts move it less than real embeddings').
      // eps 1.0 fires at both scales (1×: drift 56 M ppb; 10×: top share
      // 0.77) and re-anchors at both once the mode holds ≈ corpus/2 mass
      // (measured probe share 0.17 at 10× with 8 accumulated batches —
      // corpus/3 left only a 1–4% margin under the 0.40 threshold and
      // flapped with the slice choice)
      def shifted(src: DataFrame, idOffset: Long,
          eps: Double = 1.0d): DataFrame = src
        .select((col("vec_id") + lit(idOffset)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i % 2 === 0, (abs(x) + lit(eps)).cast("float"))
              .otherwise(x)).as("embedding"))
      val lastWaveDf = fx.wave(fx.waves - 1).localCheckpoint(true)
      val arrN = fx.arrivals.toLong
      val corpusN = splitId + arrN
      val copies = math.max(2L, corpusN / (2L * arrN)).toInt
      // fresh-id stride for synthetic batches: must exceed the batch
      // size or consecutive accumulation batches' id ranges overlap and
      // the same vec_id lands twice in standing state (which would
      // corrupt the labels == CC invariant at arrN > 1M)
      val stride = math.max(1000000L, 2L * arrN)
      val bFire = fx.waves.toLong + 4L // past any replay ids
      // accumulation batches: shifted half-orthant samples drawn from
      // DISTINCT source vectors (base slices cycled by copy) so the
      // accumulated mode has real diversity, each under fresh ids
      var shiftBatchSec = 0.0
      var lastShift: DataFrame = null
      (0 until copies).foreach { i =>
        // deterministic id-range base slices (a bare limit() picks
        // arbitrary rows per run — the re-anchor margin must not be
        // luck-of-the-scan); slice sizes fit: (copies−1)·arrN ≈
        // corpus/2 < base = 3/5·corpus
        val src =
          if (i == 0) arrFrame
          else base.filter(col("vec_id") >= (i - 1).toLong * arrN &&
            col("vec_id") < i.toLong * arrN)
        val sb = shifted(src, n + stride * (i + 1)).localCheckpoint(true)
        val t = System.nanoTime()
        EmbeddingStream.processBatch(sb, bFire + i, root, threshold)
        if (i == 0) shiftBatchSec = (System.nanoTime() - t) / 1e9
        lastShift = sb
      }
      val gFire = EmbeddingStream.gaugeRows(spark, root)
        .filter(col("batch_id") === bFire).head()
      require(gFire.getAs[Boolean]("retrain"),
        s"shifted batch must fire the in-loop gauge: $gFire")
      val tRt = System.nanoTime()
      EmbeddingStream.retrainEpoch(spark, root, 1, refDelta = lastShift)
      val retrainSec = (System.nanoTime() - tRt) / 1e9
      // the quiet probe: the full arrival set under a tiny eps jitter —
      // same half-orthant mode, byte-DISTINCT from every accumulated
      // batch (the exact tier would drop byte-identical re-sends), and
      // large enough that occupancy is measured, not sampled
      val shift2 = shifted(arrFrame, n + stride * (copies + 2L),
          eps = 1.0001d)
        .localCheckpoint(true)
      val tS2 = System.nanoTime()
      EmbeddingStream.processBatch(shift2, bFire + copies, root, threshold)
      val postEpochBatchSec = (System.nanoTime() - tS2) / 1e9
      val gQuiet = EmbeddingStream.gaugeRows(spark, root)
        .filter(col("batch_id") === bFire + copies).head()
      require(!gQuiet.getAs[Boolean]("retrain") &&
          gQuiet.getAs[Int]("epoch") == 1,
        s"re-anchored gauge must be quiet under epoch 1: $gQuiet")

      // ── retire leg: cluster-probe economics across expiry ──
      val keptRows = EmbeddingStream.keptIds(spark, root).count()
      val expired = emb.filter(col("vec_id") < splitId / 2 ||
          (col("vec_id") >= fx.arrFrom && col("vec_id") % 5 === 0))
        .select(col("vec_id"))
      val probe = Similarity.assignToCentroids(lastWaveDf,
          spark.read.parquet(s"$root/cents/epoch=1"))
        .select(col("cluster").cast("long").as("cluster"))
        .localCheckpoint(true)
      def probeLegs(): Long = probe.join(
        EmbeddingStream.assignedState(spark, root).select(col("cluster")),
        Seq("cluster")).count()
      val legsPre = probeLegs()
      val retireSec = timed(EmbeddingStream.retire(spark, root, expired))
      val legsPost = probeLegs()
      val diffAfter = EmbeddingStream.labelDiff(spark, root)
      val keptAfter = EmbeddingStream.keptIds(spark, root).count()
      println(f"""SOAK {"phase":"embstream","scale":"$tag",${fx.head},"arrivals":${fx.arrivals},"waves":${waveSecs.length},"init_sec":${fx.initSec}%.2f,"median_wave_sec":${medSec(waveSecs)}%.2f,"max_wave_sec":${waveSecs.max}%.2f,"label_diff":$diff,"shift_batch_sec":$shiftBatchSec%.2f,"retrain_sec":$retrainSec%.2f,"post_epoch_batch_sec":$postEpochBatchSec%.2f,"kept_rows":$keptRows,"retire_sec":$retireSec%.2f,"kept_after_retire":$keptAfter,"label_diff_after_retire":$diffAfter,"probe_legs_pre_retire":$legsPre,"probe_legs_post_retire":$legsPost}""")
      require(diff == 0L && diffAfter == 0L,
        s"labels != CC at $tag: $diff before retire, $diffAfter after")
    }
  }

  /** `incrserve` mode: TRUE-growth update-cost receipts for the two
    * arrival-time incremental SERVING paths — the claims under test are
    * "generating a delta's near-dup pairs against a persisted fingerprint
    * index costs ∝ delta (plus one narrow index scan), NOT ∝ corpus
    * decode" ([[graft.ops.Dedup.hammingPairs128Between]]) and "serving
    * BM25 over base-index ∪ delta-batch costs ∝ delta tokenize + pruned
    * posting shards, NOT ∝ corpus tokenize"
    * ([[graft.ops.Search.bm25TopKIncremental]]). Both receipts hold the
    * DELTA CONSTANT across scales (doc_id % 7 == 0 within the 1× id
    * range), materialize what a live pipeline persists anyway (the
    * fingerprint index; the base inverted index) UNTIMED, then time the
    * incremental path against the full-rebuild twin at each scale. The
    * timing is only evidence if the answers agree: pair sets are asserted
    * equal to the rebuild's delta-touching slice, BM25 rows bit-equal to
    * the scan path's. */
  def incrServeSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    import spark.implicits._
    import graft.ops.{Dedup, Search}
    val nBase = Tables.documents(spark, baseDir).count()
    for ((tag, n) <- Seq("true1x" -> nBase, s"true${factor}x" -> nBase * factor)) {
      val dir = s"$outDir/incrserve_$tag"

      // ── pHash pairs: constant image delta vs persisted fingerprint index ──
      val media = mediaDocs(spark, 0L, n)
      val isDelta = col("doc_id") % 7 === 0 && col("doc_id") < nBase
      def hashes(d: DataFrame): DataFrame = trueGrowthFps(spark, d)
      // UNTIMED prep — the live pipeline persists its fingerprint index
      hashes(media.filter(!isDelta))
        .write.mode("overwrite").parquet(s"$dir/phash_index.parquet")
      val idx = spark.read.parquet(s"$dir/phash_index.parquet")
      val nDelta = media.filter(isDelta).count()
      val t0 = System.nanoTime()
      val deltaH = hashes(media.filter(isDelta)).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingPairs128Between(deltaH, idx, 3)
        .unionByName(Dedup.hammingPairs128Unordered(deltaH, 3))
        .write.mode("overwrite").parquet(s"$dir/incr_pairs.parquet")
      val incrSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      Dedup.hammingPairs128Unordered(hashes(media), 3)
        .write.mode("overwrite").parquet(s"$dir/full_pairs.parquet")
      val rebuildSec = (System.nanoTime() - t1) / 1e9
      val incrPairs = spark.read.parquet(s"$dir/incr_pairs.parquet")
      val touching = spark.read.parquet(s"$dir/full_pairs.parquet")
        .filter((col("id_a") % 7 === 0 && col("id_a") < nBase) ||
          (col("id_b") % 7 === 0 && col("id_b") < nBase))
      val pairDiff = setDiff(incrPairs, touching)
      println(f"""SOAK {"phase":"incrpairs","scale":"$tag","docs":$n,"delta_docs":$nDelta,"incr_sec":$incrSec%.2f,"rebuild_sec":$rebuildSec%.2f,"pair_diff":$pairDiff}""")

      // ── BM25: constant doc delta over the persisted base inverted index ──
      val docs = persisted(spark, trueGrowthDocuments(spark, baseDir, n),
        s"$dir/documents.parquet")
      val isDeltaDoc = col("doc_id") % 7 === 0 && col("doc_id") < nBase
      // query terms: the corpus' 3 most frequent [a-z]+ tokens —
      // deterministic (the generator is hash arithmetic), nonempty
      // posting lists guaranteed, and safe as tf_<term> column names
      val terms = docs.select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok").rlike("^[a-z]+$"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(3)
        .collect().map(_.getString(0)).toSeq
      def incrServe(): DataFrame = Search.bm25TopKIncremental(spark, dir,
        docs.filter(!isDeltaDoc), docs.filter(isDeltaDoc), terms)
      // UNTIMED: first call pays the one-time persisted base-index build
      incrServe().write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      incrServe().write.format("noop").mode("overwrite").save()
      val incrBmSec = (System.nanoTime() - t2) / 1e9
      // the maintenance twin: REBUILD the full inverted index (postings +
      // doclen over base ∪ delta, written) and serve off it — what a
      // pipeline without the union path pays per delta batch
      val t3 = System.nanoTime()
      Search.bm25TopKIndexed(spark, dir, docs, terms)
        .write.format("noop").mode("overwrite").save()
      val rebuildBmSec = (System.nanoTime() - t3) / 1e9
      // context: the index-free scan path (tokenizes the corpus per query)
      val t4 = System.nanoTime()
      Search.bm25TopK(docs, terms).write.format("noop").mode("overwrite").save()
      val scanBmSec = (System.nanoTime() - t4) / 1e9
      val served = incrServe()
      val scanned = Search.bm25TopK(docs, terms)
      val bmDiff = setDiff(served, scanned)
      println(f"""SOAK {"phase":"incrbm25","scale":"$tag","docs":$n,"delta_docs":$nDelta,"terms":"${terms.mkString(" ")}","incr_sec":$incrBmSec%.2f,"rebuild_sec":$rebuildBmSec%.2f,"scan_sec":$scanBmSec%.2f,"row_diff":$bmDiff}""")

      // ── DSIR importance weights: a constant arrival batch scores
      // against the persisted ≤B·|sources|-row count table (merged with
      // its own delta counts — one delta-only tokenize); the rebuild
      // twin is the full recompute a pipeline without the maintained
      // counts pays to score the same arrivals (two corpus tokenize
      // passes). Timing is evidence only because the rows are asserted
      // bit-equal to the full recompute's delta slice first. ──
      import graft.ops.Sampling
      // UNTIMED: the standing corpus's persisted DSIR count table
      Sampling.importanceCountsPersisted(spark, dir, docs.filter(!isDeltaDoc))
      val t9 = System.nanoTime()
      Sampling.importanceWeightsIncremental(spark, dir,
        docs.filter(!isDeltaDoc), docs.filter(isDeltaDoc))
        .write.mode("overwrite").parquet(s"$dir/incr_dsir.parquet")
      val incrDsirSec = (System.nanoTime() - t9) / 1e9
      val t10 = System.nanoTime()
      Sampling.importanceWeights(docs)
        .write.format("noop").mode("overwrite").save()
      val rebuildDsirSec = (System.nanoTime() - t10) / 1e9
      val incrDsir = spark.read.parquet(s"$dir/incr_dsir.parquet")
      val fullDsir = Sampling.importanceWeights(docs)
        .filter(isDeltaDoc)
      val dsirDiff = setDiff(incrDsir, fullDsir)
      println(f"""SOAK {"phase":"incrdsir","scale":"$tag","docs":$n,"delta_docs":$nDelta,"rows":${incrDsir.count()},"incr_sec":$incrDsirSec%.2f,"rebuild_sec":$rebuildDsirSec%.2f,"row_diff":$dsirDiff}""")

      // ── text MinHash: constant doc delta vs the persisted base
      // band-signature index; rebuild twin = the full minHashPairs
      // self-join (re-shingles and re-signs the whole corpus) ──
      // UNTIMED: the standing corpus's band index AND doc-text lookup —
      // built through the same entry points the query path reads, so the
      // timed call can never silently rebuild differently-named tables
      Dedup.minHashBandIndexPersisted(spark, dir, docs.filter(!isDeltaDoc))
      Dedup.minHashDocTextPersisted(spark, dir, docs.filter(!isDeltaDoc))
      val t7 = System.nanoTime()
      Dedup.minHashPairsIncremental(spark, dir, docs.filter(!isDeltaDoc),
        docs.filter(isDeltaDoc))
        .write.mode("overwrite").parquet(s"$dir/incr_mh.parquet")
      val incrMhSec = (System.nanoTime() - t7) / 1e9
      val t8 = System.nanoTime()
      Dedup.minHashPairs(docs)
        .write.mode("overwrite").parquet(s"$dir/full_mh.parquet")
      val rebuildMhSec = (System.nanoTime() - t8) / 1e9
      val incrMh = spark.read.parquet(s"$dir/incr_mh.parquet")
      val touchingMh = spark.read.parquet(s"$dir/full_mh.parquet")
        .filter((col("id_a") % 7 === 0 && col("id_a") < nBase) ||
          (col("id_b") % 7 === 0 && col("id_b") < nBase))
      val mhDiff = setDiff(incrMh, touchingMh)
      println(f"""SOAK {"phase":"incrminhash","scale":"$tag","docs":$n,"delta_docs":$nDelta,"pairs":${incrMh.count()},"incr_sec":$incrMhSec%.2f,"rebuild_sec":$rebuildMhSec%.2f,"pair_diff":$mhDiff}""")

      // ── SemDeDup: constant vector delta over the persisted base-trained
      // IVF assignment. nCentroids scales WITH the corpus (the documented
      // 100 TB contract — n/k roughly constant, so cluster occupancy and
      // the delta's per-vector pair work stay bounded); the rebuild twin
      // re-trains and re-pairs everything at Σ|cluster|² ──
      import graft.ops.Similarity
      val k = (32L * (n / nBase)).toInt
      val vecs = persisted(spark, trueGrowthEmbeddings(spark, baseDir, n),
        s"$dir/embeddings.parquet")
      val isDeltaVec = col("vec_id") % 7 === 0 && col("vec_id") < nBase
      val baseVecs = vecs.filter(!isDeltaVec)
      val deltaVecs = vecs.filter(isDeltaVec)
      // UNTIMED: the base-trained index is the standing artifact
      Similarity.ivfIndexPersisted(spark, dir, baseVecs,
        nCentroids = k, suffix = "_base")
      val t5 = System.nanoTime()
      Similarity.semanticDedupPairsIncremental(spark, dir, baseVecs,
        deltaVecs, 0.5, nCentroids = k)
        .write.mode("overwrite").parquet(s"$dir/incr_sem.parquet")
      val incrSemSec = (System.nanoTime() - t5) / 1e9
      val t6 = System.nanoTime()
      Similarity.semanticDedupPairs(vecs, 0.5, nCentroids = k)
        .write.format("noop").mode("overwrite").save()
      val rebuildSemSec = (System.nanoTime() - t6) / 1e9
      // equality vs the UNDECOMPOSED base-trained shape (the spec's
      // reference): one full assignment against the persisted centroids,
      // one cluster self-join, delta-touching rows only — untimed
      val (cents, _) = Similarity.ivfIndexPersisted(spark, dir, baseVecs,
        nCentroids = k, suffix = "_base")
      val assignedAll = Similarity.assignToCentroids(vecs, cents)
      val aa = assignedAll.select(col("cluster"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nsq").as("nsq_a"))
      val bb = assignedAll.select(col("cluster"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nsq").as("nsq_b"))
      import graft.functions.VectorFunctions.{dot, cosinePrenormed}
      val expected = aa.join(bb, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine", cosinePrenormed(
          dot(col("emb_a"), col("emb_b")), col("nsq_a"), col("nsq_b")))
        .filter(col("cosine") >= 0.5)
        .filter((col("id_a") % 7 === 0 && col("id_a") < nBase) ||
          (col("id_b") % 7 === 0 && col("id_b") < nBase))
        .select(col("id_a"), col("id_b"),
          col("cluster").cast("long").as("cluster"), col("cosine"))
      val incrSem = spark.read.parquet(s"$dir/incr_sem.parquet")
      val semDiff = setDiff(incrSem, expected)
      val semPairs = incrSem.count()
      println(f"""SOAK {"phase":"incrsemdedup","scale":"$tag","docs":$n,"delta_docs":$nDelta,"centroids":$k,"pairs":$semPairs,"incr_sec":$incrSemSec%.2f,"rebuild_sec":$rebuildSemSec%.2f,"pair_diff":$semDiff}""")
    }
  }

  /** `ivfdrift` mode: does [[graft.ops.Similarity.ivfDriftGauge]] actually
    * separate signal from noise? TRUE-growth embeddings at `factor`× the
    * fixture count train a base index; then the gauge runs over two
    * batch pairs against those FIXED centroids:
    *
    *  - IN-DISTRIBUTION: two fresh batches from the SAME generator
    *    (ids past the base range) — drift must sit near zero, retrain
    *    false (the gauge's held-out-vs-held-out design cancels Lloyd's
    *    overfit gap, so nothing fires on mere sampling noise);
    *  - SHIFTED: the same new batch pushed into the positive orthant
    *    (|x| + 0.5 per component — a gross distribution change) — drift
    *    must cross the 0.05-cosine default threshold and fire retrain.
    *
    * Both rows print; the receipt is the gap between them. */
  def ivfDriftSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String): Unit = {
    import graft.ops.Similarity
    val nBase = Tables.embeddings(spark, baseDir).count() * factor
    val dir = s"$outDir/ivfdrift"
    // base corpus + two held-out arrival batches, all one generator
    val vecs = persisted(spark,
      trueGrowthEmbeddings(spark, baseDir, nBase + 2 * (nBase / 8)),
      s"$dir/embeddings.parquet")
    val base = vecs.filter(col("vec_id") < nBase)
    val refBatch = vecs.filter(col("vec_id") >= nBase &&
      col("vec_id") < nBase + nBase / 8)
    val newBatch = vecs.filter(col("vec_id") >= nBase + nBase / 8)
    val k = (32 * factor).max(32)
    Similarity.ivfIndexPersisted(spark, dir, base, nCentroids = k,
      suffix = "_base") // untimed standing artifact
    def row(name: String, nb: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val r = Similarity.ivfDriftGauge(spark, dir, base, refBatch, nb,
        nCentroids = k).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""SOAK {"phase":"ivfdrift","case":"$name","n_base":$nBase,"centroids":$k,"n_ref":${r.getLong(0)},"n_new":${r.getLong(1)},"ref_fit_ppb":${r.getLong(2)},"new_fit_ppb":${r.getLong(3)},"drift_ppb":${r.getLong(4)},"ref_top_share_ppb":${r.getLong(5)},"new_top_share_ppb":${r.getLong(6)},"retrain":${r.getBoolean(7)},"sec":$sec%.2f}""")
    }
    row("in_distribution", newBatch)
    // a stuck/collapsed upstream encoder: every vector pushed into one
    // orthant — mean fit barely moves (the fit gauge's blind spot), the
    // occupancy signal must fire
    row("mode_collapse", newBatch.withColumn("embedding",
      transform(col("embedding"), x => (abs(x) + lit(0.5d)).cast("float"))))
    // a degenerate encoder emitting axis-spike vectors: occupancy stays
    // spread, the FIT signal must fire
    row("axis_spikes", newBatch.withColumn("embedding",
      transform(col("embedding"), (x, i) =>
        when(pmod(col("vec_id"), lit(64L)).cast("int") === i, lit(1.0f))
          .otherwise(lit(0.0f)))))
  }

  /** A soak mode's runner: (session, factor, base dir, out dir). */
  private type Mode = (SparkSession, Int, String, String) => Unit

  private def envInt(name: String): Option[Int] = sys.env.get(name).map(_.toInt)

  /** SPARK_GRAFT_SOAK_QUERIES=q_a,q_b narrows a query sweep to specific
    * rows — re-measuring one family's scale curve without paying the
    * full sweep. */
  private def soakQueries(default: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_SOAK_QUERIES")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(default)

  /** Every mode [[main]] runs, by name. The long modes' batch counts and
    * SPARK_GRAFT_CONSOLIDATE_EVERY (0 runs the COUNTERFACTUAL — no
    * consolidation, one directory per batch forever — so the slope the
    * fold prevents is measured, not argued), and the flood modes'
    * SPARK_GRAFT_FLOOD_PER_BATCH, are read here. */
  private val modes: Map[String, Mode] = Map[String, Mode](
    ("all", headlineSoak(_, _, _, _, soakQueries(headline))),
    ("linear", headlineSoak(_, _, _, _, soakQueries(linearHeadline))),
    ("streaming", streamingSoak),
    ("truegrowth", trueGrowthSoak(_, _, _, _,
      soakQueries(Seq("q_dedup_minhash", "q_dedup_clusters")))),
    ("truegrowthmedia", (s, f, b, _) => trueGrowthMediaSoak(s, f, b)),
    ("lshttl", (s, f, b, _) => lshTtlSoak(s, f, b)),
    ("incrcc", incrCcSoak),
    ("incrserve", incrServeSoak),
    ("ivfdrift", ivfDriftSoak),
    ("retirecc", retireCcSoak),
    ("containab", containAbSoak),
    ("bandhealth", bandHealthSoak),
    ("retirerewrite", retireRewriteSoak),
    ("mhrewrite", mhRewriteSoak),
    ("docstream", docStreamSoak(_, _, _, _)),
    ("embstream", embStreamSoak(_, _, _, _)),
    ("capflood", capFloodSoak(_, _, _, _)),
    ("semcapflood", semCapFloodSoak(_, _, _, _)),
    ("coresidency", coResidencySoak(_, _, _, _)),
    ("fpdecontam", (s, _, b, o) =>
      fpDecontamSoak(s, b, o, envInt("SPARK_GRAFT_FLOOD_PER_BATCH")))
  ) ++ Seq("doc", "fp", "emb").flatMap(tier => Seq[(String, Mode)](
    (s"${tier}streamlong", streamLongSoak(_, tier, _, _, _,
      nBatches = if (tier == "fp") 60 else 120,
      consolidateEvery = envInt("SPARK_GRAFT_CONSOLIDATE_EVERY").getOrElse(16))),
    (s"${tier}streamflood", (s, _, b, o) => streamFloodSoak(s, tier, b, o,
      envInt("SPARK_GRAFT_FLOOD_PER_BATCH")))))

  /** The runner of soak mode `name`, or the message naming every known
    * mode. */
  private[graft] def modeRunner(name: String): Either[String, Mode] =
    modes.get(name).toRight(s"unknown soak mode '$name'; known modes: " +
      modes.keys.toSeq.sorted.mkString(", "))

  /** The 1×/N× headline sweep: replicate the fixtures `factor`× into
    * `outDir`, then time `queries` on the base and the replicated set. */
  def headlineSoak(spark: SparkSession, factor: Int, baseDir: String,
      outDir: String, queries: Seq[String]): Unit = {
    for (t <- Seq("region", "nation")) // dims: single copy
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    for ((t, keys) <- keyCols) {
      val base = spark.read.parquet(s"$baseDir/$t.parquet") // events ts stays raw (any shape)
      replicate(base, keys, factor)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    def run(tag: String, dir: String): Unit =
      for (name <- queries) {
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""SOAK {"scale":"$tag","query":"$name","sec":$sec%.2f}""")
        } catch {
          case e: Throwable =>
            println(s"""SOAK {"scale":"$tag","query":"$name","error":"${e.getClass.getSimpleName}"}""")
        }
      }

    run("1x", baseDir)   // warm + baseline
    run(s"${factor}x", outDir)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val baseDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).getOrElse("target/scale")
    // an unknown mode fails before any Spark work instead of falling
    // through to a sweep nobody asked for
    val run = modeRunner(args.lift(3).getOrElse("all")) match {
      case Right(r) => r
      case Left(msg) => System.err.println(msg); sys.exit(1)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${512 * 1024}")
      // FAIR so the coresidency soak's per-tier pools share the
      // executor pool; every other mode is single-threaded (one job at
      // a time), where FAIR == FIFO
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    run(spark, factor, baseDir, outDir)
    spark.stop()
  }
}
