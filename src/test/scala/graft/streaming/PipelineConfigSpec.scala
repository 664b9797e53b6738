package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.{Dedup, Multimodal}

/** Deployment-configuration surface of the three runnable pipelines:
  * the `schedulerPool` parameter must land every batch job in the named
  * FAIR pool (thread-local `spark.scheduler.pool` on the foreachBatch
  * execution thread — the co-residency receipt's production shape), and
  * the alert/gauge thresholds must be tunable per deployment without
  * recompiling (the oracle-pinned constants remain the defaults, so
  * every gated row is unchanged). */
class PipelineConfigSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("start(schedulerPool): batch jobs carry the pool property; " +
      "the caller thread is untouched") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pools = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = js.properties.getProperty("spark.scheduler.pool")
        if (p != null) pools.add(p)
      }
    }
    val base = "target/pool_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(sc.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // one row per tier: its pool, and a run that initializes a fresh root,
    // starts the tier's query in that pool and feeds it one batch
    val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val emb = graft.Tables.embeddings(spark, SparkTestBase.sfDir)
    val splitId =
      (emb.agg(max(col("vec_id"))).head().getLong(0) + 1L) * 3L / 5L
    val tiers: Seq[(String, () => Unit)] = Seq(
      "tier_text" -> { () =>
        val hist = (1000L until 1004L).map(i => (i, s"history text $i"))
          .toDF("doc_id", "text")
        val histPairs = graft.ops.Dedup.minHashPairs(hist)
        DocumentStream.init(spark, s"$base/text/state", hist, histPairs,
          graft.ops.Dedup.nearDupClusters(hist, histPairs))
        val mem = MemoryStream[DocumentStream.DocTsIn]
        val q = DocumentStream.start(mem.toDF(), s"$base/text/state",
          s"$base/text/ckpt", horizonMs = 3600000L,
          schedulerPool = Some("tier_text"))
        try {
          mem.addData((0L until 8L).map(i =>
            DocumentStream.DocTsIn(i, t0Ms + i * 1000L, s"text body $i")))
          q.processAllAvailable()
        } finally q.stop()
      },
      "tier_vector" -> { () =>
        EmbeddingStream.initFromCorpus(spark, s"$base/vector/state",
          emb.filter(col("vec_id") < splitId),
          refDelta = emb.filter(col("vec_id") >= splitId))
        val mem = MemoryStream[EmbeddingStream.VecIn]
        val q = EmbeddingStream.start(mem.toDF(), s"$base/vector/state",
          s"$base/vector/ckpt", schedulerPool = Some("tier_vector"))
        try {
          mem.addData(emb.filter(col("vec_id") >= splitId)
            .select(col("vec_id"), col("embedding"))
            .as[EmbeddingStream.VecIn].collect().take(8).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      },
      "tier_media" -> { () =>
        val media = Multimodal.imagePngMedia(spark,
            (0L until 6L).map(i => (i * 3 + 1, s"src${i % 4}"))
              .toDF("doc_id", "source"))
          .collect().sortBy(_.media_id).toSeq
        val (baseM, arrM) = media.splitAt(4)
        val baseFps = Multimodal.pHashes(spark.createDataset(baseM))
          .filter(_.decoded).toDF()
          .select(col("media_id").as("doc_id"),
            col("ph0").as("sh0"), col("ph1").as("sh1"))
        val basePairs = Dedup.hammingPairs128(baseFps, 3)
        FingerprintStream.init(spark, s"$base/media/state", baseFps,
          basePairs, Dedup.nearDupClusters(baseFps.select(col("doc_id")),
            basePairs.select(col("id_a"), col("id_b"))))
        val mem = MemoryStream[Multimodal.MediaRow]
        val q = FingerprintStream.start(mem.toDF(), s"$base/media/state",
          s"$base/media/ckpt", schedulerPool = Some("tier_media"))
        try { mem.addData(arrM); q.processAllAvailable() } finally q.stop()
      })
    sc.addSparkListener(listener)
    try {
      for ((pool, run) <- tiers) {
        run()
        // listener delivery is asynchronous — poll briefly
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!pools.contains(pool) && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(pools.contains(pool),
          s"no batch job carried the pool property $pool; saw: $pools")
      }
      assert(sc.getLocalProperty("spark.scheduler.pool") == null,
        "pool property leaked onto the caller thread")
    } finally sc.removeSparkListener(listener)
  }

  test("labelDiff: 0 on a healthy root, non-zero once one row of the " +
      "latest label snapshot is rewritten") {
    import spark.implicits._
    val root = "target/label_diff_spec/state"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val hist = (1000L until 1004L).map(i => (i, s"history text $i"))
      .toDF("doc_id", "text")
    val histPairs = Dedup.minHashPairs(hist)
    DocumentStream.init(spark, root, hist, histPairs,
      Dedup.nearDupClusters(hist, histPairs))
    DocumentStream.processBatch((0L until 6L).map(i =>
        DocumentStream.DocTsIn(i, t0Ms + i * 1000L,
          s"shared near duplicate body text ${i % 2}")).toDF(),
      0L, root, horizonMs = 3600000L)
    assert(DocumentStream.labelDiff(spark, root) === 0L)
    val latest = BatchState.batchDirs(spark, root, "labels", Long.MaxValue)
      .maxBy(_.split("batch=").last.toLong)
    val rows = spark.read.parquet(latest).as[(Long, Long)].collect()
      .sortBy(_._1)
    rows.updated(0, (rows(0)._1, -1L)).toSeq.toDF("doc_id", "cluster_id")
      .write.mode("overwrite").parquet(latest)
    assert(DocumentStream.labelDiff(spark, root) > 0L)
  }

  test("alert thresholds are per-deployment parameters; defaults stay " +
      "the oracle-pinned calibration") {
    import spark.implicits._
    val base = "target/threshold_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    // ── media: an organic wave alerts at alertSharePpb = 0 but not at
    // the default (the same batch, two deployments) ──
    val ids = (0L until 10L).map(i => i * 3 + 1)
    val media = Multimodal.imagePngMedia(spark,
        ids.map(id => (id, s"src${id % 4}")).toDF("doc_id", "source"))
      .collect().sortBy(_.media_id).toSeq
    val (baseM, arrM) = media.splitAt(6)
    def fpOf(ms: Seq[Multimodal.MediaRow]) =
      Multimodal.pHashes(spark.createDataset(ms)).filter(_.decoded).toDF()
        .select(col("media_id").as("doc_id"),
          col("ph0").as("sh0"), col("ph1").as("sh1"))
    val baseFps = fpOf(baseM).localCheckpoint(true)
    val basePairs = Dedup.hammingPairs128(baseFps, 3).localCheckpoint(true)
    val baseLabels = Dedup.nearDupClusters(baseFps.select(col("doc_id")),
      basePairs.select(col("id_a"), col("id_b")))
    for ((mode, sharePpb) <- Seq(
        "default" -> FingerprintStream.AlertSharePpb, "strict" -> 0L)) {
      val root = s"$base/fp_$mode"
      FingerprintStream.init(spark, root, baseFps, basePairs, baseLabels)
      FingerprintStream.processBatch(spark.createDataset(arrM).toDF(),
        0L, root, alertSharePpb = sharePpb)
      val alerted = FingerprintStream.gaugeRows(spark, root)
        .filter(col("alert")).count()
      if (mode == "strict")
        assert(alerted == 1L, "share threshold 0 must alert")
      else assert(alerted == 0L, "organic wave alerted at the default")
    }

    // ── text: candidate-rate threshold 0 alerts on any pairing batch ──
    val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // all-distinct organics: top-share 1/8 and zero candidates sit
    // under every default threshold; the strict deployment (candPpb
    // = −1) alerts on ANY batch — 0 > −1 — without needing real pairs
    val docs = (0L until 8L).map(i => DocumentStream.DocTsIn(
      100L + i, t0Ms + i * 60000L,
      s"distinct organic text number $i token$i marker$i"))
    val histT = (1000L until 1004L).map(i => (i, s"history text $i"))
      .toDF("doc_id", "text")
    val histPairsT = graft.ops.Dedup.minHashPairs(histT)
    val histLabelsT = graft.ops.Dedup.nearDupClusters(histT, histPairsT)
    for ((mode, candPpb) <- Seq(
        "default" -> DocumentStream.AlertCandPpb, "strict" -> -1L)) {
      val root = s"$base/doc_$mode"
      DocumentStream.init(spark, root, histT, histPairsT, histLabelsT)
      DocumentStream.processBatch(docs.toDF(), 0L, root,
        horizonMs = 3600000L, alertCandPpb = candPpb)
      val alerted = DocumentStream.gaugeRows(spark, root)
        .filter(col("alert")).count()
      if (mode == "strict")
        assert(alerted == 1L, "cand threshold -1 must alert")
      else assert(alerted == 0L, "organic batch alerted at the default")
    }

    // ── vector: collapse threshold -1 flags retrain on any batch ──
    val emb = graft.Tables.embeddings(spark, SparkTestBase.sfDir)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val splitId = (maxId + 1L) * 3L / 5L
    for ((mode, collapsePpb) <- Seq(
        "default" -> EmbeddingStream.CollapseSharePpb, "strict" -> -1L)) {
      val root = s"$base/emb_$mode"
      EmbeddingStream.initFromCorpus(spark, root,
        emb.filter(col("vec_id") < splitId),
        refDelta = emb.filter(col("vec_id") >= splitId))
      EmbeddingStream.processBatch(
        emb.filter(col("vec_id") >= splitId)
          .select(col("vec_id"), col("embedding")), 0L, root,
        collapseSharePpb = collapsePpb)
      val flagged = EmbeddingStream.gaugeRows(spark, root)
        .filter(col("retrain")).count()
      if (mode == "strict")
        assert(flagged == 1L, "collapse threshold -1 must flag retrain")
      else assert(flagged == 0L,
        "in-distribution batch flagged retrain at the default")
    }
    Seq(baseFps, basePairs).foreach(graft.Snap.free(_))
  }
}
