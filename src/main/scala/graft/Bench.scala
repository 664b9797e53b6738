package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}.
  *
  * Each query is fully materialized through the noop datasource (computes
  * every column, discards rows) rather than `count()`, which would let the
  * optimizer prune the projections and under-report the real work.
  *
  * Timing protocol: every query runs SPARK_GRAFT_RUNS times (default 5) in
  * interleaved rounds (q1..qN, q1..qN, ...) so a transient machine-load
  * spike inflates at most one round of each query instead of all samples
  * of one query; the headline per-query number is the MEDIAN, with
  * min/median/max spread emitted alongside. Two recorded rounds of
  * single-shot timings came out 2-6x inflated by background load — a
  * single sample cannot adjudicate a 2x acceptance criterion. On top,
  * the rounds split by parity into TWO disjoint half-samples whose
  * medians ship as `runs2.total_a`/`total_b` (and per-query
  * `med_a`/`med_b` in bench_full.json): the box drifts ±10-30%/query
  * between runs, so a round-over-round delta is claimed only when both
  * halves replicate its direction.
  *
  * Layout-producing queries ([[SparkEntry.layoutQueries]]) are run once
  * UNTIMED first: their initial run pays a one-time bucketed/partitioned/
  * index write (memoized per JVM), which is an ingest-side cost, not query
  * time — with 3 samples that write landed next to the median (r5:
  * q21_bkt median 3.95 s vs min 1.19 s).
  *
  * Each sample also counts the Janino compiles it ran (the change in
  * `CodegenMetrics.METRIC_COMPILATION_TIME`'s count around it); the median
  * per query ships as `compiles` in bench_full.json, so code generation
  * shows up as its own cost instead of hiding in the wall time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // The bench fixtures are single ~1-10 MB parquet files; the default
      // 128 MB split size would scan each table in ONE task and leave the
      // other 31 cores idle. 2 MB splits restore scan parallelism at this
      // data size (a real deployment at 100 TB keeps the default).
      .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${512 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, file listing, JIT) on the smallest SF so
    // the first measured query isn't charged one-time JVM startup cost.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // SPARK_GRAFT_BENCH_EXCLUDE=q_a,q_b drops named rows from BOTH the
    // warm and timed loops — the A/B lever for JVM-state bisects (e.g.
    // "does skipping the pipeline-scenario builds move an unrelated
    // family's minima?"); the emitted nqueries records the smaller set.
    // CAVEAT (the lever's semantics, not a bug): scenario builds are
    // memoized per JVM under a SHARED root (ManagedTable.once), so an
    // exclusion only REMOVES a build if it covers EVERY row sharing that
    // root — excluding q_fpstream_gauge alone while q_fpstream_alerts
    // still runs merely RELOCATES the build into the first timed sample
    // of the surviving row (visible as an inflated max there). For the
    // A/B to subtract a build, exclude the whole family: the per-root
    // groups are the fpstream rows (the fpstream_gate root), the
    // fpstream_capped rows, the docstream rows, and the
    // embstream/knn_ivf_epoch rows.
    val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the timed loop to the named
    // rows — the per-query isolation lever for optimization work (unset →
    // the full suite, which is what the driver always runs). Warm-loop
    // layout builders still run for the selected rows' roots.
    val onlySet = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Pay every one-time layout/index write BEFORE timing starts (the
    // builders memoize per JVM, so the timed rounds read the layouts).
    for (name <- SparkEntry.layoutQueries
         if !excluded.contains(name) && onlySet.forall(_.contains(name)))
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warm $name failed: ${e.toString.linesIterator.next()}") }
    // Parity/harness rows stay in the correctness gate but out of the
    // timing loop (their wall time is MemoryStream replay, not a query).
    val names = (SparkEntry.queries.keySet -- SparkEntry.verificationOnly
      -- excluded).toSeq.sorted
      .filter(n => onlySet.forall(_.contains(n)))
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val compiles = scala.collection.mutable.Map[String, Vector[Long]]()
      .withDefaultValue(Vector.empty)
    val failures = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def compileCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (_ <- 1 to runs; name <- names) {
      val fn = SparkEntry.queries(name)
      val c0 = compileCount
      val t0 = System.nanoTime()
      // A failed run's time-to-failure is NOT a sample — blending it into
      // the median would make the JSON look healthy while hiding the error
      // (only stderr would know), corrupting the acceptance comparison.
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
        compiles(name) = compiles(name) :+ (compileCount - c0)
      } catch {
        case e: Throwable =>
          failures(name) += 1
          // first line only: analysis errors embed multi-line plan trees,
          // and anything beyond one line risks polluting the captured tail
          System.err.println(s"[bench] $name failed: ${e.toString.linesIterator.next()}")
      }
    }
    val ok = names.filter(samples(_).nonEmpty)
    val med = ok.map(n => n -> median(samples(n)))
    val errs = names.filter(failures(_) > 0)
      .map(n => "\"" + n + "\":" + failures(n)).mkString("{", ",", "}")
    val total = med.map(_._2).sum
    // TWO-MEDIAN protocol: this box drifts ±10-30% per query between
    // runs, so a single median cannot adjudicate a round-over-round
    // delta. The interleaved rounds split by parity into two disjoint
    // half-samples (rounds 1,3,5 vs 2,4 — separated in time, so a load
    // spike lands in one half), each with its own median; a delta is a
    // CLAIM only when both halves replicate its direction. Totals for
    // both halves ship in every bench JSON.
    val totalA = ok.map(n => halfMedian(samples(n), 0)).sum
    val totalB = ok.map(n => if (samples(n).size > 1) halfMedian(samples(n), 1)
      else samples(n).head).sum
    // Full per-query spread goes to a file (the harness tail-captures only
    // ~2000 chars of stdout, which 100+ queries of min/median/max can never
    // fit — rounds 1-4 all recorded parsed:null because of this).
    val spread = ok.map(n => spreadEntry(n, samples(n), compiles(n)))
      .mkString("{", ",", "}")
    // CANARY set: five long-stable, trivially-planned queries (a pruned
    // scan + top-K, a one-exchange agg, a month-pruned scan, a codec
    // map, a tiny grouped sum). None has been touched since round 10,
    // so their geomean moves ONLY with the box — divide a
    // round-over-round ratio by the canary ratio before calling a
    // delta a regression (the r13→r14 triage found a whole-run +19%
    // that was entirely drift; this makes that subtraction standard).
    val canaryNames = Seq("q_logs_flagship", "q1_pricing",
      "q6_forecast_revenue", "q_partition_prune", "q_image_resize")
      .filter(ok.contains)
    val canary =
      if (canaryNames.isEmpty) 0.0
      else math.exp(canaryNames
        .map(n => math.log(median(samples(n)))).sum / canaryNames.size)
    // `canary_n` makes a shrunken basis VISIBLE: if a canary query ever
    // errors, the geomean silently changes composition — the count (5
    // expected) is the flag a round-over-round comparison must check.
    val canaryN = canaryNames.size
    // the previous committed bench_full.json, read before it is overwritten
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH",
      "bench_full.json")
    val prevTxt = try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(prevPath)), "UTF-8"))
    catch { case _: Throwable => None }
    val config = RunConfig.current(cpus, sfDir)
    val (vsPrev, warning) = compareToPrev(prevTxt, prevPath, config,
      med.toMap, canary)
    warning.foreach(w => System.err.println(s"[bench] vs_prev: $w"))
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"nqueries":${ok.size},"runs2":{"total_a":${r3(totalA)},"total_b":${r3(totalB)}},"canary_geomean_sec":${r3(canary)},"canary_n":$canaryN,$vsPrev,"spread":$spread,"errors":$errs,"sf":"$sfDir",${config.toJson}}"""
    val outPath = java.nio.file.Paths.get("bench_full.json")
    java.nio.file.Files.write(outPath, (full + "\n").getBytes("UTF-8"))
    // The stdout line is budget-capped: slowest queries first (they carry
    // the performance signal), stop before the line outgrows the tail
    // window, and record how many small queries were elided.
    val budget = 1600
    val header = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"nqueries":${ok.size},"runs2":{"total_a":${r3(totalA)},"total_b":${r3(totalB)}},"canary_geomean_sec":${r3(canary)},"canary_n":$canaryN,$vsPrev,"queries":{"""
    val footer = s"""},"omitted":NNN,"errors":$errs,"detail":"bench_full.json","sf":"$sfDir"}"""
    val bySlowest = med.sortBy(-_._2)
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var len = header.length + footer.length
    var omitted = 0
    for ((k, v) <- bySlowest) {
      val piece = "\"" + k + "\":" + r3(v)
      if (len + piece.length + 1 <= budget) { parts += piece; len += piece.length + 1 }
      else omitted += 1
    }
    println(header + parts.mkString(",") +
      footer.replace("NNN", omitted.toString))
    spark.stop()
  }

  private def r3(d: Double): String = "%.3f".format(d)

  private def median(v: Vector[Double]): Double = {
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def halfMedian(v: Vector[Double], parity: Int): Double =
    median(v.zipWithIndex.collect { case (x, i) if i % 2 == parity => x })

  /** One query's bench_full.json entry: the spread of its sample times and
    * the median number of Janino compiles per sample. */
  def spreadEntry(name: String, s: Vector[Double], compiles: Vector[Long]): String =
    "\"" + name + "\":{\"min\":" + r3(s.min) + ",\"median\":" + r3(median(s)) +
      ",\"max\":" + r3(s.max) +
      ",\"med_a\":" + r3(halfMedian(s, 0)) +
      ",\"med_b\":" + r3(if (s.size > 1) halfMedian(s, 1) else s.head) +
      ",\"compiles\":" + "%.1f".format(median(compiles.map(_.toDouble))) + "}"

  /** What a bench run is measured under. Two runs are comparable only when
    * `cpus`, `sf`, `nproc` and `maxHeapMb` agree; `gitHead` is recorded but
    * not compared, since telling commits apart is what `vs_prev` is for. */
  final case class RunConfig(cpus: String, sf: String, nproc: Int,
      maxHeapMb: Long, gitHead: String) {
    def toJson: String =
      s""""config":{"cpus":"$cpus","sf":"$sf","nproc":$nproc,"max_heap_mb":$maxHeapMb,"git_head":"$gitHead"}"""

    /** Why `prev` was measured under a different config, if it was. */
    def mismatch(prev: RunConfig): Option[String] = {
      val diffs = Seq(
        ("cpus", prev.cpus, cpus), ("sf", prev.sf, sf),
        ("nproc", prev.nproc.toString, nproc.toString),
        ("max_heap_mb", prev.maxHeapMb.toString, maxHeapMb.toString))
        .collect { case (k, was, now) if was != now => s"$k $was -> $now" }
      if (diffs.isEmpty) None else Some(diffs.mkString(", "))
    }
  }

  object RunConfig {
    def current(cpus: String, sf: String): RunConfig = {
      val head = try {
        scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
          .!!(scala.sys.process.ProcessLogger(_ => ())).trim
      } catch { case _: Throwable => "unknown" }
      RunConfig(cpus, sf, Runtime.getRuntime.availableProcessors,
        Runtime.getRuntime.maxMemory / (1024 * 1024), head)
    }

    private val Pattern =
      """"config":\{"cpus":"([^"]*)","sf":"([^"]*)","nproc":([0-9]+),"max_heap_mb":([0-9]+),"git_head":"([^"]*)"\}""".r

    /** The config a bench_full.json was written under; None for a file
      * written before configs were recorded. */
    def parse(txt: String): Option[RunConfig] =
      Pattern.findFirstMatchIn(txt).map(m => RunConfig(m.group(1), m.group(2),
        m.group(3).toInt, m.group(4).toLong, m.group(5)))
  }

  /** The `vs_prev` field: this run's per-query medians against the previous
    * bench_full.json's, as the shared-query median-ratio geomean divided by
    * the canary ratio. normalized ≈ 1.0 means "the suite moved with the
    * box"; the raw and canary components ship alongside so the division is
    * auditable. `parse_ok` and the echoed path make an unreadable or
    * malformed previous file distinguishable from a real all-zero
    * comparison. A previous run under another config (or one that recorded
    * none) is not comparable: `config_match` is false, `normalized_geomean`
    * stays 0, and the returned warning says why. */
  def compareToPrev(prevTxt: Option[String], prevPath: String,
      config: RunConfig, medians: Map[String, Double],
      canary: Double): (String, Option[String]) = {
    val M = """"([A-Za-z0-9_]+)":\{"min":[0-9.]+,"median":([0-9.]+)""".r
    val C = """"canary_geomean_sec":([0-9.]+)""".r
    val prevMed = prevTxt.toSeq.flatMap(t => M.findAllMatchIn(t)
      .map(m => m.group(1) -> m.group(2).toDouble)).toMap
    val prevCanary = prevTxt.flatMap(t => C.findFirstMatchIn(t))
      .map(_.group(1).toDouble).getOrElse(0.0)
    val parseOk = prevMed.nonEmpty
    val prevConfig = prevTxt.flatMap(RunConfig.parse)
    val warning =
      if (!parseOk) Some(s"no readable previous bench at $prevPath")
      else prevConfig match {
        case None => Some(s"$prevPath records no run config; not comparable")
        case Some(p) => config.mismatch(p)
          .map(d => s"$prevPath was measured under another config ($d); not comparable")
      }
    val configMatch = parseOk && warning.isEmpty
    val shared = medians.keys.toSeq.sorted
      .filter(n => medians(n) > 0.0 && prevMed.getOrElse(n, 0.0) > 0.0)
    val raw =
      if (shared.isEmpty) 0.0
      else math.exp(shared.map(n => math.log(medians(n) / prevMed(n))).sum / shared.size)
    val canaryRatio =
      if (canary > 0.0 && prevCanary > 0.0) canary / prevCanary else 0.0
    val normalized =
      if (configMatch && raw > 0.0 && canaryRatio > 0.0) raw / canaryRatio
      else 0.0
    (s""""vs_prev":{"parse_ok":$parseOk,"prev_path":"$prevPath","config_match":$configMatch,"shared_n":${shared.size},"raw_geomean":${r3(raw)},"canary_ratio":${r3(canaryRatio)},"normalized_geomean":${r3(normalized)}}""",
      warning)
  }
}
