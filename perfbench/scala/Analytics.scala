package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkEntry

/** `analytics` workload: timed passes over fixed `SparkEntry` rows on the
  * seeded tables, each row built, planned and materialized through the noop
  * source as graft.Bench does. An untimed check pass first writes every
  * row's output for the DuckDB oracle compare that run.py runs. */
object Analytics {
  /** Thirteen rows over the operator families the optimisation directions
    * target: Dedup snapshots, a task-starved text stage, media kernels,
    * similarity, decimal sums (Cols), range join, analytics.* windows and
    * the logs layout. */
  val Rows: Seq[String] = Seq(
    "q_containment", "q_dedup_exact", "q_char_trigrams", "q_image_resize", "q_fingerprint",
    "q_dedup_embedding", "q1_pricing", "q6_forecast_revenue", "q_range_join", "q_apdex",
    "q_daily_counts", "q_distinct_users", "q_logs_flagship")
  /** Timed passes after the untimed check pass (which is also their JIT
    * warm-up). A fixed count, whatever the run's seconds, so every version
    * of the code is measured by the same estimator; each row keeps its
    * fastest pass. One pass takes 7–13 s on a 4-core box. */
  val Passes = 2

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(plan).count(_.isInstanceOf[ShuffleExchangeLike])
  }

  def run(ctx: Ctx, dataDir: String): Map[String, Any] = {
    import ctx.{spark, tracer}
    val sc = spark.sparkContext
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    Canary.sample(sc.defaultParallelism) // the canary's own JIT warm-up
    // set-up, three times: the session warm-up graft.Bench does before timing
    val setupS = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      noop(SparkEntry.queries("q_logs_flagship")(spark, dataDir))
      (System.nanoTime() - t0) / 1e9
    }

    // the check pass, untimed: every row's output, written for the oracle
    // compare (timestamps as TIMESTAMP_NTZ like graft.Verify dumps them);
    // it is also the timed passes' JIT warm-up
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val outDir = s"${ctx.dir}/check"
    val dumped = Rows.flatMap { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
          if (f.dataType == TimestampType) d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
          else d
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Some(name)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name check pass failed: ${e.toString.linesIterator.next()}")
          None
      }
    }
    Json.write(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => dumped.contains(k) })

    // each pass runs every row once (p1: row1..rowN, p2: ...) as graft.Bench
    // does, so a load spike inflates one sample of each row, not every
    // sample of one
    val gc0 = gcMs
    // host speed before each pass and after the last (Canary)
    val canary = scala.collection.mutable.ArrayBuffer[Double]()
    val runs = (0 until Passes).map { round =>
      canary ++= Canary.sample(sc.defaultParallelism)
      Rows.zipWithIndex.map { case (name, i) =>
        def phase[T](p: String)(f: => T): T = {
          sc.setLocalProperty("perfbench.phase", s"$p:$name")
          tracer.span(s"analytics.$p", "analytics.row", i)(f)
        }
        val t0 = tracer.now
        try {
          val df = phase("build")(SparkEntry.queries(name)(spark, dataDir))
          val t1 = tracer.now
          val plan = phase("plan")(df.queryExecution.executedPlan)
          val t2 = tracer.now
          phase("exec")(noop(df))
          val t3 = tracer.now
          tracer.add("analytics.row", t0, t3, "", i)
          (Map("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
            "exec_s" -> (t3 - t2) / 1e9, "wall_s" -> (t3 - t0) / 1e9,
            "exchanges" -> (if (round == 0) exchanges(plan) else 0)))
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: ${e.toString.linesIterator.next()}")
            Map[String, Any]("error" -> e.toString.linesIterator.next())
        } finally sc.setLocalProperty("perfbench.phase", null)
      }
    }
    canary ++= Canary.sample(sc.defaultParallelism)
    // the passes' wall time without the canary samples between them
    val passS = runs.flatten.flatMap(_.get("wall_s")).map(_.asInstanceOf[Double]).sum
    val gcS = (gcMs - gc0) / 1e3

    val jobs = ctx.stats.map { s =>
      // the listener bus is asynchronous: let it drain the pass's events
      val deadline = System.nanoTime() + 10000000000L
      while (s.jobList.exists(_.end < 0) && System.nanoTime() < deadline) Thread.sleep(20)
      s
    }
    Map(
      "setup_s" -> setupS, "canary_ms" -> canary,
      "rounds" -> runs.size, "pass_s" -> passS, "gc_s" -> gcS,
      "rows" -> Rows.indices.map(i => Map("name" -> Rows(i), "runs" -> runs.map(_(i)))),
      "dumped" -> dumped, "check_dir" -> outDir,
      "cores" -> sc.defaultParallelism,
      "jobs" -> jobs.map(_.jobList.map(j => Map("tag" -> j.tag, "start_ms" -> j.start / 1e6,
        "end_ms" -> j.end / 1e6, "stages" -> j.stages, "tasks" -> j.tasks))).getOrElse(Nil),
      "stages" -> jobs.map(s => s.stages.map { case (id, n) =>
        Map("tag" -> s.stageTags.getOrElse(id, ""), "tasks" -> n) }).getOrElse(Nil),
      "task_totals" -> jobs.map(_.totalsByTag.map { case (tag, t) => tag -> Map(
        "tasks" -> t.tasks, "run_ms" -> t.runMs, "gc_ms" -> t.gcMs,
        "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes) }).getOrElse(Map.empty))
  }
}
