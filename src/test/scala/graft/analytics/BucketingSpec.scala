package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestBase, Tables}

class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Every node of the physical plan INCLUDING the subtree hidden inside
    * AdaptiveSparkPlanExec (a LeafExecNode — a plain `.collect` over the
    * root sees nothing below it, which silently turns plan-shape
    * assertions vacuous). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def planNodes(df: DataFrame): Seq[SparkPlan] =
    flatten(df.queryExecution.executedPlan)

  test("bucketed fact-fact join plans with zero shuffle exchanges") {
    val li = Tables.lineitem(spark, SparkTestBase.sfDir)
    val o = Tables.orders(spark, SparkTestBase.sfDir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // pin the sort-merge path: at test SF the planner would broadcast
      // the small side, which bypasses (and auto-disables) bucketed scans;
      // the layout's payoff is the at-scale SMJ plan
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val joined = Bucketing.colocatedOrderJoin(spark, li, o, buckets = 8)
      val nodes = planNodes(joined)
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"expected shuffle-free bucketed join, found ${exchanges.length} exchanges")
      val bucketedScans = nodes.collect {
        case s: FileSourceScanExec if s.bucketedScan => s
      }
      assert(bucketedScans.length == 2,
        s"expected 2 bucketed scans, found ${bucketedScans.length}")
      // and it computes the same answer as the plain shuffled join
      val got = joined.agg(count(lit(1)), sum(col("o_totalprice"))).collect().head
      val want = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)), sum(col("o_totalprice"))).collect().head
      assert(got.getLong(0) == want.getLong(0))
      assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6 * math.abs(want.getDouble(1)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("registered q5_local_supplier_bkt: bucketed scans, same rows as plain q5") {
    val dir = SparkTestBase.sfDir
    // At test SF the planner broadcasts the small orders side, which makes
    // bucketing moot, and every fixture is one split, which Tables reads
    // as a single partition that needs no exchange at all. The layout's
    // payoff is the at-scale SMJ path — orders too big to broadcast, facts
    // read in many splits — so pin that path to assert the plan shape the
    // 100 TB deployment would get.
    val atScale = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.minPartitionNum" -> "4")
    val prev = atScale.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      atScale.foreach { case (k, v) => spark.conf.set(k, v) }
      val bkt = graft.SparkEntry.queries("q5_local_supplier_bkt")(spark, dir)
      val bucketedScans = planNodes(bkt).collect {
        case s: FileSourceScanExec if s.bucketedScan => s
      }
      assert(bucketedScans.length >= 2,
        s"expected lineitem+orders bucketed scans, found ${bucketedScans.length}")
      val plainEx = planNodes(graft.SparkEntry.queries("q5_local_supplier")(spark, dir))
        .collect { case e: ShuffleExchangeExec => e }.length
      val bktEx = planNodes(bkt).collect { case e: ShuffleExchangeExec => e }.length
      assert(bktEx <= plainEx - 2,
        s"bucketed plan should drop both fact-side exchanges: $bktEx vs $plainEx")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // and under default planning the registered query answers exactly like
    // the shuffled original
    val plain = graft.SparkEntry.queries("q5_local_supplier")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(graft.SparkEntry.queries("q5_local_supplier_bkt")(spark, dir)
      .collect().map(_.toSeq).toSeq == plain)
  }

  test("bucketedFacts is memoized: second call reuses the written tables") {
    val dir = SparkTestBase.sfDir
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val (li1, o1) = Bucketing.bucketedFacts(spark, dir, li, o)
    val t0 = System.nanoTime()
    val (li2, o2) = Bucketing.bucketedFacts(spark, dir,
      sys.error("second call must not re-evaluate the write inputs"), o)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs < 1000, s"memoized call took ${elapsedMs} ms — rewrote tables?")
    assert(li2.count() == li1.count() && o2.count() == o1.count())
  }
}
