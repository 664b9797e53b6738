// Per-query stage profiler: spark-shell -i tools/profile_query.scala
// with --driver-class-path target/scala-2.13/classes.
// Env: PROF_QUERIES=q_a,q_b  PROF_SF=/root/testdata/sf0.1  PROF_RUNS=3
// Prints, per query, total wall plus the top stages by task-time sum
// (stage name = callsite), so the hot operator is visible without the UI.
// Exits 1, after printing each failure in full, if any query failed.
import org.apache.spark.scheduler._
import scala.collection.mutable

val sfDir = sys.env.getOrElse("PROF_SF", "/root/testdata/sf0.1")
val runs = sys.env.getOrElse("PROF_RUNS", "3").toInt
val names = sys.env.getOrElse("PROF_QUERIES", "q_pagerank").split(",").toSeq

case class St(var ms: Long = 0L, var tasks: Int = 0, var name: String = "")
val stages = mutable.Map[Int, St]()
val listener = new SparkListener {
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    val st = stages.getOrElseUpdate(info.stageId, St())
    st.ms += info.taskMetrics.executorRunTime
    st.tasks += info.numTasks
    st.name = info.name
  }
}
spark.sparkContext.addSparkListener(listener)

// every query is tried; each failure is printed in full and fails the run
val failures = mutable.ArrayBuffer[(String, Throwable)]()
for (q <- names) try {
  val fn = graft.SparkEntry.queries(q)
  // warm (layout builds, codegen)
  fn(spark, sfDir).write.format("noop").mode("overwrite").save()
  stages.clear()
  val t0 = System.nanoTime()
  for (_ <- 1 to runs)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
  val wall = (System.nanoTime() - t0) / 1e9 / runs
  println(f"\n=== $q%s wall=${wall}%.3f s/run (x$runs) ===")
  val byName = stages.values.groupBy(_.name).map { case (n, ss) =>
    (n, ss.map(_.ms).sum, ss.map(_.tasks).sum, ss.size)
  }.toSeq.sortBy(-_._2)
  for ((n, ms, tasks, cnt) <- byName.take(14))
    println(f"  ${ms}%7d ms-task  $cnt%3d stages $tasks%5d tasks  $n%s")
} catch { case e: Throwable => failures += q -> e }
for ((q, e) <- failures) {
  System.err.println(s"profile_query: $q failed:")
  e.printStackTrace(System.err)
}
if (failures.nonEmpty) {
  System.err.println(s"profile_query: ${failures.size} of ${names.size} queries failed")
  sys.exit(1)
}
sys.exit(0)
