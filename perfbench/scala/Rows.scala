package perfbench

import graft.logs.LogEntryMsg

/** Seeded log-row content shared by the workloads. */
object Rows {
  val Services: IndexedSeq[String] = (0 until 40).map(i => f"svc$i%02d")
  val Levels: IndexedSeq[String] = IndexedSeq("INFO", "INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
  val Users = 2000
  private val Verbs = Array("created", "updated", "failed", "retried", "served", "dropped")
  private val Nouns = Array("order", "payment", "session", "invoice", "cart", "request")

  /** Zipf(s = 1.1) CDF over the services: a few hot, a long cold tail. */
  private val zipfCdf: Array[Double] = {
    val w = Services.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def service(rng: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Services.size - 1)
  }

  def user(u: Int): String = f"user$u%04d"

  def msg(rng: java.util.SplittableRandom): String =
    s"${Nouns(rng.nextInt(Nouns.length))} ${rng.nextInt(100000)} ${Verbs(rng.nextInt(Verbs.length))}"

  def hex(rng: java.util.SplittableRandom, digits: Int): String =
    (0 until digits).map(_ => "0123456789abcdef".charAt(rng.nextInt(16))).mkString

  def entry(rng: java.util.SplittableRandom, ts: String): LogEntryMsg =
    LogEntryMsg(ts = ts, service = Services(service(rng)),
      level = Levels(rng.nextInt(Levels.size)), msg = msg(rng),
      attrs = Map("user" -> user(rng.nextInt(Users)), "order_id" -> rng.nextInt(1000000).toString),
      trace_id = hex(rng, 16), span_id = hex(rng, 8))
}
