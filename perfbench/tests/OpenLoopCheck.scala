package perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** Self-check of the open-loop generator (run by test_openloop.py): a
  * server stall must inflate the latency of every request queued behind it
  * when latency is timed from the due time, and the generator must keep its
  * schedule instead of waiting for responses or skipping requests. Exits
  * non-zero on the first violated property. */
object OpenLoopCheck {
  private val Ms = 1000000L

  def main(args: Array[String]): Unit = {
    val epoch = System.nanoTime()
    val now = () => System.nanoTime() - epoch
    val n = 60
    val period = 10 * Ms

    // 1. server stall: one FIFO server thread, 1 ms per request, request 10
    //    takes 300 ms; sends are asynchronous
    val server = Executors.newSingleThreadExecutor()
    val due, done = new Array[Long](n)
    val sent = OpenLoop.run(n, now() + 5 * Ms, period, now) { (i, d) =>
      due(i) = d
      server.submit(new Runnable {
        def run(): Unit = {
          Thread.sleep(if (i == 10) 300 else 1)
          done(i) = now()
        }
      })
    }
    server.shutdown()
    check(server.awaitTermination(10, TimeUnit.SECONDS), "server drained")
    val fromDue = (0 until n).map(i => done(i) - due(i))
    // requests 11..~39 were due while request 10 held the server
    check(fromDue.slice(11, 30).forall(_ > 50 * Ms),
      s"queued requests inflated: ${fromDue.slice(11, 30).map(_ / Ms)}")
    check(fromDue.take(10).forall(_ < 50 * Ms), "requests before the stall fast")
    check(fromDue.takeRight(5).forall(_ < 50 * Ms), "the queue drains after the stall")
    check(sent.zip(due).forall { case (s, d) => s >= d && s - d < 50 * Ms },
      "the generator kept its schedule during the server stall")

    // 2. a stall inside the send path (a blocked client): the generator
    //    sends late but never skips, and timing from the send would hide it
    val due2, done2 = new Array[Long](n)
    val sent2 = OpenLoop.run(n, now() + 5 * Ms, period, now) { (i, d) =>
      due2(i) = d
      if (i == 10) Thread.sleep(300)
      done2(i) = now()
    }
    val late = (0 until n).count(i => done2(i) - due2(i) > 50 * Ms)
    val lateFromSend = (0 until n).count(i => done2(i) - sent2(i) > 50 * Ms)
    check(late >= 20, s"blocked sends inflate latency from due ($late late)")
    check(lateFromSend <= 1, s"timed from the send the stall would hide ($lateFromSend late)")
    check(sent2.sliding(2).forall(w => w(0) <= w(1)) && sent2.zip(due2).forall { case (s, d) => s >= d },
      "every request sent, in order, never before it is due")
    println("OpenLoopCheck: ok")
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"OpenLoopCheck: FAILED: $what"); sys.exit(1) }
}
