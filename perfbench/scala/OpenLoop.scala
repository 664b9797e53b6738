package perfbench

import java.util.concurrent.locks.LockSupport

/** Open-loop request schedule: request i is due at `start + i * period`,
  * whatever happened to the requests before it. The generator sleeps until
  * a request is due and sends it; if it is already late (a send blocked, the
  * JVM paused) it sends at once and never skips. Latency is measured from
  * the DUE time, so a stall also counts against every request queued behind
  * it — timing from the actual send would hide that (coordinated omission). */
object OpenLoop {

  /** Drives `send(i, dueNs)` for i in 0 until n and returns the actual send
    * times (ns, same clock as `now`). `send` must not wait for the response. */
  def run(n: Int, startNs: Long, periodNs: Long, now: () => Long)(
      send: (Int, Long) => Unit): Array[Long] = {
    val sent = new Array[Long](n)
    var i = 0
    while (i < n) {
      val due = startNs + i * periodNs
      var t = now()
      while (t < due) {
        LockSupport.parkNanos(due - t)
        t = now()
      }
      sent(i) = t
      send(i, due)
      i += 1
    }
    sent
  }
}
