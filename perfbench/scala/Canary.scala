package perfbench

/** Host-speed canary: a fixed JVM kernel (clone, sort and hash a seeded
  * array of longs) run on every core at once, whose work never changes
  * with the program under test. The analytics workload times it between
  * its timed passes, while the program is idle, so run.py can scale the
  * end-to-end times to one host speed: on a shared host the same code runs
  * up to 1.4 times slower from one minute to the next. */
object Canary {
  private val Size = 1 << 19
  private val data: Array[Long] = {
    val r = new java.util.SplittableRandom(42L)
    Array.fill(Size)(r.nextLong())
  }

  /** One kernel pass; returns a checksum so the JIT cannot drop the work. */
  private def kernel(): Long = {
    val a = data.clone()
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < a.length) {
      m.merge(a(i) & 0xffffL, 1L, (x: java.lang.Long, y: java.lang.Long) => x + y)
      i += 8
    }
    a(Size / 2) ^ m.size
  }

  @volatile private var sink = 0L

  /** Wall times (ms) of five rounds, each running the kernel once on each of
    * `threads` threads at once. */
  def sample(threads: Int): Seq[Double] =
    (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      val ts = (0 until threads).map(_ => new Thread(() => sink ^= kernel()))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
}
