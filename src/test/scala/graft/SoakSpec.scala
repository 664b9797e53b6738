package graft

import org.scalatest.funsuite.AnyFunSuite

/** The soak harness's pure parts: the mode table `main` resolves before
  * any Spark work, and the wave split every long soak runs on. */
class SoakSpec extends AnyFunSuite {

  test("the mode table resolves known modes and names them for a typo") {
    Seq("docstream", "linear", "streaming", "all", "fpstreamlong",
      "embstreamflood").foreach(m => assert(Soak.modeRunner(m).isRight, m))
    val typo = Soak.modeRunner("docstreamflod")
    assert(typo.isLeft)
    val msg = typo.swap.toOption.get
    assert(msg.contains("docstreamflod") && msg.contains("docstreamflood") &&
      msg.contains("linear"), msg)
  }

  test("evenWaves runs exactly the asked batch count, sizes within one") {
    for ((len, n) <- Seq(200 -> 120, 85 -> 8, 200 -> 8, 5 -> 8, 67 -> 60)) {
      val xs = (0 until len).toSeq
      val waves = Soak.evenWaves(xs, n)
      assert(waves.length == math.min(n, len), s"$len/$n")
      assert(waves.flatten == xs, s"$len/$n: waves must keep id order")
      val sizes = waves.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"$len/$n: $sizes")
    }
    assert(Soak.evenWaves(Seq.empty[Int], 4).isEmpty)
  }
}
