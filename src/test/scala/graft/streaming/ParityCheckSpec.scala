package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** [[ParityCheck.diffCounts]] must count exactly what the exceptAll
  * comparisons it replaces counted. */
class ParityCheckSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("diffCounts counts NULL-bearing rows the way exceptAll does") {
    import spark.implicits._
    val a = Seq[(Option[Long], Option[String])]((Some(1L), None),
      (Some(1L), None), (None, Some("x")), (Some(2L), Some("y")),
      (None, None)).toDF("id", "tag")
    val b = Seq[(Option[Long], Option[String])]((Some(1L), None),
      (None, Some("x")), (None, Some("x")), (Some(3L), Some("y")),
      (None, None)).toDF("id", "tag")
    val want = (a.exceptAll(b).count(), b.exceptAll(a).count(), a.count(),
      b.count())
    assert(want == (2L, 2L, 5L, 5L))
    assert(ParityCheck.diffCounts(a, b) == want)
    // a frame against a filter of itself: the two sides share attributes
    assert(ParityCheck.diffCounts(a, a.filter($"id".isNull)) ==
      (a.exceptAll(a.filter($"id".isNull)).count(), 0L, 5L, 2L))
  }
}
