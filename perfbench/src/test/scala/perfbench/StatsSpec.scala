package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private val oneToTen = (1 to 10).map(_.toDouble)

  test("percentile is nearest-rank and always a sample") {
    assert(Stats.percentile(oneToTen, 50) == 5.0)
    assert(Stats.percentile(oneToTen, 90) == 9.0)
    assert(Stats.percentile(oneToTen, 91) == 10.0)
    assert(Stats.percentile(oneToTen, 100) == 10.0)
    assert(Stats.percentile(oneToTen, 1) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(7.5)) == 7.5)
  }

  test("percentile rejects empty input and out-of-range ranks") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(oneToTen, 0))
    assertThrows[IllegalArgumentException](Stats.percentile(oneToTen, 101))
  }

  test("recall is the share of the exact ids found") {
    assert(Stats.recall(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)) == 1.0)
    assert(Stats.recall(Seq(1L, 2L, 9L, 8L), Seq(1L, 2L, 3L, 4L)) == 0.5)
    assert(Stats.recall(Nil, Seq(1L, 2L)) == 0.0)
    assertThrows[IllegalArgumentException](Stats.recall(Seq(1L), Nil))
  }
}
