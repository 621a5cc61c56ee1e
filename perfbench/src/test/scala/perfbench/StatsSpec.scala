package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def oneTo(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile is reported only with ten samples beyond it") {
    // 200 samples: p95 is rank 190, with 10 samples above it
    assert(Stats.percentile(oneTo(200), 95) == Some(190.0))
    assert(Stats.beyond(200, 95) == 10)
    // 199 samples: p95 is still rank 190, with only 9 above it
    assert(Stats.percentile(oneTo(199), 95).isEmpty)
    assert(Stats.beyond(199, 95) == 9)
    assert(Stats.percentile(oneTo(50), 80) == Some(40.0))
    assert(Stats.percentile(oneTo(49), 80).isEmpty)
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("nearest-rank percentile ignores input order and needs no guard") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.nearestRank(xs, 80) == 4.0)
    assert(Stats.nearestRank(xs, 1) == 1.0)
    assert(Stats.nearestRank(xs, 99.9) == 5.0)
    assert(Stats.nearestRank(Nil, 50).isNaN)
    assertThrows[IllegalArgumentException](Stats.nearestRank(xs, 100))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }
}
