package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // statistics.quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([1, 2, 4, 8, 16], n=4) == [1.5, 4.0, 12.0]
    assert(Stats.quartiles(Seq(16.0, 1.0, 8.0, 2.0, 4.0)) == ((1.5, 4.0, 12.0)))
    // two samples extrapolate past the ends: [0.75, 1.5, 2.25]
    assert(Stats.quartiles(Seq(2.0, 1.0)) == ((0.75, 1.5, 2.25)))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.value == 20.0) // 21..30 lie beyond it
    assert(xs.count(_ > t.value) == 10)
    assert(math.abs(t.percentile - 100.0 * 20 / 30) < 1e-9)
    assert(t.samples == 30)
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.value == 1.0)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }
}
