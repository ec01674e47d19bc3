package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("quartiles equal Python's statistics.quantiles(xs, n=4)") {
    // expected values printed by Python 3's statistics.quantiles
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) === (2.75, 8.25))
    assert(Stats.quartiles(Seq(3.5, 1.25, 9.0, 4.75)) === (1.8125, 7.9375))
    assert(Stats.quartiles(Seq(2.0, 7.0, 1.0, 8.0, 3.0)) === (1.5, 7.5))
  }

  test("nearest-rank quantiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.quantile(xs, 0.5) === 50.0)
    assert(Stats.quantile(xs, 0.99) === 99.0)
    assert(Stats.quantile(xs, 1.0) === 100.0)
  }

  test("a tail percentile is reported only with at least ten samples beyond it") {
    assert(Stats.tail((1 to 999).map(_.toDouble), 99).isEmpty)
    assert(Stats.tail((1 to 1000).map(_.toDouble), 99) === Some(990.0))
    assert(Stats.tail((1 to 99).map(_.toDouble), 90).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble), 90) === Some(90.0))
  }
}
