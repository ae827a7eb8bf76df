package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail rule: the highest ladder percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(24).contains(50))
    assert(Stats.tailPercentile(25).contains(60))
    assert(Stats.tailPercentile(39).contains(60))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(60).contains(75))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(1000).contains(99))
  }

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(xs, 0.75) == 3.25)
    assert(Stats.median(Nil).isNaN)
  }
}
