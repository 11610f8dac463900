package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("every percentile the helper picks leaves at least ten samples beyond it") {
    (1 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach(p => assert(n * (1 - p / 100) >= 10 - 1e-9, s"n=$n p=$p"))
    }
  }

  test("percentiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("covered time is the union of the intervals inside the window") {
    assert(Layers.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Layers.covered(Seq((0L, 10L), (5L, 15L)), 8L, 12L) == 4L)
    assert(Layers.covered(Nil, 0L, 10L) == 0L)
  }
}
