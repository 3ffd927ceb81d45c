package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a percentile needs at least 10 samples beyond it") {
    assert(Stats.minSamples(50) == 20)
    assert(Stats.minSamples(90) == 100)
    assert(Stats.minSamples(99) == 1000)
    assert(Stats.beyond(99, 1000) == 10)
    assert(Stats.beyond(99, 999) == 9)
  }

  test("percentile is nearest-rank and refuses thin samples") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 99).contains(990.0))
    assert(Stats.percentile(xs, 50).contains(500.0))
    assert(Stats.percentile(xs.take(999), 99).isEmpty)
    assert(Stats.percentile(xs.take(19), 50).isEmpty)
    assert(Stats.percentile(xs.take(20).reverse, 50).contains(10.0))
  }

  test("median of repetitions and interval union") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
  }
}
