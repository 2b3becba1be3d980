package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  test("a p90 needs 100 samples to have 10 beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.beyond(40, 75) == 10 && Stats.beyond(39, 75) == 9)
    assert(Stats.beyond(20, 50) == 10 && Stats.beyond(19, 50) == 9)
  }

  test("the tail percentile is the highest with 10 samples beyond") {
    def p(n: Int) = Main.tailPercentile((1 to n).map(_.toDouble))._1
    assert(p(1000) == 99.0)
    assert(p(200) == 95.0)
    assert(p(150) == 90.0)
    assert(p(100) == 90.0)
    assert(p(99) == 75.0)
    assert(p(40) == 75.0)
    assert(p(39) == 50.0)
    assert(Main.tailPercentile((1 to 150).map(_.toDouble))._2 == 135.0)
  }

  test("the typical op latency weighs each kind's median by its share") {
    def s(kind: String, ms: Double) = Sample(kind, "read", (ms * 1e6).toLong, false, true, 0L)
    val one = Seq(s("a", 1), s("a", 2), s("a", 30))
    assert(math.abs(Main.kindMedian(one) - 2.0) < 1e-9)
    val two = Seq(s("a", 10), s("a", 10), s("a", 10), s("b", 1000))
    assert(math.abs(Main.kindMedian(two) - math.pow(10, 0.75 * 1 + 0.25 * 3)) < 1e-6)
  }
}
