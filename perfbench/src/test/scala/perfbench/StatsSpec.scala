package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.quantile(xs, 0.25) == 2.0)
    assert(Stats.quantile(Seq(1.0, 2.0), 0.5) == 1.5)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.tailPermille(19).isEmpty)        // the median would leave 9.5 above
    assert(Stats.tailPermille(20).contains(500))  // 10 above the median
    assert(Stats.tailPermille(39).contains(500))  // p75 would leave 9.75
    assert(Stats.tailPermille(40).contains(750))
    assert(Stats.tailPermille(99).contains(750))  // p90 would leave 9.9
    assert(Stats.tailPermille(100).contains(900))
    assert(Stats.tailPermille(1000).contains(990))
    assert(Stats.tailPermille(10000).contains(999))
  }

  test("the reported tail is the quantile at the allowed percentile") {
    val xs = (1 to 100).map(_.toDouble)
    val Some((p, v)) = Stats.tail(xs)
    assert(p == 900)
    assert(math.abs(v - 90.1) < 1e-9)
    assert(Stats.tail(xs.take(10)).isEmpty)
  }
}
