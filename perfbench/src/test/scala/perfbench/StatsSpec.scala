package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p50 needs ten samples beyond it and reports its sample count") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == Some(Stats.Pct(10.0, 20)))
    assert(Stats.percentile(xs.take(19), 50).isEmpty)
  }

  test("p90 needs a hundred samples") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 90) == Some(Stats.Pct(90.0, 100)))
    assert(Stats.percentile(xs.take(99), 90).isEmpty)
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("out-of-range percentiles are refused") {
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 100))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
  }

  test("median and mean") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
