package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ramp(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("p90 of 100 samples is resolved with exactly 10 beyond it") {
    val p = Stats.percentile(ramp(100).reverse, 90)
    assert(p.value == 90.0)
    assert(p.samples == 100)
    assert(p.beyond == 10)
    assert(p.resolved)
  }

  test("a percentile with fewer than 10 samples beyond it is unresolved") {
    val p = Stats.percentile(ramp(99), 90)
    assert(p.value == 90.0)
    assert(p.beyond == 9)
    assert(!p.resolved)
    assert(!Stats.percentile(ramp(24), 90).resolved)
    assert(Stats.percentile(ramp(24), 50).resolved)
  }

  test("median averages the middle pair of an even sample") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("empty samples are refused") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }
}
