package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ms(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("nearest-rank percentile and median") {
    assert(Stats.percentile(ms(10), 0.9) == 9.0)
    assert(Stats.percentile(ms(10), 1.0) == 10.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(ms(4)) == 2.0)
  }

  test("tail is the highest listed percentile with at least ten samples beyond it") {
    assert(Stats.tail(ms(100)) == Some(0.9 -> 90.0))
    assert(Stats.beyond(ms(100), 0.9) == 10)
    // 99 samples leave only 9 beyond p90, so the tail falls back to p75
    assert(Stats.tail(ms(99)) == Some(0.75 -> 75.0))
    assert(Stats.tail(ms(1000)) == Some(0.99 -> 990.0))
    assert(Stats.tail(ms(10000)) == Some(0.999 -> 9990.0))
  }

  test("too few samples give no tail") {
    assert(Stats.tail(ms(39)).isEmpty)
    assert(Stats.tail(ms(40)) == Some(0.75 -> 30.0))
    assert(Stats.tail(Nil).isEmpty)
  }

  test("ties at the percentile do not count as beyond it") {
    val s = Seq.fill(50)(1.0) ++ Seq.fill(50)(2.0)
    assert(Stats.beyond(s, 0.9) == 0)
    assert(Stats.tail(s).isEmpty)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(7.0, 7.0, 7.0)) - 7.0) < 1e-9)
  }
}
