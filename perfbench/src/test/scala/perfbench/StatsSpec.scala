package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ms(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(ms(1000)) == Stats.Tail(99.0, 990.0, 1000, 10))
    // 999 samples: p99's rank (990) leaves only 9 beyond, so p95 it is
    assert(Stats.tail(ms(999)) == Stats.Tail(95.0, 950.0, 999, 49))
    assert(Stats.tail(ms(100)) == Stats.Tail(90.0, 90.0, 100, 10))
    assert(Stats.tail(ms(20)) == Stats.Tail(50.0, 10.0, 20, 10))
  }

  test("with too few samples for any percentile the tail is the maximum") {
    assert(Stats.tail(ms(5)) == Stats.Tail(100.0, 5.0, 5, 0))
  }

  test("the median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the interquartile range interpolates between neighbouring samples") {
    assert(Stats.iqr(Seq(5.0, 1.0, 3.0, 2.0, 4.0)) == 2.0)
    assert(Stats.iqr(Seq(4.0, 1.0, 2.0, 3.0)) == 1.5)
    assert(Stats.iqr(Seq(7.0)) == 0.0)
  }
}
