package nefbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("the tail is the highest grid percentile with at least 10 samples beyond it") {
    val cases = Seq(20 -> 50.0, 39 -> 50.0, 40 -> 75.0, 99 -> 75.0, 100 -> 90.0,
      199 -> 90.0, 200 -> 95.0, 1000 -> 99.0, 10000 -> 99.9)
    cases.foreach { case (n, want) =>
      val (p, v) = Stats.tail(samples(n))
      assert(p == want, s"n=$n")
      assert(samples(n).count(_ > v) >= Stats.MinBeyond, s"n=$n")
    }
  }

  test("too few samples for any grid percentile report the maximum") {
    assert(Stats.tail(samples(19)) == (100.0, 19.0))
    assert(Stats.tail(Seq(3.0)) == (100.0, 3.0))
  }

  test("nearest-rank percentiles and medians") {
    val xs = samples(10)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(xs) == 5.5)
    assert(Stats.median(Seq(4.0, 1.0, 9.0)) == 4.0)
  }

  test("slope of a line and of a flat series") {
    assert(math.abs(Stats.slope(Seq(0.0, 1.0, 2.0), Seq(1.0, 3.0, 5.0)) - 2.0) < 1e-12)
    assert(Stats.slope(Seq(0.0, 1.0, 2.0), Seq(7.0, 7.0, 7.0)) == 0.0)
  }
}
