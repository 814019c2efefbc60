package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail level leaves at least ten samples beyond it, capped at p90") {
    assert(Stats.tailLevel(100) == 0.9)
    assert(Stats.tailLevel(1000) == 0.9)
    assert(math.abs(Stats.tailLevel(50) - 0.8) < 1e-12)
    assert(math.abs(Stats.tailLevel(40) - 0.75) < 1e-12)
    assert(Stats.tailLevel(20) == 0.5)
    assert(Stats.tailLevel(5) == 0.5)
    assert(Stats.tailLevel(0) == 0.5)
  }

  test("the tail value has ten samples beyond it") {
    for (n <- Seq(20, 37, 50, 99, 100, 250)) {
      val xs = (1 to n).map(_.toDouble)
      val v = Stats.tail(xs)
      val beyond = xs.count(_ > v)
      assert(beyond >= 10, s"n=$n: only $beyond samples beyond $v")
      if (n >= 100) assert(v == Stats.quantile(xs, 0.9), s"n=$n is not p90")
    }
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.tail(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // statistics.quantiles([1,2,3,4,5,6,7,8,9,10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([4, 1, 3], n=4) == [1.0, 3.0, 4.0]
    assert(Stats.quartiles(Seq(4.0, 1.0, 3.0)) == ((1.0, 3.0, 4.0)))
  }

  test("quantiles interpolate linearly between ranks") {
    assert(math.abs(Stats.quantile(Seq(10.0, 20.0, 30.0, 40.0, 50.0), 0.9) - 46.0) < 1e-9)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("median") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
