package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest one with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(200) == 95)
    assert(Stats.tailPercentile(1000) == 95)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(25) == 60)
    assert(Stats.tailPercentile(10) == 50)
    for (n <- 20 to 400) {
      val p = Stats.tailPercentile(n)
      val rank = math.ceil(p / 100.0 * n).toInt
      assert(n - rank >= 10, s"n=$n p=$p")
      if (p < 95) assert(n - math.ceil((p + 1) / 100.0 * n).toInt < 10, s"n=$n: p${p + 1} also qualifies")
    }
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.tail(xs) == Stats.Pct(90, 90.0, 100))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }
}
