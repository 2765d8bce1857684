package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 80) == 8.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the reported tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(50).contains(80.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    for (n <- 10 to 2000; p <- Stats.tailPercentile(n)) assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
  }

  test("failed ops rank as the slowest") {
    val lat = Workload.withFailures(Seq(10.0, 20.0, 30.0), Seq(false, true, false), failMs = 5.0)
    assert(lat == Seq(10.0, 30.0, 30.0))
    assert(Workload.withFailures(Seq(10.0), Seq(true), failMs = 500.0) == Seq(500.0))
  }
}
