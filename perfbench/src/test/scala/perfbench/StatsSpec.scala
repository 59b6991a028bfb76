package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val oneToTen = (1 to 10).map(_.toDouble)

  test("nearest-rank percentiles return a measured sample") {
    assert(Stats.percentile(oneToTen, 50) == 5.0)
    assert(Stats.percentile(oneToTen, 51) == 6.0)
    assert(Stats.percentile(oneToTen, 90) == 9.0)
    assert(Stats.percentile(oneToTen, 100) == 10.0)
    assert(Stats.percentile(oneToTen, 1) == 1.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    // even count: the lower middle sample, not an interpolated mean
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  test("percentiles reject empty input and out-of-range ranks") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(oneToTen, 0))
    assertThrows[IllegalArgumentException](Stats.percentile(oneToTen, 101))
  }

  test("p99 is refused with fewer than 1000 samples") {
    assert(Stats.minSamplesFor(99) == 1000)
    assert(Stats.minSamplesFor(90) == 100)
    val xs = (1 to 999).map(_.toDouble)
    assertThrows[IllegalArgumentException](Stats.tail(xs, 99))
    val ys = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(ys, 99) == 990.0)
    assert(ys.count(_ > Stats.tail(ys, 99)) == Stats.TailSamples)
    assertThrows[IllegalArgumentException](Stats.tail((1 to 99).map(_.toDouble), 90))
    assert(Stats.tail((1 to 100).map(_.toDouble), 90) == 90.0)
  }

  test("covered time counts overlapping jobs once and clips to the window") {
    assert(Stats.coveredMs(Nil, 0, 100) == 0)
    assert(Stats.coveredMs(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) == 30)
    assert(Stats.coveredMs(Seq((-5L, 10L), (90L, 120L)), 0, 100) == 20)
    assert(Stats.coveredMs(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40)
    assert(Stats.coveredMs(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("driver time is the wall not covered by jobs, never negative") {
    assert(Stats.driverMs(100.0, Seq((10L, 40L), (30L, 60L)), 0, 100) == 50.0)
    assert(Stats.driverMs(100.0, Nil, 0, 100) == 100.0)
    // epoch-ms job windows can exceed a nanoTime wall by rounding
    assert(Stats.driverMs(9.5, Seq((0L, 10L)), 0, 10) == 0.0)
  }

  test("executor busy ratio is run time over wall times slots") {
    assert(Stats.execBusyRatio(400.0, 100.0, 4) == 1.0)
    assert(Stats.execBusyRatio(100.0, 100.0, 4) == 0.25)
    assert(Stats.execBusyRatio(100.0, 0.0, 4) == 0.0)
  }

  test("refresh time is the probe wall minus the steady search") {
    assert(Stats.refreshMs(120.0, 20.0) == 100.0)
    assert(Stats.refreshMs(15.0, 20.0) == 0.0)
  }
}
