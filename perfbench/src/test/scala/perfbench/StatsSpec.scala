package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with at least 10 samples beyond it") {
    val nineteen = (1 to 19).map(_.toDouble)
    assert(Stats.percentile(nineteen, 50).isEmpty) // 9 samples above rank 10
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(twenty, 50).contains(10.0))
    assert(Stats.percentile(twenty, 90).isEmpty)
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(hundred, 90).contains(90.0))
    assert(Stats.percentile(hundred, 99).isEmpty)
    assert(Stats.percentile(Seq.empty, 50).isEmpty)
  }

  test("the highest supported percentile") {
    assert(Stats.highestSupported((1 to 100).map(_.toDouble))
      .contains(90.0 -> 90.0))
    assert(Stats.highestSupported((1 to 5).map(_.toDouble)).isEmpty)
  }

  test("median and mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq.empty) == 0)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((5L, 15L), (0L, 10L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10) // nested
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12) // touching
    assert(Stats.unionLength(Seq((4L, 4L), (9L, 3L))) == 0) // empty, inverted
  }

  test("driver time is wall time minus the clipped union of job windows") {
    // span [100, 200): jobs cover [90, 130) ∩ span = [100, 130) and
    // [120, 150) and [190, 260) ∩ span = [190, 200)
    val jobs = Seq((90L, 130L), (120L, 150L), (190L, 260L))
    assert(Stats.driverMs(100, 200, jobs) == 100 - (50 + 10))
    assert(Stats.driverMs(100, 200, Seq.empty) == 100)
    assert(Stats.driverMs(100, 200, Seq((0L, 300L))) == 0)
    assert(Stats.driverMs(100, 200, Seq((0L, 50L), (250L, 300L))) == 100)
  }
}
