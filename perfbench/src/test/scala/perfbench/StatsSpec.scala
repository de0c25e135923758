package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Tally

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles are observed samples") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.0)
  }

  test("a p90 rests on ten samples beyond it only from 100 samples up") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.beyond(14, 0.9) == 1)
    assert(Stats.beyond(20, 0.5) == 10)
    // the samples beyond the reported value really are above it
    val xs = (1 to 100).map(_.toDouble)
    assert(xs.count(_ > Stats.percentile(xs, 0.9)) == Stats.beyond(100, 0.9))
  }

  test("percentile rejects empty input and levels outside (0, 1]") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0.0))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 1.5))
  }

  test("weighted percentile counts each value once per unit of weight") {
    val xs = Seq((10.0, 1L), (20.0, 8L), (30.0, 1L))
    assert(Stats.weightedPercentile(xs, 0.1) == 10.0)
    assert(Stats.weightedPercentile(xs, 0.5) == 20.0)
    assert(Stats.weightedPercentile(xs, 0.9) == 20.0)
    assert(Stats.weightedPercentile(xs, 0.95) == 30.0)
    assert(Stats.weightedPercentile(Seq((5.0, 0L), (6.0, 2L)), 0.5) == 6.0)
  }

  test("failures count against attempts, wrong outputs like throws") {
    val t = Tally.of(Seq(true, false, true, true)) + Tally(6, 1)
    assert(t == Tally(10, 2))
    assert(t.ratio == 0.2)
    assert(Tally.empty.ratio == 0.0)
    assertThrows[IllegalArgumentException](Tally(1, 2))
    assertThrows[IllegalArgumentException](Tally(1, -1))
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12)
    assert(Stats.unionLength(Seq((3L, 3L), (8L, 5L))) == 0)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100)
  }

  test("span self time excludes the part its children cover, once") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    // a child that starts before or ends after the span counts only inside it
    assert(Stats.selfTime(0, 100, Seq((-20L, 10L), (90L, 130L))) == 80)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }
}
