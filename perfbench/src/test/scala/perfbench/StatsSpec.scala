package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("quiet keeps the samples with at most the median steal share") {
    val xs = Seq((5.0, 0.04), (4.4, 0.001), (4.9, 0.02), (4.5, 0.002), (6.0, 0.09))
    assert(Stats.quiet(xs) == Seq(4.4, 4.9, 4.5))
    // an even count keeps the half below the median share
    assert(Stats.quiet(xs.take(4)) == Seq(4.4, 4.5))
    // shares under the floor count as undisturbed
    assert(Stats.quiet(Seq((2.0, 0.008), (3.0, 0.001), (1.0, 0.003), (4.0, 0.02))) == Seq(2.0, 3.0, 1.0))
    // with no steal reading every sample is kept
    assert(Stats.quiet(Seq((2.0, 0.0), (3.0, 0.0), (1.0, 0.0))) == Seq(2.0, 3.0, 1.0))
  }

  test("timed seconds take the stolen share out of the wall time") {
    assert(Stats.Timed(5.0, 0.2).seconds == 4.0)
    assert(Stats.Timed(5.0, 0.0).seconds == 5.0)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(xs).get
    // sorted index 29 (value 30.0): positions 30..39 rank above it
    assert(t.value == 30.0)
    assert(t.beyond == 10)
    assert(t.percentile == 75.0)
    assert(t.n == 40)
    // order of the samples does not matter
    assert(Stats.tail(xs.reverse) == Some(t))
  }

  test("tail rises toward the maximum as samples grow") {
    val t = Stats.tail((1 to 1000).map(_.toDouble)).get
    assert(t.value == 990.0 && t.beyond == 10 && t.percentile == 99.0)
  }

  test("tail never reports below the median") {
    // 20 samples: the rule's sample sits exactly at p50
    val t20 = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(t20.percentile == 50.0 && t20.value == 10.0 && t20.beyond == 10)
    // 19 samples: the rule would give p47, so there is no tail
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq(2.5)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("covered is the union length of overlapping intervals, clipped") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8L, 25L) == 12L)
    assert(Stats.covered(Seq((0L, 10L), (2L, 3L)), 0L, 100L) == 10L)
    assert(Stats.covered(Nil, 0L, 100L) == 0L)
    assert(Stats.covered(Seq((50L, 60L)), 0L, 10L) == 0L)
  }

  test("self time is the span minus the part its jobs cover") {
    // a 1000 ms call with two overlapping jobs and one that ends after it
    val jobs = Seq((100L, 300L), (200L, 400L), (900L, 1200L))
    assert(Stats.selfTime(0L, 1000L, jobs) == 1000L - 300L - 100L)
    // a call with no jobs is all self time; one fully covered has none
    assert(Stats.selfTime(0L, 500L, Nil) == 500L)
    assert(Stats.selfTime(100L, 200L, Seq((0L, 1000L))) == 0L)
  }

  test("digest ignores row order and sees any changed row") {
    val a = Stats.digest(Seq("[1,x]", "[2,y]"))
    assert(a == Stats.digest(Seq("[2,y]", "[1,x]")))
    assert(a != Stats.digest(Seq("[1,x]", "[2,z]")))
    assert(a != Stats.digest(Seq("[1,x]")))
  }
}
