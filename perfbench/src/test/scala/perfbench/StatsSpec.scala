package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some(90 -> 90.0))
    // 110 samples: p90 leaves 11 beyond, p91 only 9
    assert(Stats.tail((1 to 110).map(_.toDouble)).map(_._1) == Some(90))
    // 20 samples are the fewest that have a tail: their median
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(50 -> 10.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }

  test("the tail does not depend on sample order") {
    val xs = (1 to 57).map(i => (i * 37 % 57).toDouble)
    assert(Stats.tail(xs) == Stats.tail(xs.sorted))
    val (p, v) = Stats.tail(xs).get
    assert(xs.count(_ > v) >= 10)
    assert(p == 82)
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 100) == 10.0)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 10) == 1.0)
  }

  test("self time subtracts the union of nested children") {
    // parent [0, 100), children [10, 20) and [50, 80)
    assert(Stats.selfTime(0, 100, Seq(10L -> 20L, 50L -> 80L)) == 60)
    assert(Stats.selfTime(0, 100, Nil) == 100)
  }

  test("self time counts overlapping children once") {
    // [10, 40) and [30, 60) overlap in [30, 40): together they cover 50
    assert(Stats.selfTime(0, 100, Seq(10L -> 40L, 30L -> 60L)) == 50)
    // a child inside another adds nothing
    assert(Stats.selfTime(0, 100, Seq(10L -> 90L, 20L -> 30L)) == 20)
  }

  test("self time clips children that stick out of the parent") {
    assert(Stats.selfTime(100, 200, Seq(50L -> 150L, 180L -> 300L)) == 30)
    assert(Stats.selfTime(100, 200, Seq(0L -> 50L)) == 100)
  }
}
