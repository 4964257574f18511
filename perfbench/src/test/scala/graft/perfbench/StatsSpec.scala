package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(11).contains(100.0 / 11))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    // capped at p95 once there are more than enough samples
    assert(Stats.tailPercentile(1000).contains(95.0))
    // and the value it picks leaves exactly ten samples above it
    Seq(21, 40, 57, 199, 200).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val (p, v) = Stats.tail(xs)
      assert(xs.count(_ > v) >= Stats.TailBeyond, s"n=$n p=$p v=$v")
      if (p < 95.0) assert(xs.count(_ > v) == Stats.TailBeyond, s"n=$n p=$p v=$v")
    }
  }

  test("with too few samples for a tail above the median, the median is reported") {
    val xs = Seq(5.0, 1.0, 3.0, 2.0, 4.0)
    assert(Stats.tail(xs) == ((50.0, 3.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble))._1 == 50.0)
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 95) == 95.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
  }

  test("self time is the span minus the union of its children") {
    // no children: all self time
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    // disjoint children
    assert(Stats.selfTime((0L, 100L), Seq((10L, 20L), (30L, 50L))) == 70L)
    // overlapping children count once
    assert(Stats.selfTime((0L, 100L), Seq((10L, 40L), (30L, 60L), (35L, 45L))) == 50L)
    // children reaching outside the span are clipped to it
    assert(Stats.selfTime((10L, 50L), Seq((0L, 20L), (40L, 90L))) == 20L)
    // a child covering the span leaves no self time
    assert(Stats.selfTime((10L, 50L), Seq((0L, 100L))) == 0L)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }
}
