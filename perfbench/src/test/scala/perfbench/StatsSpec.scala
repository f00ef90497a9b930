package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "ten samples leave none with ten beyond")
    val (v11, p11) = Stats.tail((1 to 11).map(_.toDouble).reverse).get
    assert(v11 == 1.0 && math.abs(p11 - 100.0 / 11) < 1e-9)
    val (v100, p100) = Stats.tail(scala.util.Random.shuffle((1 to 100).map(_.toDouble))).get
    assert(v100 == 90.0 && p100 == 90.0)
    val xs = (1 to 37).map(i => i * 0.5)
    val (v, _) = Stats.tail(xs).get
    assert(xs.count(_ > v) == 10)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts each covered instant once, children may overlap") {
    // parent [0, 100); children [10, 30) and [20, 50) overlap on [20, 30).
    assert(Stats.selfTime((0, 100), Seq((10, 30), (20, 50))) == 60)
    // a child nested in another, and one sticking out past the parent.
    assert(Stats.selfTime((0, 100), Seq((10, 90), (20, 30), (95, 140))) == 15)
    // disjoint children and an empty one.
    assert(Stats.selfTime((0, 100), Seq((0, 10), (50, 60), (70, 70))) == 80)
    assert(Stats.selfTime((0, 100), Nil) == 100)
  }

  test("union length merges touching and unsorted intervals") {
    assert(Stats.unionLength(Seq((30, 40), (0, 10), (10, 20))) == 30)
  }
}
