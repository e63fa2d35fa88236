package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil) == 0.0)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(t.beyond == 10)
    assert(t.n == 100)
    // exactly ten beyond at any size past twenty
    for (n <- 21 to 60) {
      val tn = Stats.tail((1 to n).map(_.toDouble))
      assert(tn.beyond == 10, s"n=$n")
      assert(tn.value == n - 10)
    }
  }

  test("with too few samples the tail stops at the median and says so") {
    val t = Stats.tail((1 to 10).map(_.toDouble))
    assert(t.value == 6.0) // rank n/2 + 1: never below the median (5.5)
    assert(t.value >= Stats.median((1 to 10).map(_.toDouble)))
    assert(t.beyond == 4)
    assert(t.percentile == 60.0)
    val one = Stats.tail(Seq(7.0))
    assert(one.value == 7.0 && one.beyond == 0 && one.percentile == 100.0)
    val twenty = Stats.tail((1 to 20).map(_.toDouble))
    assert(twenty.value == 11.0 && twenty.beyond == 9)
  }

  test("mix median weighs each kind by its share, not its count") {
    // two fast and one slow kind in equal shares: one extra fast sample
    // at the end of a run must not move the median
    val mix = Map("fast" -> 1.0, "mid" -> 1.0, "slow" -> 1.0)
    val run = Seq("fast" -> 1.0, "mid" -> 2.0, "slow" -> 3.0, "fast" -> 1.0, "mid" -> 2.0)
    assert(Stats.mixMedian(run, mix) == 2.0)
    assert(Stats.mixMedian(run :+ ("fast" -> 1.0), mix) == 2.0)
    assert(Stats.median((run :+ ("fast" -> 1.0)).map(_._2)) == 1.5)
    assert(Stats.weightedMedian(Seq(1.0 -> 1.0, 5.0 -> 3.0)) == 5.0)
  }

  test("mix rate is the reciprocal of the mix-weighted mean latency") {
    val mix = Map("a" -> 3.0, "b" -> 1.0)
    val ops = Seq(("a", 1.0, 10.0), ("a", 1.0, 10.0), ("b", 5.0, 0.0))
    // mean seconds = 0.75 * 1 + 0.25 * 5 = 2; mean amount = 7.5
    assert(Stats.mixRate(ops.map(o => (o._1, o._2, 1.0)), mix) == 0.5)
    assert(Stats.mixRate(ops, mix) == 3.75)
    // a kind absent from the run is left out of the mix
    assert(Stats.mixRate(Seq(("a", 2.0, 1.0)), mix) == 0.5)
  }

  test("failures count against the number attempted") {
    assert(Stats.failureShare(10, 0) == 0.0)
    assert(Stats.failureShare(8, 2) == 0.25)
    assert(Stats.failureShare(0, 0) == 0.0)
    intercept[IllegalArgumentException](Stats.failureShare(2, 3))
    intercept[IllegalArgumentException](Stats.failureShare(2, -1))
  }
}
