package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 of 1..100 is the 90th smallest; 91..100 lie beyond it
    assert(Stats.tail(xs) == Some(90 -> 90.0))
    assert(Stats.tail(xs.reverse) == Some(90 -> 90.0))
    // n = 20: p50, the 10th smallest, with 11..20 beyond
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(50 -> 10.0))
    // n = 11: only the minimum has ten samples beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some(9 -> 1.0))
    // n = 37: p72 is rank ceil(26.64) = 27, eleven beyond; p73 would be
    // rank 28 with only nine beyond
    assert(Stats.tail((1 to 37).map(_.toDouble)) == Some(72 -> 27.0))
  }

  test("no tail exists with ten or fewer samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("every reported tail leaves at least ten samples beyond it") {
    for (n <- 11 to 300) {
      val xs = (1 to n).map(_.toDouble)
      val Some((p, v)) = Stats.tail(xs)
      assert(xs.count(_ > v) >= 10, s"n=$n p=$p")
      // one percentile higher would leave fewer than ten beyond
      val rank = math.ceil((p + 1) * n / 100.0).toInt
      assert(p == 100 || n - rank < 10, s"n=$n p=$p")
    }
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
