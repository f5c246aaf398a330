package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("median of odd and even samples") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 90) == 90.0)
    assert(percentile(xs, 50) == 50.0)
    assert(percentile(xs, 100) == 100.0)
    assert(percentile(Seq(5.0), 90) == 5.0)
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    // 100 samples: p90 sits at rank 90 with exactly 10 above
    assert(supportedPercentile(100).contains(90))
    assert(beyond(100, 90) == 10)
    // 50 samples: p80 is rank 40 (10 above); p81 would leave only 9
    assert(supportedPercentile(50).contains(80))
    assert(beyond(50, 81) == 9)
    assert(supportedPercentile(11).contains(9))
    assert(supportedPercentile(10).isEmpty)
    for (n <- Seq(11, 37, 100, 250)) {
      val xs = (1 to n).map(_.toDouble)
      val p = supportedPercentile(n).get
      assert(xs.count(_ > percentile(xs, p)) >= 10, s"n=$n p=$p")
      assert(xs.count(_ > percentile(xs, p + 1)) < 10, s"n=$n p=$p")
    }
  }

  test("fail ratio") {
    assert(failRatio(0, 172) == 0.0)
    assert(failRatio(1, 4) == 0.25)
    assertThrows[IllegalArgumentException](failRatio(0, 0))
    assertThrows[IllegalArgumentException](failRatio(5, 4))
  }

  test("covered length merges overlaps and clips to the window") {
    val w = Iv(0, 10)
    assert(covered(Seq(Iv(1, 3), Iv(2, 5), Iv(7, 8)), w) == 5.0)
    assert(covered(Seq(Iv(-5, 2), Iv(9, 20)), w) == 3.0)
    assert(covered(Nil, w) == 0.0)
  }

  test("self time subtracts the children, overlap counted once") {
    assert(selfTime(Iv(0, 10), Seq(Iv(1, 4), Iv(6, 8))) == 5.0)
    assert(selfTime(Iv(0, 10), Seq(Iv(1, 4), Iv(2, 6))) == 5.0)
    assert(selfTime(Iv(0, 10), Nil) == 10.0)
    assert(selfTime(Iv(0, 10), Seq(Iv(0, 10))) == 0.0)
  }
}
