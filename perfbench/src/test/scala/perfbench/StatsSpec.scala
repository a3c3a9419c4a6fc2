package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile interpolates between closest ranks") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 11.0)
    assert(Stats.percentile(xs, 90) == 10.0)
    // rank 0.9 * 3 = 2.7 between 30 and 40
    assert(math.abs(Stats.percentile(Seq(10.0, 20.0, 30.0, 40.0), 90) - 37.0) < 1e-9)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("samples beyond a percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(xs, 90) == 10)
    assert(Stats.beyond(xs, 50) == 50)
  }

  test("empty input and out-of-range percentiles are errors") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
