package gridperf

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val ten = (1 to 10).map(_.toDouble)

  test("nearest rank: p50 of an even count is the lower middle sample") {
    assert(Stats.median(ten) === 5.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }

  test("nearest rank: p95 of 10 samples is the maximum, of 100 the 95th") {
    assert(Stats.percentile(ten, 95) === 10.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 95) === 95.0)
    assert(Stats.percentile(ten, 100) === 10.0)
    assert(Stats.percentile(ten, 1) === 1.0)
  }

  test("the sample count beyond a percentile") {
    assert(Stats.beyond((1 to 100).map(_.toDouble), 95) === 5)
    assert(Stats.beyond((1 to 200).map(_.toDouble), 95) === 10)
    assert(Stats.beyond(ten, 95) === 0)
    // ties at the percentile value are not beyond it
    assert(Stats.beyond(Seq(1.0, 2.0, 2.0, 2.0), 50) === 0)
  }

  test("no samples or a percentile outside (0, 100] is an error") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(ten, 0))
    assertThrows[IllegalArgumentException](Stats.percentile(ten, 101))
  }
}
