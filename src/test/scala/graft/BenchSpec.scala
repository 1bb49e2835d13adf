package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure parts of `Bench`: the host-derived N→4N levels and the median
  * pair efficiency it reports. */
class BenchSpec extends AnyFunSuite {

  test("levels: N = nproc/4 and 4N = 4·N; none below 4 cores") {
    assert(Bench.levels(1).isEmpty)
    assert(Bench.levels(3).isEmpty)
    assert(Bench.levels(4).contains((1, 4)))
    assert(Bench.levels(8).contains((2, 8)))
    assert(Bench.levels(32).contains((8, 32)))
  }

  test("median: middle value for odd counts, mean of the two middles for even") {
    assert(Bench.median(Seq(0.9)) == 0.9)
    assert(Bench.median(Seq(0.943, 0.697, 0.851)) == 0.851)
    assert(Bench.median(Seq(0.875, 0.625)) == 0.75)
    assert(Bench.median(Seq(0.875, 0.5, 1.0, 0.625)) == 0.75)
    intercept[IllegalArgumentException](Bench.median(Nil))
  }
}
