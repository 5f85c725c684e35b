package graft

import java.util.concurrent.TimeoutException

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-query scheduler-counter snapshot. */
class BenchSpec extends AnyFunSuite {

  test("counterSnap: a listener-bus timeout gives no counters instead of a failure") {
    assert(Bench.counterSnap(() => (), () => (3L, 2L, 1L)) == Some((3L, 2L, 1L)))
    var read = false
    val timedOut = Bench.counterSnap(() => throw new TimeoutException("bus"),
      () => { read = true; (3L, 2L, 1L) })
    assert(timedOut.isEmpty && !read)
    // Anything other than a timeout is still an error.
    intercept[IllegalStateException](
      Bench.counterSnap(() => throw new IllegalStateException("x"), () => (0L, 0L, 0L)))
  }

  test("defaultOut: one record file per scale factor and core count") {
    assert(Bench.defaultOut("/data/tpch/sf0.1", 32) == "BENCH_LOCAL_sf0.1_c32.json")
    assert(Bench.defaultOut("data/sf1/", 8) == "BENCH_LOCAL_sf1_c8.json")
  }
}
