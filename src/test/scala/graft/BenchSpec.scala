package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the bench's self-adjudication arithmetic (no Spark session —
  * pure functions over pass totals). */
class BenchSpec extends AnyFunSuite {

  test("hostSettling fires on a monotonic >1.4x decline (the r18 window)") {
    // the r18 driver window: 284 -> 198 -> 149 (1.9x, monotone)
    assert(Bench.hostSettling(Seq(284.0, 198.0, 149.0)))
    // synthetic injected slow first pass
    assert(Bench.hostSettling(Seq(100.0, 80.0, 60.0)))
  }

  test("pass totals compare only queries that succeeded in every pass") {
    // Round 19 review: a query that fails fast in one pass but runs in
    // another must not fabricate a monotonic decline (spurious
    // host_settling + a wasted 4th pass). Failures are negative entries.
    val steady = Seq(
      Map("a" -> 100.0, "b" -> 45.0, "c" -> 5.0),
      Map("a" -> 99.0, "b" -> -0.2, "c" -> 4.9), // b fails fast in pass 2
      Map("a" -> 98.0, "b" -> -0.2, "c" -> 5.1)) // and in pass 3
    val totals = Bench.commonSuccessTotals(steady)
    // naive totals would read 150 > 104 > 103 (>1.4x, monotone); the
    // common-success totals stay flat and the flag stays quiet
    assert(totals.forall(t => t > 102 && t < 106), totals.toString)
    assert(!Bench.hostSettling(totals))
    // all-pass queries reproduce the plain sums
    val clean = Seq(Map("a" -> 2.0, "b" -> 3.0), Map("a" -> 1.0, "b" -> 2.0))
    assert(Bench.commonSuccessTotals(clean) == Seq(5.0, 3.0))
  }

  test("hostSettling stays quiet on steady or non-monotonic windows") {
    // steady host: small non-monotonic wobble
    assert(!Bench.hostSettling(Seq(100.0, 95.0, 101.0)))
    // monotone but shallow (warm-up inside the normal band)
    assert(!Bench.hostSettling(Seq(100.0, 90.0, 85.0)))
    // a SLOWING host is a different pathology; the flag is specifically
    // "this record's minima are better than the window that took them"
    assert(!Bench.hostSettling(Seq(100.0, 120.0, 140.0)))
    // degenerate inputs
    assert(!Bench.hostSettling(Seq(100.0, 50.0)))
    assert(!Bench.hostSettling(Nil))
  }

  test("readPrev refuses a previous record from another forcing convention") {
    def record(forcing: String) = {
      val p = java.nio.file.Files.createTempFile("bench-prev", ".json")
      java.nio.file.Files.writeString(p, s"""{"value":10.0,"cpu_cal_sec":1.0,""" +
        s""""io_cal_sec":2.0,"sf":"/sf"$forcing,"queries":{"q01":1.5}}""")
      p
    }
    assert(Bench.readPrev("/sf", record(s""","forcing":"${Bench.Forcing}"""")) ==
      Some((10.0, 1.0, 2.0, Map("q01" -> 1.5))))
    // the count() convention, and records that predate the field
    assert(Bench.readPrev("/sf", record(""","forcing":"count"""")).isEmpty)
    assert(Bench.readPrev("/sf", record("")).isEmpty)
    // another scale factor is refused as before
    assert(Bench.readPrev("/other", record(s""","forcing":"${Bench.Forcing}"""")).isEmpty)
  }
}
