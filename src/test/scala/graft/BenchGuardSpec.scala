package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench outlier guard's circuit breakers (Bench.scala's
  * BenchGuard): the r16 driver artifact was rc 124 / unparseable because
  * a sustained host stall tripped the guard on query after query and the
  * re-runs multiplied the sweep past the driver's timeout. The property
  * these tests protect: under ANY slowdown pattern the sweep does a
  * BOUNDED amount of extra work, so the bench JSON always gets written.
  * The stall streak feeds on the POST-rerun status (still an outlier
  * after its re-runs): a tripped query fully recovered by a re-run is a
  * weathered transient and RESETS the streak — feeding the pre-rerun
  * flag declared stalls on recovered scattered transients and disarmed
  * the guard for the rest of the sweep (ADVICE r17). No Spark session —
  * the guard is pure sweep-state. */
class BenchGuardSpec extends AnyFunSuite {

  private val ref = (1 to 20).map(i => s"q$i" -> 1.0).toMap // 20 s total

  test("per-query rule: outlier needs BOTH the K-ratio and the 1 s " +
    "absolute floor; un-guarded queries never trip") {
    val g = new BenchGuard(ref)
    assert(!g.isOutlier("q1", 2.9))            // under K× (K = 3 from 1 s)
    assert(g.isOutlier("q1", 3.1))             // over both
    assert(!g.isOutlier("q1", -1.0))           // failed run is not an outlier
    assert(!g.isOutlier("brand_new_query", 99.0)) // no reference
    val tiny = new BenchGuard(Map("t" -> 0.1))
    assert(!tiny.isOutlier("t", 0.9)) // 9x but under the 1 s floor: jitter
    assert(tiny.isOutlier("t", 1.2))
  }

  test("outlier ratio: K = 3 for a reference of 1 s or more, K = 5 " +
    "below it") {
    val g = new BenchGuard(Map("slow" -> 2.5, "fast" -> 0.5))
    assert(g.isOutlier("slow", 8.0))  // 3.2x a 2.5 s reference
    assert(!g.isOutlier("fast", 2.0)) // 4x a 0.5 s reference, under K = 5
    assert(g.isOutlier("fast", 2.6))  // 5.2x and 2.1 s over
    assert(BenchGuard.outlierK(1.0) == 3.0 && BenchGuard.outlierK(0.99) == 5.0)
  }

  test("scattered transients: re-runs allowed (max 2 per query), and a " +
    "RECOVERED re-run resets the streak — transients never declare a " +
    "stall no matter how many of them land back-to-back") {
    val g = new BenchGuard(ref)
    assert(g.mayRerun("q1", 10.0, reranSoFar = 0))
    assert(g.mayRerun("q1", 10.0, reranSoFar = 1))
    assert(!g.mayRerun("q1", 10.0, reranSoFar = 2)) // per-query cap
    // five consecutive queries trip, every one recovers on its re-run:
    // the classic scattered-transient signature — post-rerun status is
    // "normal", so the streak resets each time and stall never arms
    (1 to 5).foreach { i =>
      g.chargeRerun(5.0)
      g.queryDone(s"q$i", stillOutlier = false, ok = true)
    }
    assert(!g.hostStall)
    assert(g.mayRerun("q6", 10.0, reranSoFar = 0)) // 25 < 30 s budget
  }

  test("host stall: 3 consecutive queries STILL outliers after their " +
    "re-runs disable re-runs for the rest of the sweep — bounded extra " +
    "work, artifact still written") {
    val g = new BenchGuard(ref)
    Seq("q1", "q2", "q3").foreach { q =>
      assert(g.mayRerun(q, 20.0, 0))
      g.chargeRerun(1.0)
      g.queryDone(q, stillOutlier = true, ok = true)
    }
    assert(g.hostStall)
    // every later outlier finishes single-pass, no matter the budget left
    assert(!g.mayRerun("q4", 50.0, 0))
    // and a stall never un-declares: one normal reading in a stalled host
    // does not re-arm the re-run machinery
    g.queryDone("q5", stillOutlier = false, ok = true)
    assert(g.hostStall && !g.mayRerun("q6", 50.0, 0))
  }

  test("a normal guarded reading between two stuck queries breaks the " +
    "streak; un-guarded (new) queries are blind — they neither extend " +
    "nor break it") {
    val g = new BenchGuard(ref)
    g.queryDone("q1", stillOutlier = true, ok = true)
    g.queryDone("q2", stillOutlier = true, ok = true)
    g.queryDone("q3", stillOutlier = false, ok = true) // normal: reset
    g.queryDone("q4", stillOutlier = true, ok = true)
    assert(!g.hostStall) // never 3 consecutive
    val h = new BenchGuard(ref)
    h.queryDone("q1", stillOutlier = true, ok = true)
    h.queryDone("new_a", stillOutlier = false, ok = true) // no ref: blind
    h.queryDone("q2", stillOutlier = true, ok = true)
    h.queryDone("new_b", stillOutlier = false, ok = true)
    h.queryDone("q3", stillOutlier = true, ok = true)
    assert(h.hostStall)
  }

  test("global budget: total re-run seconds bounded by max(30, 10% of " +
    "the committed total) — a slow-bleed of weatherable transients " +
    "cannot double the sweep") {
    // big registry: 1000 s committed -> 100 s budget
    val big = (1 to 100).map(i => s"q$i" -> 10.0).toMap
    val g = new BenchGuard(big)
    assert(g.rerunBudgetSec == 100.0)
    // every transient recovers (so stall never arms) while the budget
    // drains
    var i = 0
    while (g.rerunSpentSec < g.rerunBudgetSec) {
      i += 1
      assert(g.mayRerun(s"q${(i % 100) + 1}", 60.0, 0))
      g.chargeRerun(25.0)
      g.queryDone(s"q${(i % 100) + 1}", stillOutlier = false, ok = true)
    }
    assert(!g.hostStall)
    assert(!g.mayRerun("q7", 60.0, 0)) // budget spent: single-pass now
    assert(g.rerunSpentSec <= g.rerunBudgetSec + 25.0) // one overshoot max
    // small registry floor
    assert(new BenchGuard(ref).rerunBudgetSec == 30.0)
  }

  test("unrecovered outliers are published as stall readings only when " +
    "the stall detector fired; otherwise as outliers") {
    val healthy = new BenchGuard(ref)
    healthy.queryDone("q1", stillOutlier = true, ok = true)
    assert(!healthy.hostStall)
    assert(healthy.publishedLabel == "outlier_published")
    val stalled = new BenchGuard(ref)
    Seq("q1", "q2", "q3").foreach(
      stalled.queryDone(_, stillOutlier = true, ok = true))
    assert(stalled.hostStall)
    assert(stalled.publishedLabel == "stall_published")
  }
}
