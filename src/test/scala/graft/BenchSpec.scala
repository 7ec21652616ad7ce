package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query sampling: a run that throws yields no timing. */
class BenchSpec extends AnyFunSuite {

  /** A run that sleeps `ms(i)` on its i-th call and throws on the call
    * numbered `failAt` (1-based; 0 = never). */
  private class Script(ms: Seq[Long], failAt: Int = 0) {
    var calls = 0
    var resets = 0
    val run: () => Unit = () => {
      calls += 1
      if (calls == failAt) throw new IllegalStateException("boom")
      Thread.sleep(ms.lift(calls - 1).getOrElse(0L))
    }
    val reset: () => Unit = () => resets += 1
  }

  test("a query that throws gets no timing and is not sampled again") {
    val sc = new Script(Nil, failAt = 1)
    assert(Bench.sampleQuery("q_fail", 3, sc.run, sc.reset).isEmpty)
    assert(sc.calls == 1)
    assert(sc.resets == 1)
  }

  test("a failure after timed samples still drops the query") {
    val sc = new Script(Seq(60L, 30L), failAt = 3)
    assert(Bench.sampleQuery("q_late_fail", 3, sc.run, sc.reset).isEmpty)
    assert(sc.calls == 3)
    assert(sc.resets == 3)
  }

  test("passing runs are timed once each and reset after every sample") {
    val sc = new Script(Seq(120L, 60L, 0L))
    val runs = Bench.sampleQuery("q_ok", 3, sc.run, sc.reset)
    assert(runs.map(_.size).contains(3))
    assert(runs.get.head >= 0.12)
    assert(sc.resets == 3)
  }

  test("growing samples take up to 2 extras; a failing extra drops the query") {
    val grows = new Script(Seq(0L, 150L, 300L, 450L, 600L))
    val runs = Bench.sampleQuery("q_grow", 3, grows.run, grows.reset)
    assert(runs.exists(r => r.size >= 4 && r.size <= 5), runs)
    val extraFails = new Script(Seq(0L, 150L, 300L), failAt = 4)
    assert(Bench.sampleQuery("q_grow_fail", 3, extraFails.run,
      extraFails.reset).isEmpty)
  }
}
