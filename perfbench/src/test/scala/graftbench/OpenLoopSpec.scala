package graftbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  test("a late generator and a busy client are charged from the due time") {
    // due at 0; the generator handed it over 50 late, a client picked it
    // up 10 after that, the last byte came 40 later
    val s = Sample(0, due = 1000L, dispatched = 1050L, sent = 1060L, done = 1100L, ok = true)
    assert(s.lateNs == 50L)
    assert(s.clientWaitNs == 60L)
    assert(s.serviceNs == 40L)
    assert(s.latencyNs == 100L)
    assert(s.latencyNs == s.clientWaitNs + s.serviceNs)
  }

  test("requests of one refresh queued behind a slow client count from their due time") {
    // one tick of 10 requests on one client that takes 20 ms each: the
    // latency of request i includes its wait behind the i before it
    val samples = OpenLoop.ticked(1, 10, 1000000000L, clients = 1) { _ => Thread.sleep(20); true }
    assert(samples.size == 10 && samples.forall(_.ok))
    for (s <- samples) {
      assert(s.latencyNs == s.clientWaitNs + s.serviceNs)
      assert(s.dispatched >= s.due && s.sent >= s.dispatched)
    }
    assert(samples.last.clientWaitNs >= 9 * 20 * 1000000L)
    assert(samples.last.latencyNs > samples.head.latencyNs)
  }

  test("a refresh that overruns its period makes the next one fire when it ends") {
    // 10 ms period over 3 periods, a refresh takes 25 ms: refresh 1 is
    // due when refresh 0 ends, not 10 ms after it was due, and there is
    // no third refresh, as refresh 1 ends after the 30 ms window
    val samples = OpenLoop.ticked(3, 1, 10000000L, clients = 1) { _ => Thread.sleep(25); true }
    assert(samples.map(_.index) == IndexedSeq(0, 1))
    assert(samples(1).due >= samples(0).done)
    assert(samples.forall(s => s.latencyNs < 40000000L))
  }

  test("refreshes that keep up stay on their period") {
    val samples = OpenLoop.ticked(3, 2, 20000000L, clients = 2) { _ => true }
    assert(samples.map(_.index) == IndexedSeq(0, 1, 2, 3, 4, 5))
    assert(samples.map(_.due - samples.head.due) == IndexedSeq(0L, 0L, 20000000L, 20000000L, 40000000L, 40000000L))
  }

  test("given a stop, a period of 0 refreshes back to back until it is stopped") {
    // each refresh takes 5 ms; stop once three have ended
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val samples = OpenLoop.ticked(100, 2, 0L, clients = 2, stop = Some(() => ended.get >= 3)) { i =>
      Thread.sleep(5); if (i % 2 == 1) ended.incrementAndGet(); true
    }
    assert(samples.size == 6)
    // each refresh starts once the one before has ended
    for (k <- 1 until 3) assert(samples(2 * k).due >= samples(2 * k - 1).done)
  }

  test("a request that throws is a failed sample, not a lost one") {
    val samples = OpenLoop.ticked(1, 3, 1000000L, clients = 2) { i =>
      if (i == 1) throw new RuntimeException("boom") else true
    }
    assert(samples.map(_.ok) == IndexedSeq(true, false, true))
  }
}
