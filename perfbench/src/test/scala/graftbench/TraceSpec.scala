package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def sp(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, parent, 1L, s"s$id", start, end)

  test("self time is the duration minus what the children cover") {
    val spans = Seq(sp(1, 0, 0, 100), sp(2, 1, 10, 40), sp(3, 1, 50, 70), sp(4, 2, 20, 30))
    val self = Trace.selfTimes(spans)
    assert(self == Map(1L -> 50L, 2L -> 20L, 3L -> 20L, 4L -> 10L))
    assert(Trace.selfSumResiduals(spans) == Map(1L -> 0L))
  }

  test("overlapping children are covered once; a child is clipped to its parent") {
    val spans = Seq(sp(1, 0, 0, 100), sp(2, 1, 10, 50), sp(3, 1, 30, 60), sp(4, 1, 90, 130))
    assert(Trace.selfTimes(spans)(1L) == 100L - 50L - 10L)
    // overlap and overhang break the sum; the residual reports it
    assert(Trace.selfSumResiduals(spans)(1L) == 20L + 30L)
  }

  test("an op's layer spans sum to the op") {
    val r = OpRecord(7L, Query("q"), t0 = 1000000L, t1 = 31000000L, t2 = 81000000L,
      dfAnalysisNs = 2000000L, rows = 3, bytes = 10, clipped = false, compiles = 0, compileNs = 0, digest = "")
    val qe = Probe.QeRecord(Map(
      "analysis" -> (31000000L, 32000000L),
      "optimization" -> (32000000L, 36000000L),
      "planning" -> (36000000L, 38000000L)), durationNs = 40000000L)
    val split = Layers.split(r, Seq(qe))
    assert(split.total == r.t2 - r.t0)
    assert(split.buildAnalysis == 2000000L && split.construct == 28000000L)
    assert(split.optimization == 4000000L && split.planning == 2000000L)
    // the action's 40 ms include its 6 ms of optimization and planning
    assert(split.execution == 34000000L)
    assert(split.serialize == 50000000L - 1000000L - 4000000L - 2000000L - 34000000L)

    val tracer = new Tracer
    val root = tracer.span(0L, 7L, "http", 0L, 90000000L)
    Layers.record(tracer, split, root, 7L, 90000000L - split.total)
    val spans = tracer.spans
    assert(Trace.selfSumResiduals(spans) == Map(root -> 0L))
    val self = Trace.selfTimes(spans)
    val byName = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
    assert(byName("http") == 90000000L - split.total)
    assert(byName("analysis") == split.analysis)
    assert(byName("construct") == split.construct)
    assert(byName("serialize") == split.serialize)
  }

  test("query executions go to the op running when they were planned") {
    def rec(op: Long, t0: Long, t2: Long) = OpRecord(op, Query("q"), t0, t0 + 1, t2, 0, 0, 0,
      clipped = false, 0, 0, "")
    def qe(start: Long) = Probe.QeRecord(Map("planning" -> (start, start + 1)), 1L)
    val ops = Seq(rec(1, 0L, 10000000L), rec(2, 20000000L, 30000000L))
    val got = Layers.assign(ops, Seq(qe(5000000L), qe(25000000L), qe(26000000L), qe(15000000L)))
    assert(got(1L).size == 1 && got(2L).size == 2)
  }
}
