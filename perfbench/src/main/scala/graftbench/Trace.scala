package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary (System.nanoTime clock).
  * `parent` is 0 for a root; every span of one op shares `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span sink; spans are written out when the run ends. */
final class Tracer {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextOp(): Long = ids.incrementAndGet()

  def span(parent: Long, op: Long, name: String, start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, op, name, start, math.max(start, end)))
    id
  }

  def spans: Seq[Span] = buf.asScala.toSeq

  /** One JSON object per line: name, start/end in µs since the first
    * span, parent, op. */
  def write(path: String): Unit = {
    val all = spans.sortBy(_.id)
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val sb = new StringBuilder
    for (s <- all)
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_us":${(s.start - t0) / 1000.0}%.1f,"end_us":${(s.end - t0) / 1000.0}%.1f}""").append('\n')
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of its own
    * interval that its children cover (children clipped to the parent,
    * overlaps between children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.dur - covered(s, kids.getOrElse(s.id, Nil)))).toMap
  }

  /** Length of the union of `children` intervals clipped to `s`. */
  def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** For each root span: |sum of the self times in its tree − its
    * duration|, in ns. Zero when children nest inside their parents and
    * siblings do not overlap. */
  def selfSumResiduals(spans: Seq[Span]): Map[Long, Long] = {
    val self = selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    def treeSelf(id: Long): Long =
      self(id) + kids.getOrElse(id, Nil).map(c => treeSelf(c.id)).sum
    spans.filter(_.parent == 0L).map(r => r.id -> math.abs(treeSelf(r.id) - r.dur)).toMap
  }
}
