package graftbench

/** Splits traced in-process ops into layer self times, records their
  * spans, and aggregates the per-layer metrics. */
object Layers {

  /** Layer self times of one op, ns; they sum to the op's wall time. */
  final case class Split(construct: Long, buildAnalysis: Long, renderAnalysis: Long,
                         optimization: Long, planning: Long, execution: Long, serialize: Long) {
    def analysis: Long = buildAnalysis + renderAnalysis
    def total: Long =
      construct + analysis + optimization + planning + execution + serialize
  }

  /** Query executions per op: each goes to the latest op that had
    * started when its planning began (traced ops run one at a time). */
  def assign(records: Seq[OpRecord], qes: Seq[Probe.QeRecord]): Map[Long, Seq[Probe.QeRecord]] = {
    val byStart = records.sortBy(_.t0).toIndexedSeq
    qes.flatMap { qe =>
      byStart.lastIndexWhere(_.t0 <= qe.start + 500000L) match {
        case -1 => None
        case i if qe.start <= byStart(i).t2 => Some(byStart(i).op -> qe)
        case _ => None
      }
    }.groupBy(_._1).map { case (op, xs) => op -> xs.map(_._2) }
  }

  /** The layer split of one op. The DataFrame's own analysis runs while
    * it is built; the render's query executions (those planned after
    * construction) give analysis, optimization and planning from
    * Spark's tracker, and execution from the listener's action time less
    * the planning it includes. What remains of the render is payload
    * serialization. Query executions run while the DataFrame is built
    * (eager actions inside a query's construction) stay in construct. */
  def split(r: OpRecord, qes: Seq[Probe.QeRecord]): Split = {
    val render = qes.filter(_.start >= r.t1 - 1000000L)
    val constructWall = r.t1 - r.t0
    val renderWall = r.t2 - r.t1
    val aDf = math.min(r.dfAnalysisNs, constructWall)
    val aR = render.map(_.phase("analysis")).sum
    val o = render.map(_.phase("optimization")).sum
    val p = render.map(_.phase("planning")).sum
    val e = render.map(q => math.max(0L, q.durationNs - q.phase("optimization") - q.phase("planning"))).sum
    // tracker phases are ms-granular: never let them exceed the render
    val spark = aR + o + p + e
    val scale = if (spark > renderWall && spark > 0) renderWall.toDouble / spark else 1.0
    def sc(x: Long) = math.round(x * scale)
    val (aR1, o1, p1, e1) = (sc(aR), sc(o), sc(p), sc(e))
    val ser = math.max(0L, renderWall - aR1 - o1 - p1 - e1)
    Split(constructWall - aDf, aDf, aR1, o1, p1,
      e1 + (renderWall - aR1 - o1 - p1 - e1 - ser), ser)
  }

  /** Record the op's spans: `op` with its layers laid out in order
    * inside it, starting at `start` (the op's own t0 unless it is a
    * replay placed inside an HTTP span). Returns the op span id. */
  def record(tracer: Tracer, s: Split, parent: Long, opId: Long, start: Long): Long = {
    val opSpan = tracer.span(parent, opId, "op", start, start + s.total)
    val c1 = start + s.construct + s.buildAnalysis
    val cSpan = tracer.span(opSpan, opId, "construct", start, c1)
    if (s.buildAnalysis > 0) tracer.span(cSpan, opId, "analysis", c1 - s.buildAnalysis, c1)
    var t = c1
    for ((name, d) <- Seq("analysis" -> s.renderAnalysis, "optimization" -> s.optimization,
        "planning" -> s.planning, "execution" -> s.execution, "serialize" -> s.serialize)) {
      if (d > 0) tracer.span(opSpan, opId, name, t, t + d)
      t += d
    }
    opSpan
  }

  /** Per-op means of the layer split and Spark counters. */
  def metrics(records: Seq[OpRecord], splits: Map[Long, Split], probe: Probe): Map[String, Double] = {
    val n = math.max(1, records.size).toDouble
    def ms(f: Split => Long) = records.map(r => f(splits(r.op))).sum / 1e6 / n
    val cs = records.map(r => probe.countersOf(r.op))
    val inputRows = cs.map(_.inputRows).sum.toDouble
    val rowsServed = records.map(_.rows.toLong).sum.toDouble
    Map(
      "registry.construct_ms" -> ms(_.construct),
      "sql.analysis_ms" -> ms(_.analysis),
      "sql.optimization_ms" -> ms(_.optimization),
      "sql.planning_ms" -> ms(_.planning),
      "sql.execution_ms" -> ms(_.execution),
      "endpoints.serialize_ms" -> ms(_.serialize),
      "sql.jobs" -> cs.map(_.jobs).sum / n,
      "sql.stages" -> cs.map(_.stages).sum / n,
      "sql.tasks" -> cs.map(_.tasks).sum / n,
      "sql.input_rows" -> inputRows / n,
      "sql.shuffle_bytes" -> cs.map(_.shuffleBytes).sum / n,
      "sql.rows_scanned_per_row_served" -> (if (rowsServed > 0) inputRows / rowsServed else 0.0),
      "sql.codegen_compiles" -> records.map(_.compiles).sum / n,
      "sql.codegen_compile_ms" -> records.map(_.compileNs).sum / 1e6 / n,
      "endpoints.payload_bytes" -> records.map(_.bytes.toLong).sum / n,
      "endpoints.rows" -> rowsServed / n,
      "endpoints.clipped" -> records.count(_.clipped).toDouble)
  }
}
