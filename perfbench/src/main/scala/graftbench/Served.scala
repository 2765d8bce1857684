package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.sources.{Endpoints, ParamEndpoints}

/** A pipe request: registry name plus template params. */
final case class Query(name: String, params: Map[String, String] = Map.empty) {
  /** The API path that serves this query as JSON. */
  def path: String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    s"/v0/pipes/$name.json" + (if (params.isEmpty) "" else
      params.toSeq.sorted.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("?", "&", ""))
  }
}

/** Clock readings (nanoTime) and payload facts of one in-process
  * served op: t0..t1 builds the DataFrame, t1..t2 renders it. */
final case class OpRecord(op: Long, query: Query, t0: Long, t1: Long, t2: Long,
                          dfAnalysisNs: Long, rows: Int, bytes: Int, clipped: Boolean,
                          compiles: Long, compileNs: Long, digest: String)

/** Serves a query in-process the way the API does: build the DataFrame
  * through the public registry (or the parameterized endpoint), then
  * render the JSON payload with the API's row limit. */
object Served {
  val RowLimit = 10000

  private val parameterized: Map[String, (SparkSession, String, Map[String, String]) => DataFrame] = Map(
    "ref_flights_missed_pct_minute" -> (ParamEndpoints.refFlightsMissedPctMinute _))

  def build(spark: SparkSession, dir: String, q: Query): DataFrame =
    parameterized.get(q.name) match {
      case Some(f) => f(spark, dir, q.params)
      case None =>
        require(q.params.isEmpty, s"${q.name} takes no params")
        SparkEntry.queries(q.name)(spark, dir)
    }

  /** Serve `q` once. With `op` > 0 its Spark jobs carry the op id. */
  def run(spark: SparkSession, dir: String, q: Query, op: Long = 0L): OpRecord = {
    val sc = spark.sparkContext
    if (op > 0) sc.setLocalProperty(Probe.OpKey, op.toString)
    try {
      val (c0, n0) = Probe.codegen()
      val t0 = System.nanoTime()
      val df = build(spark, dir, q)
      val t1 = System.nanoTime()
      val r = Endpoints.renderJson(df, RowLimit)
      val t2 = System.nanoTime()
      val (c1, n1) = Probe.codegen()
      val analysisNs = df.queryExecution.tracker.phases.get("analysis")
        .map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).getOrElse(0L)
      val bytes = r.body.getBytes("UTF-8")
      OpRecord(op, q, t0, t1, t2, analysisNs, r.rows, bytes.length, r.overflow,
        c1 - c0, n1 - n0, Digest.sha256(bytes))
    } finally if (op > 0) sc.setLocalProperty(Probe.OpKey, null)
  }
}
