package graftbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.functions.{col, max, min}
import graft.sources.ApiServer

/** The reference's airport dashboard: each refresh queries four
  * endpoints (`dash_airport.py:89,129,169,269`), due every
  * [[DashboardMix.RefreshMs]]. The windowed panel gets a seeded
  * `start`/`end` window each time. */
final class DashboardMix(ctx: Ctx) {
  val panels: IndexedSeq[String] = IndexedSeq(
    "ref_flights_missed_pct_minute", "ref_active_vs_missed_flights",
    "ref_passengers_by_flight_status", "ref_baggage_by_flight_status")
  private val Windowed = "ref_flights_missed_pct_minute"

  /** Four `start`/`end` windows inside the fixture's closed_at range. */
  val windows: IndexedSeq[Map[String, String]] = {
    val row = Served.build(ctx.spark, ctx.dir, Query("ref_latest_flight_info"))
      .agg(min(col("closed_at")), max(col("closed_at"))).first()
    val lo = row.getAs[java.time.LocalDateTime](0)
    val span = java.time.Duration.between(lo, row.getAs[java.time.LocalDateTime](1)).getSeconds
    val rnd = new Random(ctx.seed ^ 0x5eed)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    IndexedSeq.fill(4) {
      val start = lo.plusSeconds((rnd.nextDouble() * span).toLong)
      Map("start" -> start.format(fmt),
        "end" -> start.plusMinutes(10 + rnd.nextInt(110)).format(fmt))
    }
  }

  private def query(panel: String, rnd: Random): Query =
    if (panel == Windowed) Query(panel, windows(rnd.nextInt(windows.size))) else Query(panel)

  /** One refresh: every panel once, in a seeded order. */
  def refresh(rnd: Random): IndexedSeq[Query] = rnd.shuffle(panels).map(query(_, rnd))

  /** The requests of `n` refreshes, one refresh after another. */
  def refreshes(rnd: Random, n: Int): IndexedSeq[Query] = IndexedSeq.fill(n)(refresh(rnd)).flatten
}

object DashboardMix {
  /** `REFRESH_INTERVAL_SECONDS = 2` (`dash_airport.py:15`). */
  val RefreshMs = 2000L
}

/** Serves the dashboard through [[ApiServer]] and checks each payload
  * against an in-process render of the same query. */
final class ApiClient(ctx: Ctx) {
  private val token = "perfbench"
  private var server: ApiServer = _
  private var base: String = _
  private val expected = mutable.Map[Query, String]()

  def start(): Unit = {
    server = new ApiServer(ctx.spark, ctx.dir, Map(token -> Set("*")))
    base = s"http://127.0.0.1:${server.start()}"
  }

  def get(q: Query): Http.Response = Http.get(base + q.path, token)

  /** The payload digest an in-process render of `q` gives (untimed). */
  def expectedDigest(q: Query): String = synchronized {
    expected.getOrElseUpdate(q, Served.run(ctx.spark, ctx.dir, q).digest)
  }

  /** A response is right when it is a 200 whose body is the payload. */
  def ok(q: Query, r: Http.Response): Boolean =
    r != null && r.code == 200 && Digest.matches(expectedDigest(q), r.body)

  def stop(): Unit = if (server != null) server.stop()
}

/** The samples of the requests one phase sent, with their queries and
  * responses. */
final case class Requests(queries: IndexedSeq[Query], samples: IndexedSeq[Sample],
                          responses: IndexedSeq[Http.Response]) {
  /** Latencies due → last byte (failures as the slowest) and the
    * number of failed requests: non-2xx or a payload that is not the
    * in-process render's. */
  def summary(api: ApiClient, windowMs: Double): (Seq[Double], Int) = {
    val ok = queries.indices.map(i => samples(i).ok && api.ok(queries(i), responses(i)))
    (Workload.withFailures(samples.map(_.latencyNs / 1e6), ok.map(!_), windowMs), ok.count(!_))
  }
}

object Requests {
  /** Refresh the dashboard through `api`: `queries` hold one refresh
    * after another, `perTick` requests each, sent every `periodMs` over
    * `clients` threads ([[OpenLoop.ticked]]), until `stop` says so if
    * given. */
  def dashboard(api: ApiClient, queries: IndexedSeq[Query], perTick: Int, periodMs: Long,
                clients: Int, stop: Option[() => Boolean] = None): Requests = {
    val responses = new Array[Http.Response](queries.size)
    val samples = OpenLoop.ticked(queries.size / perTick, perTick, periodMs * 1000000L, clients, stop) { i =>
      val r = api.get(queries(i)); responses(i) = r; r.code == 200
    }
    Requests(samples.map(s => queries(s.index)), samples, samples.map(s => responses(s.index)))
  }

  /** Traced replay: serve each request again in-process, one at a time,
    * and hang its layer split inside the request's HTTP span; the HTTP
    * span's self time is then what the server and transport added. */
  def replay(ctx: Ctx, reqs: Requests, probe: Probe, tracer: Tracer): Map[String, Double] = {
    val recs = reqs.queries.map(q => Served.run(ctx.spark, ctx.dir, q, tracer.nextOp()))
    probe.drain()
    val qes = Layers.assign(recs, probe.queryExecutions)
    val splits = recs.map(r => r.op -> Layers.split(r, qes.getOrElse(r.op, Nil))).toMap
    val server = recs.indices.map { i =>
      val s = reqs.samples(i); val sp = splits(recs(i).op)
      val http = tracer.span(0L, recs(i).op, "http", s.sent, s.done)
      Layers.record(tracer, sp, http, recs(i).op, math.max(s.sent, s.done - sp.total))
      (s.serviceNs - sp.total) / 1e6
    }
    Layers.metrics(recs, splits, probe) ++ Map(
      "api.server_ms" -> Stats.mean(server),
      "api.client_wait_ms" -> Stats.mean(reqs.samples.map(_.clientWaitNs / 1e6)),
      "gen.late_ms" -> Stats.mean(reqs.samples.map(_.lateNs / 1e6)),
      "api.non_2xx" -> reqs.responses.count(r => r == null || r.code / 100 != 2).toDouble)
  }
}
