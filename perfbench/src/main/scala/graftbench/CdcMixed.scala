package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, struct}
import graft.operators.Dedup
import graft.sources.Endpoints
import graft.streaming.CdcStream

/** A seeded CDC change stream in the reference's op mix
  * ([[CdcMixed.OpMix]]): an insert opens a new user_id, an update or a
  * delete hits a live one, picked uniformly; a deleted user takes no more
  * changes. The op is the event's `event_type`. A small share of events
  * carries a `ts` that runs behind (out of order). */
final class EventGen(seed: Long) {
  import CdcMixed._
  private val rnd = new Random(seed)
  private var nextId = 1L
  private var nextUser = 0L
  private val live = mutable.ArrayBuffer[Long]()
  private val t0 = java.time.LocalDateTime.parse("2024-06-01T00:00:00")

  private def op(): String = {
    val x = rnd.nextDouble()
    if (live.isEmpty || x < OpMix(0)) "insert" else if (x < OpMix(0) + OpMix(1)) "update" else "delete"
  }

  /** The next `n` events: (event_id, ts, user_id, event_type, value, props). */
  def chunk(n: Int): IndexedSeq[Row] = IndexedSeq.fill(n) {
    val id = nextId; nextId += 1
    val late = if (rnd.nextDouble() < LateShare) 1 + rnd.nextInt(600) else 0
    val kind = op()
    val user = kind match {
      case "insert" => nextUser += 1; live += nextUser; nextUser
      case "update" => live(rnd.nextInt(live.size))
      case _ =>
        val i = rnd.nextInt(live.size); val u = live(i)
        live(i) = live.last; live.remove(live.size - 1); u
    }
    Row(id, t0.plusSeconds(id - late), user, kind,
      math.floor(rnd.nextDouble() * 10000) / 100, s"""{"k":${rnd.nextInt(10)}}""")
  }
}

/** One generated chunk: when it was made, when it was in place,
  * and per user the newest version (ts, event_id) it carries. */
final case class Chunk(index: Int, due: Long, written: Long,
                       winners: Map[Long, (java.time.LocalDateTime, Long)])

/** `cdc_mixed`: CDC runs of [[CdcMixed.RunEvents]] events arrive one after
  * another, as the reference's generator is run: the next run is written
  * once the last one is served. Each is ingested by `CdcStream.startMv`
  * (AvailableNow), then `CdcStream.finalView` for the users it touched is
  * served through `Endpoints.renderJson`; `CdcStream.runCopyJob` runs once
  * every [[CdcMixed.CopyEveryChunks]] runs. Meanwhile one reference
  * dashboard refreshes back to back through ApiServer on the same
  * session. */
final class CdcMixed(ctx: Ctx) extends Workload {
  import CdcMixed._
  private var mix: DashboardMix = _
  private val api = new ApiClient(ctx)
  private var phases = 0

  def setup(st: Stages): Unit = {
    st.time("fixtures") { mix = new DashboardMix(ctx) }
    st.time("server")(api.start())
    // the whole load, untimed, on a stream of its own: the timed phase
    // starts with the JIT warm and the codegen caches filled
    st.time("warmup") {
      val w = phase("warmup", ~ctx.seed, WarmSeconds, None, checkFinal = false)
      require(w.correct, s"the warm-up phase failed ${w.failed} of ${w.attempted} ops")
    }
  }

  private def dirs(name: String): Dirs = {
    val root = s"${ctx.runDir}/cdc-$name"
    Files.createDirectories(Paths.get(root, "src"))
    Dirs(root)
  }

  /** Write a chunk where the stream's glob cannot see it, then move it
    * into place, so a batch never reads a half-written chunk. */
  private def write(d: Dirs, i: Int, rows: IndexedSeq[Row]): Unit = {
    val root = d.src.stripSuffix("/chunk_*")
    val tmp = f"$root/_tmp_$i%05d"
    ctx.spark.createDataFrame(rows.asJava, CdcStream.eventSchema).coalesce(1).write.parquet(tmp)
    Files.move(Paths.get(tmp), Paths.get(f"$root/chunk_$i%05d"), StandardCopyOption.ATOMIC_MOVE)
  }

  def measure(trace: Option[(Probe, Tracer)]): Measured = {
    phases += 1
    phase(s"phase$phases", ctx.seed, ctx.seconds, trace)
  }

  /** One chunk per [[ChunkSeconds]] of `seconds`, with the dashboard
    * refreshing beside them, from `seed`, on stream `name`; `checkFinal`
    * compares the stream's FINAL with a batch recompute. The number of
    * chunks is fixed, so a slow chunk does not change how much is
    * measured; a phase stops early only at twice its nominal time. */
  private def phase(name: String, seed: Long, seconds: Int, trace: Option[(Probe, Tracer)],
                    checkFinal: Boolean = true): Measured = {
    val d = dirs(name)
    val gen = new EventGen(seed)
    val allEvents = mutable.ArrayBuffer[Row]()
    val nChunks = math.max(2, math.round(seconds / ChunkSeconds).toInt)
    val windowNs = 2 * seconds * 1000000000L

    // the reader: one dashboard refreshing back to back until the ingest
    // is done, so that every chunk is ingested beside the reads
    var reads: Requests = null
    val ingestDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readQueries = mix.refreshes(new Random(seed), ((2 * seconds + DrainSeconds) * 1000 / MinRefreshMs).toInt)
    val reader = new Thread(() => {
      reads = Requests.dashboard(api, readQueries, mix.panels.size, 0L, Clients, Some(() => ingestDone.get))
    }, "perfbench-cdc-reads")
    reader.start()
    val start = System.nanoTime()

    // the ingest loop: write a chunk, then run cycles until it is served
    // fresh; the next chunk is written when the last one is
    val chunks = mutable.ArrayBuffer[Chunk]()
    val fresh = mutable.Map[Int, Long]()          // chunk → served at
    val steps = mutable.ArrayBuffer[(String, Long, Long)]()
    val cycles = mutable.ArrayBuffer[Int]()       // cycles per chunk
    val versionOf = mutable.Map[Long, (java.time.LocalDateTime, Long)]()
    val deadline = start + windowNs + DrainSeconds * 1000000000L
    try {
      while (chunks.size < nChunks && System.nanoTime() - start < windowNs) {
        val i = chunks.size
        val due = System.nanoTime()
        val rows = gen.chunk(RunEvents)
        allEvents ++= rows
        rows.foreach(r => versionOf(r.getLong(0)) = (r.getAs[java.time.LocalDateTime](1), r.getLong(0)))
        write(d, i, rows)
        val c = Chunk(i, due, System.nanoTime(), rows.groupBy(_.getLong(2)).map { case (u, rs) =>
          u -> rs.map(r => (r.getAs[java.time.LocalDateTime](1), r.getLong(0))).max(VersionOrder)
        })
        chunks += c
        var n = 0
        while (!fresh.contains(i) && System.nanoTime() < deadline) {
          n += 1
          val b0 = System.nanoTime()
          CdcStream.startMv(ctx.spark, d.src, d.log, d.ck).awaitTermination()
          val b1 = System.nanoTime()
          steps += (("batch", b0, b1))
          val payload = Endpoints.renderJson(
            CdcStream.finalView(ctx.spark, d.log).filter(col("user_id").isin(c.winners.keys.toSeq: _*)),
            Served.RowLimit).body
          val f1 = System.nanoTime()
          steps += (("final_read", b1, f1))
          val served = ServedRow.findAllMatchIn(payload).map(m => m.group(1).toLong -> m.group(2).toLong).toMap
          if (c.winners.forall { case (u, v) => served.get(u).flatMap(versionOf.get).exists(s => VersionOrder.gteq(s, v)) })
            fresh(i) = f1
        }
        cycles += n
        if (chunks.size % CopyEveryChunks == 0) {
          val c0 = System.nanoTime()
          CdcStream.runCopyJob(ctx.spark, d.log, d.snap)
          steps += (("copy_job", c0, System.nanoTime()))
        }
      }
    } finally ingestDone.set(true)
    reader.join()
    // freshness runs from the moment a chunk is in place, as the
    // reference's propagate time runs from the end of a generator run
    // (demo_users.py:239-262); the write itself is the generator's work
    val freshS = chunks.toSeq.flatMap(c => fresh.get(c.index).map(f => (f - c.written) / 1e9))
    val unfresh = nChunks - freshS.size
    System.err.println("perfbench: freshness s per chunk: " + freshS.map(f => f"$f%.2f").mkString(" "))

    // the stream ≡ batch invariant: FINAL equals latestByKey over every event
    lazy val stream = CdcStream.finalView(ctx.spark, d.log).select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    lazy val batch = Dedup.latestByKey(
        CdcStream.materializedView(ctx.spark.createDataFrame(allEvents.asJava, CdcStream.eventSchema)),
        Seq("user_id"), struct(col("ts"), col("event_id")),
        Seq("event_id", "ts", "event_type", "value", "prop_k"))
      .select("user_id", "event_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val invariantOk = !checkFinal || stream == batch
    if (!invariantOk) System.err.println(s"perfbench: FINAL (${stream.size} users) differs from batch latestByKey (${batch.size})")

    val (lat, readFailed) = reads.summary(api, seconds * 1000.0)
    val busy = steps.map { case (_, a, b) => b - a }.sum / 1e9
    val failed = readFailed + unfresh + (if (invariantOk) 0 else 1)

    val layers = trace.map { case (probe, tracer) =>
      for (c <- chunks; f <- fresh.get(c.index)) {
        val op = tracer.nextOp()
        val root = tracer.span(0L, op, "chunk", c.due, f)
        tracer.span(root, op, "write", c.due, c.written)
        for ((name, a, b) <- steps if b > c.written && a < f)
          tracer.span(root, op, name, math.max(a, c.written), math.min(b, f))
      }
      def meanS(name: String) = Stats.mean(steps.filter(_._1 == name).map { case (_, a, b) => (b - a) / 1e9 }.toSeq)
      val refreshMs = reads.samples.groupBy(_.due).values.map(r => (r.map(_.done).max - r.head.due) / 1e6)
      Requests.replay(ctx, reads, probe, tracer) ++ Map(
        "dash.refresh_ms" -> Stats.mean(refreshMs.toSeq),
        "dash.late_refreshes" -> refreshMs.count(_ > DashboardMix.RefreshMs).toDouble,
        "stream.batch_s" -> meanS("batch"),
        "stream.final_read_ms" -> meanS("final_read") * 1000,
        "stream.copy_job_s" -> meanS("copy_job"),
        "stream.cycles_per_chunk" -> Stats.mean(cycles.map(_.toDouble).toSeq),
        "stream.log_files" -> Files.walk(Paths.get(d.log)).iterator().asScala
          .count(_.toString.endsWith(".parquet")).toDouble,
        "stream.fresh_p90_s" -> (if (freshS.isEmpty) 0.0 else Stats.percentile(freshS, 90)))
    }
    Measured(reads.queries.size + nChunks + 1, failed, failed == 0,
      Map("op_mean_ms" -> Stats.mean(lat),
        "ops_per_s" -> freshS.size * RunEvents / math.max(busy, 1e-9),
        "cycle_mean_s" -> (if (freshS.isEmpty) DrainSeconds.toDouble else Stats.mean(freshS))),
      layers.getOrElse(Map.empty), lat)
  }

  def close(): Unit = api.stop()
}

object CdcMixed {
  /** One stream's directories: source chunks, MV log, checkpoint, snapshot. */
  final case class Dirs(root: String) {
    val src = s"$root/src/chunk_*"; val log = s"$root/log"; val ck = s"$root/ck"; val snap = s"$root/snap"
  }

  /** One chunk is one run of the reference's CDC generator, at the
    * largest run it documents (`readme_users.md:104-107`). */
  val RunEvents = 1000
  /** insert / update / delete shares (`demo_users.py:17-19`). */
  val OpMix: IndexedSeq[Double] = IndexedSeq(0.3, 0.6, 0.1)
  /** Reads are generated for refreshes of at least this long; a faster
    * dashboard runs out of them and stops early. */
  val MinRefreshMs = 20L
  /** Share of events whose ts runs up to 10 minutes behind. */
  val LateShare = 0.05
  /** The copy job runs hourly in the reference
    * (`users_batch_copy.pipe:70`), which a run never reaches; here it
    * runs after every CopyEveryChunks-th chunk, once in a 15 s run. */
  val CopyEveryChunks = 5
  /** Client connections: a refresh sends its four panels at once. */
  val Clients = 4
  /** Nominal time of one chunk: the measuring time sets the number of
    * chunks (about 2 s each on 4 cores at HEAD). */
  val ChunkSeconds = 2.0
  /** The untimed warm-up phase in set-up. */
  val WarmSeconds = 10
  /** After the last chunk, how long the ingest may take to serve all. */
  val DrainSeconds = 60

  val VersionOrder: Ordering[(java.time.LocalDateTime, Long)] =
    Ordering.Tuple2(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _), Ordering.Long)

  /** user_id and event_id of one FINAL row in a rendered payload. */
  val ServedRow = "\"user_id\":(\\d+),\"event_id\":(\\d+)".r
}
