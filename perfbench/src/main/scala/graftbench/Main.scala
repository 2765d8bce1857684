package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark harness. Runs one workload with one seed and prints,
  * as its last stdout line, `{"correct","attempted","failed","metrics"}`:
  * end-to-end metrics untraced, per-layer metrics with `--trace 1`.
  *
  * {{{
  * Main --workload registry_sweep|cdc_mixed --seed N --seconds S
  *      --trace 0|1 --data DIR --manifest FILE [--trace-out FILE] [--source-sha SHA]
  * Main --write-manifest FILE --data DIR
  * }}}
  */
object Main {

  /** End-to-end metrics (printed untraced): name → (unit, better). */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "lower"),
    ("op_mean_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("cycle_mean_s", "s", "lower"),
    ("heap_retained_mb", "MB", "lower"))

  /** Per-layer metrics (printed traced); one that does not apply to a
    * workload reads 0. */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("api.server_ms", "ms", "lower"),
    ("api.client_wait_ms", "ms", "lower"),
    ("gen.late_ms", "ms", "lower"),
    ("api.non_2xx", "count", "lower"),
    ("dash.refresh_ms", "ms", "lower"),
    ("dash.late_refreshes", "count", "lower"),
    ("registry.construct_ms", "ms", "lower"),
    ("sql.analysis_ms", "ms", "lower"),
    ("sql.optimization_ms", "ms", "lower"),
    ("sql.planning_ms", "ms", "lower"),
    ("sql.execution_ms", "ms", "lower"),
    ("sql.jobs", "count", "lower"),
    ("sql.stages", "count", "lower"),
    ("sql.tasks", "count", "lower"),
    ("sql.codegen_compiles", "count", "lower"),
    ("sql.codegen_compile_ms", "ms", "lower"),
    ("sql.input_rows", "count", "lower"),
    ("sql.shuffle_bytes", "bytes", "lower"),
    ("sql.rows_scanned_per_row_served", "ratio", "lower"),
    ("endpoints.serialize_ms", "ms", "lower"),
    ("endpoints.payload_bytes", "bytes", "lower"),
    ("endpoints.clipped", "count", "lower"),
    ("stream.batch_s", "s", "lower"),
    ("stream.final_read_ms", "ms", "lower"),
    ("stream.copy_job_s", "s", "lower"),
    ("stream.cycles_per_chunk", "count", "lower"),
    ("stream.log_files", "count", "lower"),
    ("stream.fresh_p90_s", "s", "lower"),
    ("setup.session_s", "s", "lower"),
    ("setup.fixtures_s", "s", "lower"),
    ("setup.artifacts_s", "s", "lower"),
    ("setup.server_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.gc_count", "count", "lower"),
    ("op.p50_ms", "ms", "lower"),
    ("op.tail_ms", "ms", "lower"),
    ("trace.overhead.op_mean_ms", "ms", "lower"),
    ("trace.overhead.ops_per_s", "1/s", "higher"),
    ("trace.overhead.cycle_mean_s", "s", "lower"),
    ("trace.self_sum_residual_ms", "ms", "lower"))

  private val units: Map[String, String] =
    (EndToEnd ++ PerLayer).map { case (n, u, _) => n -> u }.toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opts("data")
    opts.get("write-manifest") match {
      case Some(path) => writeManifest(path, dir)
      case None => run(opts, dir)
    }
  }

  def session(dir: String, runDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
    val s = graft.Bench.shuffleConfigs(dir, cpus).foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Heap in use after a full collection. */
  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(opts: Map[String, String], dir: String): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.get("trace").contains("1")
    val runDir = opts.getOrElse("run-dir", sys.props("java.io.tmpdir"))
    val stages = new Stages
    val spark = stages.time("session")(session(dir, runDir))
    val ctx = Ctx(spark, dir, seed, seconds, runDir)
    val w: Workload = workload match {
      case "registry_sweep" => new Sweep(ctx, Sweep.readManifest(opts("manifest")))
      case "cdc_mixed" => new CdcMixed(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    var out: Measured = null
    val metrics = try {
      w.setup(stages)
      val untraced = w.measure(None)
      out = untraced
      if (!traced) untraced.e2e ++ Map("setup_s" -> stages.total, "heap_retained_mb" -> retainedHeapMb())
      else {
        // the same inputs again, traced: per-layer metrics, and the
        // tracing overhead as traced minus untraced end-to-end figures
        val probe = new Probe(spark); probe.register()
        val tracer = new Tracer
        val (gc0, gcMs0) = gc()
        val t = w.measure(Some((probe, tracer)))
        val (gc1, gcMs1) = gc()
        probe.unregister()
        out = Measured(untraced.attempted + t.attempted, untraced.failed + t.failed,
          untraced.correct && t.correct, t.e2e)
        val spans = tracer.spans
        opts.get("trace-out").foreach(tracer.write)
        val residual = Trace.selfSumResiduals(spans).values.foldLeft(0L)(math.max)
        t.layers ++ Workload.tail(t.latenciesMs) ++
          stages.seconds.map { case (k, v) => s"setup.${k}_s" -> v } ++
          untraced.e2e.map { case (k, v) => s"trace.overhead.$k" -> (t.e2e(k) - v) } ++
          Map("jvm.gc_count" -> (gc1 - gc0).toDouble, "jvm.gc_ms" -> (gcMs1 - gcMs0).toDouble,
            "trace.spans" -> spans.size.toDouble,
            "trace.ops" -> spans.count(_.name == "op").toDouble,
            "trace.self_sum_residual_ms" -> residual / 1e6)
      }
    } finally {
      w.close()
      spark.stop()
    }
    System.err.println("perfbench: " + metrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    // what produced the result: inputs, sources and session config
    val conf = (("spark.master" -> spark.sparkContext.master) +:
      spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    println(s"""{"run":{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":${if (traced) 1 else 0},""" +
      s""""source_sha256":"${opts.getOrElse("source-sha", "unknown")}","session":$conf}}""")
    println(result(out, metrics, (if (traced) PerLayer else EndToEnd).map(_._1)))
  }

  /** The result line: `names` in order, each with its unit. */
  def result(m: Measured, metrics: Map[String, Double], names: Seq[String]): String = {
    val body = names.map { k =>
      val v = metrics.getOrElse(k, 0.0)
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$x,"unit":"${units(k)}"}"""
    }.mkString(",")
    s"""{"correct":${m.correct},"attempted":${m.attempted},"failed":${m.failed},"metrics":{$body}}"""
  }

  /** Serve every selected query once and record its rows and digest. */
  def writeManifest(path: String, dir: String): Unit = {
    val runDir = sys.props("java.io.tmpdir")
    val spark = session(dir, runDir)
    try {
      Served.run(spark, dir, Query(Sweep.Staging))
      val lines = Sweep.select(graft.SparkEntry.queries.keys).map { n =>
        val a = Served.run(spark, dir, Query(n))
        val b = Served.run(spark, dir, Query(n))
        require(a.digest == b.digest, s"$n: payload differs between two renders")
        s"$n\t${a.rows}\t${a.digest}"
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (Sweep.ManifestHeader +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }
}
