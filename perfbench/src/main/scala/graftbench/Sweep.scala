package graftbench

import scala.collection.mutable
import scala.util.Random

/** One swept query with the payload it must serve. */
final case class Expected(name: String, rows: Int, digest: String)

/** `registry_sweep`: the queries listed in the manifest, each served
  * in-process as the API serves it (construct + `Endpoints.renderJson`
  * with the 10 000-row limit), in a seeded order per pass. The measuring time
  * sets the number of whole passes ([[Sweep.passes]]), so a slow
  * pass does not change how much is measured. */
final class Sweep(ctx: Ctx, manifest: Seq[Expected]) extends Workload {

  /** Stage the dedup artifacts the `*Auto` routes read (into this run's
    * own `java.io.tmpdir`, so none is inherited from an earlier JVM),
    * then one pass in manifest order, the same for every seed: the timed
    * passes then run with codegen caches filled and the JIT warm. */
  def setup(st: Stages): Unit = {
    st.time("artifacts") {
      val r = Served.run(ctx.spark, ctx.dir, Query(Sweep.Staging))
      require(r.rows > 0, s"${Sweep.Staging} served no rows")
    }
    st.time("warmup")(manifest.foreach(e => Served.run(ctx.spark, ctx.dir, Query(e.name))))
  }

  def measure(trace: Option[(Probe, Tracer)]): Measured = {
    val rnd = new Random(ctx.seed)
    val recs = mutable.ArrayBuffer[OpRecord]()
    val passes = mutable.ArrayBuffer[Double]()
    var failed = 0
    for (_ <- 1 to Sweep.passes(ctx.seconds)) {
      val p0 = System.nanoTime()
      for (e <- rnd.shuffle(manifest)) {
        val op = trace.map(_._2.nextOp()).getOrElse(0L)
        val r = try Some(Served.run(ctx.spark, ctx.dir, Query(e.name), op)) catch {
          case ex: Throwable => System.err.println(s"perfbench: ${e.name} failed: $ex"); None
        }
        r match {
          case Some(rec) if rec.rows == e.rows && rec.digest == e.digest => recs += rec
          case Some(rec) =>
            System.err.println(s"perfbench: ${e.name} served ${rec.rows} rows, digest ${rec.digest}; " +
              s"manifest says ${e.rows} rows, digest ${e.digest}")
            failed += 1; recs += rec
          case None => failed += 1
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    System.err.println("perfbench: median served ms per query: " +
      recs.groupBy(_.query.name).toSeq.sortBy(_._1)
        .map { case (n, rs) => f"$n=${Stats.median(rs.map(r => (r.t2 - r.t0) / 1e6).toSeq)}%.0f" }.mkString(" "))
    val attempted = passes.size * manifest.size
    val ms = recs.map(r => (r.t2 - r.t0) / 1e6).toSeq
    val lat = Workload.withFailures(ms ++ Seq.fill(attempted - recs.size)(0.0),
      Seq.fill(recs.size)(false) ++ Seq.fill(attempted - recs.size)(true), passes.max * 1000)
    val layers = trace.map { case (probe, tracer) =>
      probe.drain()
      val qes = Layers.assign(recs.toSeq, probe.queryExecutions)
      val splits = recs.map(r => r.op -> Layers.split(r, qes.getOrElse(r.op, Nil))).toMap
      recs.foreach(r => Layers.record(tracer, splits(r.op), 0L, r.op, r.t0))
      Layers.metrics(recs.toSeq, splits, probe)
    }
    Measured(attempted, failed, failed == 0,
      Map("op_mean_ms" -> Stats.mean(lat), "ops_per_s" -> attempted / passes.sum,
        "cycle_mean_s" -> Stats.mean(passes.toSeq)),
      layers.getOrElse(Map.empty), lat)
  }

  def close(): Unit = ()
}

object Sweep {
  val ManifestHeader: String =
    "# registry_sweep manifest: query, rows, SHA-256 of its JSON payload (renderJson, 10 000-row limit)\n" +
    "# over perfbench/data/sf0.01. Written by `Main --write-manifest`; see perfbench/README.md."
  /** Whole passes for a measuring time of `seconds`: one per
    * [[PassSeconds]] started, at least two. */
  def passes(seconds: Int): Int = math.max(2, math.ceil(seconds / PassSeconds).toInt)
  val PassSeconds = 10.0

  /** Manifest lines: name, rows, payload SHA-256, tab-separated; `#`
    * starts a comment. */
  def readManifest(path: String): Seq[Expected] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); Expected(f(0), f(1).toInt, f(2)) }.toSeq

  /** The registry entry that stages the dedup artifacts (set-up only). */
  val Staging = "docs_dedup_artifacts"

  /** `*Auto` routes swept over the staged artifacts: each checks the
    * artifacts' input fingerprint while it is built, then reads them. */
  val AutoRoutes: Seq[String] = Seq(
    "docs_dedup_canonical", "docs_dup_clusters", "docs_near_dup_pairs",
    "docs_split_leakage", "emb_near_dup_pairs", "docs_training_corpus")

  /** Queries that read the staged dedup artifacts or the generated CDC
    * fixtures: outside the every-16th rule ([[AutoRoutes]] are added to
    * it; the CDC fixtures are read by `cdc_mixed`). */
  val staged: Set[String] = Set(
    "docs_pagerank", "docs_split_leakage", "docs_dedup_canonical",
    "docs_training_corpus", "docs_training_corpus_v2", "docs_near_dup_pairs",
    "docs_dup_clusters", "docs_dedup_artifacts", "docs_substring_spans",
    "docs_span_doc_stats", "docs_dedup_rewrite", "docs_near_dup_edit_distance",
    "docs_minhash_lsh_pairs", "docs_screen_increment", "emb_near_dup_pairs",
    "emb_near_dup_pairs_ivf", "emb_screen_increment", "emb_dup_clusters",
    "users_scd2_history")

  /** The sweep set: every 16th of the remaining registry names in sorted
    * order, from the 7th on, plus [[AutoRoutes]]. */
  def select(registry: Iterable[String]): Seq[String] = {
    val names = registry.toSet
    require(AutoRoutes.forall(names), "an *Auto route is missing from the registry")
    (registry.filterNot(n => staged(n) || n.startsWith("ref_")).toSeq.sorted.drop(6).grouped(16).map(_.head).toSeq ++
      AutoRoutes).sorted
  }
}
