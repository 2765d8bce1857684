package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What every workload runs against: one Spark session over one data
  * directory, the seed that makes its inputs, and its measuring time. */
final case class Ctx(spark: SparkSession, dir: String, seed: Long, seconds: Int, runDir: String)

/** Named set-up stages, each timed once. */
final class Stages {
  private val secs = mutable.LinkedHashMap[String, Double]()

  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally secs(name) = secs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def seconds: Map[String, Double] = secs.toMap
  def total: Double = secs.values.sum
}

/** What one measured phase produced: op counts, whether every output
  * checked out, its end-to-end metrics, and (traced) per-layer ones. */
final case class Measured(attempted: Long, failed: Long, correct: Boolean,
                          e2e: Map[String, Double], layers: Map[String, Double] = Map.empty,
                          latenciesMs: Seq[Double] = Nil)

trait Workload {
  /** Everything up to the first timed op (the session is already up). */
  def setup(st: Stages): Unit

  /** One measured phase over the seeded inputs; with a probe and tracer
    * it also records spans and returns per-layer metrics. */
  def measure(trace: Option[(Probe, Tracer)]): Measured

  /** Stop what setup started, after every outstanding op has ended. */
  def close(): Unit
}

object Workload {
  /** Op latencies (ms) with every failed op ranked as the slowest, at
    * no less than `failMs`. */
  def withFailures(ms: Seq[Double], failed: Seq[Boolean], failMs: Double): Seq[Double] = {
    val worst = (ms :+ failMs).max
    ms.zip(failed).map { case (v, f) => if (f) worst else v }
  }

  /** The tail a run can report: the highest percentile with at least
    * ten samples beyond it, its value, and the sample count. */
  def tail(ms: Seq[Double]): Map[String, Double] =
    Stats.tailPercentile(ms.size) match {
      case Some(p) => Map("op.p50_ms" -> Stats.median(ms), "op.tail_pct" -> p,
        "op.tail_ms" -> Stats.percentile(ms, p), "op.samples" -> ms.size.toDouble)
      case None => Map("op.p50_ms" -> Stats.median(ms), "op.tail_pct" -> 0.0,
        "op.tail_ms" -> 0.0, "op.samples" -> ms.size.toDouble)
    }
}
