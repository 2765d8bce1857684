package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side observations for traced runs, keyed by the benchmark's op
  * id. Jobs, stages and tasks are attributed through a local property
  * the op's thread sets ([[Probe.OpKey]]); query executions, whose
  * listener callback carries no properties, by the time their planning
  * phases started (traced ops run one at a time). */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Probe._

  /** nanoTime = epoch ms * 1e6 − offset (to place tracker phases). */
  val offsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val qes = new ConcurrentLinkedQueue[QeRecord]()
  @volatile private var events = 0L

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  private def count(op: Long)(f: Counters => Unit): Unit = {
    val c = counters.computeIfAbsent(op, _ => new Counters)
    c.synchronized(f(c))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).foreach { op =>
      count(op)(_.jobs += 1)
      e.stageIds.foreach(stageOp.put(_, op))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events += 1
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => count(op)(_.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events += 1
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      count(op) { c =>
        c.tasks += 1
        if (m != null) {
          c.inputRows += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events += 1
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs * 1000000L - offsetNs, v.endTimeMs * 1000000L - offsetNs)
    }
    if (phases.nonEmpty) qes.add(QeRecord(phases, durationNs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events += 1

  /** Wait until the listener buses have been quiet for a while, so that
    * every event of the ops run so far has been seen. */
  def drain(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(400) }
  }

  def countersOf(op: Long): Counters = Option(counters.get(op)).getOrElse(new Counters)

  def queryExecutions: Seq[QeRecord] = qes.asScala.toSeq
}

object Probe {
  /** Local property naming the benchmark op a Spark job belongs to. */
  val OpKey = "perfbench.op"

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var inputRows = 0L; var shuffleBytes = 0L
  }

  /** Planning phases of one query execution (ns on the nanoTime clock)
    * and the duration its listener reported. */
  final case class QeRecord(phases: Map[String, (Long, Long)], durationNs: Long) {
    def start: Long = phases.values.map(_._1).min
    def phase(name: String): Long = phases.get(name).map { case (a, b) => b - a }.getOrElse(0L)
  }

  /** Codegen compiles so far in this JVM: (count, total compile ns). */
  def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
