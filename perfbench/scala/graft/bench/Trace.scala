package graft.bench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are opened by the harness around
  * each call it makes into a layer and are kept in memory until the run
  * ends. The calling thread carries the open span and operation ids as
  * Spark local properties, so the listener can attribute every job, stage
  * and task to the span that caused it.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageOp = mutable.Map.empty[Int, Int]
  private var open: List[Span] = Nil

  /** Planning-phase milliseconds of every query execution, summed. */
  val planningMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)

  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)
      val op = prop(OpKey)
      jobs(e.jobId) = Job(e.jobId, op, prop(SpanKey), e.time.toDouble, -1.0)
      e.stageInfos.foreach(s => stageOp(s.stageId) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val id = e.stageInfo.stageId
      stages.getOrElseUpdate(id, Stage(id, stageOp.getOrElse(id, -1)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, Stage(e.stageId, stageOp.getOrElse(e.stageId, -1)))
      s.tasks += 1
      s.busyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        val read = m.shuffleReadMetrics.totalBytesRead
        s.shuffleRead += read
        s.taskReads += read
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.spill += m.diskBytesSpilled
        s.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.foreach { case (k, v) =>
        if (planningMs.contains(k)) planningMs(k) += v.durationMs
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = org.apache.spark.graft.ListenerDrain.drain(sc)

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `f` inside a span named `name` attributed to operation `op`. */
  def span[A](name: String, op: Int)(f: => A): A = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, op, nowMs, -1.0)
    spans += s
    open = s :: open
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.endMs = nowMs
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      if (open.isEmpty) sc.setLocalProperty(OpKey, null)
    }
  }

  /** JVM-wide counters read around an operation. */
  def jvmCounters(): Map[String, Double] = Map(
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum.toDouble,
    "jit_ms" -> Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0),
    "codegen_ms" -> CodeGenerator.compileTime / 1e6) ++
    synchronized(planningMs.map { case (k, v) => s"planning_${k}_ms" -> v.toDouble }.toMap)
}

object Trace {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, op: Int, startMs: Double,
      var endMs: Double)
  final case class Job(id: Int, op: Int, span: Int, startMs: Double, endMs: Double)
  final case class Stage(id: Int, op: Int) {
    var tasks = 0L
    var busyMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var shuffleRecords = 0L
    var spill = 0L
    var outputRecords = 0L
    val taskReads = mutable.ArrayBuffer.empty[Long]
  }
}
