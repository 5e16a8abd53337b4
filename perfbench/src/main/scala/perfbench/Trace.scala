package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans opened by the benchmark around each call into a module's public
  * function, plus the Spark-side counters attributed to them.
  *
  * The Spark driver's thread keeps a stack of open spans and publishes the
  * innermost one as the `perfbench.span` local property, which Spark
  * copies into every job it starts. The [[Listener]] maps jobs, stages and
  * tasks back to that span. Catalyst phase times arrive on the listener
  * bus thread, so they are attributed by time: to the innermost span open
  * when the phase started.
  *
  * Outside [[begin]]/[[end]], [[span]] only runs its body and no listener
  * is attached: untraced passes carry none of the tracing's cost.
  */
final class Tracer {
  import Tracer._

  private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[Span]
  private var spark: SparkSession = _
  private var listener: Listener = _
  private var phaseListener: PhaseListener = _

  // written by the listener bus thread
  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private[perfbench] val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private[perfbench] val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private[perfbench] val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()

  /** Start recording afresh, with the listeners attached. */
  def begin(s: SparkSession): Unit = {
    spark = s
    spans.clear(); jobs.clear(); tasks.clear(); phases.clear()
    jobSpan.clear(); stageSpan.clear(); jobStart.clear()
    listener = new Listener
    phaseListener = new PhaseListener
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(phaseListener)
    enabled = true
  }

  /** Stop recording once the listener bus has delivered every event; the
    * records stay readable until the next [[begin]]. */
  def end(): Unit = {
    enabled = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(phaseListener)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.lastOption.map(_.id).getOrElse(-1)
    val sp = Span(spans.size, name, parent, System.nanoTime(),
      System.currentTimeMillis())
    spans += sp
    stack += sp
    spark.sparkContext.setLocalProperty(Prop, sp.id.toString)
    try body
    finally {
      sp.endNs = System.nanoTime()
      stack.remove(stack.size - 1)
      spark.sparkContext.setLocalProperty(Prop,
        stack.lastOption.map(_.id.toString).orNull)
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Innermost span whose wall interval holds `epochMs`. */
  private def spanAt(epochMs: Long): Int = {
    var best = -1
    spans.foreach { s =>
      val endMs = s.startMs + (s.endNs - s.startNs) / 1000000
      if (s.startMs <= epochMs && epochMs <= endMs) best = s.id
    }
    best
  }

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobSpan.put(e.jobId, sid)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.put(st, sid))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val sid = Option(jobSpan.get(e.jobId)).map(_.intValue).getOrElse(-1)
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      jobs.add(JobRec(sid, t0, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sid = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      if (m == null) tasks.add(TaskRec(sid, e.stageId, ok, 0, 0, 0, 0, 0, 0, 0, 0))
      else tasks.add(TaskRec(sid, e.stageId, ok,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  private final class PhaseListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(n: String) = ph.get(n).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      phases.add(PhaseRec(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Span id each phase record belongs to (resolved after the pass). */
  def phaseSpans: Seq[(Int, PhaseRec)] = phases.toArray(Array.empty[PhaseRec])
    .toSeq.map(p => spanAt(p.startMs) -> p)
}

object Tracer {
  val Prop = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        startMs: Long) {
    var endNs: Long = startNs
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(span: Int, startMs: Long, endMs: Long)
  final case class TaskRec(span: Int, stage: Int, ok: Boolean, runMs: Long,
                           cpuNs: Long, gcMs: Long, shuffleRead: Long,
                           shuffleWrite: Long, spill: Long, outBytes: Long,
                           outRecords: Long)
  final case class PhaseRec(startMs: Long, analysisMs: Long,
                            optimizationMs: Long, planningMs: Long)
}
