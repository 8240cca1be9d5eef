package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the `time` fields of Spark's listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One interval of the trace. `parent` is 0 for an op's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      layer: String, start: Double, end: Double)

/** Spans and per-op counters of a traced run, held in memory until the
  * run writes them out. The harness sets [[op]] around each traced op
  * and drains Spark's listener bus before moving on, so an event the
  * listeners see belongs to the op that is current when they see it.
  * Spark jobs are tied to their op more directly, through the local
  * properties [[OpKey]] and [[SpanKey]] that the harness sets on the
  * thread that runs the op (streaming threads inherit them). */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Long, mutable.HashMap[String, Double]]
  @volatile var op: Long = 0

  def nextId(): Long = ids.incrementAndGet()

  def span(s: Span): Unit = synchronized { spans += s }

  def add(opId: Long, counter: String, v: Double): Unit =
    if (opId != 0) synchronized {
      val m = counters.getOrElseUpdate(opId, mutable.HashMap.empty)
      m(counter) = m.getOrElse(counter, 0.0) + v
    }

  def countersOf(opId: Long): Map[String, Double] =
    synchronized(counters.get(opId).map(_.toMap).getOrElse(Map.empty))

  def allSpans: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** Jobs, stages, tasks and streaming progress, attributed to the op. */
final class SparkSide(t: Tracer) extends SparkListener {
  import SparkSide.Job
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()

  private def prop(p: java.util.Properties, k: String): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, Tracer.OpKey).getOrElse(t.op)
    if (op != 0) {
      jobs.put(e.jobId, Job(op, prop(e.properties, Tracer.SpanKey).getOrElse(op),
        e.time.toDouble))
      e.stageIds.foreach(s => stageOp.put(s, op))
      t.add(op, "spark.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      val end = math.max(j.start, e.time.toDouble)
      t.span(Span(t.nextId(), j.parent, j.op, s"job ${e.jobId}", "spark", j.start, end))
      t.add(j.op, "spark.job_busy_s", (end - j.start) / 1000)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => t.add(op, "spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { boxed =>
      val op: Long = boxed
      t.add(op, "spark.tasks", 1)
      if (e.reason != org.apache.spark.Success) t.add(op, "spark.task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        val mb = 1e-6
        t.add(op, "spark.task_run_s", m.executorRunTime / 1e3)
        t.add(op, "spark.task_cpu_s", m.executorCpuTime / 1e9)
        t.add(op, "spark.gc_s", m.jvmGCTime / 1e3)
        t.add(op, "spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead * mb)
        t.add(op, "spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten * mb)
        t.add(op, "spark.input_mb", m.inputMetrics.bytesRead * mb)
        t.add(op, "spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) * mb)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent if t.op != 0 =>
      val d = p.progress.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.doubleValue).getOrElse(0.0)
      t.add(t.op, "streaming.batches", 1)
      t.add(t.op, "streaming.trigger_ms", ms("triggerExecution"))
      t.add(t.op, "streaming.add_batch_ms", ms("addBatch"))
      t.add(t.op, "streaming.wal_commit_ms", ms("walCommit"))
      t.add(t.op, "streaming.query_planning_ms", ms("queryPlanning"))
      t.add(t.op, "streaming.state_rows",
        p.progress.stateOperators.map(_.numRowsTotal.toDouble).sum)
    case _ =>
  }
}

object SparkSide {
  private final case class Job(op: Long, parent: Long, start: Double)
}

/** Catalyst's analysis, optimization and planning phases per action. */
final class CatalystSide(t: Tracer) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val op = t.op
    if (op != 0) {
      t.add(op, "catalyst.actions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        t.add(op, s"catalyst.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
        t.span(Span(t.nextId(), op, op, phase, "catalyst", s.startTimeMs.toDouble,
          s.endTimeMs.toDouble))
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
