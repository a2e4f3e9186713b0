package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same time base as the `System.currentTimeMillis` stamps Spark puts on
  * its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A traced interval: `kind` is one of workload, op, job, stage, phase;
  * `op` is the id of the operation the span belongs to (0: none). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    op: Long, startMs: Double, endMs: Double)

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq
}

/** Task and job counters for one operation, summed over its tasks. */
final class OpCounters {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs, schedMs = new LongAdder
  val shuffleBytes, spillBytes, inputRecords, outputBytes = new LongAdder
  val writeStageMs = new LongAdder

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "run_ms" -> runMs.sum, "cpu_ms" -> cpuNs.sum / 1e6, "gc_ms" -> gcMs.sum,
    "sched_wait_ms" -> schedMs.sum, "shuffle_bytes" -> shuffleBytes.sum,
    "spill_bytes" -> spillBytes.sum, "input_records" -> inputRecords.sum,
    "output_bytes" -> outputBytes.sum, "write_stage_ms" -> writeStageMs.sum)
}

/** Spark listener that attributes jobs, stages and tasks to the
  * benchmark operation named by the `perfbench.op` local property of
  * the thread that submitted the job, and records job and stage spans. */
final class TaskProbe(spans: Spans) extends SparkListener {
  val byOp = new ConcurrentHashMap[Long, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Double)]()

  private def counters(op: Long): OpCounters =
    byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(TaskProbe.OpKey)))
      .map(_.toLong).getOrElse(0L)
    val id = spans.nextId()
    jobSpan.put(e.jobId, (id, op, e.time.toDouble))
    e.stageIds.foreach { s => stageOp.put(s, op); stageJob.put(s, id) }
    counters(op).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, op, start) =>
      spans.add(Span(id, op, "job", s"job ${e.jobId}", op, start, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = Option(stageOp.get(info.stageId)).map(_.longValue).getOrElse(0L)
    val c = counters(op)
    c.stages.increment()
    for (start <- info.submissionTime; end <- info.completionTime) {
      if (info.taskMetrics != null && info.taskMetrics.outputMetrics.bytesWritten > 0)
        c.writeStageMs.add(end - start)
      val parent = Option(stageJob.get(info.stageId)).map(_.longValue).getOrElse(op)
      spans.add(Span(spans.nextId(), parent, "stage", s"stage ${info.stageId}: ${info.name}",
        op, start.toDouble, end.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val c = counters(op)
    c.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.diskBytesSpilled)
      c.inputRecords.add(m.inputMetrics.recordsRead)
      c.outputBytes.add(m.outputMetrics.bytesWritten)
      // Spark's "scheduler delay": task wall time not spent running,
      // deserializing, serializing the result or fetching it
      val info = e.taskInfo
      c.schedMs.add(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    }
  }
}

object TaskProbe {
  val OpKey = "perfbench.op"
}

/** Records the planning phases (`QueryExecution.tracker`) of every
  * finished query as spans; they are assigned to operations later by
  * time containment. */
final class PlanProbe(spans: Spans) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      spans.add(Span(spans.nextId(), 0L, "phase", phase, 0L,
        s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** log4j appender that counts WARN lines, function re-registrations and
  * whole-stage-codegen fallbacks. It only counts; the program's own
  * console logging is left as configured. */
final class LogCounter extends AbstractAppender("perfbench-log-counter", null, null,
    true, Property.EMPTY_ARRAY) {
  val warnLines, fnReregistrations, codegenFallbacks = new LongAdder

  override def append(e: LogEvent): Unit = {
    if (e.getLevel == Level.WARN) warnLines.increment()
    val msg = e.getMessage.getFormattedMessage
    if (msg.contains("replaced a previously registered function")) fnReregistrations.increment()
    if (msg.contains("Whole-stage codegen disabled")) codegenFallbacks.increment()
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
  }

  def toMap: Map[String, Any] = Map(
    "warn_lines" -> warnLines.sum, "fn_reregistrations" -> fnReregistrations.sum,
    "codegen_fallbacks" -> codegenFallbacks.sum)
}
