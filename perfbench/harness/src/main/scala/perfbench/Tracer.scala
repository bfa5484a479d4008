package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call. `parent` is -1 for the root span. */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val startNs: Long) {
  @volatile var endNs: Long = -1L
}

/** What the engine did on behalf of one span, summed from listener
  * events. Written only by the listener-bus thread. */
final class Counters {
  var jobs, stages, tasks, failedTasks, executions = 0L
  var taskMs, inputBytes, shuffleReadBytes, shuffleWriteBytes = 0L
  var spillBytes, outputBytes, filesRead, filesWritten, csvScans = 0L
  var analysisMs, optimizerMs, planningMs = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "executions" -> executions,
    "task_ms" -> taskMs, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes,
    "files_read" -> filesRead, "files_written" -> filesWritten,
    "csv_scans" -> csvScans, "analysis_ms" -> analysisMs,
    "optimizer_ms" -> optimizerMs, "planning_ms" -> planningMs)
}

/** Spans around the calls the benchmark makes into the engine.
  *
  * While a span is open, its id rides on the driver thread as a Spark job
  * tag, which Spark stores as a local property and copies onto every job
  * and SQL execution started under it (also from the broadcast and
  * subquery threads, which capture the caller's local properties). The
  * listener reads the tag back, so each job, stage, task and query plan is
  * charged to the span that was open when it started.
  *
  * Spans live in memory; the caller writes them out once, at the end.
  * With `enabled = false` a span is just the call: no listener, no tags.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new TraceListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, layer,
        open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      open.headOption.foreach(p => sc.removeJobTag(tag(p.id)))
      sc.addJobTag(tag(s.id))
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.removeJobTag(tag(s.id))
        open.headOption.foreach(p => sc.addJobTag(tag(p.id)))
      }
    }

  /** Closed spans with their counters, after every queued listener event
    * has been handled. */
  def finish(): Seq[(Span, Counters)] = {
    if (enabled) {
      PerfbenchAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    spans.toSeq.map(s => s -> listener.countersOf(s.id))
  }

  /** Counters charged to no span (work started outside every span). */
  def unattributed: Counters = listener.countersOf(-1)
}

object Tracer {
  val TagPrefix = "perfbench-span-"
  /** The local property Spark keeps job tags in, comma-separated. */
  val JobTagsProperty = "spark.job.tags"
  def tag(id: Int): String = TagPrefix + id

  /** The innermost span id among a job's tags, or -1. */
  def spanOf(tags: Iterable[String]): Int =
    tags.collect { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toInt }.maxOption.getOrElse(-1)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  final class TraceListener extends SparkListener {
    private val counters = new ConcurrentHashMap[Int, Counters]
    private val stageSpan = new ConcurrentHashMap[Int, Int]
    private val execSpan = new ConcurrentHashMap[Long, Int]

    def countersOf(span: Int): Counters =
      counters.computeIfAbsent(span, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty(JobTagsProperty)))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val span = spanOf(tags)
      countersOf(span).jobs += 1
      e.stageIds.foreach(id => stageSpan.put(id, span))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageId, -1))
      c.tasks += 1
      if (e.taskInfo != null && !e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSpan.put(s.executionId, spanOf(s.jobTags))
      case end: SparkListenerSQLExecutionEnd =>
        val c = countersOf(execSpan.getOrDefault(end.executionId, -1))
        c.executions += 1
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          val phases = qe.tracker.phases
          def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
          c.analysisMs += ms("analysis")
          c.optimizerMs += ms("optimization")
          c.planningMs += ms("planning")
          planCounts(qe.executedPlan, c)
        }
      case _ =>
    }

    /** Scans and writes of the executed (post-AQE) plan, with the SQL
      * metrics Spark filled in while running it. */
    private def planCounts(plan: SparkPlan, c: Counters): Unit =
      PlanWalk.collectWithSubqueries(plan) { case p => p }.foreach {
        case scan: FileSourceScanExec =>
          scan.metrics.get("numFiles").foreach(m => c.filesRead += m.value)
          if (scan.relation.fileFormat.isInstanceOf[CSVFileFormat]) c.csvScans += 1
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => c.filesWritten += m.value)
        case _ =>
      }
  }
}
