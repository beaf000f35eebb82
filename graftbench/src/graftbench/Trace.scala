package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval at a layer boundary, its parent span (-1 for
  * a root) and the operation it belongs to. Times are ns since the run
  * started. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: String)

/** Spark runtime totals for one operation (one job group). */
final class OpStats {
  var jobs = 0; var tasks = 0L; var queries = 0
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L; var spillBytes = 0L
  var inputRecords = 0L; var inputBytes = 0L; var outputBytes = 0L
  var schedDelayMs = 0L; var planningMs = 0L
  var taskSkew = 1.0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "queries" -> queries,
    "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes, "sched_delay_ms" -> schedDelayMs,
    "planning_ms" -> planningMs, "task_skew" -> taskSkew)
}

/** The traced pass's instrument, kept entirely in the benchmark: spans
  * around the benchmark's own calls into the program, plus a SparkListener
  * and a QueryExecutionListener attributing jobs, tasks and Catalyst
  * planning to the operation whose job group was set around the call.
  * Disabled, every method just runs its body. */
final class Recorder(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private val stats = mutable.LinkedHashMap[String, OpStats]()
  @volatile private var current: String = null

  private def statsOf(g: String): OpStats = stats.synchronized {
    stats.getOrElseUpdate(g, new OpStats)
  }

  private object Jobs extends SparkListener {
    private val groupOfJob = mutable.Map[Int, String]()
    private val submitted = mutable.Map[Int, Long]()
    private val firstLaunch = mutable.Map[Int, Long]()
    private val jobOfStage = mutable.Map[Int, Int]()
    private val groupOfStage = mutable.Map[Int, String]()
    val taskTimes = mutable.Map[Int, ArrayBuffer[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        groupOfJob(e.jobId) = g
        submitted(e.jobId) = e.time
        statsOf(g).jobs += 1
        e.stageIds.foreach { s => jobOfStage(s) = e.jobId; groupOfStage(s) = g }
      }
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      jobOfStage.get(e.stageId).foreach { j =>
        if (!firstLaunch.contains(j)) firstLaunch(j) = e.taskInfo.launchTime
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      groupOfStage.get(e.stageId).foreach { g =>
        val s = statsOf(g)
        s.tasks += 1
        taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputRecords += m.inputMetrics.recordsRead
          s.inputBytes += m.inputMetrics.bytesRead
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for (g <- groupOfJob.get(e.jobId); sub <- submitted.get(e.jobId);
           first <- firstLaunch.get(e.jobId))
        statsOf(g).schedDelayMs += first - sub
    }

    /** Slowest over median task time, worst stage of each group. */
    def finishSkew(): Unit = synchronized {
      for ((stage, times) <- taskTimes if times.size >= 2;
           g <- groupOfStage.get(stage)) {
        val sorted = times.sorted
        val med = math.max(sorted(sorted.size / 2), 1L)
        val s = statsOf(g)
        s.taskSkew = math.max(s.taskSkew, sorted.last.toDouble / med)
      }
    }
  }

  private object Planning extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val g = current
      if (g != null) {
        val s = statsOf(g)
        s.synchronized {
          s.queries += 1
          s.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Planning)
  }

  /** Time `body` as a span named `name` of operation `op`, nested under
    * the innermost open span. */
  def span[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = idx :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans(idx) = Span(name, s - t0, System.nanoTime() - t0, parent, op)
        stack = stack.tail
      }
    }

  /** Run `body` as one attributed operation: its jobs carry job group `op`,
    * and the listener bus is drained before and after, outside `body`, so
    * the events of neighbouring operations never mix. */
  def op[A](op: String)(body: => A): A =
    if (!enabled) body
    else {
      GraftbenchBus.drain(sc)
      current = op
      sc.setJobGroup(op, op, interruptOnCancel = false)
      try body
      finally {
        sc.clearJobGroup()
        GraftbenchBus.drain(sc)
        current = null
      }
    }

  /** Spans and per-operation Spark totals, for the result file. */
  def result(): Map[String, Any] =
    if (!enabled) Map.empty
    else {
      GraftbenchBus.drain(sc)
      Jobs.finishSkew()
      Map(
        "spans" -> spans.toSeq.map(s => Map("name" -> s.name, "start_ns" -> s.start,
          "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op)),
        "ops" -> stats.synchronized(stats.toSeq.map { case (k, v) => k -> v.toMap }.toMap))
    }
}
