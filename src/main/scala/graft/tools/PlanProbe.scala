package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Per-operator plan diagnostics for one declared query: executes
  * `SparkEntry.queries(name)` against a fixture dir via the noop sink
  * (same timing discipline as graft.Bench), then prints the EXECUTED
  * plan tree with each node's nonzero spill/shuffle/rows/memory metrics.
  * This is how per-node spill is localized (graft.Bench only reports
  * whole-plan totals): `runMain graft.tools.PlanProbe <query> <sfDir>`.
  * The session is `graft.Cli.session()`, configured like every other
  * entry point.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Cli.session()
    val qeRef = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution](null)
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = qeRef.set(qe)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    // Per-JOB wall timing: iterative queries (CC rounds, power-iteration
    // .head()s, eager localCheckpoints) spend most of their wall in jobs
    // BEFORE the final noop write, which is the only execution the
    // QueryExecutionListener (and graft.Bench's plan metrics) sees. A
    // job-level timeline is what localizes the cost of those loops.
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStarts.put(js.jobId, System.nanoTime())
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t = Option(jobStarts.get(je.jobId))
            .map(s => (System.nanoTime() - s) / 1e9).getOrElse(-1.0)
          jobLines.add(f"  job ${je.jobId}%3d  ${t}%7.2f s")
        }
      })
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    // drain the async listener bus, so the query listener has fired and
    // the timeline holds every job of the query. Lines are then sorted by
    // jobId — ConcurrentLinkedQueue order is completion order, which
    // interleaves for concurrent jobs. Timings remain listener-bus-delayed
    // (started/ended stamps are taken on the listener thread), good to
    // ~tens of ms.
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    println(f"== $name%s on $sfDir%s: $sec%.1f s (first run, cold)")
    println("-- job timeline (wall seconds per Spark job):")
    jobLines.toArray(Array.empty[String]).sortBy(l =>
      l.trim.stripPrefix("job").trim.takeWhile(_.isDigit).toInt)
      .foreach(println)
    val interesting = Seq("spillSize", "shuffleRecordsWritten",
      "shuffleBytesWritten", "numOutputRows", "peakMemory", "dataSize",
      // time metrics: codegen pipeline time, scan/agg/sort/shuffle-write
      // and broadcast build times localize WHERE the wall goes per node
      "pipelineTime", "scanTime", "aggTime", "sortTime", "shuffleWriteTime",
      "fetchWaitTime", "buildTime", "collectTime", "broadcastTime")
    def walk(n: SparkPlan, depth: Int): Unit = {
      val ms = interesting.flatMap { k =>
        n.metrics.get(k).filter(_.value > 0)
          .map(m => s"$k=${m.value}")
      }
      println(("  " * depth) + n.nodeName +
        (if (ms.isEmpty) "" else ms.mkString("  [", ", ", "]")))
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case _ => ()
      }
      n.children.foreach(walk(_, depth + 1))
    }
    Option(qeRef.get()).foreach(qe => walk(qe.executedPlan, 0))
    spark.stop()
  }
}
