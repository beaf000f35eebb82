package graft

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session; never stop per-suite

  /** Runs `body` under job group `group` and returns its result with the
    * jobs it launched: job id -> tasks started, read once the listener
    * bus has drained. Pin a call's own jobs by materializing its inputs
    * before the body. */
  def jobsIn[T](group: String)(body: => T): (T, Map[Int, Int]) = {
    val sc = spark.sparkContext
    val jobTasks = mutable.Map.empty[Int, Int]
    val stageJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group)) jobTasks.synchronized {
          jobTasks(e.jobId) = 0
          e.stageIds.foreach(stageJob(_) = e.jobId)
        }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        jobTasks.synchronized {
          stageJob.get(e.stageId).foreach(j => jobTasks(j) += 1)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      GraftListenerBus.drain(sc)
      (out, jobTasks.synchronized(jobTasks.toMap))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
