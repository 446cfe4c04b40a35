package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = Graft.builder("local[4]", Some(8))
      // bucketed-table specs write catalog tables; keep them out of the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val sfDir = "/root/testdata/sf0.001"

  /** Files the file scans of `df` read: runs the action, then sums the
    * `number of files read` metric of the executed plan's scan nodes.
    */
  protected def plannedFiles(df: DataFrame): Long = {
    df.collect()
    object plan extends AdaptiveSparkPlanHelper
    plan.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  /** Jobs started under a fresh job group while `body` runs. Listener
    * events arrive in order, so once a sentinel job started after `body`
    * is seen, every job of `body` has been counted.
    */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val sentinelGroup = s"$group-sentinel"
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `sentinelGroup` => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinelGroup, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job never seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
