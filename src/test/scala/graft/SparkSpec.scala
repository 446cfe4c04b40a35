package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
  protected def jobsOf(body: => Unit): Int = jobFramesOf(body).size

  /** [[jobsOf]], itemized: each counted job's first `graft.` stack frame,
    * in start order, so a failing pin names the execution that added a
    * job. The frame comes from the job's final stage's call site, or, for
    * a job submitted from Spark's own threads (an AQE map stage), from
    * the call site of the SQL execution the job belongs to; "?" when
    * neither has one.
    */
  protected def jobFramesOf(body: => Unit): Seq[String] = {
    def graftFrame(callSite: String): Option[String] =
      callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val sentinelGroup = s"$group-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], Option[Long])]()
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.add((graftFrame(e.stageInfos.maxBy(_.stageId).details),
            props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
          case `sentinelGroup` => sentinel.countDown()
          case _ =>
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          graftFrame(x.details).foreach(executions.put(x.executionId, _))
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
      jobs.asScala.toSeq.map { case (frame, execution) =>
        frame.orElse(execution.flatMap(id => Option(executions.get(id)))).getOrElse("?")
      }
    } finally sc.removeSparkListener(listener)
  }
}
