package graft

import org.apache.spark.sql.SparkSession
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
}
