package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timeout-proof by construction: oracle_sql.json is written FIRST (it
  * depends on nothing computed), and each query's parquet lands on disk as
  * it completes — so a driver timeout mid-run still leaves every finished
  * query gradable. Round 6 was zeroed by the opposite ordering.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()
    // Every control char escaped (Measure.jstr): a tab or CR in authored
    // SQL would otherwise make the oracle side's json.load fail and silently
    // zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Measure.jstr(k)}: ${Measure.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val spark = Measure.session()
    System.err.println(
      f"[verify] fork->session ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs")
    val queries = SparkEntry.queries
    val catalog = Measure.selected(queries.keys)
    val total = catalog.size
    var done = 0
    catalog.foreach { name =>
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        done += 1
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.2fs ($done/$total)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
