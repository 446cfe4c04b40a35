package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the span recorder, the
  * listener and the directories.
  */
final class Ctx(val spark: SparkSession, val spans: Spans, val data: String,
    val work: String, val traced: Boolean, val cpus: Int) {
  val listener = new JobTrace(spans)
  private var listening = false

  /** Register or remove the job/stage listener (traced runs interleave). */
  def listen(on: Boolean): Unit = if (on != listening) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    listening = on
  }

  /** Run `body` with Spark jobs tagged as children of `span`. */
  def inGroup[T](span: Span)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"pb-${span.id}", span.kind, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Heap in use right after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Storage memory (memory + disk) held by cached frames, in MB. */
  def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def spin(): Long = {
    var s = 0L
    var i = 0
    while (i < (1 << 22)) { s += i * 2654435761L; i += 1 }
    s
  }

  /** Bench's host probes: one fixed spin on one core, and the same spin on
    * every core at once (slowest thread), both in ms.
    */
  def probe(): Double = {
    val t0 = System.nanoTime()
    if (spin() == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus,
    (r: Runnable) => { val t = new Thread(r, "perfbench-probe"); t.setDaemon(true); t })

  def parallelProbe(): Double = {
    val t0 = System.nanoTime()
    val calls = Seq.fill(cpus)(new java.util.concurrent.Callable[Long] {
      override def call(): Long = spin()
    }).asJava
    if (pool.invokeAll(calls).asScala.map(_.get()).sum == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  def shutdown(): Unit = pool.shutdownNow()
}

/** Benchmark entry point. Usage:
  * {{{
  * perfbench.Harness --workload <catalog|medallion_incremental|classify>
  *   --work <dir> [--data <dir>] --trace <0|1> --cpus <n>
  *   [--queries q1,q2,... --passes <n>] [--batches <n> --warmup <n>]
  * }}}
  * Writes `<work>/result.json` (raw per-operation samples and checks) and,
  * traced, `<work>/spans.jsonl`. Metric arithmetic lives in metrics.py.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val traced = a.getOrElse("trace", "0") == "1"
    new java.io.File(work).mkdirs()
    val spark = graft.Graft.builder(s"local[$cpus]", Some(cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Spans(traced), a.getOrElse("data", work), work, traced, cpus)
    val sessionUpMs = System.currentTimeMillis()
    val result = try workload match {
      case "classify" => Catalog.classify(ctx)
      case "medallion_incremental" =>
        Medallion.run(ctx, a("batches").toInt, a("warmup").toInt)
      case w => Catalog.run(ctx, w, a("queries").split(',').toSeq, a("passes").toInt)
    } finally ctx.shutdown()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = result ++ Map("workload" -> workload, "traced" -> traced,
      "jvm_start_ms" -> jvmStartMs, "session_up_ms" -> sessionUpMs, "cpus" -> cpus)
    if (traced) ctx.spans.write(s"$work/spans.jsonl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"),
      Json.write(out))
    spark.stop()
  }
}
