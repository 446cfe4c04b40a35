package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed region; `parent` is 0 for a root. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val startUs: Long) {
  val attrs = mutable.LinkedHashMap[String, Any]()
  var endUs: Long = -1L
  def seconds: Double = (endUs - startUs) / 1e6
}

/** In-memory span recorder. Every span is (id, parent, kind, name, start,
  * end, attributes) with times in epoch microseconds; the file written at
  * the end is one JSON object per line and the self-time arithmetic is done
  * by the reader (perfbench/metrics.py).
  *
  * The benchmark's own spans nest workload → pass → operation → layer call;
  * [[JobTrace]] hangs Spark jobs under the layer span whose job group was set
  * when the job started, and stages under their job.
  */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val closed = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def open(kind: String, name: String, parent: Span): Span =
    new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
      kind, name, nowUs)

  def close(s: Span): Span = {
    s.endUs = nowUs
    if (enabled) record(s.id, s.parent, s.kind, s.name, s.startUs, s.endUs, s.attrs.toMap)
    s
  }

  /** Time `body` as a child span of `parent`; returns (result, span). */
  def timed[T](kind: String, name: String, parent: Span)(body: Span => T): (T, Span) = {
    val s = open(kind, name, parent)
    try (body(s), s) finally close(s)
  }

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, kind: String, name: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any]): Unit =
    closed.add(Map("id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start_us" -> startUs, "end_us" -> endUs) ++ attrs)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try closed.asScala.toSeq.sortBy(_("id").asInstanceOf[Long])
      .foreach(m => out.println(Json.write(m)))
    finally out.close()
  }
}

/** Spark listener that turns jobs and stages into spans. A job's parent is
  * the span id carried in its job group (`pb-<id>`); jobs started outside
  * any benchmark span are ignored. Each stage span carries its task
  * metrics, summed over its tasks.
  */
final class JobTrace(spans: Spans) extends SparkListener {
  private final class StageAcc(val job: Long) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shReadB = 0L; var shWriteB = 0L; var spillB = 0L
  }
  private val jobIds = mutable.Map[Int, (Long, Long, Long)]() // job -> (span, parent, start)
  private val stageJob = mutable.Map[Int, Long]()              // stage -> job span
  private val stageAcc = mutable.Map[(Int, Int), StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("pb-")).foreach { g =>
      val id = spans.newId()
      jobIds(e.jobId) = (id, g.stripPrefix("pb-").toLong, e.time * 1000L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobIds.remove(e.jobId).foreach { case (id, parent, start) =>
      spans.record(id, parent, "job", s"job ${e.jobId}", start, e.time * 1000L, Map.empty)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach(j =>
      stageAcc.getOrElseUpdate((si.stageId, si.attemptNumber()), new StageAcc(j)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageAcc.get((e.stageId, e.stageAttemptId)).foreach { a =>
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageAcc.remove((si.stageId, si.attemptNumber())).foreach { a =>
      val start = si.submissionTime.getOrElse(0L) * 1000L
      val end = si.completionTime.getOrElse(0L) * 1000L
      spans.record(spans.newId(), a.job, "stage", s"stage ${si.stageId}", start, end,
        Map("tasks" -> a.tasks, "task_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9,
          "gc_s" -> a.gcMs / 1e3, "shuffle_read_b" -> a.shReadB,
          "shuffle_write_b" -> a.shWriteB, "spill_b" -> a.spillB))
    }
  }
}

/** Minimal JSON writer for the harness's result and span files. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(write).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
