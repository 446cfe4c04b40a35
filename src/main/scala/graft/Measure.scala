package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every graft main shares: the local session shape, the
  * `SPARK_GRAFT_*` rules (thread count, query subset, warm dir), the
  * host-contention spin probes, and the one timed pass loop that Bench and
  * ScaleBench both measure through. The environment rules are pure
  * functions of their arguments so specs can pin them.
  */
object Measure {

  /** Local thread count: `SPARK_GRAFT_CPUS`, else the machine capped at 32
    * (recorded runs are `local[32]`; an unset variable must neither
    * plan a 4-core host at 32 partitions nor run a big one on 4 threads).
    */
  def cpus(env: Map[String, String] = sys.env,
      nproc: Int = Runtime.getRuntime.availableProcessors()): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(math.min(32, nproc))

  /** The session every graft main runs in: [[Graft.builder]] at
    * `local[cpus]` with one shuffle partition per thread, UI off.
    */
  def session(): SparkSession = {
    val n = cpus()
    val spark = Graft.builder(s"local[$n]", Some(n))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The dev-only `SPARK_GRAFT_QUERIES` subset (comma-separated names);
    * recorded runs leave it unset.
    */
  def querySubset(env: Map[String, String] = sys.env): Option[Set[String]] =
    env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)

  /** `all`, sorted, restricted to the query subset when one is set. */
  def selected(all: Iterable[String], env: Map[String, String] = sys.env): Seq[String] = {
    val subset = querySubset(env)
    all.toSeq.sorted.filter(n => subset.forall(_.contains(n)))
  }

  /** Steady-state warmup dir: the measured dir's `sf0.001` sibling (so a
    * relocated testdata tree still warms), else the measured dir itself —
    * warmup then pays one full-size pass, never skipped, since no warmup
    * would change what the numbers mean.
    */
  def warmDir(sfDir: String): String = {
    val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (sib.isDirectory) sib.getPath else sfDir
  }

  /** JSON string literal: backslash, quote and every control char below
    * 0x20 escaped — one raw control char (a tab in authored SQL, a NUL in
    * a decode error) makes the whole machine-read file unparseable.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // ------------------------------------------------------------------
  // Contention probes. Single-run times can't tell a regression from a
  // shared-host steal window, so each timed run is preceded by a FIXED
  // single-thread cpu spin (inflation = the core itself is stolen) and the
  // same spin on every core at once, reporting the slowest (inflation with
  // a flat single probe = the host's parallel capacity is oversubscribed,
  // the mode that slows 32-thread queries). Probes are DIAGNOSTIC: any
  // failure records the -1.0 sentinel instead of killing the measured run.
  // ------------------------------------------------------------------

  private def spin(): Long = {
    var s = 0L
    var i = 0
    while (i < (1 << 22)) { s += i * 2654435761L; i += 1 }
    s
  }

  /** Wall ms of the single-thread spin. */
  private def probe(): Double = try {
    val t0 = System.nanoTime()
    if (spin() == 42L) System.err.println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e6
  } catch { case _: Throwable => -1.0 }

  private val probeThreads = Runtime.getRuntime.availableProcessors()
  // Daemon threads, reused so thread start isn't in the measurement: a
  // throwable unwinding a main must not leave them holding the JVM open.
  private lazy val probePool = java.util.concurrent.Executors.newFixedThreadPool(
    probeThreads,
    (r: Runnable) => { val t = new Thread(r, "graft-probe"); t.setDaemon(true); t })

  /** Wall ms of the spin on every core at once (slowest thread). */
  private def pprobe(): Double = try {
    import scala.jdk.CollectionConverters._
    val t0 = System.nanoTime()
    val tasks = Seq.fill(probeThreads)(new java.util.concurrent.Callable[Long] {
      override def call(): Long = spin()
    }).asJava
    if (probePool.invokeAll(tasks).asScala.map(_.get()).sum == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  } catch { case _: Throwable => -1.0 }

  /** Cumulative JVM-wide collector wall (all collectors; -1 beans count 0). */
  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  }

  /** The action every timed run ends in: full materialization through
    * Spark's no-op sink, so every output column is computed. A `count()`
    * lets Catalyst prune projections and cardinality-preserving joins —
    * the work a user of the result actually pays.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One timed run. `sec` is wall to completion, or to failure when
    * `error` is set; `probeMs`/`pprobeMs` were sampled just before it,
    * `gcMs` is the collector time during it, and `startSec` is its offset
    * from the start of its loop.
    */
  final case class Timing(pass: Int, sec: Double, startSec: Double,
      probeMs: Double, pprobeMs: Double, gcMs: Double, error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
  }

  /** The one pass loop. `passes(i)` lists the keys pass i+1 runs, in
    * order; each run is probed, timed and GC-metered, then reported to
    * `onTiming` with the key's best successful run so far (this one
    * included). `boundary(p)` runs before every pass p > 1 — callers clear
    * caches there, so a later pass pays the same family-cache builds as the
    * first and the minima compare like for like (rep 2 of a cache-building
    * query would otherwise record its cache-HIT time). Passes after the
    * first start no run once the loop's wall exceeds `budgetSec`.
    *
    * Returns each key's best (minimum) successful run: a run that throws
    * records no time, since its time-to-failure would flatter the number.
    */
  def timePasses[K](passes: Seq[Seq[K]], run: K => Unit,
      onTiming: (K, Timing, Option[Timing]) => Unit = (_: K, _: Timing, _: Option[Timing]) => (),
      boundary: Int => Unit = _ => (),
      budgetSec: Double = Double.PositiveInfinity,
      probes: () => (Double, Double) = () => (probe(), pprobe())): Map[K, Timing] = {
    val best = scala.collection.mutable.Map[K, Timing]()
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    passes.zipWithIndex.foreach { case (keys, i) =>
      val pass = i + 1
      if (pass > 1) boundary(pass)
      keys.foreach { k =>
        if (pass == 1 || elapsed <= budgetSec) {
          val (p, pp) = probes()
          val start = elapsed
          val gc0 = gcMs()
          val r0 = System.nanoTime()
          val error = try { run(k); None } catch { case t: Throwable => Some(t) }
          val t = Timing(pass, (System.nanoTime() - r0) / 1e9, start, p, pp,
            math.max(0.0, gcMs() - gc0), error)
          if (t.ok && best.get(k).forall(_.sec > t.sec)) best(k) = t
          onTiming(k, t, best.get(k))
        }
      }
    }
    best.toMap
  }
}
