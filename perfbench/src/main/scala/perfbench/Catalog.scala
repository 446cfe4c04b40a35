package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The catalog workload: a closed loop over a fixed list of
  * `SparkEntry.queries`, one query at a time on one driver thread, for a
  * fixed number of passes.
  *
  * One operation is one query, split into the layer calls a user pays:
  *  - build: the query function itself (schema reads, eager widen/collect
  *    jobs);
  *  - plan: `queryExecution.executedPlan` (analysis, optimization, physical
  *    planning, split by `tracker.phases`);
  *  - exec: every output row of that physical plan, materialized and dropped
  *    (the work of Spark's `noop` sink, without re-planning the query).
  */
object Catalog {
  type Q = (SparkSession, String) => DataFrame

  /** The catalog object that defines the query. */
  def module(name: String): String =
    if (graft.queries.CoreQueries.defs.contains(name)) "core"
    else if (graft.queries.TextQueries.defs.contains(name)) "text"
    else if (graft.queries.SimQueries.defs.contains(name)) "sim"
    else "ext"

  def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench materialize")) {
      qe.toRdd.mapPartitions(it => Iterator.single(it.size.toLong)).fold(0L)(_ + _)
    }
  }

  def run(c: Ctx, workload: String, names: Seq[String], passes: Int): Map[String, Any] = {
    val spark = c.spark
    val fns: Seq[(String, Q)] = names.map(n => n -> graft.SparkEntry.queries(n))
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${c.work}/oracle_sql.json"),
      Json.write(oracle))
    // ---- setup: one warm pass at the measured scale, on `cpus` driver
    // threads at once (setup only: the measured loop is single-threaded).
    // Its outputs are the ones the output check compares with the oracle.
    val warmPprobes = (1 to 3).map(_ => c.parallelProbe())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cpus)
    val warm = try fns.map { case (n, f) =>
      pool.submit(() => {
        val t0 = System.nanoTime()
        val err = try {
          f(spark, c.data).write.mode("overwrite").parquet(s"${c.work}/out/$n"); null
        } catch { case t: Throwable => String.valueOf(t).take(300) }
        Map("name" -> n, "seconds" -> (System.nanoTime() - t0) / 1e9, "error" -> err)
      })
    }.map(_.get()) finally pool.shutdown()
    spark.catalog.clearCache()
    graft.Graft.releaseCaches()

    // ---- measured passes
    val ops = ArrayBuffer[Map[String, Any]]()
    val passRecs = ArrayBuffer[Map[String, Any]]()
    var setupEndMs = 0L
    val root = c.spans.open("workload", workload, null)
    for (pass <- 1 to passes) {
      // Traced runs make one more pass and interleave listener-off and
      // listener-on ones (off, on, off, off, on) so the same run measures its
      // own tracing overhead: the first pass is still warming up and is left
      // out of that comparison, and the rest put drift on both sides alike.
      val tracedPass = c.traced && (pass == 2 || pass == 5)
      c.listen(tracedPass)
      val probeMs = c.probe()
      val pprobeMs = c.parallelProbe()
      val passSpan = c.spans.open("pass", s"pass $pass", root)
      var passWall = 0.0
      var cachePeak = 0.0
      if (setupEndMs == 0L) setupEndMs = System.currentTimeMillis()
      fns.foreach { case (n, f) =>
        val rec = op(c, n, f, passSpan, tracedPass)
        passWall += rec("wall_s").asInstanceOf[Double]
        if (c.traced) cachePeak = math.max(cachePeak, c.cachedMb())
        // the count() the r01-r22 record timed, beside the materialized time
        val count = if (!tracedPass) Map.empty[String, Any] else {
          val ct = System.nanoTime()
          val ok = try { f(spark, c.data).count(); true } catch { case _: Throwable => false }
          Map("count_s" -> (System.nanoTime() - ct) / 1e9, "count_ok" -> ok)
        }
        ops += rec ++ count ++ Map("pass" -> pass, "traced_pass" -> tracedPass,
          "module" -> module(n))
      }
      c.spans.close(passSpan)
      val heapMb = c.heapAfterGcMb()
      passRecs += Map("pass" -> pass, "wall_s" -> passWall, "probe_ms" -> probeMs,
        "pprobe_ms" -> pprobeMs, "heap_after_gc_mb" -> heapMb,
        "cache_peak_mb" -> cachePeak, "traced_pass" -> tracedPass, "span" -> passSpan.id)
      spark.catalog.clearCache()
      graft.Graft.releaseCaches()
    }
    c.listen(false)
    c.spans.close(root)
    val pprobes = passRecs.map(_("pprobe_ms").asInstanceOf[Double]).toSeq
    Map("setup_end_ms" -> setupEndMs, "ops" -> ops, "passes" -> passRecs,
      "warm" -> warm, "queries" -> names,
      "contended" -> graft.BenchProbe.contended(pprobes ++ warmPprobes,
        if (warmPprobes.isEmpty) -1.0 else warmPprobes.min))
  }

  /** One closed-loop operation. Failures are recorded, never thrown. */
  private def op(c: Ctx, n: String, f: Q, pass: Span, traced: Boolean): Map[String, Any] = {
    val s = c.spans
    val opSpan = s.open("op", n, pass)
    var build, plan, exec = 0.0
    var rows = -1L
    var phases = Map.empty[String, Double]
    val err = try {
      val (df, b) = s.timed("build", n, opSpan)(sp => c.inGroup(sp)(f(c.spark, c.data)))
      build = b.seconds
      val (_, p) = s.timed("plan", n, opSpan)(sp => c.inGroup(sp)(df.queryExecution.executedPlan))
      plan = p.seconds
      phases = df.queryExecution.tracker.phases.map { case (k, v) =>
        k -> (v.endTimeMs - v.startTimeMs) / 1e3 }
      val (r, e) = s.timed("exec", n, opSpan)(sp => c.inGroup(sp)(materialize(df)))
      exec = e.seconds
      rows = r
      null
    } catch { case t: Throwable => String.valueOf(t).take(300) }
    s.close(opSpan)
    if (traced) opSpan.attrs ++= phases.map { case (k, v) => s"phase_$k" -> v }
    Map("name" -> n, "wall_s" -> opSpan.seconds, "build_s" -> build, "plan_s" -> plan,
      "exec_s" -> exec, "rows" -> rows, "ok" -> (err == null), "error" -> err,
      "span" -> opSpan.id) ++ phases.map { case (k, v) => s"phase_$k" -> v }
  }

  /** Family of every catalog query, observed: a query is `llm` when it
    * cannot be built and materialized without the `documents` or
    * `embeddings` table, `etl` when it runs on the relational tables alone.
    * `data` must hold every table except those two.
    */
  def classify(c: Ctx): Map[String, Any] = {
    val out = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, f) =>
      val fam = try { materialize(f(c.spark, c.data)); "etl" } catch {
        case t: Throwable =>
          val msg = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(String.valueOf).mkString(" ")
          if (msg.contains("documents.parquet") || msg.contains("embeddings.parquet")) "llm"
          else "error: " + msg.take(200)
      }
      c.spark.catalog.clearCache()
      graft.Graft.releaseCaches()
      n -> fam
    }
    Map("families" -> out.toMap)
  }
}
