package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge set — the cluster step of
  * near-duplicate dedup: LSH/Jaccard emits PAIRS, but curation needs one
  * representative per duplicate CLUSTER (transitive closure of pairs).
  *
  * Min-label propagation with pointer jumping: every vertex starts labeled
  * with its own id; each round takes the min label across neighbors, then
  * follows label → label's-own-label (path compression), so convergence is
  * O(log diameter) rounds. Each round is a couple of distributed joins +
  * a min-aggregation (shuffle on vertex id); the driver only reads one
  * scalar per round.
  *
  * Iterative DataFrame lineage grows multiplicatively (the propagation plan
  * references the previous round's plan several times), which makes
  * driver-side analysis/optimization exponential in the round count —
  * measured 30s+ for a 473-vertex graph. Every round therefore ends in an
  * EAGER `localCheckpoint()`, which severs the logical plan at a
  * materialized RDD: planning cost per round stays constant. (On a
  * fault-tolerant cluster run, `spark.sparkContext.setCheckpointDir` +
  * `checkpoint()` is the durable equivalent.)
  *
  * Per-round fixed cost is the scale lever in BOTH directions: the edge set
  * is counted once and the whole iteration runs at `edges / 2M` partitions
  * (clamped to the session default), so a thousand-vertex candidate graph
  * iterates in single-task rounds while a 100 TB-derived one keeps full
  * parallelism. The edge frame is pre-partitioned by the join key once and
  * `localCheckpoint` preserves its partitioning, so the per-round
  * neighbor-min join never re-shuffles the edges. The convergence metric
  * (sum of labels — monotone non-increasing, unchanged sum ⇔ converged)
  * rides the checkpoint materialization job via `observe()` instead of
  * running a separate aggregation job per round.
  */
object Graph {

  /** Observation metric `name` → Long; 0 when the metric is absent or
    * null (empty input). Any other type fails named: a silent 0 would
    * take pageRank's empty-graph return and serve an empty result.
    */
  private[graft] def asLongG(name: String, v: Any): Long = v match {
    case l: java.lang.Long => l.longValue()
    case null => 0L
    case other => throw new IllegalStateException(
      s"Graph metric '$name' is a ${other.getClass.getName}, expected java.lang.Long")
  }

  /** (id, cluster_id) for every vertex appearing in `edges` (src, dst);
    * cluster_id = min vertex id in the component.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    def asLong(v: Any, orElse: => Long): Long = v match {
      case l: java.lang.Long => l.longValue()
      case _ => orElse
    }
    // Materialized once — severs the (possibly expensive) pipeline that
    // produced the pairs from every round's plan. The edge count that sizes
    // the iteration (~2M edges per partition, min 1, capped at the session's
    // shuffle parallelism) rides the SAME materialization job via observe()
    // instead of a second pass.
    val obsE = Observation()
    val sym0 = edges.select(col(src).as("a"), col(dst).as("b"))
      .union(edges.select(col(dst).as("a"), col(src).as("b")))
      .observe(obsE, count(lit(1)).as("n"))
      .localCheckpoint()
    val defaultP = spark.sessionState.conf.numShufflePartitions
    val nEdges = asLong(Observations.of(obsE, "connectedComponents edge count")("n"), 0L)
    val p = math.max(1, math.min(defaultP, (nEdges / 2000000L).toInt))
    // Pre-partition the edges by the per-round join key (b): localCheckpoint
    // preserves outputPartitioning, so every round's neighbor-min join reads
    // the edge side without an Exchange. At p == 1 every operator already
    // runs single-partition (a 1-partition child satisfies any clustered
    // distribution, and coalesce is a narrow dep) — skip the second edge
    // materialization entirely.
    val sym = if (p > 1) sym0.repartition(p, col("b")).localCheckpoint()
              else sym0.coalesce(1)
    def byId(df: DataFrame): DataFrame =
      if (p > 1) df.repartition(p, col("id")) else df.coalesce(1)
    // Initial label sum + vertex count ride the label materialization job.
    val obsL = Observation()
    var labels = byId(sym.select(col("a").as("id")).distinct()
        .withColumn("label", col("id")))
      .observe(obsL, sum(col("label")).as("s"), count(lit(1)).as("n"))
      .localCheckpoint()

    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum("label")).head.get(0)).fold(0L)(_.asInstanceOf[Long])
    val labelStats = Observations.of(obsL, "connectedComponents label sum")
    var prevSum = asLong(labelStats("s"), 0L)

    var converged = asLong(labelStats("n"), 0L) == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // Min label across self and neighbors…
      val nmin = sym.join(labels, sym("b") === labels("id"))
        .select(col("a").as("id"), col("label"))
        .union(labels)
        .groupBy("id").agg(min("label").as("label"))
      // …then pointer-jump: follow label → that vertex's current label
      // (always ≤, since a vertex's label starts at its own id and only
      // decreases). Both reads of `nmin` are cheap plans over checkpointed
      // RDDs, so recomputing it twice beats materializing it.
      val jump = nmin.select(col("id").as("_lid"), col("label").as("_llabel"))
      val obs = Observation()
      val prop = byId(nmin.join(jump, nmin("label") === jump("_lid"))
          .select(col("id"), col("_llabel").as("label")))
        .observe(obs, sum(col("label")).as("s"))
        .localCheckpoint()
      // The checkpoint materialization runs through withAction, which fires
      // the observation listener; the read waits only until that (already
      // finished) action's metrics are delivered.
      val s = Observations.of(obs, "connectedComponents round label sum")("s") match {
        case v: java.lang.Long => v.longValue()
        case _ => labelSum(prop)
      }
      labels = prop
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    labels
  }

  /** Iteration count of the most recent [[pageRank]] call on this JVM —
    * a test/diagnostic hook for the convergence stop (the DataFrame result
    * cannot carry it); not meaningful under concurrent pageRank calls.
    */
  @volatile private[graft] var lastPageRankIters: Int = 0

  /** PageRank over a directed edge set, up to `iters` synchronous
    * iterations. The DEFAULT update is the simplified variant (no
    * dangling-mass redistribution — sinks absorb; both engines of the
    * oracle pair use the SAME convention, and ranking order is what the
    * downstream consumers read):
    *
    *   rank'(v) = (1−d)/N + d · Σ_{(u,v)∈E} rank(u) / outdeg(u)
    *
    * With `redistributeDangling = true` the rank mass sitting on SINK
    * nodes (no out-edges) each iteration is re-injected uniformly — the
    * standard PageRank convention, under which ranks sum to 1:
    *
    *   rank'(v) = (1−d)/N + d · (Σ rank(u)/outdeg(u) + danglingMass/N)
    *
    * Cost of the option is ONE extra vocab-scale aggregation per iteration
    * (sum of rank over the checkpointed sink-node set — a scalar to the
    * driver, never row data).
    *
    * With `tol > 0` iterations stop early once `max |Δrank| < tol`
    * (`iters` stays the hard bound). The delta metric rides the SAME
    * materialization job as the iteration's checkpoint via `observe()` —
    * one extra nodes-sized join against the previous ranks, no separate
    * pass. `tol = 0` (default) runs exactly `iters` iterations with the
    * delta machinery compiled out entirely, keeping the oracle-paired
    * plan unchanged.
    *
    * Edges are DISTINCTed (simple graph). Each iteration is one join of the
    * checkpointed edge set with the current ranks plus a per-dst sum —
    * shuffle on vertex id, nothing driver-side but scalars — and ends in
    * the same eager `localCheckpoint()` discipline as
    * [[connectedComponents]] (iterative lineage otherwise makes planning
    * cost grow with the iteration count; on a durable cluster run swap for
    * `checkpoint()`).
    *
    * Float-parity note for the oracle pair: the per-edge term divides
    * BEFORE summing (`rank/outdeg` per edge, then Σ), and the teleport
    * base spells `(1 − damping)/N` so both engines compute the identical
    * double (1−0.85 in binary is NOT the literal 0.15; adding the exact
    * 0.0 dangling term of the default variant is bit-transparent).
    */
  def pageRank(edges: DataFrame, src: String, dst: String,
      iters: Int, damping: Double = 0.85,
      redistributeDangling: Boolean = false, tol: Double = 0.0): DataFrame = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(tol >= 0.0, s"tol must be non-negative, got $tol")
    val spark = edges.sparkSession
    // Co-partitioning discipline (as in connectedComponents): edges and
    // outdegrees are hash-partitioned by src ONCE, nodes and every round's
    // ranks by node — localCheckpoint preserves outputPartitioning, and
    // the per-dst aggregation already emits HashPartitioning(node) — so
    // each iteration's edge⋈ranks join and the nodes⋈contribs join run
    // WITHOUT an Exchange, leaving ONE shuffle per iteration (the per-dst
    // sum); at p > 1 scale that removes two full rank-table shuffles per
    // iteration. Width derives from the distinct edge count (~2M edges
    // per partition, the CC sizing), clamped to the session default.
    // Honest local measurement (q75, sf0.1, steady-state): 3.36s before
    // vs 3.39s after — UNCHANGED, because at local scale the cost is
    // per-round JOB LATENCY, not shuffle volume (the same query measures
    // 1.63s at sf0.001 with 100× less data: ~half of q75 is the 5
    // synchronous checkpoint+plan round-trips iterative convergence
    // requires). The co-partitioning is kept for the plan property, not a
    // local win.
    val obsE = Observation()
    // widen BEFORE the distinct (r22, q75 profile): a broadcast-joined
    // edge build inherits the big side's scan partitioning — locally 1-2
    // tasks — and the distinct's partial hash aggregate (nearly-unique
    // keys, pure overhead) ran serially on them: 1.0-1.4 s of q75's 2.0 s.
    // Keyed by the distinct's own key, the exchange doubles as the
    // distinct's shuffle (no second Exchange) and the aggregate runs at
    // full width. No-op at scale — the scan already has splits.
    val e0 = graft.sources.Sources.widen(
        edges.select(col(src).as("src"), col(dst).as("dst")),
        col("src"), col("dst"))
      .distinct().observe(obsE, count(lit(1)).as("n")).localCheckpoint()
    val defaultP = spark.sessionState.conf.numShufflePartitions
    val nEdges = asLongG("n", Observations.of(obsE, "pageRank edge count")("n"))
    val p = math.max(1, math.min(defaultP, (nEdges / 2000000L).toInt))
    val e = if (p > 1) e0.repartition(p, col("src")).localCheckpoint()
            else e0.coalesce(1)
    def byNode(df: DataFrame): DataFrame =
      if (p > 1) df.repartition(p, col("node")) else df.coalesce(1)
    // Node count rides the checkpoint materialization via observe() —
    // a separate count() job was one more synchronous driver round-trip
    // (r22; the q75 profile showed per-job latency, not shuffle volume,
    // dominating at local scale). A repartition(1, node) spelling of the
    // p==1 placement was ALSO tried and measured worse (2.2-2.4 s vs
    // 1.9 s): AQE already size-coalesces the small post-shuffle
    // aggregates, so the keyed exchange only added a shuffle.
    val obsN = Observation()
    val nodes = byNode(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
      .observe(obsN, count(lit(1)).as("n")).localCheckpoint()
    val n = asLongG("n", Observations.of(obsN, "pageRank node count")("n")).toDouble
    lastPageRankIters = 0
    if (n == 0) return nodes.withColumn("rank", lit(0.0))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("outdeg"))
      .localCheckpoint()
    // Sink-node set, materialized ONCE (graph topology doesn't change
    // across iterations) — only when the dangling option pays for it.
    val sinks = if (redistributeDangling)
      nodes.join(deg, nodes("node") === deg("src"), "left_anti")
        .select(col("node")).localCheckpoint()
    else null
    // NOT checkpointed (r22): a constant projection off the checkpointed
    // nodes frame — every consumer (round 1's join, the dangling sum, the
    // tol delta) reads it straight off the checkpoint; materializing it
    // was one more barrier job buying nothing.
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    // Per-round materialization is only REQUIRED when the driver must read
    // a scalar between rounds (the dangling sum, or tol's delta metric).
    // The default path (tol=0, no dangling) composes every iteration into
    // ONE lazy plan instead: unlike connectedComponents — whose round plan
    // references the previous labels SEVERAL times, making unrolled
    // lineage (and planning) grow exponentially — the PageRank update
    // references `ranks` exactly once, so the unrolled plan is LINEAR in
    // the round count, and one deep job replaces `iters` checkpoint
    // round-trips. Measured on q75 (5 rounds, sf0.1, steady-state):
    // 3.36 → 1.80/1.82s across two reps — per-round job latency was
    // ~half the query. A checkpoint every `chunk` rounds still bounds
    // planning depth for large `iters` (linear growth, but Catalyst
    // re-optimizes the whole tree each action).
    val chunk = 8
    var it = 0
    var done = false
    while (it < iters && !done) {
      val dangling = if (redistributeDangling)
        Option(ranks.join(sinks, Seq("node"), "left_semi")
            .agg(sum(col("rank"))).head.get(0))
          .fold(0.0)(_.asInstanceOf[Double])
      else 0.0
      val contribs = e.join(ranks, e("src") === ranks("node"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_contrib"))
      val updated = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1 - damping) / n + damping * dangling / n) +
            lit(damping) * coalesce(col("_contrib"), lit(0.0))).as("rank"))
      if (tol > 0.0) {
        val obs = Observation()
        val next = updated
          .join(ranks.select(col("node"), col("rank").as("_prev")), Seq("node"))
          .observe(obs, max(abs(col("rank") - col("_prev"))).as("d"))
          .select(col("node"), col("rank"))
          .localCheckpoint()
        val dmax = Observations.of(obs, "pageRank round delta")("d") match {
          case v: java.lang.Double => v.doubleValue()
          case _ => Double.MaxValue // empty metrics: keep iterating
        }
        ranks = next
        done = dmax < tol
      } else if (redistributeDangling || (it + 1) % chunk == 0) {
        ranks = updated.localCheckpoint()
      } else ranks = updated
      it += 1
    }
    lastPageRankIters = it
    ranks
  }
}
