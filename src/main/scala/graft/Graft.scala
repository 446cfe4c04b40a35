package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder pre-configured the way every
  * graft surface (Verify, Bench, tests) runs — native function extensions
  * registered, AQE on with size-first coalescing and skew handling, UTC
  * session timezone, and the nanos-timestamp legacy flag the testdata
  * needs. Callers on a real cluster pass their own master/shuffle settings.
  */
object Graft {

  def builder(master: String = "local[*]", shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // STATIC conf, default 100 — far too small for a wide query catalog
      // in one session; evictions trigger janino recompilation mid-run.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark default (r22) — see Bench.scala: the `false` override
      // serialized mid-size post-shuffle aggregates onto one task.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    shufflePartitions.fold(b)(n => b.config("spark.sql.shuffle.partitions", n))
  }

  // ------------------------------------------------------------------
  // Session-scoped cache registry (r15). The catalog's family-sharing
  // caches (q67's candidate-pair frame that q68 rides, the MinHash
  // signature that q21/q39 reuse) are deliberate — but a bare `.cache()`
  // with no unpersist means a LONG-LIVED session composing catalog
  // queries pins candidate-pair-sized storage until LRU eviction. The
  // registry keeps the sharing (same `.cache()` call, same CacheManager
  // plan-canonicalization hit) and adds the release half: call
  // `releaseCaches()` at a batch boundary and every registered frame
  // re-materializes on next use. Weak values are unnecessary — entries
  // are cleared on release, and registering is idempotent per Dataset.
  // ------------------------------------------------------------------

  private val registeredCaches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.sql.Dataset[_]]()

  /** `.cache()` + enrollment in the session registry: identical sharing
    * semantics to a bare cache (returns the same Dataset, so Catalyst's
    * CacheManager still matches equivalent subtrees), but releasable in
    * one call instead of pinned for the session's lifetime.
    */
  def registerCache[T](ds: org.apache.spark.sql.Dataset[T]): ds.type = {
    ds.cache()
    registeredCaches.add(ds)
    ds
  }

  /** Unpersist every frame enrolled by [[registerCache]]. Non-blocking:
    * storage frees asynchronously; plans referencing a released frame
    * simply recompute (correctness never depends on a cache). Returns the
    * number of frames released.
    */
  def releaseCaches(): Int = {
    val n = registeredCaches.size()
    registeredCaches.forEach(ds => ds.unpersist(blocking = false))
    registeredCaches.clear()
    n
  }
}
