package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact brute-force top-k (correctness
  * baseline) and random-hyperplane LSH bucketing (the scale path).
  *
  * Dot products use `zip_with` + `aggregate` — sequential left-to-right
  * folds, so the DuckDB oracle (list comprehension + `list_sum`) produces
  * bit-identical doubles. No UDFs.
  *
  * Scale: brute-force broadcasts the (small) query set against the corpus —
  * no corpus shuffle, one pass. LSH assigns each vector to a 2^planes-bucket
  * key; probes then join on the bucket id, touching ~1/2^planes of the data.
  * Hyperplane signs are derived from md5(plane + "-" + dim) — deterministic,
  * seedless, reproducible in SQL.
  */
object Ann {

  /** float[] → double[] (cosine math happens in double on both engines). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd dot product ([[graft.functions.DotProduct]];
    * registered by the GraftExtensions session extension or by
    * `graft.sql.SqlFunctions.register`). Bit-identical to the HOF
    * `aggregate(zip_with(...))` fold and to DuckDB's `list_sum` of products,
    * ~10× faster (HOFs evaluate interpreted).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine from a precomputed-norm pair — at N·M pairs this does one dot
    * per pair instead of three. Public: the streaming kept-log
    * ([[graft.streaming.Streams.semDedupSink]]) persists norms so replayed
    * batches ride this shape too.
    */
  def cosinePre(ab: Column, na: Column, nb: Column): Column = ab / (na * nb)

  /** Exact top-k neighbors for each query vector (queries broadcast).
    * Inputs: (id, vec double[]) on both sides; self-pairs excluded.
    * Norms are computed once per row, not once per pair.
    */
  def bruteforceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn")))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      norm(col("vec")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosinePre(dot(col("qvec"), col("cvec")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Random-hyperplane LSH bucket per vector: bit j = (v · plane_j) > 0,
    * plane_j component for dim m = +1 if the first hex char of
    * md5(j + "-" + m) is >= '8' else -1. Returns (id, bucket).
    *
    * WIDE form: the N·d posexploded rows carry `planes` parallel
    * `sum(v * sign_j)` aggregates through ONE groupBy(id) — the earlier
    * explode-per-plane form pushed N·d·planes rows through the first
    * shuffle and needed a second groupBy. The ±1 sign table depends only
    * on (plane, dim), so it is computed once per DISTINCT dim and
    * broadcast-joined to the exploded rows (d rows × planes columns —
    * trivially broadcastable at any corpus size, since d is the embedding
    * width, not the corpus).
    */
  def hyperplaneBuckets(vectors: DataFrame, planes: Int): DataFrame = {
    val ex = vectors.select(col("id"), posexplode(col("vec")).as(Seq("pos", "v")))
    val signs = ex.select(col("pos")).distinct()
      .select(col("pos") +: (0 until planes).map(j =>
        when(substring(md5(concat_ws("-", lit(j), col("pos"))), 1, 1) >= "8", 1)
          .otherwise(-1).as(s"_g$j")): _*)
    val sums = (0 until planes).map(j => sum(col("v") * col(s"_g$j")).as(s"_s$j"))
    val bucket = (0 until planes)
      .map(j => when(col(s"_s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    ex.join(broadcast(signs), "pos")
      .groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), bucket.as("bucket"))
  }

  /** Nearest-centroid cell assignment: broadcast the (small) centroid
    * frame, L2-argmin per vector. Input needs (id, vec); output adds
    * `label`. Ties break on cell id so both the trainer and the prober
    * rank identically.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = broadcast(centroids.withColumn("_cn2", dot(col("cvec"), col("cvec"))))
    // Argmin as min(struct(dist, cell)) — lexicographic struct ordering —
    // NOT a row_number window: the aggregate gets map-side partial combine,
    // so the shuffle carries ~N rows instead of the window's N·k.
    corpus.withColumn("_qd2", dot(col("vec"), col("vec")))
      .crossJoin(cent)
      .withColumn("_d2", col("_qd2") - lit(2.0) * dot(col("vec"), col("cvec")) + col("_cn2"))
      .groupBy(col("id"))
      .agg(first(col("vec")).as("vec"),
        min(struct(round(col("_d2"), 6).as("d"), col("label").as("l"))).as("_m"))
      .select(col("id"), col("vec"), col("_m").getField("l").as("label"))
  }

  /** Trained coarse quantizer: deterministic farthest-point seeding plus
    * `iters` distributed Lloyd iterations over (id, vec), returning the
    * corpus with a learned `label` cell per vector — the real IVF index
    * build (the label-column variant uses a pre-existing partition as a
    * stand-in).
    *
    * Seeding: greedy k-center (farthest-point) over a DETERMINISTIC
    * md5-ordered sample of max(256, 16·k) vectors. Seeds only need the
    * cluster GEOMETRY, not every point, so the sample preserves seed
    * quality while turning seeding into ONE distributed top-n job
    * (per-partition top-n, merged on the driver) plus driver-local
    * arithmetic — the full-corpus variant paid k−1 sequential corpus
    * passes, each ending in a driver barrier. Seed 0 is the vector with
    * the smallest md5(id) (by construction the sample's first row); each
    * next seed is the sample point farthest from its nearest chosen seed,
    * ties on the smaller id. No RNG anywhere.
    *
    * Scale: each Lloyd iteration is one corpus pass (broadcast centroids →
    * argmin → per-cell mean); k should grow ~sqrt(N), well inside
    * broadcast range. Cells that lose all members drop out (k shrinks)
    * rather than being re-seeded, which keeps the trainer deterministic.
    * Only sample/centroid-scale rows ever reach the driver (O(k·d)
    * doubles — the same order as the centroid broadcast payload).
    */
  def kmeansCells(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = corpus.select(col("id"), col("vec")).localCheckpoint()
    val spark = base.sparkSession
    import spark.implicits._

    val sampleN = math.max(256, 16 * k)
    val sample = base.withColumn("_h", md5(col("id").cast("string")))
      .orderBy(col("_h"), col("id")).limit(sampleN)
      .select(col("id"), col("vec")).as[(Long, Seq[Double])].collect()
    if (sample.isEmpty) return base.withColumn("label", lit(0L)).limit(0)
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val seeds = scala.collection.mutable.ArrayBuffer(sample.head)
    val dmin = Array.fill(sample.length)(Double.MaxValue)
    while (seeds.length < math.min(k, sample.length)) {
      val last = seeds.last._2
      var bi = 0
      for (i <- sample.indices) {
        dmin(i) = math.min(dmin(i), d2(sample(i)._2, last))
        if (dmin(i) > dmin(bi) ||
          (dmin(i) == dmin(bi) && sample(i)._1 < sample(bi)._1)) bi = i
      }
      seeds += sample(bi)
    }
    def centDF(s: Seq[(Long, Seq[Double])]): DataFrame =
      s.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }.toDF("label", "cvec")
    var cent = centDF(seeds.toSeq)
    for (_ <- 1 to iters)
      cent = cellCentroids(assignCells(base, cent)).localCheckpoint()
    assignCells(base, cent)
  }

  /** Per-cell centroid vectors, assembled in dimension order (cells =
    * `label` here, standing in for a trained coarse quantizer).
    */
  def cellCentroids(corpus: DataFrame): DataFrame =
    corpus.select(col("label"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos")).agg(avg(col("v")).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cvec"))

  /** IVF-style ANN: queries probe the `nprobe` nearest cells (L2 to the
    * broadcast centroids), then exact-cosine rerank ONLY inside probed
    * cells — each probe touches ~nprobe/|cells| of the corpus instead of
    * all of it. Cell ranking and the final top-k order on ROUNDED values
    * with integer tiebreaks so both engines rank identically.
    *
    * Scale: centroids broadcast (|cells| rows); the probe→cell join
    * shuffles candidates by cell id. Cell count should grow ~sqrt(N) (and
    * nprobe with recall targets) so cells stay balanced; the label-cell
    * demo has 10.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = broadcast(cellCentroids(corpus)
      .withColumn("cn2", dot(col("cvec"), col("cvec"))))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn"), dot(col("vec"), col("vec")).as("qd2"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(round(col("d2"), 6), col("label"))
    val probed = q.crossJoin(cent)
      .withColumn("d2", col("qd2") - lit(2.0) * dot(col("qvec"), col("cvec")) + col("cn2"))
      .withColumn("prn", row_number().over(wCell))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("qn"), col("label"))
    val cells = corpus.select(col("id").as("neighbor_id"), col("vec").as("nvec"),
      norm(col("vec")).as("nn"), col("label"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id"))
    probed.join(cells, Seq("label")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosinePre(dot(col("qvec"), col("nvec")), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("label").as("cell"), col("cos"))
  }

  /** Product quantization: train `m` per-block sub-codebooks of `ksub`
    * centroids each over the block slices of a DETERMINISTIC md5-ordered
    * sample (the kmeansCells seeding discipline: codebooks need the
    * sub-space GEOMETRY, not every point — classic PQ trains on a sample),
    * farthest-point seeded + driver-local Lloyd. Returns (block, code,
    * cvec) — O(m·ksub·subDim) doubles, the broadcast payload of every
    * later stage. A cluster that empties keeps its previous centroid
    * (codes stay dense and the trainer stays deterministic).
    *
    * Why PQ at 100 TB: a d=64 float corpus is 256 B/vector; m=8 one-byte
    * codes are 8 B — the index that decides which vectors an ANN probe
    * touches fits in memory at ~30× more corpus per executor, with the
    * exact vectors left in parquet for optional rerank.
    */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampleN = math.max(256, 32 * ksub)
    val sample = corpus.select(col("id"), col("vec"))
      .withColumn("_h", md5(col("id").cast("string")))
      .orderBy(col("_h"), col("id")).limit(sampleN)
      .select(col("id"), col("vec")).as[(Long, Seq[Double])].collect()
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val d = sample.head._2.length
    require(m > 0 && d % m == 0, s"dim $d must divide into m=$m blocks")
    val sub = d / m
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    val rows = (0 until m).flatMap { b =>
      val pts = sample.map { case (id, v) => (id, v.slice(b * sub, (b + 1) * sub).toArray) }
      // Farthest-point seeding (ties on smaller sample id), then Lloyd.
      val seeds = scala.collection.mutable.ArrayBuffer(pts.head._2)
      val dmin = Array.fill(pts.length)(Double.MaxValue)
      while (seeds.length < math.min(ksub, pts.length)) {
        val last = seeds.last
        var bi = 0
        for (i <- pts.indices) {
          dmin(i) = math.min(dmin(i), d2(pts(i)._2, last))
          if (dmin(i) > dmin(bi) ||
            (dmin(i) == dmin(bi) && pts(i)._1 < pts(bi)._1)) bi = i
        }
        seeds += pts(bi)._2
      }
      var cent = seeds.toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(cent.length)(new Array[Double](sub))
        val counts = new Array[Long](cent.length)
        pts.foreach { case (_, p) =>
          var best = 0
          var bd = Double.MaxValue
          for (c <- cent.indices) {
            val dd = d2(p, cent(c))
            if (dd < bd) { bd = dd; best = c }
          }
          counts(best) += 1
          for (j <- 0 until sub) sums(best)(j) += p(j)
        }
        cent = cent.indices.map { c =>
          if (counts(c) == 0) cent(c)
          else Array.tabulate(sub)(j => sums(c)(j) / counts(c))
        }.toArray
      }
      cent.zipWithIndex.map { case (cv, code) => (b, code, cv.toSeq) }
    }
    rows.toDF("block", "code", "cvec")
  }

  /** Block slices of each vector, no shuffle: (id, block, svec). */
  private def blockSlices(vectors: DataFrame, m: Int, subDim: Int): DataFrame =
    // explode_outer + null filter (the MinHash.shingleRows dodge): plain
    // explode infers a size()>0 filter rebuilding the m block slices per
    // row in an interpreted Filter. Block structs are never null.
    vectors.select(col("id"), explode_outer(array((0 until m).map(b =>
        struct(lit(b).as("block"),
          slice(col("vec"), b * subDim + 1, subDim).as("svec"))): _*)).as("_bs"))
      .filter(col("_bs").isNotNull)
      .select(col("id"), col("_bs.block").as("block"), col("_bs.svec").as("svec"))

  /** PQ-encode the corpus: nearest sub-centroid per (vector, block) →
    * (id, block, code). Broadcast codebook join (no shuffle) + min(struct)
    * argmin with map-side combine — the shuffle carries N·m code rows,
    * never the N·m·ksub distance rows.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    val cb = broadcast(codebooks.withColumn("_cn2", dot(col("cvec"), col("cvec"))))
    blockSlices(corpus, m, subDim)
      .join(cb, "block")
      .withColumn("_d2",
        dot(col("svec"), col("svec")) - lit(2.0) * dot(col("svec"), col("cvec")) + col("_cn2"))
      .groupBy(col("id"), col("block"))
      .agg(min(struct(round(col("_d2"), 9).as("d"), col("code").as("c"))).as("_m"))
      .select(col("id"), col("block"), col("_m").getField("c").as("code"))
  }

  /** IVF-PQ ANN: coarse cells prune the corpus (probe the `nprobe`
    * nearest cells per query, as [[ivfTopK]]), then candidates are ranked
    * by ASYMMETRIC DISTANCE (ADC): approx_d2(q, x) = Σ_blocks
    * d2(q_block, centroid(code_block(x))) — each query builds an
    * m×ksub lookup table against the broadcast codebooks, and scoring a
    * candidate is m table lookups over its codes, never a touch of the
    * full vector. Output (query_id, rank, neighbor_id, approx_d2), ranks
    * on rounded distance with id tiebreaks.
    *
    * Scale: codebooks and the per-query ADC tables broadcast (queries ×
    * m × ksub rows); candidates shuffle once on neighbor_id to meet their
    * codes and once for the per-query top-k.
    *
    * `rerank > 0` adds the classic refine stage: ADC shortlists the top
    * `rerank` per query, then EXACT cosine ranks only the shortlist (the
    * full vectors are touched for shortlist-sized data, not per
    * candidate) — quantization error at fine granularity (near-tied
    * in-cell neighbors) costs ADC-only recall, and the shortlist buys it
    * back for a bounded exact-compute budget. Output (query_id, rank,
    * neighbor_id, score): score is rounded cosine when reranked, rounded
    * approx L2 distance when not.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, m: Int, ksub: Int,
      nprobe: Int, k: Int, iters: Int = 5, rerank: Int = 0): DataFrame = {
    val d = corpus.select(size(col("vec"))).head().getInt(0)
    require(d % m == 0, s"dim $d must divide into m=$m blocks")
    val sub = d / m
    val codebooks = pqTrain(corpus, m, ksub, iters)
    val codes = pqEncode(corpus, codebooks, m, sub)
      .withColumnRenamed("id", "neighbor_id")
    // Coarse probe: nearest nprobe cell centroids per query (ivfTopK's
    // ranking, minus the exact rerank that IVF-PQ exists to avoid).
    val cent = broadcast(cellCentroids(corpus)
      .withColumn("cn2", dot(col("cvec"), col("cvec"))))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      dot(col("vec"), col("vec")).as("qd2"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(round(col("d2"), 6), col("label"))
    val probed = q.crossJoin(cent)
      .withColumn("d2", col("qd2") - lit(2.0) * dot(col("qvec"), col("cvec")) + col("cn2"))
      .withColumn("prn", row_number().over(wCell))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("label"))
    // ADC tables: per (query, block, code) partial distance, broadcast.
    val cb = broadcast(codebooks.withColumn("_cn2", dot(col("cvec"), col("cvec"))))
    val adc = broadcast(
      blockSlices(queries.select(col("id"), col("vec")), m, sub)
        .withColumnRenamed("id", "query_id")
        .join(cb, "block")
        .select(col("query_id"), col("block"), col("code"),
          (dot(col("svec"), col("svec")) - lit(2.0) * dot(col("svec"), col("cvec")) +
            col("_cn2")).as("pd")))
    val cand = probed
      .join(corpus.select(col("id").as("neighbor_id"), col("label")), Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(round(col("approx_d2"), 6), col("neighbor_id"))
    val adcTop = cand.join(codes, Seq("neighbor_id"))
      .join(adc, Seq("query_id", "block", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("pd")).as("approx_d2"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= math.max(k, rerank))
    if (rerank <= 0)
      adcTop.select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("approx_d2"), 6).as("score"))
    else {
      val qv = broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec2"), norm(col("vec")).as("qn")))
      val cv = corpus.select(col("id").as("neighbor_id"),
        col("vec").as("nvec"), norm(col("vec")).as("nn"))
      val wR = Window.partitionBy(col("query_id"))
        .orderBy(round(col("cos"), 6).desc, col("neighbor_id"))
      adcTop.select(col("query_id"), col("neighbor_id"))
        .join(qv, Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .withColumn("cos",
          dot(col("qvec2"), col("nvec")) / (col("qn") * col("nn")))
        .withColumn("rank", row_number().over(wR))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("score"))
    }
  }

  /** Hyperplane count that holds the EXPECTED bucket size at `targetBucket`
    * as the corpus grows: planes = ceil(log2(n / targetBucket)). This is
    * the scale lever the bucketed operators (bucketTop1 / semDedup)
    * document — with FIXED planes the 2^planes buckets saturate and
    * in-bucket pair work grows ~N²/2^planes (the 100× run measured q35 at
    * exponent 0.95 and bending toward 2 as buckets fill); holding bucket
    * size constant costs one extra plane per corpus doubling and keeps
    * pair work ~N·targetBucket. The catalog queries keep FIXED planes (the
    * count is baked into their DuckDB oracle spellings); a production
    * index build derives it from the corpus count — bounded metadata.
    */
  def planesFor(n: Long, targetBucket: Int = 256): Int = {
    require(n >= 0, s"n must be non-negative, got $n")
    require(targetBucket >= 1, s"targetBucket must be positive, got $targetBucket")
    // 62 = the bucket-id bitmask bound (bucket is one Long of sign bits);
    // 2^62 buckets sits far beyond any corpus, so the clamp is a type
    // bound, not a capacity one.
    math.min(62, math.max(1, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
  }

  /** [[semDedup]] with `planes` DERIVED from the corpus count
    * ([[planesFor]]) — the production shape of q86. The catalog query
    * keeps FIXED planes because its DuckDB oracle bakes the count into
    * its SQL spelling; an index build on a real corpus should hold
    * EXPECTED bucket size constant instead, which is what turns the
    * measured fixed-planes super-linear bend (SCALE_r10: q35 exponent
    * 0.95, bending toward 2 as the 2^8 buckets saturate) back into
    * ~N·targetBucket pair work. The corpus count is one `count()` —
    * bounded metadata, the kmeansCells discipline.
    */
  def semDedupAuto(vectors: DataFrame, tau: Double,
      targetBucket: Int = 256): DataFrame = {
    val planes = planesFor(vectors.count(), targetBucket)
    semDedup(vectors.select(col("id"), col("vec")),
      hyperplaneBuckets(vectors, planes), tau)
  }

  /** [[bucketTop1]] with derived planes — the production shape of q35
    * (same rationale as [[semDedupAuto]]).
    */
  def bucketTop1Auto(vectors: DataFrame, targetBucket: Int = 256): DataFrame = {
    val planes = planesFor(vectors.count(), targetBucket)
    bucketTop1(vectors, hyperplaneBuckets(vectors, planes))
  }

  /** SemDeDup-style embedding dedup verdicts (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * inside each LSH bucket, a vector is DROPPED when an earlier-id vector
    * covers it at cosine >= `tau`; the verdict row records the
    * smallest-id coverer and how many coverers exist. One row per input
    * vector: (id, bucket, dropped_by NULL-when-kept, n_coverers).
    *
    * Covered-by-ANY-earlier rule, deliberately — the same first-
    * occurrence-wins semantics as q68's containment prune and the q72/q82
    * dedup family (the chain-greedy variant, where a dropped vector cannot
    * itself cover, is sequential and order-dependent; covered-by-earlier
    * is associative, one aggregation, and strictly more conservative —
    * it never keeps MORE than chain-greedy... it drops a superset).
    *
    * Scale shape: in-bucket equi-join → filter → groupBy(min, count) —
    * map-side-combinable, no window, output linear in the corpus. Bucket
    * granularity is the cost lever exactly as in [[bucketTop1]] (fixed 2^b
    * buckets make in-bucket pairs ~N²/2^b; scale `planes` with log N).
    *
    * `tau` is data-dependent: the SemDeDup paper operates at ~0.95+ on
    * real embedding clusters; the synthetic near-uniform test embeddings
    * top out at in-bucket cosine ~0.6, so the catalog query (q86) probes
    * at 0.35 to exercise the verdict path (documented there).
    */
  def semDedup(vectors: DataFrame, buckets: DataFrame, tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0,1], got $tau")
    val withB = vectors.join(buckets, "id").withColumn("n", norm(col("vec")))
    val covers = withB.select(col("bucket"), col("id").as("cover_id"),
      col("vec").as("cvec"), col("n").as("cn"))
    val drops = withB.select(col("bucket"), col("id"), col("vec"), col("n"))
      .join(covers, Seq("bucket"))
      .filter(col("cover_id") < col("id"))
      .withColumn("cos", cosinePre(dot(col("vec"), col("cvec")), col("n"), col("cn")))
      .filter(col("cos") >= tau)
      .groupBy(col("id"))
      .agg(min(col("cover_id")).as("dropped_by"), count(lit(1)).as("n_coverers"))
    buckets
      .join(drops, Seq("id"), "left")
      .select(col("id"), col("bucket"), col("dropped_by"),
        coalesce(col("n_coverers"), lit(0L)).as("n_coverers"))
  }

  /** Top-1 in-bucket neighbor per vector (bucketed ANN): join on bucket id,
    * exact cosine rerank inside the bucket. Vectors alone in their bucket
    * produce no row.
    */
  def bucketTop1(vectors: DataFrame, buckets: DataFrame): DataFrame = {
    val withB = vectors.join(buckets, "id").withColumn("n", norm(col("vec")))
    val a = withB.select(col("bucket"), col("id"), col("vec"), col("n"))
    val b = withB.select(col("bucket"), col("id").as("neighbor_id"),
      col("vec").as("nvec"), col("n").as("nn"))
    val w = Window.partitionBy(col("id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    a.join(b, Seq("bucket")).filter(col("id") =!= col("neighbor_id"))
      .withColumn("cos", cosinePre(dot(col("vec"), col("nvec")), col("n"), col("nn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("neighbor_id"), col("cos"), col("bucket"))
  }
}
