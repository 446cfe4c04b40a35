package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over word-bigram shingles.
  *
  * Portable construction (reproducible in the DuckDB oracle):
  *  - permutation i's hash of shingle s = hash60(i + "|" + s) (salted md5);
  *  - signature component i = min over the doc's shingle set;
  *  - LSH band value = SUM of the band's signature components — sum is
  *    order-independent and 4 × 60-bit values stay under 2^63.
  *
  * Performance shape (measured at sf0.1, 32 threads):
  *  - The signature is WIDE: one row per doc with k min-columns, produced by
  *    a single groupBy(doc) carrying k parallel `min` aggregates. The naive
  *    long form (explode each (doc, shingle) row into k salt rows, then
  *    groupBy(doc, salt)) pushes occurrences × k rows (~190M at sf0.1 for
  *    k=16) through the join and shuffle; the wide form pushes occurrences
  *    rows (~12M) once and map-side combine collapses them to docs ×
  *    (k+1) columns before the exchange.
  *  - md5 is computed once per DISTINCT (shingle, salt) — the shingle
  *    vocabulary × k (~240k hashes vs ~190M) — and broadcast-joined to the
  *    (doc, shingle) pairs. At 100 TB the vocabulary may outgrow a
  *    broadcast; the fallback is computing the k hashes inline per
  *    occurrence (same result, no join) — flip `inlineHashes = true`.
  *  - bands and signature-similarity become pure projections over the wide
  *    row (no per-salt shuffle, no per-salt join).
  *  - everything stays in explode/groupBy + plain-expression form: Spark's
  *    higher-order array functions (transform/aggregate) are interpreted,
  *    not codegen'd.
  *  - the signature is `.cache()`d: several plan branches (bands, sig-sim
  *    a/b) reuse it; uncached Spark would recompute the full subtree per
  *    branch. At cluster scale this is the standard persist-the-signatures
  *    step of any LSH pipeline.
  *  - exact-Jaccard verification uses `array_intersect` on the two shingle
  *    ARRAYS of each candidate pair — candidates only, no corpus-wide
  *    shingle shuffle.
  *
  * Band geometry is the skew lever: more rows per band (r↑) sharpens the
  * collision threshold (~ (1/b)^(1/r)) and shrinks buckets. On corpora with
  * a small shingle vocabulary, r=1 buckets degenerate (the globally minimal
  * shingle sits in most documents); r>=2 keeps buckets tiny (measured at
  * sf0.1: r=1 → 962k candidate pairs, r=2 → 24k).
  */
object MinHash {

  /** (id, shingles): distinct word-bigram shingle array per doc.
    *
    * The token array is BOUND to a column before the bigram lambda touches
    * it: `element_at(<expr>, i)` inside a `transform` re-evaluates the whole
    * expression per element, turning tokenization quadratic per document
    * (measured: 26s vs <1s at sf0.1 just to explode the shingles).
    */
  def withShingles(docs: DataFrame, id: String, text: String): DataFrame =
    // widen first: the tokenize+shingle chain is the per-doc-heavy stage,
    // and a small parquet corpus is one row group = ONE scan task — the
    // whole chain serializes on a single core without it (no-op at scale
    // and on streaming inputs; see Sources.widen).
    graft.sources.Sources.widen(docs, col(id))
      .withColumn("_toks", TextFunctions.tokens(col(text)))
      .select(col(id),
        array_distinct(TextFunctions.wordBigrams(col("_toks"))).as("shingles"))

  /** (id, shingle) rows from the array form. `explode_outer` on purpose:
    * plain `explode` makes the optimizer infer a `size(...) > 0` filter and
    * push it below the projection with the whole shingle expression inlined
    * — recomputing tokenization per row in the scan filter.
    */
  def shingleRows(shingleDf: DataFrame, id: String): DataFrame =
    shingleDf.select(col(id), explode_outer(col("shingles")).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** Salted hash column for permutation `i` of `shingle`. */
  private def saltedHash(i: Int) =
    TextFunctions.hash60(concat_ws("|", lit(i), col("shingle")))

  /** Wide MinHash signature: one row per `id` with columns m0..m{k-1},
    * m_i = min over the doc's shingles of hash60(i + "|" + shingle).
    * Cached — callers branch over it several times.
    *
    * `inlineHashes = false` hashes the distinct vocabulary once and
    * broadcast-joins it (wins when occurrences >> vocabulary); `true`
    * computes the k hashes per occurrence (the 100 TB path where the
    * vocabulary outgrows a broadcast).
    */
  def signature(shRows: DataFrame, id: String, k: Int,
      inlineHashes: Boolean = false): DataFrame = {
    // Flat (id, shingle) rows cache columnar and are read twice below
    // (vocabulary pass + join pass) — caching halves the tokenize+explode
    // work. (Do NOT cache the array form upstream: nested-array cache
    // deserialization costs more than recomputing the shingles.)
    val rows = if (inlineHashes) shRows else shRows.cache()
    val hashed =
      if (inlineHashes)
        rows.select(col(id) +: (0 until k).map(i => saltedHash(i).as(s"h$i")): _*)
      else {
        val vocab = rows.select(col("shingle")).distinct()
          .select(col("shingle") +: (0 until k).map(i => saltedHash(i).as(s"h$i")): _*)
        rows.join(broadcast(vocab), "shingle")
      }
    val mins = (0 until k).map(i => min(col(s"h$i")).as(s"m$i"))
    hashed.groupBy(col(id)).agg(mins.head, mins.tail: _*).cache()
  }

  /** (id, band, band_val) rows from the wide signature — a projection +
    * explode of k/r (band, sum-of-r-components) structs; no shuffle.
    */
  def bands(sig: DataFrame, id: String, k: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until k / rows).map { b =>
      struct(lit(b).as("band"),
        (0 until rows).map(i => col(s"m${b * rows + i}")).reduce(_ + _).as("band_val"))
    }
    // explode_outer + null filter (the shingleRows dodge): plain explode
    // infers a size()>0 filter rebuilding the k/r band structs per row.
    // Band structs are struct() literals, never null.
    sig.select(col(id), explode_outer(array(bandStructs: _*)).as("bb"))
      .filter(col("bb").isNotNull)
      .select(col(id), col("bb.band").as("band"), col("bb.band_val").as("band_val"))
  }

  /** [[bands]] straight from documents: shingles → `k`-row signature →
    * `k / rows` band values per doc.
    */
  def docBands(docs: DataFrame, id: String, text: String, k: Int,
      rows: Int): DataFrame =
    bands(signature(shingleRows(withShingles(docs, id, text), id), id, k), id, k, rows)

  /** Band-bucket cap, ON by default (round 10). A degenerate bucket of B
    * docs (a stop-shingle that lands in most documents) contributes B²/2
    * candidate pairs — at corpus scale that one bucket IS a cross join, and
    * on a corpus whose shingle space saturates (boilerplate-heavy data; the
    * synthetic corpus's closed 31-token vocab is the extreme case) EVERY
    * bucket grows linearly with the corpus, making total candidates
    * quadratic. Measured on the 100× scale-up (SCALE_r10: sf0.1 → sf10):
    * uncapped pair volume 24k → 197M (×82 per decade, max bucket 65 →
    * 6030); capped at 100 it is 24k → 5.8M, and total pairs are bounded by
    * cap·N/2 — linear in the corpus — because each of the ≥N/cap surviving
    * buckets contributes ≤ cap²/2.
    *
    * 100 is ≥ every bucket the oracle scale factors produce (max 8 at
    * sf0.01, 65 at sf0.1), so capped results are bit-identical there — and
    * the DuckDB oracles mirror the cap anyway (bandsCte), so the capped
    * semantics ARE the definition at any SF. A dropped bucket loses only
    * that band's vote; a genuinely similar pair still collides in its other
    * k/r bands (the standard LSH recall trade for boundedness). Pass
    * `maxBucket = None` for exhaustive candidates on corpora known to be
    * saturation-free.
    */
  val BucketCap = 100

  /** Drops band buckets larger than `cap`: map-side-combinable count +
    * AQE-splittable left-semi join back. Deliberately NOT a
    * count-over-window — the window partition would be the hot bucket
    * itself, one task's sorted buffer at corpus scale (the q82 hot-key
    * class this codebase eliminates everywhere else).
    */
  def capBuckets(bandsDf: DataFrame, cap: Int): DataFrame = {
    val small = bandsDf.groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") <= cap)
    bandsDf.join(small, Seq("band", "band_val"), "left_semi")
  }

  /** Distinct candidate pairs (id_a < id_b) sharing any band value.
    * Bucket-capped by default — see [[BucketCap]]; [[overCapPairs]] is the
    * side channel that keeps >cap cliques visible to curation flows.
    */
  def candidates(bandsDf: DataFrame, id: String,
      maxBucket: Option[Int] = Some(BucketCap)): DataFrame = {
    val pruned = maxBucket.fold(bandsDf)(cap => capBuckets(bandsDf, cap))
    val a = pruned.select(col("band"), col("band_val"), col(id).as("id_a"))
    val b = pruned.select(col("band"), col("band_val"), col(id).as("id_b"))
    a.join(b, Seq("band", "band_val")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** The buckets [[capBuckets]] DROPS — (band, band_val, n) with n > cap.
    * Bounded diagnostics (one row per over-cap bucket, not per member):
    * the operator's observability face, so a capped run can REPORT what
    * it skipped instead of silently reading as exhaustive.
    */
  def overCapBuckets(bandsDf: DataFrame, cap: Int): DataFrame =
    bandsDf.groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)

  /** Representative pairs for the over-cap buckets the cap makes invisible
    * to [[candidates]]: each member of a >cap bucket pairs with the
    * bucket's SMALLEST id — (id_a = representative < id_b = member),
    * distinct across buckets. A >cap NEAR-duplicate clique saturates all
    * of its own band buckets, so under the cap alone it yields zero
    * candidates and every member survives dedup (the exact-dup pass only
    * catches verbatim clones); routing these star pairs into a keep-best /
    * curate flow collapses the clique to its representative while staying
    * LINEAR in bucket size (members pair with ONE id, never each other —
    * the cap's boundedness is preserved, cap²/2 per kept bucket plus n per
    * dropped one). min+join-back shape, map-side combinable, no window.
    * Pairs are CANDIDATES exactly like [[candidates]]' output: run the
    * same exact-similarity verify before acting on them.
    */
  def overCapPairs(bandsDf: DataFrame, id: String, cap: Int): DataFrame = {
    val hot = bandsDf.groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("_bn"), min(col(id)).as("_rep"))
      .filter(col("_bn") > cap)
      .select(col("band"), col("band_val"), col("_rep"))
    bandsDf.join(hot, Seq("band", "band_val"))
      .filter(col(id) =!= col("_rep"))
      .select(col("_rep").as("id_a"), col(id).as("id_b")).distinct()
  }

  /** Signature similarity per candidate pair: fraction of the k wide
    * components that agree — two joins against the cached signature plus a
    * pure projection (the long form needed a k-row join per side and an
    * extra aggregation).
    */
  def signatureSimilarity(cand: DataFrame, sig: DataFrame, id: String, k: Int): DataFrame = {
    val a = sig.select(col(id).as("id_a") +: (0 until k).map(i => col(s"m$i").as(s"_a$i")): _*)
    val b = sig.select(col(id).as("id_b") +: (0 until k).map(i => col(s"m$i").as(s"_b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"_a$i") === col(s"_b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"), (matches / lit(k.toDouble)).as("sig_sim"))
  }

  /** Exact Jaccard for candidate pairs via array set ops (no shingle
    * explosion — only candidate docs' arrays are touched).
    *
    * Deliberately joins the ARRAY form per side, re-evaluating its
    * tokenize+shingle plan twice: an interleaved same-session A/B (r5)
    * against the "obvious" improvement — rebuilding candidate arrays from
    * the cached flat rows via a broadcast semi-join on candidate ids —
    * measured the semi-join shape SLOWER (1.7-2.6s vs 1.0-1.4s full-q20 at
    * sf0.1): the broadcast exchange forces the whole candidate sub-plan to
    * run as a serial upstream job, while this shape keeps both array scans
    * inside one pipelined join job (the pairs side broadcasts — candidates
    * are tiny). At cluster scale the two corpus passes are the bigger
    * term; flip there by semi-joining the persisted flat rows on the
    * candidate ids first.
    */
  def jaccard(shingleDf: DataFrame, pairs: DataFrame, id: String): DataFrame =
    pairs
      .join(shingleDf.select(col(id).as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(shingleDf.select(col(id).as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared") * lit(1.0) / (size(col("sh_a")) + size(col("sh_b")) - col("shared")))
      .drop("sh_a", "sh_b")
      // Family discipline, as `signature`: the verified-pairs frame is the
      // input of THREE downstream consumers (near-dup pairs, cluster CC
      // edges, canonical-doc selection — q20/q39/q64 build the identical
      // plan), it is candidate-count sized (flat rows, ~24k at sf0.1 vs
      // the corpus passes that produce it), and without the cache each
      // consumer re-pays both array-side corpus scans and the band join.
      .cache()
}
