package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Graft, Tables}
import graft.ops.Dedup
import graft.text.{Containment, MinHash, SimHash, Urls, TextFunctions => TF}

/** B-block (text): dedup family + text analysis over `documents`.
  *
  * The DuckDB oracles reproduce each algorithm exactly via the portable
  * hash60 (md5-prefix) construction — see SURVEY.md §3.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q84's TEST-scale `approx_percentile` accuracy: ≥ every per-source group
    * size at oracle SF, which puts the GK sketch in its EXACT regime (the
    * summary holds every distinct value) so the cutoff is hash-checkable
    * against DuckDB's `quantile_disc`. This couples the setting to test SF
    * by design — the sketch then holds up to `accuracy` tuples per source in
    * the agg buffer, which is the memory-heavy end of the knob.
    *
    * At production scale DON'T inherit this: derive accuracy from a target
    * rank error — GK guarantees rank error ≤ n/accuracy, so accuracy =
    * 1/ε for relative rank error ε (e.g. 10^4 for ε=10^-4, a few hundred KB
    * per source, independent of corpus size). The sketch error only moves a
    * cutoff across quantile-adjacent grid scores; [[QualityCutoffSpec]] pins
    * that bound. The streaming face (s16 `qualityCutoffSink`) shows the
    * exact-AND-bounded alternative: a ≤10001-row histogram per source works
    * because quality is on an integer grid.
    */
  val QualityCutoffExactAccuracy: Int = 10000000

  /** Cross-source n-gram overlap matrix (q83's body, factored for direct
    * testing): for every source pair, distinct shared 8-token grams,
    * normalized by the smaller side's gram vocabulary.
    *
    * The Baskets cap is DERIVED from the data — `maxBasket` = the distinct
    * source count (one bounded-metadata count job over the pruned `source`
    * column; a source catalog is catalog-sized, never corpus-sized) — so no
    * gram's source set is ever truncated and `n_shared` is exact at any
    * catalog size. A fixed cap here would silently undercount the moment
    * the catalog outgrew it — the worst failure mode for a diagnostic
    * operator (wrong-but-plausible numbers).
    */
  /** q84's body, factored for direct testing: per-source adaptive quality
    * cutoff — drop each source's bottom `q`-quantile by qualityGrid score.
    * A NULL source fails fast (the mixture-family discipline): the
    * equality join-back would otherwise silently drop its rows while its
    * histogram still participated — assign or quarantine upstream. The
    * guard rides the scored projection (consumed downstream, unprunable).
    */
  def qualityCutoff(docs: DataFrame, q: Double = 0.25,
      accuracy: Int = QualityCutoffExactAccuracy): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    require(accuracy >= 1, s"accuracy must be positive, got $accuracy")
    // widen: the per-doc quality regexes run before the first exchange
    // (no-op at scale — Sources.widen checks the width).
    val scored = graft.sources.Sources.widen(docs, col("doc_id")).select(col("doc_id"),
      when(col("source").isNull, raise_error(lit(
          "quality_cutoff: source is NULL — assign or quarantine upstream")))
        .otherwise(col("source")).as("source"),
      TF.qualityGrid(col("text")).cast("long").as("quality_grid"))
    val cuts = scored.groupBy(col("source"))
      .agg(expr(s"approx_percentile(quality_grid, $q, $accuracy)")
        .as("cutoff_grid"))
    scored.join(broadcast(cuts), Seq("source"))
      .filter(col("quality_grid") >= col("cutoff_grid"))
      .select(col("doc_id"), col("source"), col("quality_grid"), col("cutoff_grid"))
  }

  def sourceOverlap(docs: DataFrame): DataFrame = {
    // NULL source fails fast (same discipline as q81/q84/mixtureSink): it
    // would count into nSources but vanish from collect_set inside
    // Baskets.pairs — a silently incomplete overlap matrix.
    // explode_outer + output-null filter (the MinHash.shingleRows dodge):
    // plain explode infers a size()>0 filter below the Generate with the
    // whole tokenize+ngram chain inlined — an interpreted Filter paying
    // the per-doc gram build twice. Grams are concat_ws output, never
    // null, so the output filter is exactly plain explode's row set.
    // widen: the per-doc tokenize+8-gram build runs before the first
    // exchange (no-op at scale — Sources.widen checks the width). Keyed by
    // (source, text) — the ONLY columns in this API's input contract
    // (widening by doc_id threw for library callers that pass exactly the
    // documented columns; r21 verdict item 1a); hashing text too spreads a
    // corpus with few sources over every partition.
    val g = graft.sources.Sources.widen(docs, col("source"), col("text"))
      .select(
        when(col("source").isNull, raise_error(lit(
            "source_overlap: source is NULL — assign or quarantine upstream")))
          .otherwise(col("source")).as("source"),
        explode_outer(TF.wordNgrams(TF.tokens(col("text")), 8)).as("gram"))
      .filter(col("gram").isNotNull)
    val nSources = docs.select(col("source")).distinct().count()
    // ONE corpus-gram aggregation builds the per-gram source set directly
    // (collect_set dedups (gram, source) — the previous standalone
    // `.distinct()` pass was redundant work, and because the gram frame
    // fed TWO consumers uncached, the whole tokenize+8-gram build ran
    // once per consumer). The basket frame is vocab-sized (gram + its
    // ≤|sources| holders) and cached: the per-source vocabulary counts
    // and the pairing both read it. maxBasket = nSources, so the sorted
    // slice never truncates and the exploded counts are exact.
    val cap = math.max(2L, nSources).toInt
    val baskets = g.groupBy(col("gram"))
      .agg(slice(array_sort(collect_set(col("source"))), 1, cap).as("_ps"))
      .cache()
    val cnt = baskets.select(explode(col("_ps")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    graft.ops.Baskets.pairsOfSets(baskets, "gram")
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(cnt.select(col("source").as("item_a"), col("n").as("_na"))),
        Seq("item_a"))
      .join(broadcast(cnt.select(col("source").as("item_b"), col("n").as("_nb"))),
        Seq("item_b"))
      .select(col("item_a").as("source_a"), col("item_b").as("source_b"),
        col("n_shared"),
        round(col("n_shared") * lit(1.0) / least(col("_na"), col("_nb")), 4)
          .as("overlap"))
  }

  val defs: Map[String, Q] = Map(
    // ---- q19: exact dedup by normalized-text fingerprint ----
    "q19_dedup_exact" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("fp", md5(TF.normalizeText(col("text"))))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("fp"), col("n_copies"))
        .orderBy(col("doc_id"))
    },

    // ---- q20: n-gram Jaccard near-dup (min-hash band candidates) ----
    // k=4 signature, 2 bands × 2 rows: r=2 keeps buckets non-degenerate on
    // small-vocabulary corpora (r=1 blows up to ~1M candidate pairs at
    // sf0.1) while still recovering 25/25 implanted near-dups at sf0.01.
    // The signature is built at k=16 and the bands read only m0..m3: salt
    // i's min-hash is identical at any k, so the result equals the k=4
    // build — while the expensive tokenize+hash+groupBy plan becomes THE
    // SAME cached plan q21 uses (one codegen compile and one
    // materialization for the whole family instead of one per k).
    "q20_ngram_jaccard" -> { (s, d) =>
      val sh = MinHash.withShingles(Tables.documents(s, d), "doc_id", "text")
      val sig = MinHash.signature(MinHash.shingleRows(sh, "doc_id"), "doc_id", 16)
      val cand = MinHash.candidates(MinHash.bands(sig, "doc_id", 4, 2), "doc_id")
      MinHash.jaccard(sh, cand, "doc_id")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q21: MinHash signature + banded LSH + verify ----
    // `cand` is cached: both verify branches (exact jaccard + signature
    // similarity) consume it, and candidate pairs are tiny next to the
    // bands self-join that produces them.
    "q21_minhash_lsh" -> { (s, d) =>
      val sh = MinHash.withShingles(Tables.documents(s, d), "doc_id", "text")
      val sig = MinHash.signature(MinHash.shingleRows(sh, "doc_id"), "doc_id", 16)
      val cand = Graft.registerCache(
        MinHash.candidates(MinHash.bands(sig, "doc_id", 16, 4), "doc_id"))
      val sigSim = MinHash.signatureSimilarity(cand, sig, "doc_id", 16)
      MinHash.jaccard(sh, cand, "doc_id")
        .join(sigSim, Seq("id_a", "id_b"))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("sig_sim"), 4).as("sig_sim"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q22: tf-weighted SimHash near-dup ----
    "q22_simhash" -> { (s, d) =>
      SimHash.nearPairs(
        SimHash.fingerprints(Tables.documents(s, d), "doc_id", "text"), "doc_id", 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q23: heuristic language ID ----
    "q23_langid" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TF.langPredict(TF.tokens(col("text"))).as("pred_lang"))
        .orderBy(col("doc_id"))
    },

    // ---- q24: quality scoring ----
    "q24_quality_score" -> { (s, d) =>
      val toks = TF.tokens(col("text"))
      val nChars = length(col("text"))
      val nToks = size(toks)
      val sumTokLen = aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
      val punct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
      val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      val stops = TF.stopwordCount(toks, "en")
      val punctRatio = punct * lit(1.0) / nChars
      val alphaRatio = alpha * lit(1.0) / nChars
      Tables.documents(s, d)
        .select(col("doc_id"), nToks.as("n_tokens"),
          round(sumTokLen * lit(1.0) / nToks, 4).as("avg_token_len"),
          round(punctRatio, 4).as("punct_ratio"),
          round(alphaRatio, 4).as("alpha_ratio"),
          round(stops * lit(1.0) / nToks, 4).as("stopword_ratio"),
          // NOT round(score, 4): the 0.5 * n_tokens/100 term lands scores
          // on exact .xxxx5 boundaries, where Spark (BigDecimal shortest-
          // repr, HALF_UP) and DuckDB (double-space rounding) disagree by
          // one ulp (3 docs at sf0.1). TF.qualityGrid's floor(x*1e4 + 0.5)
          // is the same double arithmetic in both engines — tie-free.
          (TF.qualityGrid(col("text")) / 10000d).as("quality_score"))
        .orderBy(col("doc_id"))
    },

    // ---- q56: TF-IDF top terms per document ----
    // Natural-log idf over distinct-doc frequency; scores are generic
    // doubles (tf · ln) so round(…,4) cannot land on engine-divergent
    // half-way points the way q24's 0.005-grid score did. Ranking orders
    // by the ROUNDED score + term tiebreak per the parity discipline.
    "q56_tfidf" -> { (s, d) =>
      // ONE tokenize+explode+TF pass: `tf` holds one row per (doc, tok),
      // so document frequency is a plain count(*) window over the tok
      // partition — the same shuffle a df-join would need, without
      // re-deriving `tf` for a second aggregation (the r3 plan computed
      // the tokenize subtree 3×; caching it instead measured SLOWER than
      // recompute locally and is corpus-scale memory at 100 TB).
      // n_docs comes from a cheap tokenize-only scan (no shuffle): every
      // doc with ≥1 token — identical to countDistinct(doc_id) over tf.
      // explode_outer + null filter: the shingleRows dodge (see q83) —
      // tokens are length-filtered non-empty strings, never null.
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode_outer(TF.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // df via groupBy + join-back, NOT count().over(partition by tok): a
      // stop-word's window partition is its POSTINGS LIST — corpus-doc-
      // count-sized for "the" — one task's buffer at 100×. The aggregation
      // partially combines map-side (hot tokens shrink before the
      // shuffle); the join-back equi-join is AQE-skew-splittable. Same
      // hazard class and same fix as q82's first-occurrence window; costs
      // one extra recompute of the tf subtree (the documented q56 trade —
      // caching it measured slower and is corpus-scale memory).
      val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d)
        .filter(size(TF.tokens(col("text"))) > 0)
        .agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      tf.join(dfTab, Seq("tok")).crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") * log(col("n_docs") * lit(1.0) / col("df")), 4))
        .withColumn("term_rank", row_number().over(w))
        .filter(col("term_rank") <= 3)
        .select(col("doc_id"), col("term_rank"), col("tok").as("term"), col("score"))
        .orderBy(col("doc_id"), col("term_rank"))
    },

    // ---- q58: quality-weighted sampling (data-mix curation) ----
    // Keep probability = the q24 composite quality score; the keep decision
    // is INTEGER-only on both engines (hash60(doc_id) mod 1e4 vs the
    // floor-scaled score) — deterministic, reproducible, no float compare.
    "q58_quality_sample" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("_th", TF.qualityGrid(col("text")))
        .withColumn("_h", graft.ops.Cdm.hash60(col("doc_id").cast("string")) % 10000)
        .filter(col("_h") < col("_th"))
        .select(col("doc_id"), (col("_th") / 10000d).as("quality_score"))
        .orderBy(col("doc_id"))
    },

    // ---- q59: cross-corpus near-dup join (incoming batch vs corpus) ----
    // The batch face of s06's streaming index: find near-dups BETWEEN an
    // incoming batch (even ids) and the existing corpus (odd ids), never
    // within either side. Shares the family's cached k=16 signature; the
    // blocking join is banded as in q20, with the parity split applied to
    // the band rows.
    "q59_crosscorpus_dedup" -> { (s, d) =>
      val sh = MinHash.withShingles(Tables.documents(s, d), "doc_id", "text")
      val sig = MinHash.signature(MinHash.shingleRows(sh, "doc_id"), "doc_id", 16)
      // Bucket cap BEFORE the parity split (mirrors the oracle's bandsCte):
      // bucket size is a property of the whole corpus's band distribution,
      // and a saturated bucket is quadratic across the batch/corpus split
      // exactly as within one side.
      val bands = MinHash.capBuckets(
        MinHash.bands(sig, "doc_id", 4, 2), MinHash.BucketCap)
      val a = bands.filter(col("doc_id") % 2 === 0)
        .select(col("band"), col("band_val"), col("doc_id").as("id_a"))
      val b = bands.filter(col("doc_id") % 2 =!= 0)
        .select(col("band"), col("band_val"), col("doc_id").as("id_b"))
      val cand = a.join(b, Seq("band", "band_val"))
        .select(col("id_a"), col("id_b")).distinct()
      MinHash.jaccard(sh, cand, "doc_id")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("batch_id"), col("corpus_id"))
    },

    // ---- q64: canonical-doc selection (keep best per dup cluster) ----
    // The curation end-step the dedup family feeds: near-dup clusters
    // (shared k=16 signature → bands → jaccard → connected components)
    // joined with the q24 composite quality score; each cluster keeps its
    // highest-quality member, ties on the smaller doc_id. The argmax is
    // max(struct(quality, -doc_id)) — map-side combinable, no window over
    // the corpus. Quality uses the same floor-scaled integer grid as
    // q58, so the argmax is tie-free across engines.
    "q64_keep_best" -> { (s, d) =>
      val sh = MinHash.withShingles(Tables.documents(s, d), "doc_id", "text")
      val sig = MinHash.signature(MinHash.shingleRows(sh, "doc_id"), "doc_id", 16)
      val cand = MinHash.candidates(MinHash.bands(sig, "doc_id", 4, 2), "doc_id")
      val edges = MinHash.jaccard(sh, cand, "doc_id")
        .filter(col("jaccard") >= 0.5).select(col("id_a"), col("id_b"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), TF.qualityGrid(col("text")).as("_th"))
      graft.ops.Graph.connectedComponents(edges, "id_a", "id_b")
        .join(scored, col("id") === col("doc_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("_th"), (-col("doc_id")).as("_neg"))).as("_m"))
        .select(col("label").as("cluster_id"), col("n_members"),
          (-col("_m.`_neg`")).as("kept_doc"),
          (col("_m.`_th`") / 10000d).as("kept_quality"))
        .orderBy(col("cluster_id"))
    },

    // ---- q65: end-to-end corpus curation (the pipeline the dedup family
    // feeds): exact dedup -> near-dup cluster keep-best -> quality gate,
    // composed as ONE plan that rides every family cache (shingles ->
    // cached signature -> cached verified pairs -> CC). A document
    // survives when it is (a) the min-id keeper of its exact-normalized
    // fingerprint group, (b) either in no near-dup cluster or its
    // cluster's highest-quality member (ties on smaller id — an exact
    // copy can never outrank its keeper: identical text means identical
    // quality, so the min-id tiebreak keeps the keeper), and (c) at or
    // above the quality threshold on the tie-free floor grid. At 100 TB
    // each leg is the already-audited operator: one groupBy for (a),
    // banded candidates + convergence-bound CC for (b), a scan for (c).
    "q65_curate" -> { (s, d) =>
      graft.text.Curate.keepSet(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- q25: token counting (whitespace + BPE-ish regex) ----
    "q25_token_count" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TF.tokens(col("text"))).as("n_ws_tokens"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- q26: document fingerprinting (norm md5 + min 8-gram hash) ----
    "q26_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(TF.normalizeText(col("text"))).as("fp_md5"),
          array_min(TF.gramHashes(col("text"), 8)).as("fp_min_ngram"))
        .orderBy(col("doc_id"))
    },

    // ---- q66: winnowing fingerprint match (shared-substring detection) ----
    // Position-local fingerprints (TF.winnowSelect scaladoc has the
    // guarantee): pairs sharing >= minShared selected k-gram-window minima
    // share substrings of length >= w + k - 1 — partial-overlap detection
    // that global MinHash (one signature per whole doc) dilutes away.
    // Over-common fingerprints (df > maxDf: corpus boilerplate) are dropped
    // BEFORE the pair join — standard winnowing practice and the scale
    // guard: the join is banded by fingerprint, and the df cap bounds every
    // bucket, so candidate volume is sum(df²) <= maxDf · corpus-fps, never
    // all-pairs.
    "q66_winnow" -> { (s, d) =>
      val (k, w, maxDf, minShared) = (8, 4, 20, 3)
      // Cached FLAT (doc_id, fp) rows: the df pass and both self-join
      // sides read it — the hashing pass runs once, and nothing with an
      // array column is ever cached (columnar array caching is slow).
      // widen: the sf-test documents table is one row group = one task,
      // which would serialize the per-character hashing on a single core.
      // explode_outer + null filter: the shingleRows dodge — plain explode
      // infers a size()>0 filter inlining the winnowSelect(gramHashes(..))
      // chain, re-paying the per-character hashing per doc in an
      // interpreted Filter. Fingerprints are longs, never null.
      val fps = Graft.registerCache(
        graft.sources.Sources.widen(Tables.documents(s, d), col("doc_id"))
          .withColumn("_hs", TF.gramHashes(col("text"), k))
          .select(col("doc_id"), explode_outer(TF.winnowSelect(col("_hs"), w)).as("fp"))
          .filter(col("fp").isNotNull))
      val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select(col("fp"))
      val kept = fps.join(rare, Seq("fp"), "left_semi")
      kept.select(col("doc_id").as("id_a"), col("fp"))
        .join(kept.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- q67: asymmetric containment join (quote/boilerplate inclusion) ----
    "q67_containment" -> { (s, d) =>
      // Family discipline (the MinHash jaccard precedent): the pair frame
      // is cached AT THE QUERY LAYER — q68 builds the identical
      // containmentJoin subtree and rides this materialization instead of
      // re-paying the pair generation (at 100× the dense path's N² NLJ is
      // the whole cost: the sf10 run measured q68 re-paying 443s without
      // the cache). Not cached inside the operator: an operator-internal
      // cache would pin executor storage for EVERY caller (streaming or
      // not) with no opt-out. The q67↔q68 sharing rides Catalyst plan
      // canonicalization (CacheManager sameResult — PlanSpec-pinned).
      // Registered (r15): a long-lived session composing catalog queries
      // calls Graft.releaseCaches() at its batch boundaries instead of
      // pinning the candidate-pair-sized frame until LRU eviction.
      Graft.registerCache(
          Containment.containmentJoin(Tables.documents(s, d), "doc_id", "text", 0.8))
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- q69: benchmark decontamination (eval-gram collision rule) ----
    // source='src0' plays the benchmark suite; every other doc is flagged
    // with its count of distinct 8-token grams shared with it. Eval grams
    // broadcast (benchmarks are MBs by nature); the corpus side is one
    // tokenize pass filtered by the broadcast join BEFORE the only shuffle
    // (the per-doc agg over the rare contaminated grams).
    "q69_decontaminate" -> { (s, d) =>
      graft.text.Decontaminate.hits(
          Tables.documents(s, d), "doc_id", "text", col("source") === "src0", 8)
        .orderBy(col("doc_id"))
    },

    // ---- q70: repetition filter (Gopher-style duplicate-text signals) ----
    // Gopher-style repetition heuristics re-expressed doc-locally:
    // duplicate-word fraction ((n_tokens - n_types)/n_tokens > 0.65,
    // ~p80 on this corpus) and most-repeated-bigram coverage
    // (top_bigram_cnt/n_tokens > 0.08, ~p95), both spelled as INTEGER
    // cross-multiplications so the verdict is bit-identical across
    // engines (no float threshold). All three stats come from the token
    // array itself (array_distinct + sorted-run max) — a pure map over the
    // corpus, no explode/shuffle; zero-token docs are non-repetitive by
    // definition (0 > 0 is false on both sides).
    "q70_repetition" -> { (s, d) =>
      graft.text.Gopher.repetition(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- q71: token-budget shard packing (distributed prefix sum) ----
    // Offset-based training-shard assignment: shard = global running token
    // total before this doc, integer-divided by the budget. The running
    // total is the two-phase prefix sum (ops/ShardPack.scala) — per-bucket
    // partials, a single-task window over the TINY bucket-total table, a
    // broadcast join back — never a single-partition window over the
    // corpus. Test-scale knobs (bucket=64 docs, budget=512 tokens) keep
    // both phases non-trivial at sf0.01.
    "q71_shard_pack" -> { (s, d) =>
      graft.ops.ShardPack.assign(
          Tables.documents(s, d)
            .select(col("doc_id"), size(TF.tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", budget = 512, bucketSize = 64)
        .select(col("doc_id"), col("n_tokens"), col("shard_id"))
        .orderBy(col("doc_id"))
    },

    // ---- q114: Unicode NFC normalization (the codepoint-level CDM) ----
    // Real crawls mix composed and decomposed spellings of the same text;
    // every byte-keyed operator downstream (q19 fingerprints, grams,
    // dedup) treats them as different. The corpus is ASCII (MetaSpec-
    // pinned), so the mixed forms are SYNTHESIZED identically in both
    // engines (the q101 canvas discipline): a composed suffix (U+00E9 via
    // the hex→UTF-32 spelling / chr(233)) and its decomposed twin
    // (e + U+0301 / chr(769)). The hash column pins the ENTIRE normalized
    // string — any divergence between the JDK and DuckDB UAX#15
    // implementations on these strings would hash-mismatch.
    "q114_nfc_normalize" -> { (s, d) =>
      def nfc(c: org.apache.spark.sql.Column) = call_function("graft_nfc", c)
      val eAcute = decode(unhex(lit("000000E9")), "UTF-32")
      val combining = decode(unhex(lit("00000301")), "UTF-32")
      val mixedC = concat(col("text"), lit(" caf"), eAcute)
      val mixedD = concat(col("text"), lit(" cafe"), combining)
      Tables.documents(s, d).select(col("doc_id"),
          (octet_length(mixedD) - octet_length(nfc(mixedD)))
            .cast("long").as("bytes_folded"),
          (nfc(mixedC) === mixedC).as("composed_stable"),
          (md5(nfc(mixedC)) === md5(nfc(mixedD))).as("forms_unify"),
          md5(nfc(mixedD)).as("nfc_fp"))
        .orderBy(col("doc_id"))
    },

    // ---- q113: fixed-length training-sequence packing (the loader step) ----
    // q71 shards by token budget keeping docs whole; this is the OTHER
    // layout a training stack writes — concat-and-chunk into sequences of
    // exactly 256 tokens, docs splitting across boundaries. The output is
    // the packing MANIFEST (one row per sequence×doc overlap with both
    // offsets) — what a dataloader assembles from and what attention
    // boundary masks read. Exact integer arithmetic over the q71
    // distributed prefix sum; the oracle mirrors it with a window cumsum.
    "q113_sequence_pack" -> { (s, d) =>
      graft.ops.SequencePack.manifest(
          Tables.documents(s, d)
            .select(col("doc_id"), size(TF.tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 256, bucketSize = 64)
        .select(col("seq_id"), col("doc_id"), col("doc_offset"),
          col("seq_offset"), col("len"))
        .orderBy(col("seq_id"), col("doc_id"))
    },

    // ---- q115: deterministic corpus shuffle before packing ----
    // q113 packs in doc-id = CRAWL order, so adjacent training sequences
    // are correlated neighboring pages — every production loader shuffles
    // first. This is the shuffle-free deterministic spelling: docs order
    // by hash60(seed ‖ '|' ‖ doc_id) (the q42/q58 integer-hash
    // discipline — replayable from the seed, no RNG), ties break on the
    // id, then the SAME q113 prefix-sum + explode. The oracle recomputes
    // the permuted cumsum with the md5-prefix hash both engines share.
    "q115_corpus_shuffle" -> { (s, d) =>
      graft.ops.SequencePack.shuffled(
          Tables.documents(s, d)
            .select(col("doc_id"), size(TF.tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 256, seed = "graft-r17")
        .select(col("seq_id"), col("doc_id"), col("doc_offset"),
          col("seq_offset"), col("len"))
        .orderBy(col("seq_id"), col("doc_id"))
    },

    // ---- q68: containment pruning (the dedup end-step over q67) ----
    // Keep every document NOT covered (containment >= t) by an
    // earlier-id document — the crawl-snapshot dedup direction: fragments
    // and re-wraps of already-seen content drop, first occurrence
    // survives, docs without shingles pass through. Shares q67's cached
    // plan (identical containmentJoin subtree → one materialization for
    // the pair).
    "q68_containment_prune" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // Same registered cache as q67 (idempotent on the identical plan):
      // whichever of the pair runs first materializes, the other hits.
      val coveredByEarlier = Graft.registerCache(Containment
          .containmentJoin(docs, "doc_id", "text", 0.8))
        .filter(col("id_b") < col("id_a"))
        .select(col("id_a").as("doc_id")).distinct()
      docs.join(coveredByEarlier, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- q81: dataset mixture balancing (equalized language strata) ----
    // The data-mixing step before training: downsample every language
    // stratum to the size of the RAREST one, deterministically. Stratum
    // counts are one agg (5 rows — bounded metadata to the driver, the
    // kmeansCells discipline); per-stratum keep thresholds are INTEGER
    // arithmetic (floor(n_min·10^6 / n_s)) so Spark and the oracle compute
    // identical values; the keep decision is a per-row hash compare
    // (q42's shuffle-free discipline — no per-stratum window, whose
    // 5-partition skew would serialize a 100 TB corpus). Hash thresholding
    // yields EXPECTED stratum sizes (±binomial noise), which is the
    // standard trade for a corpus-parallel sampler.
    "q81_mixture_sample" -> { (s, d) =>
      graft.ops.Sampling.mixture(Tables.documents(s, d), "doc_id", "lang")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- q98: temperature-scaled mixture sampling (τ = 2) ----
    // Between q81's full equalization (keep n_min of every stratum) and
    // the natural mixture sits TEMPERATURE sampling (mT5 §3.2, GPT-3's
    // mixing weights — public methodology): keep probability
    // (n_min/n_s)^(1/τ), here τ=2 — the square root damps dominance
    // without flattening. Cross-engine exactness: thr = floor(sqrt(n_min·
    // 10¹² // n_s)) — one exact integer division (quotient ≤ 10¹² < 2⁵³,
    // representable) and one CORRECTLY-ROUNDED IEEE sqrt (the only
    // float op both engines define bit-identically; a general pow(x, α)
    // is not correctly rounded and could flip a floor at the boundary).
    // Same driver-side bounded counts + hash-threshold filter as q81:
    // shuffle-free per row.
    "q98_temperature_sample" -> { (s, d) =>
      graft.ops.Sampling.mixture(Tables.documents(s, d), "doc_id", "lang",
          temperature = 2)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- q82: line-level exact dedup (C4/RefinedWeb boilerplate removal) ----
    // The granularity q19 (whole doc) and q72 (fixed-size chunk) bracket:
    // variable-length delimiter segments, corpus-wide first-occurrence
    // wins, and the surviving text REASSEMBLED per doc (text/LineDedup).
    // The synthetic corpus has no literal newlines, so the segment
    // delimiter here is the frequent token " the " — the operator's
    // production default is "\n"; the plan is identical either way (split
    // + posexplode + min-struct first-occurrence agg + per-doc rollup).
    "q82_line_dedup" -> { (s, d) =>
      graft.text.LineDedup.dedupRollup(
          Tables.documents(s, d), "doc_id", "text", delimRegex = " the ")
        .orderBy(col("doc_id"))
    },

    // ---- q83: cross-source n-gram overlap matrix ----
    // Corpus-composition analytics at SOURCE granularity: for every source
    // pair, the count of distinct 8-token grams they share, normalized by
    // the smaller side's gram vocabulary (containment-style overlap) — the
    // "which feeds duplicate which" diagnostic run before mixing sources
    // (q81) or deduping across them (q59). Scale shape: one tokenize pass
    // → distinct (gram, source) rows (vocab×source-scale, never corpus
    // rows) → per-gram source-set pairing via ops/Baskets (basket = gram,
    // items = the ≤|sources| sources containing it — candidate volume is
    // Σ_gram C(df_src,2) ≤ grams·C(S,2), bounded by the source-catalog
    // size, never doc-pairs) → pair-count agg; per-source vocab counts
    // broadcast. Source ids compare identically in Spark and DuckDB
    // (binary string order on both sides).
    "q83_source_overlap" -> { (s, d) =>
      sourceOverlap(Tables.documents(s, d))
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- q85: corpus-global boilerplate n-gram heavy hitters ----
    // The diagnostic mined BEFORE line/chunk dedup (q82/q72): which exact
    // 8-token grams recur across the most documents — nav chrome, license
    // headers, templated sections surface at the top, and the list guides
    // what the dedup passes should expect to remove. Complements q83 (the
    // same statistic at source-PAIR grain). Scale shape: one tokenize
    // pass → distinct (doc, gram) (document frequency, not occurrence
    // count — a gram repeated inside one doc is q70's business, not
    // boilerplate) → per-gram count (map-side partial; a corpus-hot gram
    // shrinks before the shuffle, the q82 discipline) → top-25 with a
    // full deterministic tiebreak, planned as TakeOrderedAndProject (no
    // global sort).
    "q85_boilerplate_grams" -> { (s, d) =>
      graft.text.CorpusReport.boilerplateGrams(Tables.documents(s, d), "doc_id", "text")
    },

    // ---- q84: per-source adaptive quality cutoff ----
    // A single corpus-wide quality threshold over-prunes clean sources and
    // under-prunes noisy ones (their score distributions differ), so
    // production curation sets the cutoff PER SOURCE: here, drop each
    // source's bottom quartile. Scale shape: scores on qualityGrid's
    // tie-free integer grid (one map pass); per-source p25 via
    // approx_percentile — a bounded Greenwald-Khanna summary per source
    // (q54's discipline: at accuracy >= group size it returns the exact
    // discrete percentile, matching DuckDB quantile_disc value-for-value,
    // which keeps this hash-checkable at test SF while staying the
    // operator that scales — an exact per-source percentile would buffer
    // every group value); cutoffs are catalog-sized → broadcast join-back,
    // one shuffle total (the percentile agg), no window anywhere.
    "q84_quality_cutoff" -> { (s, d) =>
      qualityCutoff(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // ---- q74: corpus-trained bigram LM score (perplexity-filter shape) ----
    // The CCNet-style quality signal without an external model: train the
    // bigram MLE on the corpus ITSELF (c(w1 w2) / c(w1 ·) over occurrence
    // counts), score each doc by its mean ln P(w2|w1). Low scores = text
    // whose transitions the corpus has rarely seen (gibberish, wrong
    // language, OCR noise); degenerate-repetitive docs score HIGH here,
    // which is exactly why q70 exists alongside. Every doc bigram occurs in
    // the counts it contributed to, so P > 0 by construction — no smoothing
    // term to pick. Scale: TWO corpus passes (bigram-count agg + the score
    // join), not three — the w1 denominator folds from the DISTINCT-bigram
    // count table (vocab-scale: c(w1·) = Σ c(w1 w2)), so its agg and join
    // never touch corpus-sized rows; count tables are corpus-derived, so
    // joins stay shuffle (AQE broadcasts them when they measure small);
    // under-2-token docs are unscorable and excluded.
    "q74_bigram_logprob" -> { (s, d) =>
      // explode_outer + null filter: the shingleRows dodge (see q83) —
      // the explicit size(_toks) >= 2 pre-filter already bounds the rows;
      // plain explode would still infer a second filter inlining the
      // zip_with bigram build per doc.
      val bg = graft.sources.Sources.widen(Tables.documents(s, d), col("doc_id"))
        .withColumn("_toks", TF.tokens(col("text")))
        .filter(size(col("_toks")) >= 2)
        .select(col("doc_id"), explode_outer(TF.wordBigrams(col("_toks"))).as("bigram"))
        .filter(col("bigram").isNotNull)
      // Cached because TWO consumers read it (the c1 fold and the score
      // join) — uncached, Catalyst duplicates the subtree and the corpus
      // explode runs a third time (the PlanSpec pin counts the Generates).
      // Vocab-sized: distinct bigrams, not corpus rows.
      val c2 = Graft.registerCache(
        bg.groupBy(col("bigram")).agg(count(lit(1)).as("c2")))
      val c1 = c2.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      bg.join(c2, "bigram")
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .join(c1, "w1")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("c2") * lit(1.0) / col("c1"))), 4).as("avg_logprob"))
        .orderBy(col("doc_id"))
    },

    // ---- q91: corpus health report (the curator's first query) ----
    // One (metric, value) row per corpus-level signal, each computed by
    // the SAME definition its operator family uses (q19 fingerprints, q82
    // line grain, q87 spans, q85 gram rule, q24 quality grid, q23
    // lang-ID) — see text/CorpusReport.scala.
    // The charset column is SYNTHESIZED deterministically (the q101
    // canvas discipline: both engines know the formula) — in production
    // it's Warc.htmlDocuments' sniffed-charset column; the metric
    // machinery is what the oracle pins.
    "q91_corpus_report" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // modality intake attrition (r18, verdict ask #9): the REAL q122 /
      // q123 gate verdicts (PPM render → imageStats rules; WAV render →
      // clip rules) joined on as keep columns — the report surfaces the
      // per-modality drop fraction the gates would enforce, computed by
      // the gates' own definitions (never a parallel reimplementation)
      val B = graft.multimodal.Binary
      // registerCache: the SAME clipRows/imageStats frames q122/q123
      // build — CacheManager plan-matching pays each decode once per
      // session across the three queries
      val imgKeep = graft.Graft.registerCache(
        B.imageStats(s, B.toPpmPayloads(s, docs)).toDF())
        .select(col("doc_id"),
          ((col("width") * col("height") >= 128) &&
            (greatest(col("width"), col("height")).cast("long") * 100 <=
              least(col("width"), col("height")).cast("long") * 1100) &&
            (col("sum_bytes") >=
              col("width").cast("long") * col("height") * 3 * 80))
            .as("image_keep"))
      val A = graft.multimodal.Audio
      val audKeep = graft.Graft.registerCache(
        A.clipRows(A.toWavPayloads(s, docs)).toDF())
        .select(col("doc_id"),
          ((col("n_samples") >= 256) &&
            (col("sum_sq") * 1000 >=
              col("n_samples").cast("long") * 36600000000L) &&
            (col("n_zero_crossings").cast("long") * 1000 <=
              col("n_samples").cast("long") * 505)).as("audio_keep"))
      graft.text.CorpusReport.report(
        docs.withColumn("charset",
          when(col("doc_id") % 7 === 0, "windows-1251")
            .when(col("doc_id") % 11 === 0, "shift_jis")
            .otherwise("utf-8"))
          // synthetic revisit provenance (r17): in production it's a
          // Warc.revisitEdges membership flag — the metric machinery is
          // what the oracle pins (the charset-column discipline)
          .withColumn("declared_dup", col("doc_id") % 13 === 0)
          .join(imgKeep, Seq("doc_id"), "left")
          .join(audKeep, Seq("doc_id"), "left"),
        "doc_id", "text", charsetCol = Some("charset"),
        declaredDupCol = Some("declared_dup"),
        imageKeepCol = Some("image_keep"), audioKeepCol = Some("audio_keep"))
    },

    // ---- q90: span-level contamination (surgical decontamination) ----
    // WHERE the eval overlap sits, not just which docs have it: q69 flags
    // documents, q90 marks the maximal overlapping token intervals so
    // curation can mask/trim the region instead of dropping the document.
    "q90_contamination_spans" -> { (s, d) =>
      graft.text.Decontaminate.contaminationSpans(
          Tables.documents(s, d), "doc_id", "text", col("source") === "src0", 8)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ---- q97: surgical decontamination (span REMOVAL) ----
    // q69 drops contaminated docs, q90 locates the leaked regions, q97
    // REMOVES them and keeps the rest of the document — the action face,
    // sharing q94's reassembly (applySpanRemoval) so the two rewrites
    // cannot drift. Fingerprint keeps the dump row-sized.
    "q97_contamination_trim" -> { (s, d) =>
      graft.text.Decontaminate.trim(
          Tables.documents(s, d), "doc_id", "text", col("source") === "src0", 8)
        .select(col("doc_id"), col("n_tokens"), col("removed_tokens"),
          col("n_spans"), md5(col("text_trimmed")).as("trimmed_fp"))
        .orderBy(col("doc_id"))
    },

    // ---- q88: decontamination, bloom-prefilter scale path ----
    // Same answer as q69 (spec- and oracle-pinned) through a different
    // 100 TB story: a 16-bit/gram Bloom filter of the eval grams replaces
    // the eval-gram-set broadcast (~30-100x smaller), prunes the corpus
    // BEFORE any shuffle, and an exact gram-string verify removes every
    // false positive (see text/BloomDecontaminate.scala).
    "q88_bloom_decontaminate" -> { (s, d) =>
      graft.text.BloomDecontaminate.hits(
          Tables.documents(s, d), "doc_id", "text", col("source") === "src0", 8)
        .orderBy(col("doc_id"))
    },

    // ---- q87: duplicate-substring spans (the LINEAR dedup face) ----
    // Lee et al. 2021 substring dedup, diagnostic form: per-doc token
    // intervals whose 8-grams occur verbatim in >= 2 distinct docs. No doc
    // pair is ever materialized — gram-frequency agg + semi join-back +
    // bounded per-doc window — so unlike q20-q22 there is no quadratic
    // regime to cap (see text/SpanDedup.scala).
    "q87_span_dedup" -> { (s, d) =>
      graft.text.SpanDedup.dupSpans(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ---- q92: BPE subword encode (fixed merge table) ----
    // Merge APPLICATION under Bpe.FixedMerges, oracle-pinned end to end:
    // per-doc model-token counts + a fingerprint of the full subword
    // stream ('+' joins subwords within a word, ' ' joins words). The
    // TRAINED path is q95 (rows-only — DuckDB cannot train) + the
    // replay-equivalence property specs.
    "q92_bpe_encode" -> { (s, d) =>
      graft.text.Bpe.docStats(Tables.documents(s, d), "doc_id", "text",
          graft.text.Bpe.FixedMerges)
        .orderBy(col("doc_id"))
    },

    // ---- q96: shard packing on MODEL-TOKENIZER counts ----
    // The composition the tokenizer exists for: q71 budgets shards in
    // whitespace tokens (1.3-1.7x off on web text); q96 feeds q92's BPE
    // counts into the SAME two-phase distributed prefix sum, so training
    // shards hold ~budget real subword tokens. Pure projection into
    // ShardPack.assign — no new shuffle beyond q71's.
    "q96_bpe_pack" -> { (s, d) =>
      val weighted = Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(transform(TF.tokens(col("text")),
            t => size(graft.text.Bpe.encode(t, graft.text.Bpe.FixedMerges))),
            lit(0L), (a, x) => a + x).as("n_bpe_tokens"))
      graft.ops.ShardPack.assign(weighted, "doc_id", "n_bpe_tokens",
          budget = 512, bucketSize = 64)
        .select(col("doc_id"), col("n_bpe_tokens"), col("shard_id"))
        .orderBy(col("doc_id"))
    },

    // ---- q119: curation funnel (per-stage survivor report) ----
    // The observability face of the whole B-block curation chain — the
    // report a production pipeline lands per corpus snapshot: docs and
    // tokens surviving raw → gopher rules → exact-dedup keepers →
    // decontamination → quality floor, each stage the already-shipped
    // operator (q89/q19/q69/q24 semantics) applied in the q65 production
    // order. The oracle chains the same four stage definitions their own
    // oracles use.
    "q119_curation_funnel" -> { (s, d) =>
      graft.text.Curate.funnel(Tables.documents(s, d), "doc_id", "text",
          col("source") === "src0")
        .orderBy(col("stage_id"))
    },

    // ---- q118: sequence-composition report (attention-boundary stats) ----
    // The loader-side observability face of q113: how many documents
    // share each training sequence (every boundary is an attention mask
    // break — too many per sequence and the model trains on fragments;
    // the metric that decides whether seqLen fits the corpus). Pure
    // rollup of the manifest: (seq_id, n_docs, n_boundaries, longest and
    // shortest span, full flag). Scan-shaped on top of q113's prefix sum.
    "q118_pack_stats" -> { (s, d) =>
      graft.ops.SequencePack.stats(graft.ops.SequencePack.manifest(
          Tables.documents(s, d)
            .select(col("doc_id"), size(TF.tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 256, bucketSize = 64), 256L)
        .orderBy(col("seq_id"))
    },

    // ---- q116: token shards — the pipeline's materialized end product ----
    // q92 encodes, q113 manifests; this WRITES the loader-ready binary
    // artifact (i22: fixed-width int32 sequences, mmap-addressable) and
    // reads it back, so the oracle checks the BYTES ON DISK round-trip:
    // corpus → dense vocab (rank by frequency) → token ids → manifest
    // assembly → writeShards → readShards must equal DuckDB's independent
    // recompute of the assembled sequences (recursive-CTE BPE encode +
    // row_number vocab + window-cumsum manifest + list-slice assembly).
    // Output = per-sequence exact token sum + md5 of the token stream.
    "q116_token_shards" -> { (s, d) =>
      val TS = graft.sources.TokenShards
      val docs = Tables.documents(s, d)
      val merges = graft.text.Bpe.FixedMerges
      // ONE encode pass feeds vocab AND token ids (registry-cached —
      // BPE is the corpus-rate cost here, q92 pays it once, so do we)
      val subs = graft.Graft.registerCache(
        TS.docSubwords(docs, "doc_id", "text", merges))
      val ids = TS.tokenIdMap(TS.vocabOf(subs))
      val dt = TS.docTokensOf(subs, "doc_id", ids)
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q116_" + java.util.UUID.nameUUIDFromBytes(
          d.getBytes("UTF-8")).toString.take(8)).getAbsolutePath
      TS.writeShards(TS.packFull(dt, 128, bucketSize = 64),
        out, seqLen = 128, seqsPerShard = 128)
      TS.readShards(s, out)
        .select(col("seq_id"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("token_sum"),
          md5(array_join(transform(col("tokens"), t => t.cast("string")), " "))
            .as("token_fp"))
        .orderBy(col("seq_id"))
    },

    // ---- q120: EOS document separators in the pack ----
    // q113/q116 concat documents back-to-back with NOTHING between them;
    // every production loader appends an EOS token per document first
    // (the GPT convention — the model needs an explicit boundary to learn
    // to stop). eos = the first id past the dense vocab (the
    // special-tokens-after-base-vocab layout). Output per full sequence:
    // how many boundaries it carries (n_eos — the attention-reset count)
    // + the exact assembled stream (sum + fp). Same scan shape as q116
    // minus the disk round-trip (the writer is q116-gated already); the
    // ONE encode pass is shared with q116 via the registry cache.
    "q120_eos_pack" -> { (s, d) =>
      val TS = graft.sources.TokenShards
      val docs = Tables.documents(s, d)
      val merges = graft.text.Bpe.FixedMerges
      val subs = graft.Graft.registerCache(
        TS.docSubwords(docs, "doc_id", "text", merges))
      val ids = TS.tokenIdMap(TS.vocabOf(subs))
      val eos = ids.size
      TS.packFull(TS.withEos(TS.docTokensOf(subs, "doc_id", ids), eos), 128,
          bucketSize = 64)
        .select(col("seq_id"),
          size(filter(col("tokens"), t => t === eos)).cast("long").as("n_eos"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("token_sum"),
          md5(array_join(transform(col("tokens"), t => t.cast("string")), " "))
            .as("token_fp"))
        .orderBy(col("seq_id"))
    },

    // ---- q121: the loader's epoch plan ----
    // Between epochs a production loader re-shuffles sequence order
    // (replaying one order overfits its adjacency). This precomputes each
    // epoch's seeded permutation of the FULL sequences with their
    // physical shard addresses (i22's format arithmetic, u2 width) — a
    // bit-replayable mmap seek plan, zero runtime RNG. Sequence-rate per
    // epoch (corpus/seqLen rows), positions via the q115 hash-space
    // prefix sum, never a global single-partition sort.
    "q121_epoch_plan" -> { (s, d) =>
      val full = graft.ops.SequencePack.manifest(
          Tables.documents(s, d)
            .select(col("doc_id"), size(TF.tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 256, bucketSize = 64)
        .groupBy(col("seq_id")).agg(sum(col("len")).as("_t"))
        .filter(col("_t") === 256L)
      graft.sources.TokenShards.epochPlan(full, epochs = 2,
          seed = "graft-r17e", seqLen = 256, seqsPerShard = 64, dtype = "u2")
        .orderBy(col("epoch"), col("position"))
    },

    // ---- q95: BPE vocabulary training (rows-only by design) ----
    // Driver-side merge learning over the bounded deterministic
    // word-frequency table (the q55/q73 discipline: training isn't
    // SQL-expressible; the strong gates are BpeSpec's determinism +
    // driver-reference + replay-equivalence properties).
    "q95_bpe_train" -> { (s, d) =>
      import s.implicits._
      graft.text.Bpe.train(Tables.documents(s, d), "text", numMerges = 32)
        .zipWithIndex
        .map { case ((a, b), i) => (i + 1, s"$a $b") }
        .toDF("rank", "merge")
        .orderBy(col("rank"))
    },

    // ---- q112: unigram-LM tokenizer training (the OTHER public family) ----
    // SentencePiece-style (Kudo 2018): EM-scored piece vocabulary +
    // Viterbi encode (native graft_unigram_encode expression). Same
    // rows-only discipline as q95 — EM training isn't SQL-expressible;
    // UnigramSpec carries the strong gates (bit-determinism, round-trip
    // totality, compression sandwich vs chars AND byte-BPE, native ==
    // driver parity). Output = the trained table in usage-rank order.
    "q112_unigram_lm" -> { (s, d) =>
      import s.implicits._
      graft.text.Unigram.train(Tables.documents(s, d), "text",
          vocabSize = 160, maxWords = 1 << 13, seedSize = 1 << 12)
        .zipWithIndex
        .map { case (p, i) =>
          (i + 1, p.piece, math.rint(p.logProb * 1e6) / 1e6) }
        .toDF("rank", "piece", "log_prob")
        .orderBy(col("rank"))
    },

    // ---- q93: HTML main-content extraction (the intake step) ----
    // The B-block assumes clean text; real web intake starts from markup.
    // The corpus is WRAPPED in deterministic page chrome (nav + ad every
    // third doc + footer — link-dense boilerplate) in BOTH engines, then
    // HtmlExtract.mainText keeps the text-dense/link-sparse blocks
    // (Arc90/jusText-style public heuristics, integer-exact thresholds).
    "q93_html_extract" -> { (s, d) =>
      val html = concat(
        lit("<html><head><title>t</title><style>p{margin:0}</style>" +
          "<script>var x=1;</script></head><body>" +
          "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a>" +
          " <a href=\"/c\">Contact</a></div>"),
        when(col("doc_id") % 3 === 0,
          lit("<div class=\"ad\"><a href=\"/buy\">BUY NOW CLICK HERE</a></div>"))
          .otherwise(lit("")),
        lit("<p>"), regexp_replace(col("text"), "\n", "</p><p>"), lit("</p>"),
        lit("<div class=\"footer\"><a href=\"/tos\">Terms</a> (c) 2024 example" +
          "</div></body></html>"))
      graft.text.HtmlExtract.mainText(
          Tables.documents(s, d).withColumn("html", html), "doc_id", "html")
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          col("kept_chars"), md5(col("main_text")).as("main_fp"))
        .orderBy(col("doc_id"))
    },

    // ---- q94: span-dedup ACTION face (corpus rewrite) ----
    // Lee et al.'s actual transformation: q87 inventories duplicate spans,
    // q94 REMOVES them from all-but-one occurrence (min-id owner doc keeps
    // its text; foreign occurrences are trimmed, first-occurrence-wins —
    // the q82 reassembly discipline in token space). Fingerprint instead
    // of the full rewritten text so the dump stays row-sized.
    "q94_span_trim" -> { (s, d) =>
      graft.text.SpanDedup.trim(Tables.documents(s, d), "doc_id", "text", 8)
        .select(col("doc_id"), col("n_tokens"), col("removed_tokens"),
          col("n_spans"), md5(col("text_trimmed")).as("trimmed_fp"))
        .orderBy(col("doc_id"))
    },

    // ---- q99: first-occurrence gram novelty (contribution ordering) ----
    // The asymmetric counterpart of q87's symmetric dup_frac: each gram is
    // owned by its min-id doc; a doc's novelty = fraction of its distinct
    // grams it owns. The ranking corpus-pruning/curriculum policies use,
    // and the scoring face of q94's owner election.
    "q99_novelty" -> { (s, d) =>
      graft.text.SpanDedup.novelty(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    },

    // ---- q89: Gopher-style rule filter (named per-rule verdicts) ----
    // The rule-based face of quality filtering (q24/q84 are the score
    // faces): one tokenize pass, per-row integer-arithmetic verdicts, no
    // shuffle — the first, cheapest stage of a production curation stack.
    "q89_gopher_filter" -> { (s, d) =>
      graft.text.Gopher.verdicts(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- q100: trainable quality classifier (scoring face) ----
    // Learned-quality curation (DCLM/FineWeb-Edu lineage): logistic head
    // over hashed unigram+bigram features. The ORACLE pins the SCORING
    // face under the closed-form dyadic weight table (every per-gram term
    // is an exact multiple of 1/16, so the double sums compare bit-stable
    // with no rounding seam); TRAINING is driver-loop gradient ascent with
    // one map-side-combined agg per epoch, spec-pinned to separate a
    // labeled corpus (the q95 train-vs-apply discipline).
    "q100_quality_classifier" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.QualityClassifier.score(docs, "doc_id", "text",
        graft.text.QualityClassifier.formulaWeights(s, 512), 512)
        .orderBy(col("doc_id"))
    },

    // ---- q102: URL-level crawl curation ----
    // canonicalize → domain blocklist → per-domain cap: the three URL
    // policies every crawl pipeline runs before any text-level filter. The
    // documents table carries no URL column, so ingest synthesizes the
    // messy raw form deterministically from (doc_id, source, lang) — mixed
    // case, www., default :443, tracking params (leading and trailing),
    // fragments, trailing slashes — and the REAL general-purpose
    // canonicalizer (text/Urls.scala) cleans it. The oracle reconstructs
    // the canonical form closed-form by construction (the q30 discipline),
    // so every rule in the chain is oracle-pinned on every synthesized
    // shape. Blocklist is a broadcast anti-join; the cap is q08's
    // top-N-per-group (domain-partitioned window — domains are many and
    // bounded, never a corpus-wide key).
    "q102_url_curate" -> { (s, d) =>
      Urls.curate(Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"), syntheticRawUrl.as("raw_url")),
          "doc_id", "raw_url", Seq(col("n_chars").desc, col("doc_id").asc),
          Seq("src3.example.com", "src7.example.com"), 15)
        .orderBy(col("doc_id"))
    },

    // ---- q103: mixture UPSAMPLING (replicate-to-majority) ----
    // q81/q98 only sample DOWN; real mixing weights exceed 1 (repeat the
    // scarce high-quality stratum rather than discard the abundant one —
    // the "epochs per source" knob). Every doc replicates
    // floor(maxc/c_s) times, plus ONE extra copy when its portable hash
    // mod c_s clears the remainder threshold — deterministic, integer-
    // exact, and per-stratum totals land within ±c_s of the majority
    // count by construction (no RNG, no rank window; the q81 hash-
    // threshold discipline pointed up). Plan: one broadcast join against
    // the dim-sized stratum table + a row-local sequence explode — scan-
    // shaped, output-proportional.
    "q103_mixture_upsample" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val targets = counts.crossJoin(
        broadcast(counts.agg(max(col("c")).as("maxc"))))
      val copies = expr("maxc div c") +
        when(TF.hash60(col("doc_id").cast("string")) % col("c")
          < col("maxc") % col("c"), 1L).otherwise(0L)
      // explode_outer + null filter: the shingleRows dodge — the inferred
      // size()>0 filter would re-evaluate the copies formula (hash60
      // included) and rebuild the sequence per doc.
      Tables.documents(s, d)
        .join(broadcast(targets), "lang")
        .select(col("doc_id"), col("lang"),
          explode_outer(sequence(lit(0L), copies - 1)).as("copy"))
        .filter(col("copy").isNotNull)
        .orderBy(col("doc_id"), col("copy"))
    },

    // ---- q104: learned multiclass language ID (scoring face) ----
    // q23 is the stopword heuristic; this is the fastText-style learned
    // face over hashed char trigrams (text/LangClassifier.scala). The
    // oracle pins the SCORING machinery under the closed-form dyadic
    // per-class weight table — exact per-class sums, deterministic
    // argmax (logit DESC, class index ASC) — while LangSpec pins the
    // REAL property: trained weights separate the corpus's languages on
    // held-out docs. Classes derive from the data identically on both
    // sides (sorted distinct lang).
    "q104_langid_learned" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val classes = docs.select(col("lang").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq // bounded: the lang catalog
      graft.text.LangClassifier.score(docs, "doc_id", "text",
        graft.text.LangClassifier.formulaWeights(s, classes, 1024), 1024)
        .orderBy(col("doc_id"))
    },

    // ---- q105: host-level link graph from crawl HTML ----
    // The step q93 leaves on the floor: a page's OUTBOUND LINKS are the
    // crawl's connectivity signal (host ranking, seed discovery, spam
    // cliques). One regexp pass extracts hrefs from VISIBLE markup
    // (script-embedded strings don't count), Urls.resolve handles every
    // reference shape crawl anchors take (absolute, protocol-relative,
    // root-relative, path-relative with ../ climbing, fragment-only),
    // canonicalize makes the edge key, non-http schemes filtered AFTER
    // resolution. Self-host edges drop (intra-site nav isn't graph
    // signal); the edge rollup is one bounded groupBy — host pairs, not
    // doc pairs. The oracle pins the WHOLE parse→resolve→canonicalize
    // chain against the closed form the synthesis implies (the q30/q102
    // discipline: every anchor shape lands on a reconstructible target,
    // so one mis-resolved href anywhere shifts a count); UrlSpec pins
    // resolve rule-by-rule on shapes beyond the synthesis.
    "q105_link_graph" -> { (s, d) =>
      graft.text.HtmlExtract.hostEdges(syntheticLinkFrame(s, d), "doc_id")
        .orderBy(col("src_host"), col("target_host"))
    },

    // ---- q106: host-rank curation prior (PageRank over q105's graph) ----
    // The Common-Crawl-style host centrality score joined back per doc —
    // the graph-side quality prior curation stacks mix with the text-side
    // scores (q24/q100): link-isolated hosts rank at the teleport floor,
    // well-cited hosts above it. Reuses ops/Graph.pageRank unchanged
    // (string-keyed: vertex ids are hosts) — 5 synchronous iterations,
    // one shuffle each, checkpoint-disciplined — and the rank table is
    // HOST-sized, so the join back to docs broadcasts. Oracle = the q75
    // recursive-CTE spelling (same float-parity discipline: per-edge
    // divide, (1−d)/N teleport base, round 8) over the q105 closed-form
    // edge set.
    "q106_host_rank" -> { (s, d) =>
      val lk = syntheticLinkFrame(s, d)
      val edges = lk.filter(col("target_host") =!= col("src_host"))
        .select(col("src_host").as("src"), col("target_host").as("dst"))
      val ranks = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 5)
        .withColumnRenamed("node", "host")
      Tables.documents(s, d)
        .select(col("doc_id"), concat(col("source"), lit(".example.com")).as("host"))
        .join(broadcast(ranks), Seq("host"), "left")
        .select(col("doc_id"), col("host"),
          round(col("rank"), 8).as("host_rank"))
        .orderBy(col("doc_id"))
    },

    // ---- q107: crawl frontier (seed discovery) ----
    // The crawler's next decision, off q105's machinery: link targets NOT
    // yet in the crawled set (anti-join on the canonical url — the q102
    // prerequisite: until spellings collapse, "new" urls are re-crawls),
    // citation-ranked per host with a per-host cap (the politeness budget
    // — a crawler never takes one host's whole frontier). Fragment-only
    // anchors resolve to their own page and anti-join AWAY (the oracle
    // pins that); same-host discoveries (the uncrawled site root, sibling
    // docs under ?ref=) stay IN — a frontier is not cross-host-only.
    // Plan: one shuffle for the per-url citation agg, one equi anti-join
    // against the crawled set, the q08 top-N window over host groups
    // (host count is catalog-bounded, never skewed corpus-wide).
    "q107_crawl_frontier" -> { (s, d) =>
      val lk = syntheticLinkFrame(s, d)
      val crawled = Tables.documents(s, d)
        .select(Urls.canonicalize(syntheticBaseUrl).as("target_url"))
      val cites = lk.groupBy(col("target_url"), col("target_host"))
        .agg(countDistinct(col("doc_id")).as("n_citations"))
        .join(crawled, Seq("target_url"), "left_anti")
      graft.ops.Windows.topNPerGroup(cites, Seq("target_host"),
          Seq(col("n_citations").desc, col("target_url").asc), 10)
        .select(col("target_url"), col("target_host"), col("n_citations"), col("rn"))
        .orderBy(col("target_host"), col("rn"), col("target_url"))
    },

    // ---- q117: frontier under the robots politeness BUDGET ----
    // q107 capped every host at a flat k; i18 parsed Crawl-delay but
    // nothing consumed it. This is the composition a real scheduler
    // runs: synthesized robots bodies (even-numbered srcN hosts declare
    // Crawl-delay: 15, cdn hosts 30, partners none) parse through the
    // REAL Robots.crawlDelays path — RFC group selection, not a regex
    // shortcut — and Frontier.schedule derives
    // k_host = min(k, floor(window/delay)): 4 slots for delayed src
    // hosts, 2 for cdn, the flat 10 elsewhere, crawl_delay emitted on
    // every candidate. The oracle recomputes the budget closed-form.
    "q117_frontier_budget" -> { (s, d) =>
      val lk = syntheticLinkFrame(s, d)
      val crawled = Tables.documents(s, d)
        .select(Urls.canonicalize(syntheticBaseUrl).as("target_url"))
      val cites = lk.groupBy(col("target_url"), col("target_host"))
        .agg(countDistinct(col("doc_id")).as("n_citations"))
        .join(crawled, Seq("target_url"), "left_anti")
      val robots = cites.select(col("target_host").as("domain")).distinct()
        .withColumn("robots_txt",
          when(regexp_extract(col("domain"), "^src(\\d+)\\.", 1) =!= "" &&
            regexp_extract(col("domain"), "^src(\\d+)\\.", 1).cast("int") % 2 === 0,
            lit("User-agent: *\nCrawl-delay: 15\n"))
          .when(col("domain").startsWith("cdn"),
            lit("User-agent: *\nCrawl-delay: 30\n")))
        .filter(col("robots_txt").isNotNull)
      val delays = graft.sources.Robots.crawlDelays(s, robots, "graftbot")
      graft.ops.Frontier.schedule(cites, k = 10, delays = Some(delays),
          windowSec = 60)
        .select(col("target_url"), col("target_host"), col("n_citations"),
          col("rn"), col("crawl_delay"))
        .orderBy(col("target_host"), col("rn"), col("target_url"))
    },

    // ---- q108: anchor-text profile per target host ----
    // What OTHER pages call a host — the label signal q105's edge counts
    // drop (anchor-text corpora for retrieval training; off-page spam
    // text detection). HtmlExtract.anchorTexts pairs each well-formed
    // visible anchor's inner text with its resolved+canonical target;
    // the rollup is one bounded groupBy over (host, text). The oracle
    // pins inner-text extraction through the whole chain — the
    // synthesized texts are constants per anchor kind, so a mis-paired
    // href/text anywhere shifts a count.
    "q108_anchor_text" -> { (s, d) =>
      // widen: the syntheticLinkFrame rationale (one-row-group scan would
      // serialize the anchor regex chain onto one core).
      val at = graft.text.HtmlExtract.anchorTexts(
        graft.sources.Sources.widen(Tables.documents(s, d), col("doc_id"))
          .withColumn("base_url", syntheticBaseUrl)
          .withColumn("html", syntheticLinkHtml),
        "doc_id", "html", "base_url")
      at.filter(col("target_host") =!= col("src_host"))
        .groupBy(col("target_host"), col("anchor_text"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("target_host"), col("anchor_text"))
    },

    // ---- q109: corpus collocations (PMI phrase mining) ----
    // Statistically-bound word pairs — phrase-table seeding, tokenizer
    // pre-merges, stock-phrase detection. q74 scores DOCS under the
    // bigram LM; this mines the PAIRS: PMI against the bigram table's
    // own margins. The RANKING key is exact-integer arithmetic, the q98
    // discipline — lift_ppm = floor(n_pair·N·10⁶ / (c_left·c_right))
    // over exact-integer doubles (products stay under 2^53 at any test
    // SF; both engines round the one division identically), so the
    // top-50 cut is bit-deterministic while the display pmi (ln, libm)
    // rounds at 4 like q74. One corpus scan; margins and joins are
    // VOCAB-sized; top-50 is TakeOrdered, never a global sort.
    "q109_collocations" -> { (s, d) =>
      // explode_outer + null filter: the shingleRows dodge (see q74/q83).
      // widen kept (r22): removal measured flat in an isolated A/B but
      // +0.8 s in the full-catalog record — the q74 sibling keeps the
      // same widen for the same tokenize+bigram build.
      val bg = graft.sources.Sources.widen(Tables.documents(s, d), col("doc_id"))
        .withColumn("_toks", TF.tokens(col("text")))
        .filter(size(col("_toks")) >= 2)
        .select(explode_outer(TF.wordBigrams(col("_toks"))).as("bigram"))
        .filter(col("bigram").isNotNull)
      val c2 = Graft.registerCache(
        bg.groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
          .withColumn("w1", substring_index(col("bigram"), " ", 1))
          .withColumn("w2", substring_index(col("bigram"), " ", -1)))
      // one scalar to the driver (total bigram mass), the q104 discipline
      val n = c2.agg(sum(col("n_pair"))).head.getLong(0).toDouble
      val cl = c2.groupBy(col("w1")).agg(sum(col("n_pair")).as("c_left"))
      val cr = c2.groupBy(col("w2")).agg(sum(col("n_pair")).as("c_right"))
      c2.join(cl, Seq("w1")).join(cr, Seq("w2"))
        .filter(col("n_pair") >= 3)
        .select(col("w1"), col("w2"), col("n_pair"),
          // margins multiply as DOUBLES: long*long wraps silently past
          // 2^63 at corpus scale (the oracle side would error instead) —
          // the double product is exact under 2^53 and both engines
          // round the one division identically either way
          floor(col("n_pair") * lit(n) * lit(1000000.0) /
            (col("c_left").cast("double") * col("c_right"))).cast("long")
            .as("lift_ppm"),
          round(log(col("n_pair") * lit(n) /
            (col("c_left").cast("double") * col("c_right"))), 4)
            .as("pmi"))
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
        .limit(50)
    }
  )

  /** q105/q106's deterministic page-URL + link-HTML synthesis from
    * (doc_id, source, lang): every anchor shape [[graft.text.Urls.resolve]]
    * handles appears, each landing on a closed-form reconstructible
    * target so the oracle pins the whole chain —
    *  - `/` + `#top` + `../doc/k?ref=1`: same-host (root-, fragment-,
    *    path-relative with a `..` climb) — present in the links face,
    *    filtered from the edge rollup
    *  - TWO absolute anchors to `src{doc_id%10}.example.com` (one
    *    uppercase/www./tracking-paramed/trailing-slashed — the q102 mess —
    *    one clean), making n_links = 2·n_docs on src→src edges
    *  - protocol-relative `//cdn{doc_id%3}.example.com/…` (inherits the
    *    base's https) and absolute `http://partner{doc_id%5}.example.org:80/…`
    *    (default port strips)
    *  - `mailto:` + `javascript:` anchors and a script-EMBEDDED href
    *    (must be invisible to extraction): contribute nothing
    */
  /** The shared q105/q106/q107 link frame, REGISTRY-CACHED (the q67/q68
    * sharing discipline): all three queries build the identical logical
    * plan, so Catalyst's CacheManager serves q106's edges and q107's
    * citations from q105's materialization instead of re-running the
    * extract->resolve->canonicalize scan three times. `Graft.
    * releaseCaches()` frees it at a batch boundary; correctness never
    * depends on the cache (a released frame recomputes).
    */
  private def syntheticLinkFrame(s: SparkSession, d: String): DataFrame =
    // widen (the q66 discipline): the sf-test documents table is one row
    // group = one task, serializing the anchor-normalize+resolve+
    // canonicalize regex chain onto a single core; at scale the scan
    // already has splits and widen is a no-op.
    Graft.registerCache(graft.text.HtmlExtract.links(
      graft.sources.Sources.widen(Tables.documents(s, d), col("doc_id"))
        .withColumn("base_url", syntheticBaseUrl)
        .withColumn("html", syntheticLinkHtml),
      "doc_id", "html", "base_url"))

  private[graft] def syntheticBaseUrl: org.apache.spark.sql.Column =
    concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/doc/"), col("doc_id").cast("string"))

  private[graft] def syntheticLinkHtml: org.apache.spark.sql.Column = {
    val ids = col("doc_id").cast("string")
    val hub = concat(lit("src"), (col("doc_id") % 10).cast("string"),
      lit(".Example.COM"))
    concat(
      lit("<html><head><script>var u=\"<a href=\\\"http://evil.example.com/x\\\">\";" +
        "</script></head><body>" +
        "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"#top\">Top</a> " +
        "<a href=\"mailto:admin@example.com\">Mail</a></div><p>"),
      regexp_replace(col("text"), "\n", "</p><p>"),
      lit("</p><p>See <a href=\"HTTPS://WWW."), hub,
      lit("/hub/?utm_source=feed\">hub</a> " +
        "<a href=\"https://"), lower(hub),
      lit("/other\">more</a> <a href=\"//cdn"),
      (col("doc_id") % 3).cast("string"),
      lit(".example.com/asset/"), (col("doc_id") % 4).cast("string"),
      lit("\">asset</a> <a href=\"../doc/"), (col("doc_id") % 100).cast("string"),
      lit("?ref=1\">sibling</a> <a href=\"http://partner"),
      (col("doc_id") % 5).cast("string"),
      lit(".example.org:80/p\">partner</a>.</p>" +
        "<a href=\"javascript:void(0)\">noop</a></body></html>"))
  }

  /** q102's deterministic messy-URL synthesis from (doc_id, source, lang)
    * — mixed case, www., default :443, tracking params leading and
    * trailing, fragments, trailing slashes. Shared with the scale harness
    * (x102_url_canon_work) so the canonicalizer's uncapped scan cost is
    * measured on exactly the q102 input shapes.
    */
  private[graft] def syntheticRawUrl: org.apache.spark.sql.Column = {
    val ids = col("doc_id").cast("string")
    concat(
      lit("HTTPS://"),
      when(col("doc_id") % 2 === 0, concat(lit("WWW."), upper(col("source"))))
        .otherwise(col("source")),
      lit(".Example.COM"),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/"), col("lang"), lit("/doc/"), ids,
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, concat(lit("?utm_source=feed&id="), ids))
        .when(col("doc_id") % 4 === 1, concat(lit("?id="), ids, lit("&utm_campaign=x")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
  }

  // ---------------- DuckDB oracle fragments ----------------

  /** Tokenizer — exact DuckDB mirror of TextFunctions.tokens. */
  private[queries] val TOKS =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** Portable hash60 of a varchar expression. */
  private[queries] def h60(e: String) = s"('0x' || substr(md5($e),1,15))::BIGINT"

  /** BPE merge-application CTE chain (expects `WITH RECURSIVE` and a
    * `documents` scan): distinct words → code-point symbol lists →
    * recursive min-rank/leftmost fusion against the
    * [[graft.text.Bpe.FixedMerges]] literal → terminal states `fin` →
    * positional join-back `j` (doc_id, ti, syms). Shared by the q92 and
    * q96 oracles so encode is defined ONCE.
    */
  private lazy val BPE_CTES: String = {
    val ml = graft.text.Bpe.FixedMerges.map(m => s"'$m'").mkString("[", ",", "]")
    s"""tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
       dt AS (SELECT doc_id, unnest(toks) AS tok,
           unnest(range(1, len(toks) + 1)) AS ti FROM tk),
       w0 AS (SELECT DISTINCT tok FROM dt),
       wch AS (SELECT tok, [tok[i] for i in range(1, len(tok) + 1)] AS syms
         FROM w0),
       enc AS (
         SELECT tok, syms FROM wch
         UNION ALL
         SELECT tok, syms[1:bp-1] || [syms[bp] || syms[bp+1]] || syms[bp+2:] AS syms
         FROM (
           SELECT tok, syms,
             list_min(list_filter(rks, x -> x > 0)) AS br,
             list_position(rks, list_min(list_filter(rks, x -> x > 0))) AS bp
           FROM (
             SELECT tok, syms,
               [list_position($ml, syms[i] || ' ' || syms[i+1])
                 for i in range(1, len(syms))] AS rks
             FROM enc WHERE len(syms) > 1) a) b
         WHERE br IS NOT NULL),
       fin AS (
         SELECT tok, syms FROM enc
         WHERE len(syms) <= 1 OR list_min(list_filter(
           [list_position($ml, syms[i] || ' ' || syms[i+1])
             for i in range(1, len(syms))], x -> x > 0)) IS NULL),
       j AS (SELECT dt.doc_id, dt.ti, f.syms FROM dt JOIN fin f USING (tok))"""
  }

  /** Distinct word-bigram shingles CTE (expects a `documents` scan). */
  private[queries] val SHINGLES_CTE =
    s"""tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
            THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
            ELSE [] END) AS shingle FROM tk))"""

  private[queries] def minhashCte(k: Int) =
    s"""mh AS (SELECT doc_id, salt, min(${h60("salt::VARCHAR || '|' || shingle")}) AS minh
          FROM sh CROSS JOIN (SELECT unnest(range($k)) AS salt) salts
          GROUP BY 1, 2)"""

  /** bands + the bucket-cap filter — the SQL mirror of `MinHash.bands` +
    * `MinHash.capBuckets(BucketCap)`, so the capped candidate semantics ARE
    * the oracle definition at any SF (see MinHash.BucketCap for the
    * saturation rationale and the measured 100× volumes).
    */
  private[queries] def bandsCte(r: Int) =
    s"""bands0 AS (SELECT doc_id, salt // $r AS band, sum(minh) AS band_val
           FROM mh GROUP BY 1, 2),
         bands AS (SELECT b0.doc_id, b0.band, b0.band_val FROM bands0 b0
           JOIN (SELECT band, band_val, count(*) AS bn FROM bands0
                 GROUP BY 1, 2) bc
             ON b0.band = bc.band AND b0.band_val = bc.band_val
           WHERE bc.bn <= ${MinHash.BucketCap})"""

  private[queries] val JACCARD_TAIL =
    """cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (SELECT c.id_a, c.id_b, count(*) AS shared
         FROM cand c
         JOIN sh x ON x.doc_id = c.id_a
         JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
         GROUP BY 1, 2),
       jac AS (SELECT i.id_a, i.id_b,
           i.shared * 1.0 / (ca.n + cb.n - i.shared) AS jaccard
         FROM inter i JOIN cnt ca ON i.id_a = ca.doc_id
         JOIN cnt cb ON i.id_b = cb.doc_id)"""

  private val ENSTOPS = TF.stopwords("en").map(w => s"'$w'").mkString("[", ",", "]")
  private def stopList(l: String) = TF.stopwords(l).map(w => s"'$w'").mkString("[", ",", "]")
  private def stopCount(l: String) =
    s"len(list_filter(toks, t -> list_contains(${stopList(l)}, t)))"

  val oracle: Map[String, String] = Map(
    "q19_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         count(*) AS n_copies
         FROM documents GROUP BY 2 ORDER BY doc_id""",

    "q20_ngram_jaccard" ->
      s"""WITH $SHINGLES_CTE,
         ${minhashCte(4)},
         ${bandsCte(2)},
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id),
         $JACCARD_TAIL
         SELECT id_a AS doc_a, id_b AS doc_b, round(jaccard, 4) AS jaccard
         FROM jac WHERE jaccard >= 0.5 ORDER BY 1, 2""",

    "q21_minhash_lsh" ->
      s"""WITH $SHINGLES_CTE,
         ${minhashCte(16)},
         ${bandsCte(4)},
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id),
         sig_sim AS (SELECT c.id_a, c.id_b,
             sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / 16.0 AS sig_sim
           FROM cand c
           JOIN mh sa ON sa.doc_id = c.id_a
           JOIN mh sb ON sb.doc_id = c.id_b AND sb.salt = sa.salt
           GROUP BY 1, 2),
         $JACCARD_TAIL
         SELECT j.id_a AS doc_a, j.id_b AS doc_b,
           round(s.sig_sim, 4) AS sig_sim, round(j.jaccard, 4) AS jaccard
         FROM jac j JOIN sig_sim s ON j.id_a = s.id_a AND j.id_b = s.id_b
         WHERE j.jaccard >= 0.5 ORDER BY 1, 2""",

    "q22_simhash" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM
           (SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY 1, 2),
         th AS (SELECT doc_id, tf, ${h60("tok")} AS h FROM tf),
         bits AS (SELECT doc_id, j, sum((((h >> j) & 1) * 2 - 1) * tf) AS s
           FROM th CROSS JOIN (SELECT unnest(range(60)) AS j) js GROUP BY 1, 2),
         fp AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
           FROM bits GROUP BY 1),
         banded0 AS (SELECT doc_id, simhash, band, (simhash >> (band * 10)) & 1023 AS band_val
           FROM fp CROSS JOIN (SELECT unnest(range(6)) AS band) bs),
         banded AS (SELECT b0.* FROM banded0 b0
           JOIN (SELECT band, band_val, count(*) AS bn FROM banded0
                 GROUP BY 1, 2) bc
             ON b0.band = bc.band AND b0.band_val = bc.band_val
           WHERE bc.bn <= ${SimHash.BandBucketCap}),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sim_a, b.simhash AS sim_b
           FROM banded a JOIN banded b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id)
         SELECT id_a AS doc_a, id_b AS doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
         FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3 ORDER BY 1, 2""",

    "q23_langid" ->
      s"""WITH tk AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
         sc AS (SELECT doc_id, lang,
             ${stopCount("en")} AS s_en, ${stopCount("de")} AS s_de,
             ${stopCount("es")} AS s_es, ${stopCount("fr")} AS s_fr
           FROM tk)
         SELECT doc_id, lang AS labeled_lang,
           CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
                WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
         FROM sc ORDER BY doc_id""",

    "q24_quality_score" ->
      s"""WITH tk AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         m AS (SELECT doc_id,
             len(toks) AS n_tokens,
             list_sum(list_transform(toks, t -> len(t))) AS sum_tok_len,
             len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / len(text) AS punct_ratio,
             len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text) AS alpha_ratio,
             $ENSTOPS_COUNT AS n_stops
           FROM tk)
         SELECT doc_id, n_tokens,
           round(sum_tok_len * 1.0 / n_tokens, 4) AS avg_token_len,
           round(punct_ratio, 4) AS punct_ratio,
           round(alpha_ratio, 4) AS alpha_ratio,
           round(n_stops * 1.0 / n_tokens, 4) AS stopword_ratio,
           floor((least(1.0, n_tokens / 100.0) * 0.5 + alpha_ratio * 0.3
             + (1.0 - punct_ratio) * 0.2) * 10000 + 0.5) / 10000
             AS quality_score
         FROM m ORDER BY doc_id""",

    "q25_token_count" ->
      s"""SELECT doc_id,
         len($TOKS) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",

    "q59_crosscorpus_dedup" ->
      s"""WITH $SHINGLES_CTE,
         ${minhashCte(4)},
         ${bandsCte(2)},
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id % 2 = 0 AND b.doc_id % 2 <> 0),
         $JACCARD_TAIL
         SELECT id_a AS batch_id, id_b AS corpus_id, round(jaccard, 4) AS jaccard
         FROM jac WHERE jaccard >= 0.5 ORDER BY 1, 2""",

    "q56_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
         tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
         dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         sc AS (SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln(nn.n_docs * 1.0 / dfq.df), 4) AS score
           FROM tf JOIN dfq USING (tok) CROSS JOIN nn),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, tok) AS term_rank FROM sc)
         SELECT doc_id, term_rank, tok AS term, score
         FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank""",

    "q58_quality_sample" ->
      s"""WITH tk AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         m AS (SELECT doc_id,
             len(toks) AS n_tokens,
             len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / len(text) AS punct_ratio,
             len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text) AS alpha_ratio
           FROM tk),
         s AS (SELECT doc_id,
             floor((least(1.0, n_tokens / 100.0) * 0.5 + alpha_ratio * 0.3
               + (1.0 - punct_ratio) * 0.2) * 10000 + 0.5) AS th
           FROM m)
         SELECT doc_id, th / 10000 AS quality_score FROM s
         WHERE ${h60("doc_id::VARCHAR")} % 10000 < th
         ORDER BY doc_id""",

    "q64_keep_best" ->
      s"""WITH RECURSIVE $SHINGLES_CTE,
         ${minhashCte(4)},
         ${bandsCte(2)},
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id),
         $JACCARD_TAIL,
         ej AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
         sym AS (SELECT id_a AS a, id_b AS b FROM ej
           UNION SELECT id_b, id_a FROM ej),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         cc AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY 1),
         qt AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         sq AS (SELECT doc_id,
             floor((least(1.0, len(toks) / 100.0) * 0.5
               + len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text) * 0.3
               + (1.0 - len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / len(text)) * 0.2)
               * 10000 + 0.5) AS th
           FROM qt),
         r AS (SELECT cc.cluster_id, s.doc_id, s.th,
             row_number() OVER (PARTITION BY cc.cluster_id
               ORDER BY s.th DESC, s.doc_id) AS rn,
             count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
           FROM cc JOIN sq s ON cc.id = s.doc_id)
         SELECT cluster_id, n_members, doc_id AS kept_doc, th / 10000 AS kept_quality
         FROM r WHERE rn = 1 ORDER BY cluster_id""",

    "q65_curate" ->
      s"""WITH RECURSIVE $SHINGLES_CTE,
         ${minhashCte(4)},
         ${bandsCte(2)},
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id),
         $JACCARD_TAIL,
         ej AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
         sym AS (SELECT id_a AS a, id_b AS b FROM ej
           UNION SELECT id_b, id_a FROM ej),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         cc AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY 1),
         qt AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         sq AS (SELECT doc_id,
             floor((least(1.0, len(toks) / 100.0) * 0.5
               + len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text) * 0.3
               + (1.0 - len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / len(text)) * 0.2)
               * 10000 + 0.5) AS th
           FROM qt),
         -- keeper elected among QUALITY-PASSING members (mirrors
         -- Curate.keepSet: a below-threshold min-id variant must not
         -- eliminate its above-threshold fingerprint twin)
         keepx AS (SELECT min(d.doc_id) AS doc_id FROM documents d
           JOIN sq q ON q.doc_id = d.doc_id AND q.th >= 5000
           GROUP BY md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))),
         best AS (SELECT cluster_id, doc_id FROM (
             SELECT cc.cluster_id, s.doc_id,
               row_number() OVER (PARTITION BY cc.cluster_id
                 ORDER BY s.th DESC, s.doc_id) AS rn
             FROM cc JOIN sq s ON cc.id = s.doc_id) WHERE rn = 1)
         SELECT s.doc_id, s.th / 10000 AS quality_score
         FROM sq s
         JOIN keepx k ON s.doc_id = k.doc_id
         LEFT JOIN cc ON cc.id = s.doc_id
         LEFT JOIN best b ON b.cluster_id = cc.cluster_id
         WHERE (cc.id IS NULL OR s.doc_id = b.doc_id) AND s.th >= 5000
         ORDER BY s.doc_id""",

    "q26_fingerprint" ->
      s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, s, unnest(CASE WHEN len(s) >= 8
             THEN [substr(s, i, 8) for i in range(1, len(s) - 6)] ELSE [s] END) AS gram
           FROM n)
         SELECT g.doc_id, md5(any_value(g.s)) AS fp_md5,
           min(${h60("gram")}) AS fp_min_ngram
         FROM g GROUP BY g.doc_id ORDER BY g.doc_id""",

    "q66_winnow" ->
      s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
           FROM documents),
         h AS (SELECT doc_id, CASE WHEN len(s) >= 8
             THEN [${h60("substr(s, i, 8)")} for i in range(1, len(s) - 6)]
             ELSE [${h60("s")}] END AS hs FROM n),
         wm AS (SELECT doc_id, CASE WHEN len(hs) >= 4
             THEN [list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]
             ELSE [list_min(hs)] END AS sel FROM h),
         f AS (SELECT DISTINCT doc_id, unnest(sel) AS fp FROM wm),
         rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
         ff AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY 1, 2""",

    // TRUE quadratic containment (fine at oracle SF) — the Spark side must
    // produce it through prefix-filter blocking, so this checks blocking
    // completeness, not just agreement on a shortcut.
    "q67_containment" ->
      s"""WITH $SHINGLES_CTE,
         hs AS (SELECT doc_id, list_sort(list(${h60("shingle")})) AS hs
           FROM sh GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.hs, b.hs)) * 1.0 / len(a.hs) AS c
           FROM hs a JOIN hs b ON a.doc_id <> b.doc_id)
         SELECT id_a, id_b, floor(c * 10000 + 0.5) / 10000 AS containment
         FROM p WHERE c >= 0.8 ORDER BY id_a, id_b""",

    "q69_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
         g AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 8
             THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
             ELSE [] END) AS gram FROM tk),
         ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
         SELECT doc_id, count(DISTINCT gram) AS n_hits
         FROM g JOIN ev USING (gram)
         WHERE source <> 'src0'
         GROUP BY 1 ORDER BY doc_id""",

    "q70_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         bx AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
             THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             ELSE [] END) AS bg FROM tk),
         top AS (SELECT doc_id, max(cnt) AS top_bigram_cnt FROM
           (SELECT doc_id, bg, count(*) AS cnt FROM bx GROUP BY 1, 2) GROUP BY 1),
         m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
             len(list_distinct(toks))::BIGINT AS n_types FROM tk)
         SELECT m.doc_id, m.n_tokens, m.n_types,
           coalesce(t.top_bigram_cnt, 0)::BIGINT AS top_bigram_cnt,
           (CASE WHEN (m.n_tokens - m.n_types) * 20 > m.n_tokens * 13
                 OR coalesce(t.top_bigram_cnt, 0) * 25 > m.n_tokens * 2
            THEN 1 ELSE 0 END)::BIGINT AS repetitive
         FROM m LEFT JOIN top t USING (doc_id) ORDER BY m.doc_id""",

    // q114: the same synthesized composed/decomposed twins; DuckDB's
    // nfc_normalize mirrors the JDK normalizer (both UAX#15).
    "q114_nfc_normalize" ->
      """WITH b AS (SELECT doc_id,
           text || ' caf' || chr(233) AS mc,
           text || ' cafe' || chr(769) AS md FROM documents)
         SELECT doc_id,
           (strlen(md) - strlen(nfc_normalize(md)))::BIGINT AS bytes_folded,
           nfc_normalize(mc) = mc AS composed_stable,
           md5(nfc_normalize(mc)) = md5(nfc_normalize(md)) AS forms_unify,
           md5(nfc_normalize(md)) AS nfc_fp
         FROM b ORDER BY doc_id""",

    // q113: the same definitional window cumsum as q71's oracle, then
    // each doc explodes onto the sequences its token span overlaps —
    // exact integer arithmetic end to end.
    "q113_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, len($TOKS)::BIGINT AS w FROM documents),
         c AS (SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs FROM t),
         e AS (SELECT doc_id, gs::BIGINT AS gs, (gs + w)::BIGINT AS ge
           FROM c WHERE w > 0),
         x AS (SELECT doc_id, gs, ge,
             unnest(range(gs // 256, (ge - 1) // 256 + 1)) AS seq_id FROM e)
         SELECT seq_id, doc_id,
           greatest(seq_id * 256 - gs, 0)::BIGINT AS doc_offset,
           greatest(gs - seq_id * 256, 0)::BIGINT AS seq_offset,
           (least(ge, seq_id * 256 + 256) - greatest(gs, seq_id * 256))::BIGINT AS len
         FROM x ORDER BY seq_id, doc_id""",

    // q119: the q89/q19/q69/q84 stage spellings chained in the funnel
    // order; every stage filters the previous one's survivor set.
    "q119_curation_funnel" ->
      s"""WITH tk AS (SELECT doc_id, source, text, $TOKS AS toks,
             string_split(text, chr(10)) AS lines FROM documents),
         base AS (SELECT * FROM tk WHERE source <> 'src0'),
         m AS (SELECT doc_id,
             len(toks) AS n,
             len(lines) AS n_lines,
             coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS sum_len,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             len(regexp_extract_all(text, '\\.\\.\\.')) AS n_dots,
             len(list_filter(lines, l -> starts_with(ltrim(l), '-')
               OR starts_with(ltrim(l), '*'))) AS n_bullet,
             len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS n_ellipsis,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
             len(list_filter(toks, t -> list_contains(
               ['the','be','to','of','and','that','have','with'], t))) AS n_stops
           FROM base),
         gop AS (SELECT doc_id FROM m
           WHERE (n >= 50 AND n <= 100000) AND (sum_len >= n * 3 AND sum_len <= n * 10)
             AND ((n_hash + n_dots) * 10 <= n) AND (n_bullet * 10 <= n_lines * 9)
             AND (n_ellipsis * 10 <= n_lines * 3) AND (n_alpha * 5 >= n * 4)
             AND (n_stops >= 2)),
         s1 AS (SELECT base.* FROM base JOIN gop USING (doc_id)),
         kp AS (SELECT min(doc_id) AS doc_id FROM (
             SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
             FROM s1) GROUP BY fp),
         s2 AS (SELECT s1.* FROM s1 JOIN kp USING (doc_id)),
         g AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 8
             THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
             ELSE [] END) AS gram FROM tk),
         ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
         cont AS (SELECT DISTINCT doc_id FROM g JOIN ev USING (gram)
           WHERE source <> 'src0'),
         s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         s4 AS (SELECT * FROM s3 WHERE CAST(floor((least(1.0, len(toks) / 100.0) * 0.5
             + (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text)) * 0.3
             + (1.0 - len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / len(text)) * 0.2)
             * 10000 + 0.5) AS BIGINT) >= 5000)
         SELECT * FROM (
           SELECT 0::BIGINT AS stage_id, 'raw' AS stage,
             count(*)::BIGINT AS n_docs, coalesce(sum(len(toks)), 0)::BIGINT AS n_tokens FROM base
           UNION ALL SELECT 1, 'gopher_rules', count(*)::BIGINT, coalesce(sum(len(toks)), 0)::BIGINT FROM s1
           UNION ALL SELECT 2, 'exact_dedup', count(*)::BIGINT, coalesce(sum(len(toks)), 0)::BIGINT FROM s2
           UNION ALL SELECT 3, 'decontaminated', count(*)::BIGINT, coalesce(sum(len(toks)), 0)::BIGINT FROM s3
           UNION ALL SELECT 4, 'quality_floor', count(*)::BIGINT, coalesce(sum(len(toks)), 0)::BIGINT FROM s4
         ) ORDER BY stage_id""",

    // q118: the q113 manifest CTEs + a per-sequence rollup.
    "q118_pack_stats" ->
      s"""WITH t AS (SELECT doc_id, len($TOKS)::BIGINT AS w FROM documents),
         c AS (SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs FROM t),
         e AS (SELECT doc_id, gs::BIGINT AS gs, (gs + w)::BIGINT AS ge
           FROM c WHERE w > 0),
         x AS (SELECT doc_id, gs, ge,
             unnest(range(gs // 256, (ge - 1) // 256 + 1)) AS seq_id FROM e),
         m AS (SELECT seq_id,
             (least(ge, seq_id * 256 + 256) - greatest(gs, seq_id * 256))::BIGINT AS len
           FROM x)
         SELECT seq_id, count(*)::BIGINT AS n_docs,
           (count(*) - 1)::BIGINT AS n_boundaries,
           max(len) AS max_span, min(len) AS min_span,
           sum(len) = 256 AS "full"
         FROM m GROUP BY seq_id ORDER BY seq_id""",

    // q115: q113's cumsum, but ordered by the seeded md5-prefix hash
    // (ties on doc_id) — the identical permutation both engines derive.
    "q115_corpus_shuffle" ->
      s"""WITH t AS (SELECT doc_id, len($TOKS)::BIGINT AS w,
           ${h60("'graft-r17|' || doc_id::VARCHAR")} AS h FROM documents),
         c AS (SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs FROM t),
         e AS (SELECT doc_id, gs::BIGINT AS gs, (gs + w)::BIGINT AS ge
           FROM c WHERE w > 0),
         x AS (SELECT doc_id, gs, ge,
             unnest(range(gs // 256, (ge - 1) // 256 + 1)) AS seq_id FROM e)
         SELECT seq_id, doc_id,
           greatest(seq_id * 256 - gs, 0)::BIGINT AS doc_offset,
           greatest(gs - seq_id * 256, 0)::BIGINT AS seq_offset,
           (least(ge, seq_id * 256 + 256) - greatest(gs, seq_id * 256))::BIGINT AS len
         FROM x ORDER BY seq_id, doc_id""",

    "q71_shard_pack" ->
      s"""WITH t AS (SELECT doc_id, len($TOKS)::BIGINT AS n_tokens FROM documents),
         c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t)
         SELECT doc_id, n_tokens, (cb // 512)::BIGINT AS shard_id
         FROM c ORDER BY doc_id""",

    "q68_containment_prune" ->
      s"""WITH $SHINGLES_CTE,
         hs AS (SELECT doc_id, list_sort(list(${h60("shingle")})) AS hs
           FROM sh GROUP BY doc_id),
         drops AS (SELECT DISTINCT a.doc_id FROM hs a JOIN hs b
           ON b.doc_id < a.doc_id
           AND len(list_intersect(a.hs, b.hs)) * 1.0 / len(a.hs) >= 0.8)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
         ORDER BY d.doc_id""",

    "q81_mixture_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         m AS (SELECT min(n) AS n_min FROM c),
         t AS (SELECT lang, (SELECT n_min FROM m) * 1000000 // n AS thr FROM c)
         SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
         WHERE ${h60("d.doc_id::VARCHAR")} % 1000000 < t.thr
         ORDER BY d.doc_id""",

    // floor(sqrt(exact integer quotient)) — sqrt is the one float op both
    // engines round identically (IEEE correctly-rounded), see the q98 def.
    "q98_temperature_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         m AS (SELECT min(n) AS n_min FROM c),
         t AS (SELECT lang, floor(sqrt((((SELECT n_min FROM m) * 1000000000000 // n))::DOUBLE))::BIGINT AS thr FROM c)
         SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
         WHERE ${h60("d.doc_id::VARCHAR")} % 1000000 < t.thr
         ORDER BY d.doc_id""",

    "q82_line_dedup" ->
      """WITH sp AS (SELECT doc_id, string_split_regex(text, ' the ') AS segs
           FROM documents),
         l0 AS (SELECT doc_id, unnest([{'idx': i, 'line': trim(segs[i])}
             for i in range(1, len(segs)+1)]) AS e FROM sp),
         l AS (SELECT doc_id, e.idx AS line_idx, e.line AS line
           FROM l0 WHERE len(e.line) > 0),
         k AS (SELECT doc_id, line_idx, line,
             row_number() OVER (PARTITION BY md5(line)
               ORDER BY doc_id, line_idx) AS rn FROM l)
         SELECT doc_id, count(*)::BIGINT AS n_lines,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS kept_frac,
           CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
             THEN md5(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
               ORDER BY line_idx)) END AS surviving_fp
         FROM k GROUP BY 1 ORDER BY 1""",

    "q83_source_overlap" ->
      s"""WITH tk AS (SELECT source, $TOKS AS toks FROM documents),
         g AS (SELECT DISTINCT source, gram FROM (
           SELECT source, unnest(CASE WHEN len(toks) >= 8
             THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
             ELSE [] END) AS gram FROM tk)),
         cnt AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
         pairs AS (SELECT a.source AS source_a, b.source AS source_b,
             count(*)::BIGINT AS n_shared
           FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
           GROUP BY 1, 2)
         SELECT p.source_a, p.source_b, p.n_shared,
           round(p.n_shared * 1.0 / least(ca.n, cb.n), 4) AS overlap
         FROM pairs p JOIN cnt ca ON p.source_a = ca.source
         JOIN cnt cb ON p.source_b = cb.source
         ORDER BY 1, 2""",

    // quality formula mirrors q24's oracle term-for-term; the tie-free
    // integer grid (floor(score*1e4 + 0.5)) is qualityGrid's spelling, and
    // quantile_disc == approx_percentile in its exact regime (q54's note).
    "q84_quality_cutoff" ->
      s"""WITH tk AS (SELECT doc_id, source, text, $TOKS AS toks FROM documents),
         q AS (SELECT doc_id, source,
             CAST(floor((least(1.0, len(toks) / 100.0) * 0.5
               + (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text)) * 0.3
               + (1.0 - len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / len(text)) * 0.2)
               * 10000 + 0.5) AS BIGINT) AS quality_grid
           FROM tk),
         c AS (SELECT source, quantile_disc(quality_grid, 0.25) AS cutoff_grid
           FROM q GROUP BY source)
         SELECT q.doc_id, q.source, q.quality_grid, c.cutoff_grid
         FROM q JOIN c USING (source)
         WHERE q.quality_grid >= c.cutoff_grid
         ORDER BY q.doc_id""",

    "q85_boilerplate_grams" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         g AS (SELECT DISTINCT doc_id, gram FROM (
           SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
             THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
             ELSE [] END) AS gram FROM tk))
         SELECT gram, count(*)::BIGINT AS doc_freq
         FROM g GROUP BY 1 HAVING count(*) >= 2
         ORDER BY doc_freq DESC, gram LIMIT 25""",

    "q100_quality_classifier" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         grams AS (
           SELECT doc_id, unnest(toks) AS gram FROM tk
           UNION ALL
           SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS gram
           FROM tk WHERE len(toks) >= 2),
         sc AS (SELECT doc_id,
             sum((((${h60("gram")} % 512) % 17) - 8) / 16.0) AS logit
           FROM grams GROUP BY 1)
         SELECT d.doc_id,
           coalesce(sc.logit, 0.0) AS logit,
           coalesce(sc.logit, 0.0) > 0.0 AS pass
         FROM documents d LEFT JOIN sc USING (doc_id)
         ORDER BY doc_id""",

    // q102: the canonical URL is closed-form by construction of the
    // synthesized raw form — every rule (case, www., :443, utm params
    // leading and trailing, fragment, trailing slash) collapses to the
    // one clean spelling below; blocklist + per-domain cap mirror the
    // Spark plan directly.
    "q102_url_curate" ->
      """WITH c AS (
           SELECT doc_id, n_chars, source || '.example.com' AS domain,
             'https://' || source || '.example.com/' || lang || '/doc/' || doc_id ||
               CASE WHEN doc_id % 4 IN (0, 1) THEN '?id=' || doc_id ELSE '' END AS url
           FROM documents
         ), k AS (
           SELECT doc_id, domain, url,
             row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rn
           FROM c WHERE domain NOT IN ('src3.example.com', 'src7.example.com')
         )
         SELECT doc_id, domain, url, rn FROM k WHERE rn <= 15 ORDER BY doc_id""",

    // q103: integer-exact replication arithmetic — floor(maxc/c) copies
    // per doc plus one extra when the portable hash clears the remainder
    // threshold; the oracle mirrors the closed form (hash60 is the
    // md5-prefix construction on both sides).
    "q103_mixture_upsample" ->
      s"""WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
         m AS (SELECT max(c) AS maxc FROM c),
         t AS (SELECT lang, c, (SELECT maxc FROM m) AS maxc FROM c),
         k AS (SELECT doc_id, d.lang,
             maxc // c + CASE WHEN ${h60("doc_id::VARCHAR")} % c < maxc % c
               THEN 1 ELSE 0 END AS n_copies
           FROM documents d JOIN t USING (lang))
         SELECT doc_id, lang, unnest(range(n_copies)) AS copy
         FROM k ORDER BY doc_id, copy""",

    // q104: char-trigram featurize (the q26 normalize+ngram mirror),
    // closed-form per-class dyadic weights, exact logit sums,
    // deterministic argmax.
    "q104_langid_learned" ->
      s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, unnest(CASE WHEN len(s) >= 3
             THEN [substr(s, i, 3) for i in range(1, len(s) - 1)] ELSE [s] END) AS gram
           FROM n),
         f AS (SELECT doc_id, ${h60("gram")} % 1024 AS bucket, count(*) AS cnt
           FROM g GROUP BY 1, 2),
         cls AS (SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS ci
           FROM (SELECT DISTINCT lang FROM documents)),
         lg AS (SELECT f.doc_id, c.lang, c.ci,
             sum(f.cnt * ((((f.bucket + 31*c.ci) % 17) - 8) / 16.0)) AS logit
           FROM f CROSS JOIN cls c GROUP BY 1, 2, 3),
         best AS (SELECT doc_id, lang, logit,
             row_number() OVER (PARTITION BY doc_id ORDER BY logit DESC, ci) AS rn
           FROM lg)
         SELECT d.doc_id, b.lang AS pred_lang, b.logit
         FROM documents d JOIN best b USING (doc_id) WHERE b.rn = 1
         ORDER BY d.doc_id""",

    // q105/q106: closed-form link reconstruction (the q30/q102 discipline)
    // — the synthesis puts every anchor on a deterministically-known
    // canonical target, so the oracle recomputes the edge set from
    // (doc_id, source) arithmetic and any mis-parse/mis-resolve/mis-
    // canonicalization anywhere in the engine chain shifts a count. The
    // same-host anchors (/ #top ../doc/k) and the filtered schemes
    // (mailto:, javascript:, script-embedded) contribute NOTHING here —
    // which is exactly the pin: if the engine leaks one of them into the
    // edge set, src→src self-rows or phantom hosts appear.
    "q105_link_graph" ->
      """WITH d AS (SELECT doc_id, source || '.example.com' AS src_host,
             'src' || (doc_id % 10) || '.example.com' AS hub_host,
             'cdn' || (doc_id % 3) || '.example.com' AS cdn_host,
             'partner' || (doc_id % 5) || '.example.org' AS partner_host
           FROM documents),
         l AS (SELECT src_host, hub_host AS dst_host, doc_id FROM d
           UNION ALL SELECT src_host, hub_host, doc_id FROM d
           UNION ALL SELECT src_host, cdn_host, doc_id FROM d
           UNION ALL SELECT src_host, partner_host, doc_id FROM d)
         SELECT src_host, dst_host AS target_host, count(*)::BIGINT AS n_links,
           count(DISTINCT doc_id)::BIGINT AS n_docs
         FROM l WHERE dst_host <> src_host
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // q106: the q75 recursive-CTE PageRank spelling (per-edge divide,
    // (1−d)/N teleport base, self-edges at w=0 so every node survives
    // each iteration, round 8) over q105's closed-form edge set, joined
    // back per doc.
    "q106_host_rank" ->
      """WITH RECURSIVE
         d AS (SELECT doc_id, source || '.example.com' AS src_host,
             'src' || (doc_id % 10) || '.example.com' AS hub_host,
             'cdn' || (doc_id % 3) || '.example.com' AS cdn_host,
             'partner' || (doc_id % 5) || '.example.org' AS partner_host
           FROM documents),
         l AS (SELECT src_host, hub_host AS dst_host FROM d
           UNION ALL SELECT src_host, cdn_host FROM d
           UNION ALL SELECT src_host, partner_host FROM d),
         e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM l
           WHERE dst_host <> src_host),
         nodes AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
         nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1),
         ew AS (SELECT src, dst, 1.0 AS w FROM e
           UNION ALL SELECT node, node, 0.0 FROM nodes),
         pr AS (
           SELECT 0 AS iter, node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
           UNION ALL
           SELECT p.iter + 1, ew.dst,
             (1 - 0.85) / (SELECT n FROM nn)
               + 0.85 * sum(p.rank / coalesce(g.outdeg, 1) * ew.w)
           FROM pr p
           JOIN ew ON ew.src = p.node
           LEFT JOIN deg g ON g.src = p.node
           WHERE p.iter < 5
           GROUP BY ew.dst, p.iter)
         SELECT d.doc_id, d.src_host AS host, round(pr.rank, 8) AS host_rank
         FROM d LEFT JOIN pr ON pr.node = d.src_host AND pr.iter = 5
         ORDER BY d.doc_id""",

    // q107: the closed-form target list INCLUDES the fragment-only anchor
    // (it resolves to the page itself) so the anti-join is what removes
    // it — mirroring the engine exactly; every other synthesized target
    // reconstructs arithmetically (the q105 discipline).
    "q107_crawl_frontier" ->
      """WITH d AS (SELECT doc_id, source, lang,
             source || '.example.com' AS src_host,
             'https://' || source || '.example.com/' || lang || '/doc/' || doc_id AS base_url
           FROM documents),
         l AS (
           SELECT doc_id, 'https://' || src_host AS url, src_host AS host FROM d
           UNION ALL SELECT doc_id, base_url, src_host FROM d
           UNION ALL SELECT doc_id,
             'https://src' || (doc_id % 10) || '.example.com/hub',
             'src' || (doc_id % 10) || '.example.com' FROM d
           UNION ALL SELECT doc_id,
             'https://src' || (doc_id % 10) || '.example.com/other',
             'src' || (doc_id % 10) || '.example.com' FROM d
           UNION ALL SELECT doc_id,
             'https://cdn' || (doc_id % 3) || '.example.com/asset/' || (doc_id % 4),
             'cdn' || (doc_id % 3) || '.example.com' FROM d
           UNION ALL SELECT doc_id,
             'https://' || src_host || '/' || lang || '/doc/' || (doc_id % 100) || '?ref=1',
             src_host FROM d
           UNION ALL SELECT doc_id,
             'http://partner' || (doc_id % 5) || '.example.org/p',
             'partner' || (doc_id % 5) || '.example.org' FROM d),
         cit AS (SELECT url, host, count(DISTINCT doc_id) AS n_citations
           FROM l WHERE url NOT IN (SELECT base_url FROM d)
           GROUP BY 1, 2),
         rk AS (SELECT url, host, n_citations,
             row_number() OVER (PARTITION BY host
               ORDER BY n_citations DESC, url) AS rn
           FROM cit)
         SELECT url AS target_url, host AS target_host, n_citations, rn
         FROM rk WHERE rn <= 10
         ORDER BY target_host, rn, target_url""",

    // q117: q107's candidate set, the delay dim closed-form (even srcN
    // → 15 s, cdn → 30 s), budget = min(10, floor(60/delay)); exact
    // double division on integral operands both engines floor alike.
    "q117_frontier_budget" ->
      """WITH d AS (SELECT doc_id, source, lang,
             source || '.example.com' AS src_host,
             'https://' || source || '.example.com/' || lang || '/doc/' || doc_id AS base_url
           FROM documents),
         l AS (
           SELECT doc_id, 'https://' || src_host AS url, src_host AS host FROM d
           UNION ALL SELECT doc_id, base_url, src_host FROM d
           UNION ALL SELECT doc_id,
             'https://src' || (doc_id % 10) || '.example.com/hub',
             'src' || (doc_id % 10) || '.example.com' FROM d
           UNION ALL SELECT doc_id,
             'https://src' || (doc_id % 10) || '.example.com/other',
             'src' || (doc_id % 10) || '.example.com' FROM d
           UNION ALL SELECT doc_id,
             'https://cdn' || (doc_id % 3) || '.example.com/asset/' || (doc_id % 4),
             'cdn' || (doc_id % 3) || '.example.com' FROM d
           UNION ALL SELECT doc_id,
             'https://' || src_host || '/' || lang || '/doc/' || (doc_id % 100) || '?ref=1',
             src_host FROM d
           UNION ALL SELECT doc_id,
             'http://partner' || (doc_id % 5) || '.example.org/p',
             'partner' || (doc_id % 5) || '.example.org' FROM d),
         cit AS (SELECT url, host, count(DISTINCT doc_id) AS n_citations
           FROM l WHERE url NOT IN (SELECT base_url FROM d)
           GROUP BY 1, 2),
         dl AS (SELECT DISTINCT host,
             CASE WHEN regexp_extract(host, '^src(\d+)\.', 1) <> ''
                    AND regexp_extract(host, '^src(\d+)\.', 1)::INT % 2 = 0
                  THEN 15.0
                  WHEN host LIKE 'cdn%' THEN 30.0 END AS crawl_delay
           FROM cit),
         rk AS (SELECT url, host, n_citations,
             row_number() OVER (PARTITION BY host
               ORDER BY n_citations DESC, url) AS rn
           FROM cit),
         sel AS (SELECT rk.url, rk.host, rk.n_citations, rk.rn, dl.crawl_delay
           FROM rk LEFT JOIN dl USING (host))
         SELECT url AS target_url, host AS target_host, n_citations, rn,
           crawl_delay
         FROM sel
         WHERE rn <= CASE WHEN crawl_delay IS NOT NULL AND crawl_delay > 0
           THEN least(10, floor(60 / crawl_delay)::BIGINT) ELSE 10 END
         ORDER BY target_host, rn, target_url""",

    // q108: the synthesized anchor TEXTS are constants per anchor kind
    // (hub→'hub', clean twin→'more', cdn→'asset', partner→'partner';
    // same-host and non-http anchors contribute nothing) — closed-form.
    "q108_anchor_text" ->
      """WITH d AS (SELECT doc_id, source || '.example.com' AS src_host,
             'src' || (doc_id % 10) || '.example.com' AS hub_host,
             'cdn' || (doc_id % 3) || '.example.com' AS cdn_host,
             'partner' || (doc_id % 5) || '.example.org' AS partner_host
           FROM documents),
         l AS (SELECT src_host, hub_host AS thost, 'hub' AS atext, doc_id FROM d
           UNION ALL SELECT src_host, hub_host, 'more', doc_id FROM d
           UNION ALL SELECT src_host, cdn_host, 'asset', doc_id FROM d
           UNION ALL SELECT src_host, partner_host, 'partner', doc_id FROM d)
         SELECT thost AS target_host, atext AS anchor_text,
           count(*)::BIGINT AS n_links, count(DISTINCT doc_id)::BIGINT AS n_docs
         FROM l WHERE thost <> src_host
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // q109: identical left-assoc double arithmetic on exact-integer
    // operands (products < 2^53) makes floor() bit-deterministic in both
    // engines; the ln display rounds at 4 (the q74 libm discipline).
    "q109_collocations" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         bg AS (SELECT unnest([toks[i] || ' ' || toks[i+1]
             for i in range(1, len(toks))]) AS bigram
           FROM tk WHERE len(toks) >= 2),
         c2 AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1,
             split_part(bigram, ' ', 2) AS w2, count(*) AS n_pair
           FROM bg GROUP BY 1, 2, 3),
         nn AS (SELECT sum(n_pair)::DOUBLE AS n FROM c2),
         cl AS (SELECT w1, sum(n_pair) AS c_left FROM c2 GROUP BY 1),
         cr AS (SELECT w2, sum(n_pair) AS c_right FROM c2 GROUP BY 1)
         SELECT c2.w1, c2.w2, c2.n_pair::BIGINT AS n_pair,
           floor(c2.n_pair * (SELECT n FROM nn) * 1000000.0
             / (cl.c_left::DOUBLE * cr.c_right))::BIGINT AS lift_ppm,
           round(ln(c2.n_pair * (SELECT n FROM nn)
             / (cl.c_left::DOUBLE * cr.c_right)), 4) AS pmi
         FROM c2 JOIN cl USING (w1) JOIN cr USING (w2)
         WHERE c2.n_pair >= 3
         ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""",
    "q74_bigram_logprob" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         bg AS (SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bigram
           FROM tk WHERE len(toks) >= 2),
         b1 AS (SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM bg),
         c2 AS (SELECT bigram, count(*) AS c2 FROM b1 GROUP BY 1),
         c1 AS (SELECT w1, count(*) AS c1 FROM b1 GROUP BY 1)
         SELECT b1.doc_id, count(*)::BIGINT AS n_bigrams,
           round(avg(ln(c2.c2 * 1.0 / c1.c1)), 4) AS avg_logprob
         FROM b1 JOIN c2 USING (bigram) JOIN c1 USING (w1)
         GROUP BY 1 ORDER BY 1""",

    "q91_corpus_report" ->
      s"""WITH tk AS (SELECT doc_id, text, lang, $TOKS AS toks FROM documents),
         posi AS (SELECT doc_id, toks, unnest(CASE WHEN len(toks) >= 8
             THEN range(1, len(toks) - 6) ELSE [] END) AS pos FROM tk),
         pg AS (SELECT doc_id, pos,
             ${h60("array_to_string(toks[pos:pos+7], ' ')")} AS h FROM posi),
         dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM pg)
           GROUP BY h HAVING count(*) >= 2),
         hits AS (SELECT doc_id, pos FROM pg JOIN dup USING (h)),
         brk AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
               THEN 1 ELSE 0 END AS b
           FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         grp AS (SELECT doc_id, pos, sum(b) OVER
             (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
           FROM brk),
         spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
           FROM grp GROUP BY doc_id, g),
         sd AS (SELECT coalesce(sum(e - s), 0) AS dup_toks FROM spans),
         tot AS (SELECT count(*) AS n, sum(len(toks)) AS n_toks FROM tk),
         lm AS (SELECT count(*) AS nl, count(DISTINCT l) AS dl FROM
           (SELECT unnest(string_split(text, chr(10))) AS l FROM tk)),
         bg AS (SELECT count(*) AS n FROM (
           SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
               THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
               ELSE [] END) AS gram FROM tk))
           GROUP BY gram HAVING count(*) >= 2)),
         q AS (SELECT sum(grid) AS sg, count(*) AS n FROM (
           SELECT floor((least(1.0, len(toks) / 100.0) * 0.5 + alpha_ratio * 0.3
             + (1.0 - punct_ratio) * 0.2) * 10000 + 0.5) AS grid FROM (
             SELECT toks,
               len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / len(text) AS punct_ratio,
               len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text) AS alpha_ratio
             FROM tk))),
         lg AS (SELECT sum(CASE WHEN lang <> pred THEN 1 ELSE 0 END) AS mm,
             count(*) AS n FROM (
           SELECT lang,
             CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
                  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS pred
           FROM (SELECT lang, ${stopCount("en")} AS s_en, ${stopCount("de")} AS s_de,
                   ${stopCount("es")} AS s_es, ${stopCount("fr")} AS s_fr FROM tk))),
         fpx AS (SELECT count(*) - count(DISTINCT
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS dups FROM tk),
         cs AS (SELECT sum(CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 0
             THEN 1 ELSE 0 END) AS nu, count(*) AS n FROM tk),
         dd AS (SELECT sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS dd,
             count(*) AS n FROM tk),
         -- r18 modality gates: q122's closed-form raster (32-wide canvas,
         -- h = ceil(len/96), byte sum = char-code sum) and q123's
         -- closed-form waveform (s(k) = (byte(k)-100)*200) feed the gates'
         -- exact integer rules; drop = NOT keep
         ig AS (SELECT sum(CASE WHEN NOT (
               32 * h >= 128
               AND greatest(32, h)::BIGINT * 100 <= least(32, h)::BIGINT * 1100
               AND sb >= 32::BIGINT * h * 3 * 80) THEN 1 ELSE 0 END) AS dr,
             count(*) AS n FROM (
           SELECT greatest(1, (octet_length(encode(text)) + 95) // 96)::INT AS h,
             coalesce(list_sum([ascii(substr(text, i, 1))
               for i in range(1, octet_length(encode(text)) + 1)]), 0)::BIGINT AS sb
           FROM tk)),
         ag AS (SELECT sum(CASE WHEN NOT (
               n >= 256 AND sum_sq * 1000 >= n * 36600000000
               AND zc * 1000 <= n * 505) THEN 1 ELSE 0 END) AS dr,
             count(*) AS n FROM (
           SELECT n, list_sum(list_transform(s, x -> x::BIGINT * x)) AS sum_sq,
             coalesce(list_sum([CASE WHEN s[k] * s[k + 1] < 0 THEN 1 ELSE 0 END
               for k in range(1, n)]), 0) AS zc
           FROM (SELECT n,
               [CASE WHEN k <= length(text) THEN (ascii(substr(text, k, 1)) - 100) * 200
                 ELSE 0 END for k in range(1, n + 1)] AS s
             FROM (SELECT text, greatest(1, length(text)) AS n FROM tk))))
         SELECT * FROM (
           SELECT 'boilerplate_grams' AS metric, n * 1.0 AS value FROM bg
           UNION ALL SELECT 'image_gate_drop_frac',
             floor(dr * 1.0 / n * 10000 + 0.5) / 10000 FROM ig
           UNION ALL SELECT 'audio_gate_drop_frac',
             floor(dr * 1.0 / n * 10000 + 0.5) / 10000 FROM ag
           UNION ALL SELECT 'dup_line_frac',
             floor((nl - dl) * 1.0 / nl * 10000 + 0.5) / 10000 FROM lm
           UNION ALL SELECT 'exact_dup_docs', dups * 1.0 FROM fpx
           UNION ALL SELECT 'langid_mismatch_frac',
             floor(mm * 1.0 / n * 10000 + 0.5) / 10000 FROM lg
           UNION ALL SELECT 'mean_quality',
             floor(sg * 1.0 / (n * 10000) * 10000 + 0.5) / 10000 FROM q
           UNION ALL SELECT 'n_docs', n * 1.0 FROM tot
           UNION ALL SELECT 'n_tokens', n_toks * 1.0 FROM tot
           UNION ALL SELECT 'non_utf8_frac',
             floor(nu * 1.0 / n * 10000 + 0.5) / 10000 FROM cs
           UNION ALL SELECT 'declared_dup_frac',
             floor(dd * 1.0 / n * 10000 + 0.5) / 10000 FROM dd
           UNION ALL SELECT 'span_dup_token_frac',
             floor(dup_toks * 1.0 / (SELECT n_toks FROM tot) * 10000 + 0.5) / 10000 FROM sd
         ) ORDER BY metric""",

    "q90_contamination_spans" ->
      s"""WITH tk AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
         posi AS (SELECT doc_id, toks, unnest(CASE WHEN len(toks) >= 8
             THEN range(1, len(toks) - 6) ELSE [] END) AS pos
           FROM tk WHERE source <> 'src0'),
         pg AS (SELECT doc_id, pos,
             ${h60("array_to_string(toks[pos:pos+7], ' ')")} AS h FROM posi),
         ev AS (SELECT DISTINCT ${h60("array_to_string(toks[i:i+7], ' ')")} AS h
           FROM (SELECT toks, unnest(CASE WHEN len(toks) >= 8
               THEN range(1, len(toks) - 6) ELSE [] END) AS i
             FROM tk WHERE source = 'src0')),
         hits AS (SELECT doc_id, pos FROM pg JOIN ev USING (h)),
         brk AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
               THEN 1 ELSE 0 END AS b
           FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         grp AS (SELECT doc_id, pos, sum(b) OVER
             (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
           FROM brk)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
           max(pos) + 8 - min(pos) AS span_tokens
         FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""",

    // q90's span CTEs + q94's reassembly tail over the non-eval corpus.
    "q97_contamination_trim" ->
      s"""WITH tk AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
         ctk AS (SELECT doc_id, toks FROM tk WHERE source <> 'src0'),
         posi AS (SELECT doc_id, toks, unnest(CASE WHEN len(toks) >= 8
             THEN range(1, len(toks) - 6) ELSE [] END) AS pos FROM ctk),
         pg AS (SELECT doc_id, pos,
             ${h60("array_to_string(toks[pos:pos+7], ' ')")} AS h FROM posi),
         ev AS (SELECT DISTINCT ${h60("array_to_string(toks[i:i+7], ' ')")} AS h
           FROM (SELECT toks, unnest(CASE WHEN len(toks) >= 8
               THEN range(1, len(toks) - 6) ELSE [] END) AS i
             FROM tk WHERE source = 'src0')),
         hits AS (SELECT doc_id, pos FROM pg JOIN ev USING (h)),
         brk AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
               THEN 1 ELSE 0 END AS b
           FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         grp AS (SELECT doc_id, pos, sum(b) OVER
             (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
           FROM brk),
         spans AS (SELECT doc_id, min(pos) AS span_start,
             max(pos) + 8 AS span_end, max(pos) + 8 - min(pos) AS span_tokens
           FROM grp GROUP BY doc_id, g),
         rem AS (SELECT doc_id, list(DISTINCT pos) AS poss FROM (
             SELECT doc_id, unnest(range(span_start, span_end)) AS pos
             FROM spans) GROUP BY doc_id),
         st AS (SELECT doc_id, count(*) AS n_spans,
             sum(span_tokens) AS removed_tokens FROM spans GROUP BY doc_id)
         SELECT c.doc_id, len(c.toks) AS n_tokens,
           coalesce(st.removed_tokens, 0)::BIGINT AS removed_tokens,
           coalesce(st.n_spans, 0)::BIGINT AS n_spans,
           md5(coalesce(array_to_string(
             [c.toks[i] for i in range(1, len(c.toks) + 1)
               if NOT list_contains(coalesce(rem.poss, []), i)],
             ' '), '')) AS trimmed_fp
         FROM ctk c LEFT JOIN rem USING (doc_id) LEFT JOIN st USING (doc_id)
         ORDER BY c.doc_id""",

    // Bit-identical to q69 by design: the bloom is a prefilter whose false
    // positives the exact verify removes — the ORACLE is the definition of
    // decontamination, not of the bloom.
    "q88_bloom_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
         g AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 8
             THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
             ELSE [] END) AS gram FROM tk),
         ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
         SELECT doc_id, count(DISTINCT gram) AS n_hits
         FROM g JOIN ev USING (gram)
         WHERE source <> 'src0'
         GROUP BY 1 ORDER BY doc_id""",

    "q87_span_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         posi AS (SELECT doc_id, toks, unnest(CASE WHEN len(toks) >= 8
             THEN range(1, len(toks) - 6) ELSE [] END) AS pos FROM tk),
         pg AS (SELECT doc_id, pos,
             ${h60("array_to_string(toks[pos:pos+7], ' ')")} AS h FROM posi),
         dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM pg)
           GROUP BY h HAVING count(*) >= 2),
         hits AS (SELECT doc_id, pos FROM pg JOIN dup USING (h)),
         brk AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
               THEN 1 ELSE 0 END AS b
           FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         grp AS (SELECT doc_id, pos, sum(b) OVER
             (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
           FROM brk)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
           max(pos) + 8 - min(pos) AS span_tokens
         FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""",

    // BPE merge application as a recursive CTE: state = (word, symbol
    // list); each step fuses the LEFTMOST occurrence of the LOWEST-ranked
    // adjacent pair (list_position rank lookup against the same
    // Bpe.FixedMerges literal, 0 = absent in DuckDB 1.0); terminal states
    // (no ranked pair) join back to positional words. Provably the same
    // algorithm as the native expression's min-rank/leftmost loop.
    "q92_bpe_encode" ->
      s"""WITH RECURSIVE
         $BPE_CTES,
         roll AS (SELECT doc_id, count(*) AS n_words, sum(len(syms)) AS n_bpe,
             string_agg(array_to_string(syms, '+'), ' ' ORDER BY ti) AS fpstr
           FROM j GROUP BY doc_id)
         SELECT d.doc_id, coalesce(r.n_words, 0)::BIGINT AS n_words,
           coalesce(r.n_bpe, 0)::BIGINT AS n_bpe_tokens,
           md5(coalesce(r.fpstr, '')) AS bpe_fp
         FROM documents d LEFT JOIN roll r USING (doc_id) ORDER BY d.doc_id""",

    // q92's recursive encode feeding q71's prefix-sum packer: shard
    // budgets computed on MODEL-TOKENIZER counts, the composition the
    // tokenizer exists for.
    "q96_bpe_pack" ->
      s"""WITH RECURSIVE
         $BPE_CTES,
         t AS (SELECT d.doc_id, coalesce(x.n, 0)::BIGINT AS n_bpe_tokens
           FROM documents d LEFT JOIN (SELECT doc_id, sum(len(syms)) AS n
             FROM j GROUP BY doc_id) x USING (doc_id)),
         c AS (SELECT doc_id, n_bpe_tokens,
             coalesce(sum(n_bpe_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t)
         SELECT doc_id, n_bpe_tokens, (cb // 512)::BIGINT AS shard_id
         FROM c ORDER BY doc_id""",

    // q116: the written shard bytes, independently recomputed — q92's
    // recursive encode → frequency-ranked dense vocab (row_number over
    // the same agg) → q113's window-cumsum manifest at seqLen=128 →
    // list-slice assembly in seq_offset order → full sequences only (the
    // writer's explicit tail-drop). Spark's column reads shards OFF DISK,
    // so a byte-order/header/slice bug anywhere in the writer or reader
    // hash-mismatches here.
    "q116_token_shards" ->
      s"""WITH RECURSIVE
         $BPE_CTES,
         dtk AS (SELECT doc_id, flatten(list(syms ORDER BY ti)) AS subs
           FROM j GROUP BY doc_id),
         vagg AS (SELECT subword, count(*) AS n FROM (
             SELECT unnest(subs) AS subword FROM dtk) GROUP BY 1),
         vocab AS (SELECT subword,
             (row_number() OVER (ORDER BY n DESC, subword) - 1)::INT AS token_id
           FROM vagg),
         du AS (SELECT doc_id, unnest(subs) AS subword,
             unnest(range(1, len(subs) + 1)) AS pos FROM dtk),
         dti AS (SELECT du.doc_id, list(v.token_id ORDER BY du.pos) AS toks
           FROM du JOIN vocab v USING (subword) GROUP BY du.doc_id),
         t AS (SELECT doc_id, len(toks)::BIGINT AS w FROM dti),
         c AS (SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs FROM t),
         e AS (SELECT doc_id, gs::BIGINT AS gs, (gs + w)::BIGINT AS ge
           FROM c WHERE w > 0),
         x AS (SELECT doc_id, gs, ge,
             unnest(range(gs // 128, (ge - 1) // 128 + 1)) AS seq_id FROM e),
         mrow AS (SELECT seq_id, doc_id,
             greatest(seq_id * 128 - gs, 0)::BIGINT AS doc_offset,
             greatest(gs - seq_id * 128, 0)::BIGINT AS seq_offset,
             (least(ge, seq_id * 128 + 128) - greatest(gs, seq_id * 128))::BIGINT AS len
           FROM x),
         asm AS (SELECT m.seq_id, flatten(list(
               list_slice(dti.toks, m.doc_offset + 1, m.doc_offset + m.len)
               ORDER BY m.seq_offset)) AS toks
           FROM mrow m JOIN dti USING (doc_id) GROUP BY m.seq_id)
         SELECT seq_id, list_sum(toks)::BIGINT AS token_sum,
           md5(array_to_string(list_transform(toks, t -> t::VARCHAR), ' ')) AS token_fp
         FROM asm WHERE len(toks) = 128 ORDER BY seq_id""",

    // q120: the q116 recompute with the EOS separator appended per doc —
    // eos = count(vocab) (first id past the dense vocab), LEFT JOIN from
    // documents so an empty doc still emits its boundary token. n_eos =
    // boundaries per sequence (the attention-reset count).
    "q120_eos_pack" ->
      s"""WITH RECURSIVE
         $BPE_CTES,
         dtk AS (SELECT doc_id, flatten(list(syms ORDER BY ti)) AS subs
           FROM j GROUP BY doc_id),
         vagg AS (SELECT subword, count(*) AS n FROM (
             SELECT unnest(subs) AS subword FROM dtk) GROUP BY 1),
         vocab AS (SELECT subword,
             (row_number() OVER (ORDER BY n DESC, subword) - 1)::INT AS token_id
           FROM vagg),
         vv AS (SELECT count(*)::INT AS eos FROM vocab),
         du AS (SELECT doc_id, unnest(subs) AS subword,
             unnest(range(1, len(subs) + 1)) AS pos FROM dtk),
         dti AS (SELECT du.doc_id, list(v.token_id ORDER BY du.pos) AS toks
           FROM du JOIN vocab v USING (subword) GROUP BY du.doc_id),
         dte AS (SELECT d.doc_id,
             list_append(coalesce(dti.toks, []), vv.eos) AS toks
           FROM documents d LEFT JOIN dti USING (doc_id) CROSS JOIN vv),
         t AS (SELECT doc_id, len(toks)::BIGINT AS w FROM dte),
         c AS (SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs FROM t),
         e AS (SELECT doc_id, gs::BIGINT AS gs, (gs + w)::BIGINT AS ge
           FROM c WHERE w > 0),
         x AS (SELECT doc_id, gs, ge,
             unnest(range(gs // 128, (ge - 1) // 128 + 1)) AS seq_id FROM e),
         mrow AS (SELECT seq_id, doc_id,
             greatest(seq_id * 128 - gs, 0)::BIGINT AS doc_offset,
             greatest(gs - seq_id * 128, 0)::BIGINT AS seq_offset,
             (least(ge, seq_id * 128 + 128) - greatest(gs, seq_id * 128))::BIGINT AS len
           FROM x),
         asm AS (SELECT m.seq_id, flatten(list(
               list_slice(dte.toks, m.doc_offset + 1, m.doc_offset + m.len)
               ORDER BY m.seq_offset)) AS toks
           FROM mrow m JOIN dte USING (doc_id) GROUP BY m.seq_id)
         SELECT seq_id,
           len(list_filter(toks, t -> t = vv.eos))::BIGINT AS n_eos,
           list_sum(toks)::BIGINT AS token_sum,
           md5(array_to_string(list_transform(toks, t -> t::VARCHAR), ' ')) AS token_fp
         FROM asm CROSS JOIN vv WHERE len(toks) = 128 ORDER BY seq_id""",

    // q121: q113's manifest → full sequences → per-epoch seeded md5-prefix
    // permutation (ties on seq_id) + the i22 u2 address arithmetic —
    // the identical plan both engines derive.
    "q121_epoch_plan" ->
      s"""WITH t AS (SELECT doc_id, len($TOKS)::BIGINT AS w FROM documents),
         c AS (SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs FROM t),
         e AS (SELECT doc_id, gs::BIGINT AS gs, (gs + w)::BIGINT AS ge
           FROM c WHERE w > 0),
         x AS (SELECT doc_id, gs, ge,
             unnest(range(gs // 256, (ge - 1) // 256 + 1)) AS seq_id FROM e),
         m AS (SELECT seq_id,
             (least(ge, seq_id * 256 + 256) - greatest(gs, seq_id * 256))::BIGINT AS len
           FROM x),
         f AS (SELECT seq_id FROM m GROUP BY seq_id HAVING sum(len) = 256),
         ep AS (SELECT ee.epoch, f.seq_id FROM f
           CROSS JOIN (SELECT unnest(range(0, 2)) AS epoch) ee),
         o AS (SELECT epoch, seq_id,
             ${h60("'graft-r17e|' || epoch::VARCHAR || '|' || seq_id::VARCHAR")} AS h
           FROM ep)
         SELECT epoch::BIGINT AS epoch,
           (row_number() OVER (PARTITION BY epoch ORDER BY h, seq_id) - 1)::BIGINT
             AS position,
           seq_id,
           (seq_id // 64)::BIGINT AS shard,
           (32 + (seq_id % 64) * 256 * 2)::BIGINT AS byte_offset
         FROM o ORDER BY epoch, position""",

    // Shares HtmlExtract's RE2-compatible patterns verbatim (BlockTags is
    // the same constant); DuckDB regexp_replace needs the explicit 'g'
    // flag Spark applies by default.
    "q93_html_extract" ->
      s"""WITH base AS (SELECT doc_id,
           '<html><head><title>t</title><style>p{margin:0}</style><script>var x=1;</script></head><body><div class="nav"><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>'
           || CASE WHEN doc_id % 3 = 0
                THEN '<div class="ad"><a href="/buy">BUY NOW CLICK HERE</a></div>'
                ELSE '' END
           || '<p>' || replace(text, chr(10), '</p><p>') || '</p>'
           || '<div class="footer"><a href="/tos">Terms</a> (c) 2024 example</div></body></html>'
           AS html FROM documents),
         seg0 AS (SELECT doc_id, string_split(regexp_replace(regexp_replace(
             regexp_replace(html,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?is)</?(${graft.text.HtmlExtract.BlockTags})[^>]*>', chr(10), 'g'),
             chr(10)) AS bl FROM base),
         seg AS (SELECT doc_id, unnest(bl) AS raw,
             unnest(range(1, len(bl) + 1)) AS bi FROM seg0),
         cand AS (SELECT doc_id, bi,
             trim(${graft.text.HtmlExtract.decodeEntitiesDuck(
               "regexp_replace(raw, '<[^>]*>', '', 'g')")}) AS btext,
             coalesce(list_sum(list_transform(
               regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1),
               a -> len(trim(${graft.text.HtmlExtract.decodeEntitiesDuck(
                 "regexp_replace(a, '<[^>]*>', '', 'g')")})))), 0) AS link_len
           FROM seg),
         sc AS (SELECT doc_id, bi, btext, len(btext) AS text_len, link_len
           FROM cand WHERE len(btext) > 0),
         roll AS (SELECT doc_id, count(*) AS n_blocks,
             count(*) FILTER (WHERE keep) AS n_kept,
             coalesce(sum(text_len) FILTER (WHERE keep), 0) AS kept_chars,
             coalesce(string_agg(btext, chr(10) ORDER BY bi) FILTER (WHERE keep),
               '') AS main_text
           FROM (SELECT *, text_len >= 10 AND link_len * 100 <= text_len * 20
             AS keep FROM sc) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(r.n_blocks, 0)::BIGINT AS n_blocks,
           coalesce(r.n_kept, 0)::BIGINT AS n_kept,
           coalesce(r.kept_chars, 0)::BIGINT AS kept_chars,
           md5(coalesce(r.main_text, '')) AS main_fp
         FROM documents d LEFT JOIN roll r USING (doc_id) ORDER BY doc_id""",

    // q87's machinery extended with owner election + token-space rewrite:
    // the removal spans are EXACTLY q87's merge run over foreign (non-
    // owner) dup-gram positions, and the reassembly is a per-doc list
    // comprehension dropping removed positions.
    "q94_span_trim" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         posi AS (SELECT doc_id, toks, unnest(CASE WHEN len(toks) >= 8
             THEN range(1, len(toks) - 6) ELSE [] END) AS pos FROM tk),
         pg AS (SELECT doc_id, pos,
             ${h60("array_to_string(toks[pos:pos+7], ' ')")} AS h FROM posi),
         dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM pg)
           GROUP BY h HAVING count(*) >= 2),
         own AS (SELECT h, min(doc_id) AS owner FROM pg
           JOIN dup USING (h) GROUP BY h),
         hits AS (SELECT pg.doc_id, pos FROM pg JOIN own USING (h)
           WHERE pg.doc_id <> own.owner),
         brk AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
               THEN 1 ELSE 0 END AS b
           FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         grp AS (SELECT doc_id, pos, sum(b) OVER
             (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
           FROM brk),
         spans AS (SELECT doc_id, min(pos) AS span_start,
             max(pos) + 8 AS span_end, max(pos) + 8 - min(pos) AS span_tokens
           FROM grp GROUP BY doc_id, g),
         rem AS (SELECT doc_id, list(DISTINCT pos) AS poss FROM (
             SELECT doc_id, unnest(range(span_start, span_end)) AS pos
             FROM spans) GROUP BY doc_id),
         st AS (SELECT doc_id, count(*) AS n_spans,
             sum(span_tokens) AS removed_tokens FROM spans GROUP BY doc_id)
         SELECT tk.doc_id, len(tk.toks) AS n_tokens,
           coalesce(st.removed_tokens, 0)::BIGINT AS removed_tokens,
           coalesce(st.n_spans, 0)::BIGINT AS n_spans,
           md5(coalesce(array_to_string(
             [tk.toks[i] for i in range(1, len(tk.toks) + 1)
               if NOT list_contains(coalesce(rem.poss, []), i)],
             ' '), '')) AS trimmed_fp
         FROM tk LEFT JOIN rem USING (doc_id) LEFT JOIN st USING (doc_id)
         ORDER BY doc_id""",

    "q99_novelty" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS AS toks FROM documents),
         pg AS (SELECT DISTINCT doc_id,
             ${h60("array_to_string(toks[i:i+7], ' ')")} AS h
           FROM (SELECT doc_id, toks, unnest(CASE WHEN len(toks) >= 8
               THEN range(1, len(toks) - 6) ELSE [] END) AS i FROM tk)),
         own AS (SELECT h, min(doc_id) AS owner FROM pg GROUP BY h)
         SELECT doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END)::BIGINT AS n_novel,
           floor(sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) * 10000.0
             / count(*) + 0.5) / 10000.0 AS novelty_frac
         FROM pg JOIN own USING (h)
         GROUP BY doc_id ORDER BY doc_id""",

    "q89_gopher_filter" ->
      s"""WITH tk AS (SELECT doc_id, text, $TOKS AS toks,
             string_split(text, chr(10)) AS lines FROM documents),
         m AS (SELECT doc_id,
             len(toks) AS n,
             len(lines) AS n_lines,
             coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS sum_len,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             len(regexp_extract_all(text, '\\.\\.\\.')) AS n_dots,
             len(list_filter(lines, l -> starts_with(ltrim(l), '-')
               OR starts_with(ltrim(l), '*'))) AS n_bullet,
             len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS n_ellipsis,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
             len(list_filter(toks, t -> list_contains(
               ['the','be','to','of','and','that','have','with'], t))) AS n_stops
           FROM tk)
         SELECT doc_id, n AS n_tokens,
           (n >= 50 AND n <= 100000) AS words_ok,
           (sum_len >= n * 3 AND sum_len <= n * 10) AS word_len_ok,
           ((n_hash + n_dots) * 10 <= n) AS symbol_ok,
           (n_bullet * 10 <= n_lines * 9) AS bullet_ok,
           (n_ellipsis * 10 <= n_lines * 3) AS ellipsis_ok,
           (n_alpha * 5 >= n * 4) AS alpha_ok,
           (n_stops >= 2) AS stopword_ok,
           ((n >= 50 AND n <= 100000) AND (sum_len >= n * 3 AND sum_len <= n * 10)
             AND ((n_hash + n_dots) * 10 <= n) AND (n_bullet * 10 <= n_lines * 9)
             AND (n_ellipsis * 10 <= n_lines * 3) AND (n_alpha * 5 >= n * 4)
             AND (n_stops >= 2)) AS keep
         FROM m ORDER BY doc_id"""
  )

  /** en-stopword count over `toks` (used inside q24's oracle). */
  private lazy val ENSTOPS_COUNT =
    s"len(list_filter(toks, t -> list_contains($ENSTOPS, t)))"
}
