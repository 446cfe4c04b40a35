package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-length training-sequence packing (q113): the layout step between
  * a curated corpus and a pretraining dataloader — documents' tokens, in
  * id order, concatenate into back-to-back sequences of EXACTLY `seqLen`
  * tokens (the GPT-style "concat and chunk" convention; a document
  * straddling a boundary is split across consecutive sequences). q71
  * shards by token BUDGET keeping documents whole; this packs by exact
  * LENGTH, splitting — the two layouts a training stack actually writes.
  *
  * Output is the packing MANIFEST, not materialized tokens: one row per
  * (sequence, document) overlap — (seq_id, doc_id, doc_offset,
  * seq_offset, len) — which is precisely what a loader needs to assemble
  * sequence `seq_id` (read `len` tokens of `doc_id` starting at its
  * `doc_offset`, place them at `seq_offset`) and what attention-boundary
  * masking needs (each manifest row is one document span). Invariants
  * (spec-pinned): per-sequence `len` sums to exactly `seqLen` for every
  * sequence but the final partial one; per-document `len` sums to the
  * document's own token count; offsets tile both sides gaplessly.
  *
  * Scale shape: [[ShardPack.globalStarts]]' two-phase distributed prefix
  * sum (never a global single-partition window) + a per-document explode
  * bounded by ⌈weight/seqLen⌉+1 — scan-shaped, exact integer arithmetic
  * end to end (oracle-mirrorable).
  */
object SequencePack {

  /** `df` must carry unique non-negative long `idCol` and an integral
    * token-count `weightCol` (zero-token docs pack nowhere and are
    * dropped). `offset` continues a previous batch's global token total
    * — the q71 incremental hook.
    */
  def manifest(df: DataFrame, idCol: String, weightCol: String,
      seqLen: Long, bucketSize: Long = 1L << 20,
      offset: Long = 0L): DataFrame = {
    checkCols(df, idCol, seqLen)
    fromStarts(ShardPack.globalStarts(df, idCol, weightCol,
      "_gs", bucketSize, offset), idCol, weightCol, seqLen)
  }

  /** [[manifest]] under a DETERMINISTIC CORPUS SHUFFLE (q115): documents
    * pack in `hash60(seed ‖ '|' ‖ id)` order instead of id = crawl order,
    * so adjacent training sequences stop being correlated neighboring
    * pages. The q42/q58 integer-hash discipline — one sort key, no RNG,
    * bit-replayable from `seed` alone; ties (60-bit collisions are REAL
    * at 10¹⁰ docs) break on the id, so the permutation is total. Scale
    * shape unchanged: [[ShardPack.globalStartsBy]] buckets the hash
    * SPACE (`hashBucketWidth` = 2⁴⁰ → ~2²⁰ uniformly-filled buckets),
    * never a global single-partition sort.
    */
  def shuffled(df: DataFrame, idCol: String, weightCol: String,
      seqLen: Long, seed: String, hashBucketWidth: Long = 1L << 40,
      offset: Long = 0L): DataFrame = {
    checkCols(df, idCol, seqLen, extraReserved = Seq("_ord"))
    val w = df.withColumn("_ord",
      Cdm.hash60(concat_ws("|", lit(seed), col(idCol).cast("string"))))
    fromStarts(ShardPack.globalStartsBy(w, "_ord", idCol, weightCol,
      "_gs", hashBucketWidth, offset), idCol, weightCol, seqLen)
  }

  /** The per-sequence composition report of a manifest (q118): (seq_id,
    * n_docs, n_boundaries, max_span, min_span, full) — how many document
    * spans share each sequence (every boundary is an attention-mask
    * break). A pure rollup of the manifest.
    */
  def stats(manifest: DataFrame, seqLen: Long): DataFrame =
    manifest.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - 1).as("n_boundaries"),
        max(col("len")).as("max_span"),
        min(col("len")).as("min_span"),
        (sum(col("len")) === seqLen).as("full"))

  private def checkCols(df: DataFrame, idCol: String, seqLen: Long,
      extraReserved: Seq[String] = Nil): Unit = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    // the ShardPack clash discipline: withColumn would silently REPLACE a
    // same-named caller column (idCol = "seq_id" would lose every doc id)
    val reserved = Seq("_gs", "_ge", "_ss", "seq_id", "doc_offset",
      "seq_offset", "len") ++ extraReserved
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"input columns collide with SequencePack working/output names: ${clash.mkString(", ")}")
  }

  private def fromStarts(st: DataFrame, idCol: String, weightCol: String,
      seqLen: Long): DataFrame =
    st.filter(col(weightCol) > 0)
      .withColumn("_ge", col("_gs") + col(weightCol))
      // explode_outer + null filter (the MinHash.shingleRows dodge): plain
      // explode infers a size()>0 filter rebuilding the sequence per row.
      // weight > 0 makes the sequence non-empty; elements are never null.
      .withColumn("seq_id", explode_outer(sequence(
        call_function("div", col("_gs"), lit(seqLen)),
        call_function("div", col("_ge") - 1, lit(seqLen)))))
      .filter(col("seq_id").isNotNull)
      .withColumn("_ss", col("seq_id") * lit(seqLen))
      .select(col("seq_id"), col(idCol),
        greatest(col("_ss") - col("_gs"), lit(0L)).as("doc_offset"),
        greatest(col("_gs") - col("_ss"), lit(0L)).as("seq_offset"),
        (least(col("_ge"), col("_ss") + lit(seqLen)) -
          greatest(col("_gs"), col("_ss"))).as("len"))
}
