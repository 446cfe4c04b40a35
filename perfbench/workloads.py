"""What each workload runs, at what scale, on how many cores."""

import os

# local[nproc]: every core the process may run on
CPUS = len(os.sched_getaffinity(0))

# Family of every SparkEntry.queries entry, as `Harness --workload classify`
# observes it: "llm" when the query cannot be built and materialized without
# the `documents` or `embeddings` table, "etl" when the relational tables
# suffice. tests/test_workloads.py re-derives it and fails on any drift.
ETL = [
    "q01_pricing_summary", "q02_cdm_normalize", "q03_quarantine",
    "q04_dedup_latest", "q05_scd2_snapshot", "q06_star_agg", "q07_fact_enrich",
    "q08_topn_per_group", "q09_rollup", "q10_pivot", "q11_anti_join",
    "q12_union_harmonize", "q13_incremental_watermark", "q14_latest_rate",
    "q15_surrogate_hash", "q16_time_bucket", "q17_sessionize",
    "q18_running_balance", "q31_scd2_merge", "q32_quarantine_split",
    "q33_json_extract", "q34_fx_convert", "q36_medallion", "q37_asof_join",
    "q38_range_join", "q44_skew_agg", "q45_profile", "q46_cube", "q47_moving_avg",
    "q49_distinct_agg", "q50_fuzzy_join", "q51_semi_join", "q52_ntile",
    "q53_funnel", "q54_approx_profile", "q57_histogram", "q60_interval_merge",
    "q61_snapshot_diff", "q62_incremental_agg", "q63_golden_record", "q75_pagerank",
    "q76_copurchase", "q77_gap_fill", "q78_rolling_distinct",
    "q79_cohort_retention", "q80_transition_matrix",
]
LLM = [
    "q19_dedup_exact", "q20_ngram_jaccard", "q21_minhash_lsh", "q22_simhash",
    "q23_langid", "q24_quality_score", "q25_token_count", "q26_fingerprint",
    "q27_ann_bruteforce", "q28_ann_lsh", "q29_embed_centroid",
    "q30_multimodal_meta", "q35_dedup_cosine", "q39_dup_clusters", "q40_chunk",
    "q41_redact", "q42_stratified_sample", "q43_ann_ivf", "q48_frame_sample",
    "q55_kmeans_cells", "q56_tfidf", "q58_quality_sample", "q59_crosscorpus_dedup",
    "q64_keep_best", "q65_curate", "q66_winnow", "q67_containment",
    "q68_containment_prune", "q69_decontaminate", "q70_repetition",
    "q71_shard_pack", "q72_chunk_dedup", "q73_ann_ivfpq", "q74_bigram_logprob",
    "q81_mixture_sample", "q82_line_dedup", "q83_source_overlap",
    "q84_quality_cutoff", "q85_boilerplate_grams", "q86_semdedup", "q87_span_dedup",
    "q88_bloom_decontaminate", "q89_gopher_filter", "q90_contamination_spans",
    "q91_corpus_report", "q92_bpe_encode", "q93_html_extract", "q94_span_trim",
    "q95_bpe_train", "q96_bpe_pack", "q97_contamination_trim",
    "q98_temperature_sample", "q99_novelty", "q100_quality_classifier",
    "q101_image_dhash", "q102_url_curate", "q103_mixture_upsample",
    "q104_langid_learned", "q105_link_graph", "q106_host_rank",
    "q107_crawl_frontier", "q108_anchor_text", "q109_collocations",
    "q110_pca_project", "q111_audio_dedup", "q112_unigram_lm", "q113_sequence_pack",
    "q114_nfc_normalize", "q115_corpus_shuffle", "q116_token_shards",
    "q117_frontier_budget", "q118_pack_stats", "q119_curation_funnel",
    "q120_eos_pack", "q121_epoch_plan", "q122_image_gate", "q123_audio_gate",
    "q124_ann_hnsw", "q125_change_feed", "q126_dv_read",
]
FAMILY = {**{q: "etl" for q in ETL}, **{q: "llm" for q in LLM}}

# Which engine layer a query's task time is charged to: the module of the
# catalog object that defines it; ExtQueries entries go by family.
def layer_module(name, defining):
    if defining == "core":
        return "ops"
    if defining == "ext":
        return "ops" if FAMILY[name] == "etl" else "text"
    return defining


WORKLOADS = {
    "catalog": {"sf": 0.002, "passes": 4, "queries": [
        # etl: an aggregate over lineitem, a left-join fact enrichment with a
        # broadcast dimension, an as-of join (window)
        "q01_pricing_summary", "q07_fact_enrich", "q37_asof_join",
        # llm: a family cache (q20 builds the signature q21 reuses), a one-task
        # text kernel over the single-row-group documents scan, ANN (sim)
        "q20_ngram_jaccard", "q21_minhash_lsh", "q26_fingerprint", "q28_ann_lsh"]},
    "medallion_incremental": {"batches": 5, "warmup": 1, "rows_per_bank": 400},
}
