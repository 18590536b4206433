"""Default-run selection for the per-query oracle and plan tests.

The full registry sweep stays behind ``-m ""`` (pytest.ini); the
default run oracle-checks and plan-checks this committed set. It is
fixed on purpose: the same tests run on any checkout, whatever the
driver-state files (``CORRECTNESS_r*.json``, ``QUERY_HASHES.json``)
say, and restamping a query neither grows nor shrinks the default run.
A query whose code changed is verified by running its oracle directly
(``pytest tests/test_oracle.py -m "" -k <name>``) or by the full sweep.

The set was taken from the round-15 rotation: the 50 stalest-verified
queries plus the 17 restamped after their last green driver row.
"""

from __future__ import annotations

SMOKE = frozenset({
    "ann_topk_int8",
    "bm25_incremental",
    "bm25_pruned",
    "bm25_pruned_idx",
    "bm25_pruned_kw",
    "bm25_topk",
    "bm25_topk_kw",
    "corpus_cms_freq",
    "corpus_curate",
    "corpus_distinct_sketch",
    "corpus_expectations",
    "corpus_gate_report",
    "corpus_length_hist",
    "corpus_mixture_plan",
    "corpus_sketch_incremental",
    "corpus_vocab",
    "corpus_vocab_drift",
    "cube_counts",
    "dedup_bloom_gate",
    "dedup_containment",
    "dedup_embedding",
    "dedup_embedding_signlsh",
    "dedup_minhash_incremental",
    "dedup_ngram_coverage",
    "dedup_semantic_text",
    "dedup_signlsh_recall",
    "dedup_simhash64_pairs",
    "dedup_substring_runs",
    "dedup_winnow_pairs",
    "embedding_quantize",
    "hybrid_rrf",
    "lm_pruned",
    "lm_pruned_idx",
    "lm_pruned_kw",
    "lm_topk",
    "lm_topk_kw",
    "multimodal_frame_sample",
    "pipeline_ingest_e2e",
    "pivot_status_priority",
    "quantiles",
    "rollup_counts",
    "sample_balance_langs",
    "sample_mixture",
    "sample_shuffle_order",
    "sample_stratified_cap",
    "sample_temperature",
    "sample_token_budget",
    "sample_weighted",
    "serve_pubsub_e2e",
    "session_window_stats",
    "sessionize",
    "set_ops",
    "streaming_bounds_e2e",
    "streaming_cms_e2e",
    "streaming_ingest_e2e",
    "streaming_postings_e2e",
    "text_chunks",
    "text_gopher_rules",
    "text_hash_embed",
    "text_nb_eval",
    "text_nb_quality",
    "text_quality_gate",
    "text_surprisal",
    "text_winnow",
    "topk_per_group",
    "window_hourly",
    "window_sliding",
})
