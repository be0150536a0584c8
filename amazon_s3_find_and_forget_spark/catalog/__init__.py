"""The engine's query catalog, split by family.

Each family module pairs PySpark implementations (built from the
engine's operators) with ANSI-SQL oracles DuckDB can run over the same
parquet tables; this package assembles them into the driver-facing
``QUERIES`` / ``ORACLES`` registries in an explicit gate order.

Cross-engine determinism rules used throughout the families:
- never hash-compare raw double AGGREGATES: per-row doubles are identical
  in both engines, but double SUM order is not — so sums are taken over
  per-row casts to DECIMAL (exact, order-independent), and double
  divisions happen after, on identical inputs, rounded;
- LIMIT queries always carry a unique tie-break key;
- window/sort queries never order by a nullable key without excluding
  NULLs (the engines default NULLs to opposite ends of a sort);
- approximate operators (seeded LSH/IVF) cannot be value-replicated in
  SQL, so their GATE entries are one-row summaries of deterministic
  quality claims; the raw row-set queries remain registered past the
  gate window as rows-only checks.
"""

from __future__ import annotations

from . import dedup, events, findforget, similarity, text, tpch
from .loader import TABLES, _dec2dbl, _floatsafe, load  # noqa: F401
from .findforget import MATCH_ORDERKEYS  # noqa: F401

_FAMILIES = (findforget, tpch, events, text, dedup, similarity)

# The driver hash-gates the FIRST 50 registry entries each round; this
# list IS the gate window. Round-13 rotation: dedup_span_mask (the
# mask-mode reassembly kernel — distinct CASE path from the gated cut
# mode) promoted in per the every-new-row rule; the new
# dedup_components_minhash (transitive clustering over the scale-viable
# MinHash pair source) and text_token_count_bpe (tokenizer-exact BPE
# counts, full value oracle) promoted in the same way; long-stable
# r12-green tpch_q7, tpch_q11 and text_train_split rotate out to the
# tail (still sweep-checked every round). Late round-13 additions:
# text_dsir_weights + text_dsir_sample (DSIR hashed-n-gram importance
# resampling, both full value oracles incl. the Gumbel draw) enter the
# window; text_gopher_quality (Gopher rule filters, full value oracle)
# text_quality_classifier (GPT-3-style classifier, claim-gated like
# the *_recall rows) and dedup_decontaminate_spans (span-level
# benchmark decontamination, full value oracle) likewise; long-stable
# events_hourly, orders_running_total, tpch_q6, events_window_variants,
# similarity_quantize and text_redact rotate to the tail, as does
# similarity_pca_quality's slot donor (exact distributed PCA enters
# with its Eckart-Young claim gate).
# Round-14 rotation: ALL five round-14 rows enter the window per the
# standing every-new-row rule — text_curation_pipeline_v2 (near-dup
# composed pipeline, corpus-adaptive full value oracle; ask #3),
# dedup_decontaminate_mask (mask-mode decontamination, every-kernel
# rule; ask #7), dedup_paragraphs (C4/Dolma paragraph-level dedup,
# full value oracle over a deterministically paragraph-ized corpus),
# similarity_prototype_prune (Sorscher density pruning, claims gate),
# and text_temperature_mixture (T5/XLM-R alpha-sampling, full value
# oracle with IEEE-exact cross-engine rate math). Long-stable
# text_balanced_sample, dedup_exact_groups, text_exact_mixture,
# events_heavy_hitters, and dedup_shared_ngrams rotate to the tail
# (all still swept; exact-dedup stays gated through
# dedup_incremental_exact and both curation pipelines). Late round-14:
# similarity_llm_pipeline (the composed PCA -> prototype-prune ->
# SemDeDup embedding pipeline, claims-gated) enters;
# orders_quantile_sketch rotates to the tail. text_bpe_train (corpus-
# trained BPE merge table, claims-gated: one distributed vocabulary
# cut + bounded driver loop) enters; events_interval_counts to the
# tail.
# Round-15 rotation: dedup_exact_substrings + dedup_exact_substrings_mask
# (ExactSubstr, Lee et al. 2021 — variable-length verbatim repeat
# removal via the window-tiling algebra, hash-counted + string-
# verified; both reassembly modes per the every-kernel rule; full
# value oracles) enter the window; long-stable dedup_ngram_pairs and
# text_token_count rotate to the tail (both still swept every round;
# the n-gram pair kernel stays gated through dedup_components and the
# token counter through text_token_count_bpe). dedup_incremental_bloom
# (Dolma-style bounded-memory Bloom screening, claims gate: subset/
# fp-bound/fill/update contracts) also enters; long-stable
# text_length_percentiles rotates to the tail. Late round-15:
# dedup_top_repeats (the Lee-et-al memorization-audit table — top-k
# most-repeated verbatim windows, full value oracle incl. the window
# text) enters; long-stable events_topn_per_user to the tail (its
# top-k-with-ties family stays gated via jobs_top_k + tpch LIMIT rows).
# Round-16 rotation — oldest-first POLICY (r15 verdict ask #5): the
# ledger of every row's last-gated round is now computed from the
# CORRECTNESS_r*.json artifacts (tools/gate_ledger.py; table in
# COVERAGE.md) and the window is rebuilt each round as
#   (a) the nine S2 erasure-parity core rows — the product contract,
#       gated EVERY round by standing rule;
#   (b) this round's new rows (every-new-row rule): text_url_screen,
#       dedup_exact_substrings_bpe, dedup_exact_substrings_bpe_mask,
#       and (late r16) text_c4_clean — the C4 SS2.2 line+page cleaning
#       stage, full value oracle over a deterministically line-ized
#       hazard-injected corpus; tpch_q3 of the stale cohort yields its
#       slot to the tail (the joins it covers stay gated via tpch_q5's
#       lane cell and the in-window q1/q2/q12/q20/q21);
#   (c) the 38 longest-un-gated oracle-backed rows, oldest first —
#       this round that is exactly the round-7 cohort (38 rows, all
#       sweep-green at two scale factors every round since).
# With ~140 registry rows and a fixed 50-row window, the policy cycles
# the whole oracle-backed catalog through the DRIVER's independent
# gate within ~3 rounds (the full-catalog ORACLE_SWEEP artifacts cover
# every row every round regardless); rows-only approximate row-set
# queries stay in the tail — their quality is what the *_recall /
# *_complete claims rows gate. r15's four rotations (exact_substrings,
# _mask, incremental_bloom, top_repeats) and the rest of the r13-r15
# window rotate to the tail with their last-gated rounds on ledger.
# Round-17 rotation — the gate-rotation DEBT payment (r16 verdict ask
# #3): no new rows this round at rotation time, so all 41 non-core
# slots go to the longest-un-gated full-oracle rows — tpch_q3 (r7),
# the complete r9 cohort (events_cube/moving_avg/pivot/rollup + ten
# tpch), text_fingerprint/text_pack (r10), tpch_q8/q9 (r11), the
# eleven r12 rows, the seven r13 rows, and the four r14 rows. After
# this window NO full-oracle row is un-gated longer than r15 —
# clearing the ledger's >4-round debt in one window. The entire r16
# window (except the nine core rows) rotates to the tail at one round
# stale — the freshest possible rotation. Late round-17: one new row,
# text_pareto_filter (the GPT-3 Pareto keep rule over a FIXED literal
# model — upgrades the scoring+draw kernel from claims-only to a FULL
# value oracle; training stays claims-gated via
# text_quality_classifier) enters per the every-new-row rule; the
# newest stale-cohort row (text_token_count, r14, its counting kernel
# still gated through text_token_count_bpe) yields its slot to the
# tail and fronts the r18 queue.
GATE_ORDER = [
    "find_rows_simple",
    "find_files_simple",
    "forget_survivors_simple",
    "forget_redact_simple",
    "forget_survivors_composite",
    "forget_survivors_json",
    "find_rows_composite",
    "find_rows_nested",
    "find_rows_decimal",
    "tpch_q3",
    "events_cube",
    "events_moving_avg",
    "events_pivot",
    "events_rollup",
    "tpch_q10",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q22",
    "tpch_q4",
    "text_fingerprint",
    "text_pack",
    "tpch_q8",
    "tpch_q9",
    "events_hourly",
    "events_window_variants",
    "orders_running_total",
    "similarity_quantize",
    "text_mixture",
    "text_redact",
    "text_train_order",
    "text_train_split",
    "tpch_q11",
    "tpch_q6",
    "tpch_q7",
    "dedup_exact_groups",
    "dedup_shared_ngrams",
    "events_heavy_hitters",
    "events_interval_counts",
    "orders_quantile_sketch",
    "text_balanced_sample",
    "text_exact_mixture",
    "dedup_ngram_pairs",
    "events_topn_per_user",
    "text_selection_pipeline",
    "text_pareto_filter",
]

# Past the gate: every oracle-backed row here is still checked every
# round by tools/check_oracle.py at two scale factors; last-gated
# rounds are on the COVERAGE.md ledger. Raw approximate row-set
# queries (seed-dependent; quality gated via their claims rows) sit at
# the end.
TAIL_ORDER = [
    "text_token_count",
    "text_length_percentiles",
    "text_url_screen",
    "dedup_exact_substrings_bpe",
    "dedup_exact_substrings_bpe_mask",
    "dedup_exact_survivors",
    "dedup_simhash_complete",
    "documents_source_rollup",
    "events_asof_attribution",
    "events_funnel",
    "events_funnel_by_segment",
    "events_funnel_timing",
    "events_json_extract",
    "events_retention",
    "events_retention_by_segment",
    "events_sessions",
    "events_value_histogram",
    "events_watermark_page",
    "job_stats_fold",
    "jobs_top_k",
    "lineitem_basket_pairs",
    "lineitem_quality_checks",
    "multimodal_features",
    "multimodal_frame_sample",
    "orders_cohort_revenue",
    "orders_rfm",
    "similarity_batch_recall",
    "similarity_cosine",
    "similarity_ivf_recall",
    "similarity_lsh_recall",
    "similarity_pq_recall",
    "text_ccnet_buckets",
    "text_chunks",
    "text_lang_id",
    "text_quality",
    "text_tfidf",
    "text_unigram_nll",
    "tpch_q1",
    "tpch_q12",
    "tpch_q2",
    "tpch_q20",
    "tpch_q21",
    "text_c4_clean",
    "dedup_paragraphs",
    "dedup_minhash_recall",
    "semantic_dedup_complete",
    "dedup_components",
    "embedding_near_dups_recall",
    "embedding_incremental_complete",
    "similarity_ivfpq_recall",
    "text_stratified_sample",
    "dedup_exact_substrings",
    "similarity_prototype_prune",
    "tpch_q5",
    "text_temperature_mixture",
    "dedup_span_removal",
    "dedup_span_mask",
    "dedup_decontaminate_spans",
    "dedup_decontaminate_mask",
    "dedup_components_minhash",
    "events_distinct_sketch",
    "similarity_llm_pipeline",
    "dedup_incremental_exact",
    "dedup_incremental_complete",
    "text_contamination",
    "text_repetition",
    "text_dsir_weights",
    "text_dsir_sample",
    "text_gopher_quality",
    "text_quality_classifier",
    "text_llm_pipeline",
    "text_bigram_nll",
    "dedup_exact_substrings_mask",
    "text_token_count_bpe",
    "dedup_incremental_bloom",
    "dedup_top_repeats",
    "text_bpe_train",
    "embedding_near_dups_exact",
    "events_variant_extract",
    "similarity_batch_topk_exact",
    "similarity_pca_quality",
    "similarity_topk",
    "text_curation_pipeline",
    "text_curation_pipeline_v2",
    "similarity_pq_topk",
    "dedup_minhash_survivors",
    "dedup_minhash_survivors_t08",
    "dedup_simhash_pairs",
    "dedup_clusters_minhash",
    "similarity_ivf_topk",
    "similarity_lsh_topk",
    "similarity_batch_topk",
    "embedding_near_dups",
]


def _assemble():
    merged, oracles = {}, {}
    for fam in _FAMILIES:
        overlap = merged.keys() & fam.QUERIES.keys()
        assert not overlap, f"duplicate catalog keys: {sorted(overlap)}"
        merged.update(fam.QUERIES)
        oracles.update(fam.ORACLES)
    order = GATE_ORDER + TAIL_ORDER
    assert sorted(order) == sorted(merged), (
        sorted(set(order) ^ set(merged))
    )
    # every catalog entry goes through the decimal->double final
    # projection so no DecimalType ever reaches the driver's hasher
    return {n: _floatsafe(merged[n]) for n in order}, oracles


QUERIES, ORACLES = _assemble()

# Rows only the derived bench lanes time: their corpora (``documents_v2``)
# exist only in derived scale dirs, so they are not in ``QUERIES`` or
# the sweep.
LANE_QUERIES = {"dedup_simhash_pairs_v2": dedup.q_dedup_simhash_pairs_v2}


def query(name: str):
    """The catalog query ``name``, a lane-only one included."""
    return QUERIES[name] if name in QUERIES else LANE_QUERIES[name]
