"""Central query registry.

Every operator/query the engine claims is registered here once, pairing
  * a Spark implementation  (SparkSession, sf_dir) -> DataFrame
  * an ANSI-SQL oracle string DuckDB can run on the same parquet tables
    (None for genuinely non-SQL-expressible ops — the driver then records a
    weaker rows-only check).

Column names are aliased identically on both sides: the correctness harness
sorts columns by name before value-hashing (driver contract in
/root/repo/__spark_entry__.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None
    headline: bool = False  # included in bench.py's timed set
    doc: str = ""


QUERIES: dict[str, Query] = {}


def register(
    name: str, oracle: str | None, headline: bool = False, doc: str = ""
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, headline=headline, doc=doc)
        return fn

    return deco


# The correctness harness verifies a 50-query PREFIX of the registry per
# round. This list pins that prefix explicitly (module import order alone
# left 4 queries never checked in any round — VERDICT.md r03 item 5).
#
# Rotation policy (bounds staleness, ADVICE r04 item 4): each round the
# prefix holds (a) every query whose code or oracle CHANGED this round,
# (b) the families with the OLDEST last-green driver record, (c) a few
# stable greens rotated back in on a schedule. Round 5 therefore swaps the
# round-4 prefix (all freshly green in CORRECTNESS_r04.json) out for the
# 45 queries whose last driver record was round 1 — the whole TPC-H
# family, window/set-op/scalar/array/date/percentile — especially
# q12_priority_by_class, whose only driver record was an r01 hash-FAIL
# (fixed in round 2, never driver-re-checked since), plus
# q_approx_distinct_parts (now hash-checkable), q_stream_mq_wordcount
# (new VALUES oracle), q_stream_decontaminate (restructured onto
# foreachBatch), and the 7 operators ADDED this round (never
# driver-checked — highest priority per tools/rotation_plan.py). Four
# r01 greens whose FAMILY keeps other members in the prefix
# (q_top_customers, q_union_high_value, q_window_running_total,
# q_right_join_order_coverage) wait one more round to make room. Union
# coverage across rounds stays complete: everything rotated out is green
# in CORRECTNESS_r04.json or r01 + re-verified locally this round.
#
# Late-round-5 additions (PII redaction ×2, runtime-filter join, TF-IDF,
# chunking, JSONL roundtrip) take never-checked priority; six more stable
# r01 greens with in-prefix family cover step aside for them
# (q_semi_join_priority, q_distinct_parts_per_flag, q_array_functions,
# q_events_global_stats, q_window_order_gaps, q_cube_orders — each
# locally re-verified via tools/check_oracles.py this round).
#
# ROUND-6 prefix (executes VERDICT r05 item 1 / the round-5 ROTATION
# PLAN): the 23 queries with NO driver record in any round go first —
# after this round's driver run, union driver coverage reaches 144/144.
# Next: the 3 queries whose code changed this round and therefore must be
# driver-RE-checked even though they were green in r05 (substring spans
# gained the DISK_ONLY window-hash persist; compaction the self-sizing
# default; jsonl the fixed work_dir). Then the 10 r01-stale greens that
# stepped aside in round 5, then the 13 r03-stale queries (the oldest
# remaining records), then 1 r04 green to fill 50. Everything displaced
# (the whole r05-checked block) stays green in CORRECTNESS_r05.json.
#
# ROUND-7 ROTATION PLAN (machine-checked against CORRECTNESS_r01..r05 +
# this round's registry; regenerate with tools/rotation_plan.py):
#   1. The 17 queries added after the round-6 prefix froze — never
#      driver-checked, all green under the local mirror at sf0.001 AND
#      sf0.01: q_dedup_rerank_cosine, q_sample_weighted_per_source,
#      q_pipeline_end_to_end, q_attribution_last_view,
#      q_manifest_row_deletes, q_manifest_snapshot_diff,
#      q_cdf_incremental_consumer, q_manifest_partition_evolution,
#      q_stream_manifest_ingest, q_stream_kmeans_assign,
#      q_gapfill_user_daily, q_ab_experiment_readout, q_gapfill_locf,
#      q_funnel_time_to_convert, q_stream_funnel_stateful,
#      q_stream_mq_to_manifest, q_stream_gram_counts_mv — plus the two
#      post-freeze additions q_event_transitions, q_vocab_coverage and
#      q_session_paths_topk, q_join_key_skew_report and
#      q_dedup_cross_source_matrix (all locally green at sf0.001 AND
#      sf0.01).
#   2. The 12 r03-stale queries displaced late in round 6
#      (q_range_join_acctbal, q_bucketed_join_revenue, q_text_normalize,
#      q_text_lang_agg, q_mix_upsample, q_pack_sequences,
#      q_text_fingerprint, q_text_bpeish_tokens,
#      q_multimodal_frame_sample, q_text_quality,
#      q_multimodal_binary_meta, q_udf_scalar_tokens — all green in
#      CORRECTNESS_r03.json and under the local mirror).
#   3. The 16 queries round 7 ADDED (never driver-checked, highest
#      priority) — they take the remaining slots, so the 48 r04-stale
#      queries (dedup/ANN/streaming/UDF families) wait one more round;
#      their last driver records are green and their code is unchanged.
# ROUND-8 prefix (executes VERDICT r07 item 1 / the round-7 ROTATION
# PLAN): lead with the 3 queries round 8 ADDED (never driver-checked)
# and the 8 whose code or oracle CHANGED this round (temperature mixing
# moved to 128-bit apportionment; fertility gained NULLIF guards; vocab/
# KL/skew materialize-and-unpersist; manifest-compact's content-equality
# assert; attribution's MTA_MAX_TOUCHES cap; the LSH index gained the
# label payload that q_ann_lsh_persisted now reads). Then the 2 r03-stale
# records (the oldest anywhere), then 37 of the 48 r04-stale queries,
# oldest families first per the round-7 plan: dedup, ANN, mq/streaming,
# UDF. Eleven r04 greens wait one more round to make room, each with
# family cover in-prefix or fresh-sibling cover: q_dedup_ngram_jaccard +
# q_dedup_minhash_lsh (the new q_dedup_incremental_minhash re-exercises
# the identical shingle/minhash/verify machinery; 4 dedup siblings stay
# in), q_stream_rate_source (13 streaming siblings stay in),
# q_events_json_extract / q_events_sliding_6h / q_events_pivot_daily
# (tumbling_1d + sessionize stay in), q_wordcount_topk (bench-exercised
# every round + q_stream_mq_wordcount r05-green), q_fuzzy_source_pairs,
# q_mqlog_roundtrip, q_map_functions, q_partition_pruned_day — plus,
# for the two late round-8 additions (multiprobe ANN, chunk dedup),
# q_stream_sliding_6h and q_stream_static_join (11 streaming siblings
# stay in) — and for q_bpe_pair_counts, q_multimodal_decode
# (frame-sample + binary-meta siblings are r07-green). All fourteen
# stay green in CORRECTNESS_r04.json — as does q_dedup_simhash,
# deferred for the late anomaly-zscore addition (dedup family keeps
# exact/cosine/clusters in-prefix plus the three new round-8 dedup
# members), and q_embedding_quantize, deferred for the balanced-
# sharding addition (a pure projection; 4 ANN siblings stay in plus
# the new multiprobe and the re-checked persisted index). Query-level code is unchanged
# for eleven of them; the three deferred STREAMING queries
# (rate_source, sliding_6h, static_join) were touched only by the
# shared checkpoint-path helper (_ckpt), and the 11 in-prefix
# r04-stale streaming queries (plus the new
# q_stream_dedup_incremental) exercise exactly those changed lines, so the
# shared-plumbing change is driver-re-checked through them. All 14
# were also green in this round's local full battery (199/199 at
# sf0.01, BASELINE.md round-8 closing block).
#   ROUND-9 ROTATION PLAN: lead with the two post-freeze round-8
#   additions (q_batch_padding_audit, q_stream_anomaly_zscore,
#   q_corpus_drift_psi —
#   never driver-checked; both locally green at sf0.001 AND sf0.01)
#   and anything round 9 adds or edits, then the deferred r04-stale
#   queries above (now also q_dedup_simhash, q_embedding_quantize)
#   (q_dedup_ngram_jaccard, q_dedup_minhash_lsh, q_stream_rate_source,
#   q_stream_sliding_6h, q_stream_static_join, q_events_json_extract,
#   q_events_sliding_6h, q_events_pivot_daily, q_wordcount_topk,
#   q_fuzzy_source_pairs, q_mqlog_roundtrip, q_map_functions,
#   q_partition_pruned_day, q_multimodal_decode), then the r05-stale
#   block (the round-5 additions: PII, runtime-filter, TF-IDF,
#   chunking, JSONL, BM25, DSIR, heavy hitters, quality gates), then
#   r06-stale.
# ROUND-10 PREFIX (executes the round-9 rotation plan above — round 9 was
# cut short after 36 turns and re-ran the round-8 prefix, so the plan
# carries over — plus this round's additions/changes; regenerate the
# staleness base with tools/rotation_plan.py):
#   1. The never-driver-checked queries: the 3 post-round-8 additions
#      (q_batch_padding_audit, q_stream_anomaly_zscore, q_corpus_drift_psi),
#      the 2 early round-10 additions (q_dedup_index_compact,
#      q_hard_negative_ann_sampled), the 4 round-10 quota/drift additions,
#      and the 8 mid-round-10 additions (profiling, skew-safe distinct,
#      compaction planning, containment dedup, JL random projection,
#      streaming heavy hitters, matryoshka recall, conversion-within-
#      window) — all locally green at sf0.001 AND sf0.01.
#   2. Code changed since its last driver record: q_stream_dedup_incremental
#      (round-9 batch-keyed idempotent fold + round-10 helper extraction;
#      its r09 record predates the extraction), q_funnel_stages (round-9
#      bounded conditional-min rewrite; last record r06), and the four
#      persist-lifetime fixes q_gapfill_user_daily, q_gapfill_locf,
#      q_manifest_snapshot_diff, q_cdf_incremental_consumer (round-10
#      persist -> eager localCheckpoint; last records r07).
#   3. The 16 r04-stale records (the oldest anywhere; deferred twice).
#   4. r05-stale, oldest families first, to fill 50: text-quality/
#      retrieval/curation round-5 additions, then streaming round-5
#      additions, then the r05 TPC-H/window/set-op block. Everything
#      displaced stays green in CORRECTNESS_r08/r09.json.
_PRIORITY: tuple[str, ...] = (
    # ==== ROUND-18 PREFIX ===============================================
    # (executes VERDICT r17 item 8's rotation plan: queries whose code or
    # executed plan changed this round first, then ALL 44 r11-stale
    # records oldest-first per tools/rotation_plan.py — after the r18
    # driver run no record is older than r12)
    # -- code changed this round: the gram-count MV fold (one-scan bucket
    #    merge + volume-derived per-trigger width) -----------------------
    "q_stream_gram_counts_mv",
    # -- executed plan changed this round (tp()'s input-derived spread:
    #    RoundRobinPartitioning 32 -> 10/13 under every documents/
    #    embeddings compute path) — re-check one representative per
    #    affected family even where the record is fresh ------------------
    "q_heavy_hitters_2gram",
    "q_pipeline_end_to_end",
    "q_semantic_kmeans",
    "q_lm_perplexity",
    "q_dedup_substring_spans",
    # -- ALL 44 remaining r11-stale records, rotation-plan order — after
    #    this round the oldest record anywhere is r12 --------------------
    "q_bm25_topk",
    "q_tfidf_topterms",
    "q_dsir_importance",
    "q_chunk_documents",
    "q_runtime_filter_join",
    "q_stream_mq_wordcount",
    "q_stream_decontaminate",
    "q_stream_quality_gate",
    "q_stream_pii_redact",
    "q_percentiles_price",
    "q_wordcount_topk",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q_anti_join_idle_customers",
    "q_outer_join_nation_customers",
    "q_rollup_returns",
    "q_grouping_sets_sql",
    "q_approx_distinct_parts",
    "q_setops_active_customers",
    "q_window_top_parts_per_brand",
    "q_window_rank_dense_ntile",
    "q_scalar_functions",
    "q_date_functions",
    "q_subquery_above_avg",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q9_profit_by_nation",
    "q10_returned_items",
    "q13_order_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "q22_sales_opportunity",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q11_important_parts",
    "q12_priority_by_class",
    "q16_supplier_diversity",
    "q20_heavy_promo_shippers",
    "q21_waiting_suppliers",
)
# The ROUND-17 prefix this replaces (all 50 green in CORRECTNESS_r17.json):
# the 16 round-17 additions (PQ/BQ delete pairs, the BQ index lifecycle,
# time-sliced co-presence, dim-columnar zipper serving, filtered ANN,
# binary IVF), 7 r17-changed re-checks and 27 r10/r11-stale records —
# see CORRECTNESS_r17.json for the exact list.
# The ROUND-16 prefix this replaces (all 50 green in CORRECTNESS_r16.json):
# the 14 round-16 additions (coarse/residual-grid refresh, dim-columnar
# refresh, streaming co-presence + bin-index compaction, SQ8 + residual
# delete pairs, nprobe sweep, binary quantization trio); the 12
# r16-changed re-checks (the parameterized lifecycle trios, grow/health
# on shared builders, bin sweep, persisted residual serving); and 24
# r10-stale records — see CORRECTNESS_r16.json for the exact list.
# The ROUND-15 prefix this replaces (all 50 green in CORRECTNESS_r15.json):
# the 13 round-15 additions (SQ8 + residual-SQ8 lifecycles, SQ8 grid
# refresh, overlap hot-bins + bin sweep, persisted MaxSim, SQ8 refine,
# residual IVF-SQ8 + persisted serving); the 3 r15-changed re-checks
# (decontaminate_bloom, retrieval_maxsim, sessions_overlap_pairs); and
# ALL 34 r09-stale records — see CORRECTNESS_r15.json for the exact list.
# The ROUND-14 prefix this replaces (all 50 green in CORRECTNESS_r14.json):
# the 16 round-14 additions (bpe_tokenize_oov_persisted, pq_index_health,
# stream_pq_residual_index_grow, pq_residual_index_compact,
# pq_coarse_refresh, ann_ivf_pq_refine, ann_sq8_topk, ann_sq8_recall,
# decontaminate_bloom, pq_residual_index_health, manifest_time_travel,
# ann_ivf_sq8, retrieval_maxsim, ann_sq8_persisted, sq8_grid_drift,
# sessions_overlap_pairs); the 7 r14-changed re-checks (tokenize family,
# frame dedup, PQ grow/compact, persisted residual serving); the 12
# r07-stale records; and 15 r09-stale records — see CORRECTNESS_r14.json
# for the exact list.
# The ROUND-13 prefix this replaces (all 50 green in CORRECTNESS_r13.json):
# the 7 round-13 additions (bpe_tokenize_persisted, stream_pq_index_grow,
# ann_ivf_pq_residual, pq_index_compact, ann_ivf_pq_residual_persisted,
# bpe_tokenize_oov_replay, ann_ivf_pq_nprobe_sweep); the 9 r13-changed
# re-checks (frame dedup, BPE train/encode/corpus, the PQ helper-refactor
# family); the 7 r06-stale records; and 27 r07-stale records — see
# CORRECTNESS_r13.json for the exact list.
# The ROUND-12 prefix before that (all 50 green in CORRECTNESS_r12.json):
# the 3 late-r11 PQ/stream-phash additions; the 6 round-12 additions
# (ann_ivf_pq, pq_persisted_probe, ann_ivf_pq_persisted, stream_pq_encode,
# bpe_tokenize_corpus, multimodal_frame_dedup); the 2 re-checked phash
# queries; q_full_outer_join_balance; and 38 r06-stale records
# (text/dedup/lm/bm25/semantic/stream-scd2/cohort/array/window/maintenance
# families — see CORRECTNESS_r12.json for the exact list).
# The ROUND-11 prefix this replaces (all 50 green in CORRECTNESS_r11.json):
# q_wordcount_topk; the 4 round-11 additions (multimodal_phash_dedup/apply,
# bpe_train_merges, bpe_encode); q_dedup_simhash; the 16 r05-stale entries
# (heavy_hitters_2gram, bm25_topk, tfidf_topterms, dsir_importance,
# chunk_documents, runtime_filter_join, stream_mq_wordcount,
# stream_decontaminate, stream_quality_gate, stream_pii_redact,
# percentiles_price, q1, q3, q5, anti_join_idle_customers,
# outer_join_nation_customers); and the 27 remaining r05-stale TPC-H/
# window/set-op/scalar queries (q2, q4, q6-q22, rollup_returns,
# grouping_sets_sql, approx_distinct_parts, setops_active_customers,
# window_top_parts_per_brand, window_rank_dense_ntile, scalar_functions,
# date_functions, subquery_above_avg).
# ROUND-11 NOTE: the round-10 rotation plan is EXECUTED by the prefix
# above; 44 of the 45 r05-stale records are re-checked this round, plus
# the r04 q_wordcount_topk — after the r11 driver run no record is older
# than r05, and only ONE r05 remains. q_full_outer_join_balance is that
# one record (displaced by the 4 round-11 additions + the
# q_dedup_simhash re-check); it leads the round-12 plan.
#
# ROUND-12 ROTATION PLAN (EXECUTED by the prefix above): (1) the 3
# late-round-11 additions (q_embedding_pq_codebooks, q_pq_adc_recall,
# q_stream_phash_dedup — never driver-checked), (2) the 6 round-12
# additions (q_ann_ivf_pq, q_pq_persisted_probe, q_ann_ivf_pq_persisted,
# q_stream_pq_encode, q_bpe_tokenize_corpus, q_multimodal_frame_dedup)
# and the 2 phash queries whose code+oracle changed this round,
# (3) q_full_outer_join_balance (the oldest record left, r05), then
# (4) 38 of the 45 r06-stale records oldest-first. After the r12 driver
# run: union coverage 242/242, no record older than r06, and only SEVEN
# r06 records remain.
#
# ROUND-13 ROTATION PLAN (EXECUTED by the prefix above): (1) the 7
# round-13 additions (bpe_tokenize_persisted, stream_pq_index_grow,
# ann_ivf_pq_residual, pq_index_compact, ann_ivf_pq_residual_persisted,
# bpe_tokenize_oov_replay, ann_ivf_pq_nprobe_sweep — never
# driver-checked), (2) the 9 queries whose
# code changed this round (frame-dedup cap + vectorized hashing; BPE
# trainer cache; PQ helper refactors + unpersist fixes), (3) the 7
# remaining r06-stale records, then (4) the 27 oldest r07-stale records.
# After the r13 driver run: no record older than r07, and only TWELVE
# r07 records remain.
#
# ROUND-14 ROTATION PLAN (EXECUTED by the prefix above): (1) the 16
# round-14 additions (bpe_tokenize_oov_persisted, pq_index_health,
# stream_pq_residual_index_grow, pq_residual_index_compact,
# pq_coarse_refresh, ann_ivf_pq_refine, ann_sq8_topk, ann_sq8_recall,
# decontaminate_bloom, pq_residual_index_health, manifest_time_travel,
# ann_ivf_sq8, retrieval_maxsim, ann_sq8_persisted, sq8_grid_drift,
# sessions_overlap_pairs — never driver-checked),
# (2) the 7 queries whose code or oracle changed this round (the
# residual compact body moved onto _build_grown_residual_layout but was
# already listed), (3) the 12 remaining r07-stale records (the oldest
# anywhere), then (4) the 15 oldest r09-stale records. After the r14
# driver run: no record older than r09, and only 34 r09 records remain.
#
# ROUND-15 ROTATION PLAN (EXECUTED by the prefix above): (1) anything
# round 15 adds or edits — the 13 additions (SQ8 lifecycle
# grow/compact/health on BOTH the raw and residual layouts, SQ8 grid
# refresh, overlap hot-bin diagnostic + bin-width sweep, persisted
# MaxSim, SQ8 exact re-rank, residual IVF-SQ8 + its persisted serving)
# and the 3 changed queries (bloom hint drop, maxsim_rerank token_vecs
# leg, overlap_pairs refactor) — then
# (2) the 34 remaining r09-stale records (q_ann_lsh_multiprobe,
# q_split_train_val_test,
# q_curation_pipeline,
# q_decontaminate_ngram,
# q_stratified_sample, q_dedup_incremental, q_token_budget_mix,
# q_mix_temperature, q_dedup_chunk_exact, q_shard_balanced,
# q_udf_grouped_user_stats, q_udf_grouped_agg_geomean,
# q_udtf_tokenize, q_asof_join_last_order, q_range_join_acctbal,
# q_salted_join_event_stats, q_join_key_skew_report, q_stream_tumbling_1d,
# q_stream_tumbling_watermark, q_stream_dedup_pairs,
# q_stream_dedup_within_watermark, q_stream_stream_join,
# q_stream_stateful_stats, q_stream_session_windows, q_stream_mq_replay,
# q_stream_foreachbatch_parquet, q_stream_transform_with_state,
# q_stream_stream_left_outer, q_manifest_compact, q_attribution_linear,
# q_events_anomaly_zscore, q_events_tumbling_1d, q_events_sessionize,
# q_bucketed_join_revenue — all green in CORRECTNESS_r09.json and
# re-verified by every local full battery since), then (3) the r10-stale
# records oldest-first (tools/rotation_plan.py regenerates the exact
# order from CORRECTNESS_r01..r14). After the r15 driver run: no record
# older than r10, and all 49 r10 records remain (the late additions
# consumed the filler slots).
#
# ROUND-16 ROTATION PLAN (EXECUTED by the prefix above): (1) the 14
# round-16 additions (sq8_coarse_refresh, sq8_residual_grid_drift,
# sq8_residual_grid_refresh, sq8_dim_columnar_refresh,
# stream_sessions_overlap, sessions_overlap_index_compact,
# ann_sq8_delete_mor, sq8_delete_compact, ann_ivf_sq8_nprobe_sweep,
# ann_binary_quantized, ann_bq_refine, ann_bq_recall,
# ann_sq8_residual_delete_mor, sq8_residual_delete_compact — never
# driver-checked), (2) the
# 12 queries
# whose code or oracle changed this round (the parameterized SQ8
# lifecycle trios with regenerated health oracles, the four grow queries
# on the hoisted inbox builder, the PQ health monitors on the shared
# grown-codes reader, the bin sweep's cleaned oracle, the persisted
# residual-SQ8 serving's bench flag), then (3) 24 of the 49 r10-stale
# records oldest-first, led by the seven twice-displaced fillers. After
# the r16 driver run: 25 r10 records remain (enumerated at the prefix
# tail), clearing fully in round 17.
#
# ROUND-17 ROTATION PLAN (EXECUTED by the prefix above): (1) the 10
# round-17 additions (PQ delete pairs on both layouts, BQ persisted +
# grow/compact/health, time-sliced co-presence, dim-columnar zipper
# serving — never driver-checked), (2) the 7 queries whose code or
# oracle changed this round (the four SQ8 delete queries on the
# generalized keys-table bodies, the PQ persisted serving on the
# factored probe/rank helpers, the dim-columnar refresh on the zipper
# layout, the BQ inline scan on the shared oracle constant), then
# (3) ALL 25 remaining r10-stale records, then (4) 8 r11-stale records
# to fill 50. After the r17 driver run: no record older than r11; the
# r11 block shrinks 46 → 38.
#
# ROUND-18 ROTATION PLAN: (1) anything round 18 adds or edits, then
# (2) the 38 remaining r11-stale records oldest-first
# (tools/rotation_plan.py regenerates the order from
# CORRECTNESS_r01..r17: stream-decontaminate/quality-gate/pii-redact,
# percentiles, wordcount, then the TPC-H family), then (3) r12-stale
# oldest-first to fill 50. Done = CORRECTNESS_r18 green on all 50;
# after the run the r11 block clears fully or shrinks to < 10.


def _load_all() -> None:
    """Import every module that registers queries (idempotent), then pin
    the harness-checked prefix to _PRIORITY order."""
    from ..operators import dedup  # noqa: F401
    from ..operators import lm  # noqa: F401
    from ..operators import retrieval  # noqa: F401
    from ..operators import similarity  # noqa: F401
    from ..functions import text  # noqa: F401
    from ..operators import curation  # noqa: F401
    from ..functions import udfs  # noqa: F401
    from ..operators import multimodal  # noqa: F401
    from ..operators import profiling  # noqa: F401
    from ..operators import privacy  # noqa: F401
    from ..operators import joins  # noqa: F401
    from ..streaming import pipelines  # noqa: F401
    from ..sources import bucketing  # noqa: F401
    from ..sources import jsonl  # noqa: F401
    from ..sources import maintenance  # noqa: F401
    from ..sources import manifest  # noqa: F401
    from . import analytics  # noqa: F401
    from . import product_analytics  # noqa: F401
    from . import tpch  # noqa: F401
    from . import tpch2  # noqa: F401
    from . import tpch3  # noqa: F401

    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    for name, q in QUERIES.items():
        if name not in ordered:
            ordered[name] = q
    QUERIES.clear()
    QUERIES.update(ordered)


def get_queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: q.fn for name, q in QUERIES.items()}


def get_oracles() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def get_headline() -> list[str]:
    _load_all()
    return [name for name, q in QUERIES.items() if q.headline]
