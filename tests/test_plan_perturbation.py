"""Physical-plan independence: the SAME rows must come back when the
optimizer is forced onto different physical strategies.

This is the repo's determinism discipline put under load: with
broadcasts disabled (every join becomes SMJ/shuffle) and the shuffle
partition count dropped to a prime 3 (different partition boundaries,
different merge orders), every query must reproduce its default-plan
result BIT-FOR-BIT. Decimal-accumulated aggregates, integer k-means,
md5-derived hashing and explicit tie-breaks are what make this pass —
float sums or rank ties would fail here first. This is the property
that lets a 1000-executor run reproduce a laptop run.
"""

from __future__ import annotations

import pytest

from streamandbatchprocessing_spark.queries import QUERIES
from streamandbatchprocessing_spark.queries.registry import (
    release_session_artifacts,
)

#: Representative slice: every family whose internals could plausibly
#: depend on partitioning — joins (broadcast→SMJ), salted aggs, shares,
#: LSH bands, embedding buckets, integer k-means (mapInPandas partial
#: sums), TF-IDF, exact percentiles, correlation moments, windowed
#: packing, iterative label propagation.
PERTURBED = [
    "b02_top_unshipped_orders",
    "b03_regional_supplier_volume",
    "b08_top_orders_per_customer",
    "b12_salted_segment_stats",
    "a03_type_share",
    "g02_price_percentiles",
    "g13_value_correlation",
    "c02_minhash_lsh_pairs",
    "c05_embedding_neardup",
    "c07_dup_clusters",
    "d01_topk_bruteforce",
    "d04_ivf_kmeans_ann",
    "e08_tfidf_terms",
    "p01_training_mix",
    "p03_sequence_packing",
    "p08_train_val_split",
    # round 5 additions: DSIR's decimal log-ratio sums, the percentile
    # gate's sketch threshold, funnel/cohort min-ts chains and distinct
    # counts, passage-key census, cross-series quantized means.
    "e11_dsir_importance",
    "e12_passage_dedup",
    "p09_quality_percentile_gate",
    "g14_conversion_funnel",
    "g15_cohort_retention",
    # bucketed range join (broadcast→SMJ on the composite key), TWAP's
    # integer window+agg chain, PPS sampling's broadcast scalar.
    "g16_range_click_attribution",
    "g17_time_weighted_value",
    "p10_weighted_sample",
    # gap-sessionization's shared window frame, MMR's integer greedy
    # over the collected panel, payload dedup's sorted replica lists.
    "g18_session_stats",
    "d07_mmr_diversified_topk",
    "m06_payload_dedup",
    # mid-round-5 additions: CMS cell sums + broadcast min-probe, Bloom
    # bit census, LM/entropy decimal-quantized sums, neighbor-carry
    # interpolation windows, SCD2 lead arithmetic, the Expand profile,
    # recall overlap counts, and the partitioned-layout rewrite.
    "c12_heavy_hitters_cms",
    "c13_bloom_prefilter",
    "e13_bigram_lm_scores",
    "e14_token_entropy",
    "g19_gap_fill_interpolate",
    "g20_scd2_priority_history",
    "p11_column_profile",
    "d09_ann_recall_eval",
    "b32_partition_pruned_scan",
    "g21_rolling_zscore_anomaly",
    "b33_dynamic_partition_prune",
    # round-6 additions: per-level decimal-avg calibration, max(struct)
    # keep-best selection, DF-spectrum double aggregation, mutual-kNN
    # window ranks + reversed-key join, multi-probe cell ranking and
    # recall overlap, HLL sketch merges (associative by construction),
    # value-bucket decimal means, TakeOrdered hot-key ranking, KL over
    # broadcast scalars, per-user lag sequences, full-outer diff, and
    # the streaming CMS drain's cell merges.
    "c14_minhash_calibration",
    "c15_band_canonical_keep_best",
    "c16_shingle_df_spectrum",
    "d10_mutual_knn_graph",
    "d11_nprobe_recall_curve",
    "p12_column_profile_at_scale",
    "p13_curriculum_buckets",
    "p14_skew_report",
    "p15_source_mix_drift",
    "g22_event_transitions",
    "g23_snapshot_diff",
    "f13_streaming_heavy_hitters",
    # Zipf head: TakeOrdered boundary + bounded-panel windows + integer
    # cumulative mass.
    "e16_zipf_head_profile",
    # interval islands share one exchange; apportionment's bounded
    # remainder-rank window and broadcast total.
    "g24_interval_coalesce",
    "p16_budget_apportionment",
    # cluster keep-best: the c07 fixpoint feeding a max(struct) argmax.
    "c17_cluster_canonical_keep_best",
    # blocked fuzzy join: codegen'd Levenshtein on block-co-located pairs.
    "c18_blocked_fuzzy_match",
    "m09_modality_manifest",
    # audio-chunk / image-tile generators: sequence+explode plans whose
    # truncated tails must be partition-invariant.
    "m07_audio_chunk_plan",
    "m08_image_tile_plan",
    # round-7 additions: exact-dyadic-mean source matrix, candidate-
    # confined containment, label-confined filtered ANN + per-query
    # windows, decimal-mean norm profile, data-derived cell balance,
    # df=1 join-back novelty, higher-order-fold rules gate, stream-
    # stream semi join, dedup-adjusted shares with broadcast totals,
    # binary-length buckets, and the 168-cell seasonality profile.
    "c19_cross_source_dup_matrix",
    "c20_containment_pairs",
    "d12_filtered_ann",
    "d13_embedding_norm_profile",
    "d14_ivf_cell_balance",
    "e17_trigram_novelty",
    "e18_quality_rules",
    "f14_stream_semi_join",
    "p17_dedup_adjusted_mix",
    "p18_token_length_histogram",
    "g25_hour_of_week_profile",
    # second round-7 batch: shortlist-bounded exact rerank, chunk-digest
    # census + join-back, and integer ceil-div compaction sizing.
    "d15_pq_rerank_topk",
    "m10_chunk_dedup_profile",
    "b34_compaction_plan",
    # third round-7 batch: log-free lift ordering with a LIMIT boundary,
    # broadcast quartile thresholds + stateless scoring, and the
    # two-broadcast one-row dataset card.
    "e19_collocation_lift",
    "g26_rfm_segments",
    "p19_dataset_card",
    # fourth round-7 batch: degree census + anti-join zero bucket,
    # scan-projected magic census, conditional-MAX path reduce, 7x
    # fan-out sliding distinct, integer epoch targets, dup-size
    # histogram, top-2 margin with rounded-before-flag comparison,
    # and the regexp character-class partition.
    "c21_candidate_degree_profile",
    "m11_magic_byte_census",
    "g27_top_event_paths",
    "g28_rolling_active_users",
    "p20_epoch_plan",
    "c22_dup_group_histogram",
    "d16_retrieval_margin_profile",
    "e20_charclass_profile",
    # Pareto deciles: nine broadcast thresholds + stateless scoring +
    # a 10-row panel cumulative window.
    "g29_revenue_pareto",
    # fifth round-7 batch: dimension-parallel exact decimal moments,
    # distinct-first day panels with a panel cumulative window, and
    # the count-derived hash-shard manifest.
    "d17_dim_variance_profile",
    "g30_new_returning_users",
    "p21_shard_manifest",
    # sixth round-7 batch: int64-quantized centroid pair grid, two
    # linear digest aggregates under integer size buckets, and a
    # user-keyed lag feeding exact percentiles.
    "d18_centroid_separation",
    "m12_payload_size_histogram",
    "g31_interarrival_profile",
    # seventh round-7 batch: 11-cell quantized survival rollup and the
    # fact-fact latency profile with exact integer-day percentiles.
    "p22_quality_survival_curve",
    "g32_ship_latency_profile",
    # basket co-occurrence: distinct-first (order, brand) pairs, Σk²
    # within-order self-join, broadcast per-brand counts + scalar total.
    "g33_brand_basket_lift",
    # PQ utilization census: Arrow encode pass, M-per-vector posexplode
    # into an M*ks-bounded count, dead codes restored by a grid join.
    "d19_pq_code_utilization",
    # IVF boundary ambiguity: integer Lloyd + one Arrow top-2 pass,
    # per-row micro-unit ratio, k-bounded decimal-mean aggregate.
    "d20_ivf_assignment_margin",
    # language purity: cell census panel, per-cell nano-unit entropy
    # terms, deterministic struct-max dominant language.
    "e21_source_language_purity",
    # cohort LTV: user-keyed first-touch reduce, days²-bounded grid,
    # decimal running revenue, broadcast cohort sizes.
    "g34_cohort_ltv",
    # length x quality joint grid: two stateless integer bucket
    # indices, one map-side cell aggregate, broadcast scalar share.
    "p23_length_quality_grid",
    # bit-bias census: shared linear fingerprint pass, constant 32x
    # projection fan-out, 32-cell integer aggregate + scalar total.
    "c23_simhash_bit_bias",
    # embedding drift: one conditional dimension-parallel aggregate,
    # int64 half-centroids, decimal-exact shift/cos on the cell panel.
    "d21_embedding_drift",
    # range-clustered scan: disjoint per-file key ranges + min/max
    # skipping; layout must be value-invisible under any plan.
    "b35_range_clustered_scan",
    # streaming argmax: one struct of state per user, associative
    # merge — micro-batch boundaries cannot change the result.
    "f15_streaming_latest_state",
    # nearest-centroid confusion: broadcast cell panel joined on
    # dimension, decimal-exact distances, struct-min argmin.
    "d22_nearest_centroid_confusion",
    # HRW placement: distinct-digest reduce, constant node fan-out,
    # N-row per-key window, 2N-cell aggregate + scalar total.
    "m13_hrw_placement_plan",
    # split balance audit: one conditional-count scan sharing p08's
    # md5 split rule, |sources|-bounded cells, broadcast totals.
    "p24_split_balance_audit",
    # dup label-conflict audit: content-keyed groupBy then one
    # whole-table reduce to a constant-size row.
    "c24_dup_label_conflicts",
    # vocab growth: token-keyed first-occurrence reduce + bucket panel
    # cumulative; PQ distortion: Arrow error pass + M-row decimal mean.
    "e22_vocab_growth_curve",
    "d23_pq_distortion_profile",
    # k-or-more survival: buyer-count histogram + bounded grid join.
    "g35_purchase_frequency_curve",
    # minhash family census: shared signature build, stack unpivot,
    # (fn,value)-keyed heavy probe reduced to 16 rows.
    "c25_minhash_fn_stats",
]

_PERTURB = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "3",
}


@pytest.mark.parametrize("name", PERTURBED)
def test_result_stable_under_plan_perturbation(spark, sf_dir, name):
    baseline = sorted(map(repr, QUERIES[name](spark, sf_dir).collect()))
    # Session artifacts are conf-blind: release them so the perturbed
    # run rebuilds every shared artifact under the perturbed plans, and
    # again afterwards so later tests never see perturbed-plan builds.
    release_session_artifacts()
    saved = {k: spark.conf.get(k) for k in _PERTURB}
    try:
        for k, v in _PERTURB.items():
            spark.conf.set(k, v)
        perturbed = sorted(map(repr, QUERIES[name](spark, sf_dir).collect()))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        release_session_artifacts()
    assert baseline == perturbed, f"{name}: result depends on physical plan"
