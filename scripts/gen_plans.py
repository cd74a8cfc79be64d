"""Regenerate PLANS.md: captured AQE-final physical plans for the
plan-shape queries that tests/test_plans.py asserts on.

Usage: python scripts/gen_plans.py [sf_dir]   (default /root/testdata/sf0.01)

``dump`` writes ``.explain('formatted')`` of the named queries to
``plans/<round>/<query>_<tag>.txt``, the before/after evidence files
of an optimization round (inputs from ``$SPARK_GRAFT_SF_DIR``):

       python scripts/gen_plans.py dump <round> <before|after> q1 q2 ...
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streamandbatchprocessing_spark.queries import QUERIES  # noqa: E402
from streamandbatchprocessing_spark.session import build_spark  # noqa: E402

#: query → one-line annotation of the shape that matters at 100 TB
ANNOTATED = {
    "b01_pricing_summary": (
        "Scan→hash-agg spine: pushed shipdate filter, 7-column pruned "
        "ReadSchema, partial/final HashAggregate inside WholeStageCodegen."
    ),
    "b02_top_unshipped_orders": (
        "Fact ⋈ fact unhinted: lineitem ⋈ orders is AQE's choice (broadcast "
        "at toy SF, SMJ at scale — no forced hint); customer broadcast; "
        "top-k fused to TakeOrderedAndProject."
    ),
    "b03_regional_supplier_volume": (
        "Star join: all four true dimensions BroadcastHashJoin; the "
        "lineitem ⋈ orders fact edge carries no hint (AQE decides), fact "
        "scanned once."
    ),
    "b30_bucketed_colocated_join": (
        "Bucketed fact ⋈ fact: both sides bucketed(8) + one sorted file "
        "per bucket, SortMergeJoin with ZERO Exchange and ZERO Sort — the "
        "write-time shuffle bought a shuffle-free join."
    ),
    "b13_priority_revenue_share": (
        "Share-of-total without Window.partitionBy(): scalar aggregate "
        "arrives via BroadcastExchange, no single-partition exchange."
    ),
    "b19_small_quantity_revenue": (
        "Q17 decorrelation: broadcast part prune, ONE shuffle into the "
        "per-partkey window."
    ),
    "b21_large_volume_orders": (
        "HAVING semi join: LeftSemi on the aggregated keyset before the "
        "wide join; top-k fused to TakeOrderedAndProject."
    ),
    "c02_minhash_lsh_pairs": (
        "MinHash+LSH: one md5 per token, signature groupBy is the only "
        "corpus shuffle; band self-joins on raw signature columns with "
        "band exclusivity — the O(pairs) stream never shuffles (no "
        "distinct, no estimate re-joins)."
    ),
    "c03_simhash_neighbors": (
        "SimHash: fingerprint groupBy, then 4 block equi-joins keyed on "
        "the fingerprint's own 8-bit blocks (skew bounded by true dup "
        "mass, not by any data column's distribution)."
    ),
    "c04_ngram_jaccard_pairs": (
        "Posting-list pair expansion with stop-shingle pruning: one "
        "shuffle of the exploded shingles; postings with DF>64 dropped "
        "before expansion so no boilerplate shingle can emit k²/2 pairs."
    ),
    "c05_embedding_neardup": (
        "Sign-hyperplane LSH bands: candidate cells keyed by the "
        "vector's own sign bits (2 band-exclusive equi-joins), never a "
        "data column — a dominant label cannot recreate O(n²)."
    ),
    "c18_blocked_fuzzy_match": (
        "Blocked fuzzy ER with a regime-gated probe repartition "
        "(primary key while the build side broadcasts — row balance + "
        "window elision; pinned block key past the threshold so the "
        "SMJ rides the exchange and AQE cannot byte-coalesce the "
        "CPU-quadratic stage); emission capped per left record by a "
        "WindowGroupLimit."
    ),
    "c20_containment_pairs": (
        "Containment verify over the shared candidate artifact: tokset "
        "joins ordered db-first/da-LAST so the da join's exchange "
        "doubles as the emission-cap window's clustering — the top-N "
        "runs as a local sort + WindowGroupLimit with no exchange of "
        "its own in the shuffle-join regime."
    ),
    "d03_topk_pandas_vectorized": (
        "Arrow-batched scoring: single MapInPandas over the candidate "
        "scan, then one top-k window shuffle."
    ),
    "c09_semantic_dedup": (
        "SemDeDup within-cluster prune: one groupBy(cid) "
        "FlatMapGroupsInPandas pass per cell (each vector crosses the "
        "Arrow boundary once, numpy runs the cell's quadratic block "
        "vectorized — the d10 shape) — Σ|cluster|² work, bounded by "
        "the DERIVED quantizer k (~n/512 cells), never a data column's "
        "skew."
    ),
    "d06_pq_adc_topk": (
        "PQ/ADC: one ArrowEvalPython encode pass (vectors → M codes), "
        "then scoring is literal-array lookups + adds in a codegen'd "
        "projection — no vector arithmetic per candidate, one top-k "
        "window shuffle."
    ),
    "e08_tfidf_terms": (
        "TF-IDF: two linear aggregations over the exploded token stream "
        "(map-side partial agg on both), term-keyed join, broadcast "
        "corpus-size scalar, per-source top-k window — the full "
        "vocabulary is never globally sorted."
    ),
    "e09_chunk_plan": (
        "Chunking: sequence()+explode in a single scan projection — "
        "zero shuffles before the presentation sort."
    ),
    "p06_contamination_check": (
        "Decontamination: train-doc gram arrays intersect a literal "
        "panel-gram set BEFORE exploding (only hit grams materialize "
        "as rows); the tiny hit stream broadcast-joins the panel for "
        "eval-doc attribution. The big side is never shuffled; "
        "aggregation is per-eval-doc countDistinct. Falls back to "
        "explode + guarded broadcast above the literal cap."
    ),
    "p07_temperature_mix": (
        "Temperature mix: one |sources|-row aggregate, then two "
        "broadcast scalar joins (total tokens, partition function) — "
        "the corpus is scanned exactly once."
    ),
    "m05_crossmodal_join": (
        "Cross-modal join: doc⋈embedding equi-join left to AQE (both "
        "sides pruned to 3 columns in ReadSchema), decimal-accumulated "
        "norm rollup per (lang, label)."
    ),
    "d05_sq8_topk": (
        "SQ8: dim-sized min/max stats collected once, quantization as "
        "literal-folded codegen projection, broadcast query panel, one "
        "top-k window shuffle — corpus scanned, never shuffled."
    ),
    "e07_repetition_metrics": (
        "Bigram repetition filter: index-transform bigrams in the scan "
        "projection (length filter pushed as DataFilter, 2-column "
        "ReadSchema), explode → two linear shuffles with map-side "
        "partial aggregation — no per-doc quadratic."
    ),
    "p03_sequence_packing": (
        "Packing: running-sum window partitioned by source (parallel per "
        "stratum, no global window), then a plain two-phase hash "
        "aggregate on (source, seq_id)."
    ),
    "e10_pii_scrub": (
        "PII scrub: ordered regexp mask/redact entirely inside the scan "
        "projection (3-column ReadSchema, zero shuffles before the "
        "presentation sort) — a pure map stage at 100 TB."
    ),
    "p08_train_val_split": (
        "Train/val split: portable id-hash projection in the scan stage, "
        "ONE hash exchange for the per-split shuffle-rank window "
        "(production writes file-local ranks instead), presentation sort."
    ),
    "c10_incremental_neardup": (
        "Incremental near-dedup: band equi-joins on the shared signature "
        "table (persisted once), edge stream filtered to delta×corpus / "
        "delta×earlier-delta, min-keeper aggregation on the output-bound "
        "edge relation only — the corpus is never rescanned per delta."
    ),
    "e11_dsir_importance": (
        "DSIR weights: one exploded-token pass feeds a conditional "
        "aggregation down to ≤128 bucket rows (map-side combinable); "
        "the decimal-quantized log-ratio table is BroadcastHashJoined "
        "back onto the token stream — the corpus side only ever "
        "shuffles into the per-doc sum."
    ),
    "p09_quality_percentile_gate": (
        "Percentile gate: codegen'd rational score projection, GK-sketch "
        "threshold aggregate to |sources| rows, thresholds broadcast "
        "back for the gate — two linear passes, no corpus-wide sort."
    ),
    "g14_conversion_funnel": (
        "Staged funnel: each stage's scan pushes its event_type filter "
        "to the parquet scan; all stage joins and aggregations stay on "
        "user_id, so a co-partitioned layout reuses one exchange."
    ),
    "b31_zorder_box_scan": (
        "Z-ordered layout: the 2-D box predicate prunes files by "
        "min/max on BOTH keys (each file holds a compact rectangle); "
        "the aggregate itself is the standard pushed-down scan→"
        "partial/final hash-agg spine."
    ),
    "e12_passage_dedup": (
        "Passage dedup: passages built in the scan projection "
        "(sequence+explode, no shuffle); census and per-doc rollup are "
        "two map-side-combinable aggs plus ONE key-vs-key equi-join — "
        "never doc×doc, and pre-aggregation caps any hot passage key "
        "at its occurrence count."
    ),
    "d08_label_centroids": (
        "Dimension-parallel centroids: posexplode in the scan stage, "
        "one shuffle on (label, pos) — parallelism scales with "
        "labels×dimensions; decimal cell sums keep values "
        "partition-order-independent."
    ),
    "g16_range_click_attribution": (
        "Bucketed range join: the 24 h interval predicate is rewritten "
        "to a hash EQUI-join on (user_id, day-bucket) with a 2× "
        "candidate fan-out on the click side, then the true range "
        "filter — O(events + matches), no BNLJ, key well-distributed."
    ),
    "g17_time_weighted_value": (
        "TWAP: one window shuffle on user_id feeding a same-key "
        "map-side-combinable groupBy; all arithmetic integer-exact "
        "(milli-unit values × µs durations), events scanned once."
    ),
    "p10_weighted_sample": (
        "PPS Poisson sample: whole-table scalar agg broadcast back via "
        "1-row cross join; the keep decision is a stateless per-row "
        "filter — the corpus is scanned once and never shuffled."
    ),
    "g18_session_stats": (
        "Gap sessionization: lag, the session-start flag, and the "
        "running sum share ONE (user_id; ts) window frame — a single "
        "Exchange feeds both window functions and the closing "
        "per-session aggregate."
    ),
    "m06_payload_dedup": (
        "Payload dedup: the scan projects digest+length so payload "
        "bytes never shuffle; one map-side-combinable groupBy on the "
        "digest, then the duplicate-set filter."
    ),
    "c12_heavy_hitters_cms": (
        "Count-min sketch: the d x w counter grid builds in one "
        "map-side-combinable aggregate, broadcasts (<= 2048 rows), and "
        "the candidate probe is a BroadcastHashJoin + min-over-depths "
        "aggregate — the corpus is never joined to itself."
    ),
    "e13_bigram_lm_scores": (
        "Bigram LM: unigram/bigram counts are two linear WordCount "
        "shuffles; ln() is evaluated once per DISTINCT bigram on the "
        "vocabulary-sized LM table; the doc stream joins the scored LM "
        "exactly once (AQE picks broadcast vs shuffle by size)."
    ),
    "p11_column_profile": (
        "Column profile: ONE aggregate pass over orders computes every "
        "per-column statistic (multi-countDistinct via a single "
        "Expand), then a 6-row stack unpivot — no per-column rescans."
    ),
    "g19_gap_fill_interpolate": (
        "Gap fill: the hourly rollup is persisted (metadata-sized) so "
        "bounds+grid+join reuse it instead of rescanning events; the "
        "neighbor-carry windows share one event_type Exchange."
    ),
    "g20_scd2_priority_history": (
        "SCD2: change flags, row numbers, per-customer totals, and the "
        "version lead all live on ONE o_custkey Exchange (3 Window ops, "
        "no groupBy re-shuffle — runs collapse via lead arithmetic on "
        "their start rows)."
    ),
    "b32_partition_pruned_scan": (
        "Partitioned layout: the 7-day predicate resolves against "
        "directory names at planning time — PartitionFilters on the "
        "scan, empty DataFilters, pruned ReadSchema."
    ),
    "d09_ann_recall_eval": (
        "Recall harness: one persisted embedding scan feeds both the "
        "broadcast-panel brute-force truth and the bucket-equi-join ANN "
        "side; the overlap join touches only (panel x k)-sized results."
    ),
    "c13_bloom_prefilter": (
        "Bloom pre-screen: the corpus collapses to <= m distinct "
        "set-bit rows (map-side combinable) broadcast to the delta "
        "probe — the corpus is touched once at build time, never per "
        "delta."
    ),
    "e14_token_entropy": (
        "Token entropy: one (doc, token) count aggregate and a per-doc "
        "rollup — two linear map-side-combinable shuffles, no "
        "vocabulary join."
    ),
    "g21_rolling_zscore_anomaly": (
        "Rolling anomaly: hourly rollup, then one per-type window pass "
        "whose RANGE frame holds <= 24 rows of integer-micro-unit "
        "state; moments accumulate in exact DECIMAL(38,0)."
    ),
    "b33_dynamic_partition_prune": (
        "Dynamic partition pruning: the runtime day panel broadcasts "
        "and becomes a dynamicpruningexpression in the fact scan's "
        "PartitionFilters — 23 of 30 date partitions skipped before "
        "any I/O."
    ),
    "p12_column_profile_at_scale": (
        "Approx profile: p11's exact multi-countDistinct Expand is "
        "GONE — each HLL++ sketch accumulates map-side in one "
        "aggregate, so |columns| fixed-size sketches shuffle instead "
        "of |columns| x rows."
    ),
    "p14_skew_report": (
        "Hot-key report: per-key counts map-side combine; the "
        "(total, n_keys) scalar broadcasts; top-20 fuses to "
        "TakeOrderedAndProject — no global sort ever materializes."
    ),
    "d10_mutual_knn_graph": (
        "Mutual k-NN: ONE bucket-keyed exchange into a per-cell Arrow "
        "pass (FlatMapGroupsInPandas) that computes the in-cell cosine "
        "block dimension-sequentially (bit-identical to the fold), "
        "top-k, and mutuality — no pair-stream join, no window, no "
        "mutual self-join; cell size is held flat by sign_bits_for."
    ),
    "d11_nprobe_recall_curve": (
        "nprobe sweep: cell ranking is panel x 16 cells (broadcast); "
        "truth is the d01 broadcast scan; each probe level's candidate "
        "join stays cell-confined — cost scales with nprobe/|cells| "
        "of a full scan."
    ),
    "g22_event_transitions": (
        "Transition matrix: one per-user lag window (parallel), two "
        "map-side aggregates over a |types|^2 key space, per-prev "
        "totals arrive by BroadcastHashJoin."
    ),
    "g23_snapshot_diff": (
        "Snapshot diff: ONE co-partitioned full-outer join on the "
        "primary key; both snapshot scans share pruned ReadSchema; "
        "output bounded by churn."
    ),
    "c14_minhash_calibration": (
        "Calibration: c08's join shape (exact jaccard confined to LSH "
        "candidates) restricted to a Carter-Wegman integer pair sample "
        "whose modulus is derived from the candidate count (sample "
        "stays ~500k pairs at any corpus size), plus a <=17-group "
        "map-side-combinable aggregate with decimal-sum averages."
    ),
    "c15_band_canonical_keep_best": (
        "Keep-best canonical: signatures stack to (band, bucket_md5) "
        "rows, ONE hash aggregate carries count + max(struct(quality, "
        "-doc_id)) — no window, no per-bucket sort."
    ),
    "c16_shingle_df_spectrum": (
        "DF spectrum: explode -> (source, shingle) count -> "
        "(source, df) count; two linear map-side-combinable shuffles, "
        "no posting list materialized."
    ),
    "p15_source_mix_drift": (
        "Mix drift: both distributions from one conditional-count "
        "scan; the two totals broadcast as a 1-row scalar; ln() runs "
        "once per source."
    ),
    "g27_top_event_paths": (
        "Opening journeys: rn <= 3 pushes into the window as "
        "WindowGroupLimit (3 rows per user survive each partition "
        "BEFORE the full window), three conditional-MAX reduces, "
        "top-20 fused to TakeOrderedAndProject."
    ),
    "g28_rolling_active_users": (
        "Sliding distinct: corpus collapses to distinct (day,user) "
        "FIRST, then one Generate (the constant 7x explode) and exact "
        "countDistinct — no BroadcastNestedLoop range join anywhere."
    ),
    "g29_revenue_pareto": (
        "Pareto deciles: nine exact-percentile thresholds broadcast "
        "as a 1-row panel, stateless integer scoring into <=10 "
        "groups, cumulative window on the decile panel — no global "
        "customer rank."
    ),
    "d16_retrieval_margin_profile": (
        "Margin profile: broadcast query panel, one codegen'd scoring "
        "pass over the corpus, rank <= 2 as WindowGroupLimit, "
        "conditional-MAX reduce per query."
    ),
    "c21_candidate_degree_profile": (
        "Degree census: band-bounded pair stream -> one doc_id-keyed "
        "map-side count -> <=40-bucket histogram; the degree-0 row "
        "arrives by anti-join so the census is lossless."
    ),
    "d18_centroid_separation": (
        "Class-geometry grid: dimension-parallel centroid aggregate "
        "(|labels|*dim decimal cells), int64 micro-unit quantization, "
        "persisted cell table self-joined on dimension — |labels|^2*dim "
        "rows, metadata-sized; decimal-exact dot/norm accumulation."
    ),
    "m12_payload_size_histogram": (
        "Size-class histogram: digest + byte length projected AT the "
        "scan (payload bytes never shuffle), integer binary-length "
        "bucket, two linear map-side-combinable aggregates into a "
        "<=63-cell census."
    ),
    "g31_interarrival_profile": (
        "Inter-arrival cadence: ONE user-keyed window exchange computes "
        "every lag in integer microseconds, then a |types|-bounded "
        "aggregate with decimal-exact mean and exact PERCENTILE_CONT "
        "p50/p90."
    ),
    "p22_quality_survival_curve": (
        "Survival curve: one linear pass collapses the corpus to <=11 "
        "int64-quantized decile cells (no Expand, no per-threshold "
        "rescan); cumulative-from-top is an 11x11 bounded panel join; "
        "doc total arrives as a broadcast scalar."
    ),
    "g32_ship_latency_profile": (
        "Fulfillment SLA: unhinted fact-fact equi-join (AQE decides), "
        "both scans pruned to key + one date column, integer-day "
        "latency, |priorities|-bounded aggregate with exact "
        "PERCENTILE_CONT."
    ),
    "b35_range_clustered_scan": (
        "Liquid-lite: disjoint per-file key ranges from "
        "repartitionByRange + in-partition sort; selective key slice "
        "reads a strict minority of files, value-invisible vs the "
        "unclustered oracle."
    ),
    "d21_embedding_drift": (
        "Re-embed monitor: ONE conditional dimension-parallel "
        "aggregate builds both halves' centroids, int64 micro-unit "
        "quantization, decimal-exact shift/cos on the |labels|*dim "
        "cell panel."
    ),
    "c23_simhash_bit_bias": (
        "Fingerprint health: shared linear simhash pass, constant 32x "
        "projection fan-out, 32-cell integer aggregate, broadcast "
        "scalar total for the 6dp shares."
    ),
    "p23_length_quality_grid": (
        "Confounder screen: two stateless integer bucket indices "
        "(binary length, int-DIV decile), one map-side cell aggregate "
        "into the bounded grid, broadcast scalar share."
    ),
    "g34_cohort_ltv": (
        "Payback curve: user-keyed first-touch reduce, purchase stream "
        "joined to the dimension-sized cohort table, days^2-bounded "
        "grid, decimal running revenue, broadcast cohort sizes."
    ),
    "e21_source_language_purity": (
        "Label-noise screen: one linear scan into a |sources|*|langs| "
        "cell census, panel-window totals, struct-max dominant "
        "language, nano-unit entropy terms summed as exact integers."
    ),
    "d20_ivf_assignment_margin": (
        "IVF boundary QA: integer Lloyd (broadcast centroid tensor), "
        "ONE Arrow top-2 distance pass, per-row micro-unit ratio, "
        "k-bounded decimal-mean aggregate."
    ),
    "d19_pq_code_utilization": (
        "PQ index health: one Arrow encode pass (broadcast codebook "
        "tensor), M-per-vector posexplode into an M*ks-bounded "
        "map-side count, grid join restores dead codes, broadcast "
        "scalar total for shares."
    ),
    "g33_brand_basket_lift": (
        "Market basket: broadcast part dim, ONE orderkey shuffle "
        "collapses each order to a sorted distinct-brand array, pairs "
        "generated map-side by a nested transform (sum k^2, linear in "
        "orders, no second basket shuffle), per-brand counts + scalar "
        "total broadcast back, |brands|^2-bounded output."
    ),
    "c24_dup_label_conflicts": (
        "Label-conflict CI gate: one content-digest groupBy (payload "
        "never shuffles — md5 moves) with distinct-label counts, then "
        "ONE whole-table reduce to the single audit row; both "
        "map-side combinable."
    ),
    "c25_minhash_fn_stats": (
        "Fn-family census: the session-shared signature cache unpivots "
        "via stack (constant 16x of |docs| rows, never token-scaled); "
        "heavy-value probe is a (fn,value)-keyed count reduced to 16 "
        "rows; top counts and doc total arrive by broadcast."
    ),
    "d22_nearest_centroid_confusion": (
        "Centroid confusion: dimension-parallel centroid cells "
        "(|labels|*dim, int64 micro-units), classification joins the "
        "exploded component stream to the cell panel ON DIMENSION "
        "(|labels|-bounded fan-out, no vector-vector pairs), argmin as "
        "min(struct) aggregate, |labels|^2-bounded output."
    ),
    "d23_pq_distortion_profile": (
        "PQ distortion: ONE vectorized Arrow pass re-derives each "
        "row's assigned-codeword error (codebook broadcast in the "
        "closure, corpus never pairwise-compares); exact int64 errors "
        "accumulate in DECIMAL(38,0) to the M-row report."
    ),
    "e22_vocab_growth_curve": (
        "Heaps curve: each vocabulary TYPE reduces to its FIRST-"
        "occurrence doc (one token-keyed min aggregate — no K-fold "
        "Expand, no K scans), integer log2 bucketing, running sum on "
        "the bounded bucket panel via panel_window."
    ),
    "g35_purchase_frequency_curve": (
        "Frequency survival curve: corpus collapses FIRST to one "
        "count per buyer, then to a <=K-bucket histogram; cumulative "
        "tail via the bounded K x |histogram| panel join (p22's "
        "shape); buyer total broadcasts as one scalar."
    ),
    "m13_hrw_placement_plan": (
        "HRW placement: payloads collapse FIRST to distinct digests, "
        "constant |nodes| fan-out per digest, per-digest top-R window "
        "over N rows; per-node load reduces to a 2N-cell integer "
        "aggregate with one broadcast scalar."
    ),
    "p24_split_balance_audit": (
        "Split audit: ONE linear scan applying p08's literal md5 split "
        "rule (shared constant — cannot drift) into a |sources|-bounded "
        "conditional-count aggregate; three totals broadcast as one "
        "scalar row."
    ),
    "c26_lsh_band_plan_curve": (
        "Band-plan S-curve: rides the shared candidate/tokset "
        "artifacts (InMemoryTableScan, zero new corpus scans); the "
        "derived integer sample predicate bounds the exact-jaccard "
        "joins at ~500k pairs, the 4-config stack multiplies only the "
        "bounded sample; report is a <=40-cell decimal aggregate."
    ),
    "d24_cosine_label_reliability": (
        "Reliability curve: ONE per-cell Arrow pass over the k-means "
        "cells (d10's row-blocked fold-identical cosine) bins AND "
        "partially aggregates inside the cell — only <=40 integer "
        "cells per k-means cell cross Arrow, never the pair stream; "
        "measured 3.85->0.78 s at sf0.1 vs the cell-join shape."
    ),
    "e23_token_burstiness": (
        "Burstiness census: one explode into a (doc, token) count "
        "(map-side combinable), then a |vocab|-row collapse carrying "
        "ALL moments as exact int64 sums — variance is algebraic, no "
        "second scan, no per-token window."
    ),
    "g36_order_value_reconciliation": (
        "Header-vs-detail audit: lineitem collapses per orderkey "
        "BEFORE the join (partial decimal agg map-side — one row per "
        "order enters the join); the orderkey equi-join is unhinted "
        "(AQE broadcasts the header side at toy SF, SMJ at scale); "
        "5-cell priority rollup."
    ),
    "m14_hrw_rebalance_audit": (
        "Node-loss rebalance: m13's digest-distinct collapse, constant "
        "|nodes| fan-out, PERSISTED once so both per-digest rankings "
        "(windows over <=N rows) read one computed copy; before/after "
        "compare is a same-key full-outer join of two <=R·|digests| "
        "streams; report is an N-row integer aggregate."
    ),
    "p25_context_length_fit": (
        "Ctx-fit table: ONE linear scan collapses map-side into a "
        "|sources|-row aggregate carrying every ladder arm as "
        "conditional int64 sums — the ladder fans out via stack on the "
        "bounded aggregate, never an Expand over the corpus."
    ),
    "c27_dedup_threshold_sweep": (
        "Threshold sweep: one pass over the shared candidate stream "
        "(InMemoryTableScan) into a per-victim MAX reduce + a 16-cell "
        "agree histogram, each collapsed to ONE row of conditional "
        "int64 ladder arms; 9-row table stacked from two one-row "
        "aggregates against a broadcast doc total — the ladder never "
        "multiplies the pair stream."
    ),
    "e24_source_vocab_jsd": (
        "JSD matrix: one exploded scan collapses map-side to (source, "
        "token) counts; everything after is metadata-sized — dense "
        "|sources|x|vocab| grid, token-keyed pair fan-out, "
        "|sources|²-cell report; one ln() per term on identical "
        "doubles, nano-unit int64 quantization before the exact sum."
    ),
    "g37_order_status_consistency": (
        "State-machine audit: detail collapses per orderkey FIRST "
        "(two conditional int64 counts map-side); unhinted orderkey "
        "equi-join (AQE broadcast at toy SF, SMJ at scale); <=9-cell "
        "(recorded, derived) confusion grid with one broadcast total."
    ),
    "d25_sq_bitwidth_sweep": (
        "SQ sweep: dim-sized min/max collect becomes literal bound "
        "arrays; ONE linear scan where every width's error sum/max is "
        "a higher-order fold over the same scan (the unrolled "
        "element_at shape measured 12 s SCALE-FLAT codegen overhead "
        "vs ~1.7 s here); 4-row table stacks from one row of exact "
        "int64 nano-unit totals."
    ),
    "p26_split_leakage_audit": (
        "Leakage audit: exact arm is a content-keyed conditional "
        "count; near-dup arm rides the shared candidate stream "
        "(InMemoryTableScan) with two id-keyed split-flag joins (the "
        "flag is a pure hash of the id); three one-row aggregates "
        "cross-joined as broadcasts."
    ),
    "p27_tokenizer_fertility": (
        "Fertility census: ONE linear scan of codegen'd length/split/"
        "regex projections (counts from array lengths, no explode) "
        "into a |sources|x|langs|-bounded integer grid; ratios are "
        "6dp divisions on the bounded panel."
    ),
}


def dump(round_dir: str, tag: str, names: list[str]) -> None:
    spark = build_spark(app_name="dump-plans", enable_fair_scheduler=False,
                        extra_conf={"spark.ui.enabled": "false"})
    out_dir = os.path.join(REPO, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, os.environ["SPARK_GRAFT_SF_DIR"])
        text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_spark(
        app_name="gen-plans",
        enable_fair_scheduler=False,
        extra_conf={"spark.ui.enabled": "false"},
    )
    out = [
        "# PLANS — captured physical plans (sf0.01, local[32], AQE final plans)",
        "",
        "Generated evidence for the plan shapes `tests/test_plans.py` asserts.",
        "Regenerate: `python scripts/gen_plans.py`.",
    ]
    for name, note in ANNOTATED.items():
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # finalize AQE
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        out += ["", f"## {name}", "", note, "", "```", plan.rstrip(), "```"]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md with {len(ANNOTATED)} plans")
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["dump"]:
        dump(sys.argv[2], sys.argv[3], sys.argv[4:])
    else:
        main()
