"""Round-7 operator tests: data-derived scale knobs (d10 bucket bits,
c18 composite blocking key) plus the new round-7 operators."""

from __future__ import annotations

import duckdb
import pytest

from streamandbatchprocessing_spark.functions.vectors import (
    sign_bits_for,
    sign_bits_sql,
)


def test_sign_bits_for_holds_cell_population_flat():
    """The derived width must be the smallest bits in [4, 16] with
    2^bits * target >= n — so average per-cell population never
    exceeds the target until the cap."""
    assert sign_bits_for(0) == 4
    assert sign_bits_for(1) == 4
    # Exactly at the boundary: 16 cells * 256 = 4096 fits in 4 bits.
    assert sign_bits_for(16 * 256) == 4
    assert sign_bits_for(16 * 256 + 1) == 5
    assert sign_bits_for(1_000_000) == 12
    # Cap: beyond 2^16 * 256 the width saturates at 16 bits.
    assert sign_bits_for(2 ** 16 * 256) == 16
    assert sign_bits_for(10 ** 12) == 16
    # Monotone non-decreasing in n.
    widths = [sign_bits_for(n) for n in range(0, 3_000_000, 97_651)]
    assert widths == sorted(widths)
    for n in (500, 2_000, 4_096, 4_097, 123_456):
        bits = sign_bits_for(n)
        if bits > 4:
            assert (1 << (bits - 1)) * 256 < n  # minimality
        if bits < 16:
            assert (1 << bits) * 256 >= n  # sufficiency


@pytest.mark.parametrize(
    "n", [0, 1, 500, 2_000, 4_096, 4_097, 1_000_000, 20_000_000]
)
def test_sign_bits_sql_twin_matches_python(n):
    """The DuckDB derivation must be integer-identical to the Python
    one for every corpus size — both engines bucket the same way."""
    expr = sign_bits_sql(f"(SELECT * FROM range({n}))")
    got = duckdb.sql(f"SELECT {expr}").fetchone()[0]
    assert got == sign_bits_for(n)


def test_staged_stream_rejects_directory_fixture(spark, tmp_path):
    """The staged batch accounting assumes ONE data file; a multi-part
    events.parquet directory must be rejected with a pointer to the
    unstaged path."""
    from streamandbatchprocessing_spark.streaming.pipeline import (
        events_stream_staged,
    )

    (tmp_path / "events.parquet").mkdir()
    with pytest.raises(ValueError, match="not a plain file"):
        events_stream_staged(spark, str(tmp_path))


def _q(name):
    from streamandbatchprocessing_spark.queries import QUERIES
    return QUERIES[name]


def test_c19_matrix_is_canonical_and_bounded(spark, sf_dir):
    """Source pairs must be unordered-canonical (lo <= hi), counts
    positive, and mean estimates inside the [threshold, 1] band."""
    rows = _q("c19_cross_source_dup_matrix")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["source_lo"] <= r["source_hi"]
        assert r["n_pairs"] >= 1
        assert 0.5 <= r["avg_est"] <= 1.0


def test_c20_containment_dominates_jaccard(spark, sf_dir):
    """Per pair: n_common <= min(size); each reported side >= 0.8; and
    containment >= jaccard always (the reason the operator exists)."""
    rows = _q("c20_containment_pairs")(spark, sf_dir).collect()
    assert rows
    for r in rows[:200]:
        assert r["n_common"] <= min(r["size_a"], r["size_b"])
        assert max(r["containment_ab"], r["containment_ba"]) >= 0.8
        jac = r["n_common"] / (r["size_a"] + r["size_b"] - r["n_common"])
        assert max(r["containment_ab"], r["containment_ba"]) >= jac - 1e-9


def test_d12_neighbors_share_label(spark, sf_dir):
    """Every retrieved neighbor must satisfy the metadata filter (same
    label as its query) and ranks must be dense 1..k per query."""
    from collections import defaultdict

    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("d12_filtered_ann")(spark, sf_dir).collect()
    assert rows
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label").collect()
    }
    per_q = defaultdict(list)
    for r in rows:
        assert labels[r["neighbor_id"]] == r["label"]
        assert r["neighbor_id"] != r["query_id"]
        per_q[r["query_id"]].append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_d14_balance_accounts_for_every_vector(spark, sf_dir):
    """The report's totals must be self-consistent and match the
    corpus: sum over cells == n_vecs, min <= avg <= max, and the bit
    width must be what sign_bits_for derives from the same count."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    row = _q("d14_ivf_cell_balance")(spark, sf_dir).collect()[0]
    n = load_table(spark, sf_dir, "embeddings").count()
    assert row["n_vecs"] == n
    assert row["bits"] == sign_bits_for(n)
    assert row["min_cell"] <= row["avg_cell"] <= row["max_cell"]
    assert row["imbalance"] >= 1.0
    assert row["n_cells_used"] <= 2 ** row["bits"]


def test_e17_novelty_bounds_and_totals(spark, sf_dir):
    """Novel shingles are a subset of a doc's shingles; novelty is the
    6dp ratio; corpus-wide novel count equals the number of df=1
    shingles (each singleton belongs to exactly one doc)."""
    rows = _q("e17_trigram_novelty")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_shingles"]
        assert 0.0 <= r["novelty"] <= 1.0


def test_e18_keep_is_conjunction(spark, sf_dir):
    rows = _q("e18_quality_rules")(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["keep"] == (
            r["ok_words"] and r["ok_word_len"] and r["ok_stopwords"]
        )
        seen.add(r["keep"])
    assert seen == {True, False}, "fixture should exercise both outcomes"


def test_p17_shares_and_totals_consistent(spark, sf_dir):
    """Kept never exceeds raw; both share columns sum to ~1; dup_rate
    matches the doc counts."""
    rows = _q("p17_dedup_adjusted_mix")(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["share_raw"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["share_dedup"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r["n_docs_kept"] <= r["n_docs_raw"]
        assert r["tokens_kept"] <= r["tokens_raw"]
        assert 0.0 <= r["dup_rate"] <= 1.0


def test_p18_buckets_partition_the_corpus(spark, sf_dir):
    """Histogram must account for every document exactly once and each
    bucket's bound must hold: bucket_lo = 2^(b-1)."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("p18_token_length_histogram")(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["bucket_lo"] == 2 ** (r["log2_bucket"] - 1)


def test_g25_profile_covers_all_events(spark, sf_dir):
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("g25_hour_of_week_profile")(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == n
    for r in rows:
        assert 0 <= r["dow"] <= 6 and 0 <= r["hod"] <= 23
        assert r["n_purchases"] <= r["n_events"]


def test_f14_semi_emits_each_purchase_once(spark, sf_dir):
    rows = _q("f14_stream_semi_join")(spark, sf_dir).collect()
    assert rows
    ids = [r["purchase_id"] for r in rows]
    assert len(ids) == len(set(ids)), "semi join must not duplicate"


def test_m10_chunk_accounting(spark, sf_dir):
    """Chunk counts must tile the byte length (ceil-div), shared counts
    bounded by chunk counts, ratios in [0, 1]."""
    import math

    rows = _q("m10_chunk_dedup_profile")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_chunks"] == math.ceil(r["n_bytes"] / 64)
        assert 0 <= r["n_shared_chunks"] <= r["n_chunks"]
        assert 0.0 <= r["shared_ratio"] <= 1.0


def test_b34_plan_sizing_invariants(spark, sf_dir):
    """planned_files is the exact ceil of bytes/target; rows_per_file
    times planned_files covers the partition without over-shooting by
    more than one file's rows."""
    from streamandbatchprocessing_spark.queries.layout import (
        _COMPACT_TARGET_BYTES as T,
    )

    rows = _q("b34_compaction_plan")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["planned_files"] == -(-r["est_bytes"] // T)
        assert r["rows_per_file"] * r["planned_files"] >= r["n_rows"]
        assert (r["rows_per_file"] - 1) * r["planned_files"] < r["n_rows"]


def test_d15_rerank_improves_or_preserves_order(spark, sf_dir):
    """Every reranked neighbor must come from the ADC shortlist, final
    ranks are dense 1..k, and exact distances are non-decreasing in
    final rank (the definition of the rerank)."""
    from collections import defaultdict

    from streamandbatchprocessing_spark.queries.similarity import (
        _RERANK_SHORTLIST,
    )

    rows = _q("d15_pq_rerank_topk")(spark, sf_dir).collect()
    assert rows
    per_q = defaultdict(list)
    for r in rows:
        assert 1 <= r["adc_rank"] <= _RERANK_SHORTLIST
        per_q[r["query_id"]].append((r["rank"], r["exact_l2"]))
    for q, rs in per_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        dists = [x[1] for x in rs]
        assert dists == sorted(dists)


def test_e19_lift_head_is_sorted_and_bounded(spark, sf_dir):
    from streamandbatchprocessing_spark.queries.textops import (
        _COLL_MIN_COUNT,
        _COLL_TOPK,
    )

    rows = _q("e19_collocation_lift")(spark, sf_dir).collect()
    assert 0 < len(rows) <= _COLL_TOPK
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r["n_pair"] >= _COLL_MIN_COUNT
        assert r["n_pair"] <= min(r["n_w1"], r["n_w2"])
        assert r["lift"] > 0


def test_g26_scores_partition_all_purchasers(spark, sf_dir):
    """Scores live in 1..4 on every axis; segment user counts sum to
    the number of distinct purchasing users."""
    from streamandbatchprocessing_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    rows = _q("g26_rfm_segments")(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    n_users = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id").distinct().count()
    )
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        for k in ("r_score", "f_score", "m_score"):
            assert 1 <= r[k] <= 4


def test_p19_card_is_internally_consistent(spark, sf_dir):
    from streamandbatchprocessing_spark.sources.batch import load_table

    row = _q("p19_dataset_card")(spark, sf_dir).collect()[0]
    n = load_table(spark, sf_dir, "documents").count()
    assert row["n_docs"] == n
    assert row["distinct_texts"] <= row["n_docs"]
    assert 0.0 <= row["dup_rate"] <= 1.0
    assert abs(
        row["mean_doc_tokens"] - row["total_tokens"] / row["n_docs"]
    ) < 1e-5
    assert 0.0 <= row["mean_quality"] <= 1.5


# ---------------------------------------------------------------------------
# round-7b additions: c21 / m11 / g27 / g28 / p20
# ---------------------------------------------------------------------------
def test_c21_census_is_lossless_over_the_corpus(spark, sf_dir):
    """Every document lands in exactly one degree bucket (including the
    degree-0 anti-join row), and per-bucket stats respect the
    power-of-two bounds."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("c21_candidate_degree_profile")(spark, sf_dir).collect()
    assert rows
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        if r["log2_bucket"] == 0:
            assert r["max_degree"] == 0 and r["total_edge_ends"] == 0
        else:
            assert r["bucket_lo"] == 1 << (r["log2_bucket"] - 1)
            assert r["bucket_lo"] <= r["max_degree"] < 2 * r["bucket_lo"]
            assert r["total_edge_ends"] >= r["n_docs"] * r["bucket_lo"]


def test_c21_edge_ends_match_pair_count(spark, sf_dir):
    """Σ degree over all docs must equal exactly 2x the c02 candidate
    pair count — the histogram cannot invent or drop edges."""
    n_pairs = _q("c02_minhash_lsh_pairs")(spark, sf_dir).count()
    rows = _q("c21_candidate_degree_profile")(spark, sf_dir).collect()
    assert sum(r["total_edge_ends"] for r in rows) == 2 * n_pairs


def test_m11_sniff_chain_on_synthesized_headers(spark):
    """The magic when-chain must classify real container headers (the
    fixture's UTF-8 payloads only ever exercise the 'unknown' arm)."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.queries.multimodal_q import _sniff_col

    headers = [
        ("FFD8FFE0", "jpeg"),
        ("89504E47", "png"),
        ("47494638", "gif"),
        ("52494646", "riff"),
        ("25504446", "pdf"),
        ("49443304", "mp3"),
        ("4F676753", "ogg"),
        ("1A45DFA3", "matroska"),
        ("6B657920", "unknown"),  # "key " — the fixture's text bytes
    ]
    df = spark.createDataFrame(
        [(h,) for h, _ in headers], "magic_hex string"
    ).select("magic_hex", _sniff_col(F.col("magic_hex")).alias("fmt"))
    got = {r["magic_hex"]: r["fmt"] for r in df.collect()}
    for h, want in headers:
        assert got[h] == want, (h, got[h], want)


def test_m11_census_accounts_for_every_asset(spark, sf_dir):
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("m11_magic_byte_census")(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_assets"] for r in rows) == docs.count()
    for r in rows:
        assert len(r["magic_hex"]) == 8
        assert 1 <= r["n_distinct_payloads"] <= r["n_assets"]
        assert r["sniffed_format"] == "unknown"  # UTF-8 text fixture


def test_g27_paths_bounded_and_ranked(spark, sf_dir):
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("g27_top_event_paths")(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    types = {
        r["event_type"]
        for r in load_table(spark, sf_dir, "events")
        .select("event_type").distinct().collect()
    }
    for r in rows:
        steps = r["path"].split(">")
        assert 1 <= len(steps) <= 3
        assert all(s in types for s in steps)


def test_g28_wau_dominates_dau(spark, sf_dir):
    """Per day: the trailing-7-day active set contains the daily set,
    and is contained in the union of the trailing week's daily sets."""
    rows = _q("g28_rolling_active_users")(spark, sf_dir).collect()
    assert rows
    daily = {r["report_day"]: r["n_active_1d"] for r in rows}
    for r in rows:
        assert r["n_active_1d"] <= r["n_active_7d"]
        week_sum = sum(
            daily.get(d, 0)
            for d in daily
            if 0 <= (r["report_day"] - d).days <= 6
        )
        assert r["n_active_7d"] <= week_sum
        assert 0.0 < r["dau_wau_ratio"] <= 1.0


def test_p20_schedule_serves_the_budget_exactly(spark, sf_dir):
    from streamandbatchprocessing_spark.queries.pipeline import _EPOCH_BUDGET

    rows = _q("p20_epoch_plan")(spark, sf_dir).collect()
    assert rows
    assert sum(r["target_tokens"] for r in rows) == _EPOCH_BUDGET
    for r in rows:
        full, need = r["full_epochs"], r["epochs_needed"]
        assert need == full + (1 if r["last_epoch_frac"] > 0 else 0)
        assert need * r["available_tokens"] >= r["target_tokens"]
        assert abs(
            r["repetition_factor"]
            - r["target_tokens"] / r["available_tokens"]
        ) < 1e-5


def test_c22_histogram_prices_the_dedup_stage(spark, sf_dir):
    """Σ n_docs over buckets equals the corpus; Σ n_redundant equals
    exactly the documents c01's canonicalization marks as duplicates;
    per-bucket counts respect the power-of-two bounds."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("c22_dup_group_histogram")(spark, sf_dir).collect()
    assert rows
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    dup_count = (
        _q("c01_exact_dedup")(spark, sf_dir)
        .filter(F.col("is_dup")).count()
    )
    assert sum(r["n_redundant"] for r in rows) == dup_count
    for r in rows:
        assert r["bucket_lo"] == 1 << (r["log2_bucket"] - 1)
        assert r["n_groups"] * r["bucket_lo"] <= r["n_docs"]
        assert r["n_redundant"] == r["n_docs"] - r["n_groups"]


def test_d16_margin_agrees_with_bruteforce_top1(spark, sf_dir):
    """For the d01 query panel (vec_id < 5 ⊂ d16's < 50): d16's top-1
    must be d01's rank-1 neighbor, margins must be nonnegative, and
    the flag must equal margin < 0.05."""
    d01 = {
        r["query_id"]: r
        for r in _q("d01_topk_bruteforce")(spark, sf_dir).collect()
        if r["rank"] == 1
    }
    rows = _q("d16_retrieval_margin_profile")(spark, sf_dir).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["top1_sim"] >= r["top2_sim"]
        assert r["margin"] >= 0
        assert r["is_ambiguous"] == (r["margin"] < 0.05)
        if r["query_id"] in d01:
            assert r["top1_id"] == d01[r["query_id"]]["neighbor_id"]


def test_e20_classes_partition_every_character(spark, sf_dir):
    """alpha + digit + space + other == total per source, ratios in
    [0, 1], and the fixture's word corpus is alpha+space only."""
    rows = _q("e20_charclass_profile")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["alpha_chars"] + r["digit_chars"] + r["space_chars"]
            + r["other_chars"] == r["total_chars"]
        )
        assert 0.0 <= r["alpha_ratio"] <= 1.0
        assert 0.0 <= r["space_ratio"] <= 1.0
        assert r["other_chars"] == 0  # lowercase word corpus


def test_g29_pareto_is_lossless_and_monotone(spark, sf_dir):
    """Decile counts sum to all customers with orders, shares sum to 1,
    mean revenue rises with decile, and the cumulative-from-top share
    is monotone decreasing in decile with the top decile's share first."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = sorted(
        _q("g29_revenue_pareto")(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert 0 < len(rows) <= 10
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey").distinct().count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert abs(sum(r["revenue_share"] for r in rows) - 1.0) < 1e-4
    means = [r["total_revenue"] / r["n_customers"] for r in rows]
    assert means == sorted(means)
    # cum-from-top at decile d covers deciles >= d: decreasing in d,
    # and the full-coverage row (decile 1) is ~1.
    cums = [r["cum_share_from_top"] for r in rows]
    assert cums == sorted(cums, reverse=True)
    assert abs(cums[0] - 1.0) < 1e-4
    top = rows[-1]
    assert top["revenue_share"] == cums[-1]


def test_d17_variance_matches_numpy(spark, sf_dir):
    """Per-dimension stats must agree with a numpy reference (6dp),
    cover every dimension with the full corpus count, and satisfy
    min <= mean <= max with variance >= 0."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = _q("d17_dim_variance_profile")(spark, sf_dir).collect()
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    mat = np.array(emb["embedding"].tolist(), dtype=np.float64)
    # The operator quantizes each component to 6dp micro-units first.
    q = np.round(mat * 1e6) / 1e6
    assert len(rows) == mat.shape[1]
    for r in rows:
        col = q[:, r["dim"]]
        assert r["n_vecs"] == mat.shape[0]
        assert r["min_val"] <= r["mean_val"] <= r["max_val"]
        assert r["variance"] >= 0
        assert abs(r["mean_val"] - col.mean()) <= 1.5e-6
        assert abs(r["variance"] - col.var()) <= 1.5e-6
        assert r["min_val"] == pytest.approx(col.min(), abs=1e-9)
        assert r["max_val"] == pytest.approx(col.max(), abs=1e-9)


def test_g30_daily_identities(spark, sf_dir):
    """new + returning == active per day, day-1 actives are all new,
    the final cumulative count equals the corpus's distinct users, and
    cum_users is the running sum of new_users."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = sorted(
        _q("g30_new_returning_users")(spark, sf_dir).collect(),
        key=lambda r: r["event_date"],
    )
    assert rows
    assert rows[0]["returning_users"] == 0
    run = 0
    for r in rows:
        assert r["new_users"] + r["returning_users"] == r["active_users"]
        assert 0 <= r["new_users"] <= r["active_users"]
        run += r["new_users"]
        assert r["cum_users"] == run
    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id").distinct().count()
    )
    assert rows[-1]["cum_users"] == n_users


def test_p21_manifest_is_lossless_and_balanced(spark, sf_dir):
    """Shard totals must add back to the corpus exactly, shard ids must
    stay inside the count-derived range, and hash balance must hold:
    every occupied shard within 3x of the even split."""
    from streamandbatchprocessing_spark.queries.pipeline import _SHARD_TARGET
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("p21_shard_manifest")(spark, sf_dir).collect()
    assert rows
    n = load_table(spark, sf_dir, "documents").count()
    n_shards = (n + _SHARD_TARGET - 1) // _SHARD_TARGET
    assert all(r["n_shards"] == n_shards for r in rows)
    assert sum(r["n_docs"] for r in rows) == n
    assert len(rows) <= n_shards
    assert all(0 <= r["shard_id"] < n_shards for r in rows)
    for r in rows:
        assert r["n_tokens"] >= r["n_docs"]  # every doc has >= 1 token
        assert r["n_bytes"] > 0
        assert 0 < r["skew_ratio"] < 3.0
        assert r["skew_ratio"] == pytest.approx(
            r["n_docs"] * n_shards / n, abs=1e-6
        )


def test_d18_separation_grid_properties(spark, sf_dir):
    """The centroid-pair grid must cover every unordered label pair
    exactly once, cosines must sit in [-1, 1], distances must be
    nonnegative, and n_vecs per label must be consistent across every
    pair that label appears in."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("d18_centroid_separation")(spark, sf_dir).collect()
    labels = sorted(
        r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("label").distinct().collect()
    )
    n = len(labels)
    assert len(rows) == n * (n - 1) // 2
    assert {(r["label_a"], r["label_b"]) for r in rows} == {
        (a, b) for a in labels for b in labels if a < b
    }
    counts: dict = {}
    for r in rows:
        assert -1.000001 <= r["cos_sim"] <= 1.000001
        assert r["l2_dist"] >= 0
        for lab, nv in ((r["label_a"], r["n_vecs_a"]),
                        (r["label_b"], r["n_vecs_b"])):
            assert counts.setdefault(lab, nv) == nv


def test_m12_histogram_is_lossless_and_bucketed(spark, sf_dir):
    """Bucket totals must add back to the corpus (docs and bytes),
    every bucket's floor must be a power of two, and reclaimable bytes
    must equal total minus distinct within each bucket."""
    from streamandbatchprocessing_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    rows = _q("m12_payload_size_histogram")(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length(F.encode("text", "UTF-8"))).alias("b"),
    ).collect()[0]
    assert sum(r["n_payloads"] for r in rows) == agg["n"]
    assert sum(r["total_bytes"] for r in rows) == agg["b"]
    for r in rows:
        assert r["bucket_lo"] == 1 << (r["log2_bucket"] - 1)
        assert r["n_distinct"] <= r["n_payloads"]
        assert r["distinct_bytes"] <= r["total_bytes"]
        assert (
            r["reclaimable_bytes"]
            == r["total_bytes"] - r["distinct_bytes"]
        )


def test_p22_survival_curve_is_monotone_and_anchored(spark, sf_dir):
    """Survival counts must be non-increasing in the threshold, the
    t=0 row must keep the whole corpus (share exactly 1), and the
    surviving mean quality must be non-decreasing as the gate
    tightens (while any docs survive)."""
    rows = sorted(
        _q("p22_quality_survival_curve")(spark, sf_dir).collect(),
        key=lambda r: r["threshold_decile"],
    )
    assert len(rows) == 11
    assert rows[0]["docs_share"] == pytest.approx(1.0, abs=1e-9)
    prev_docs, prev_toks, prev_q = None, None, None
    for r in rows:
        if prev_docs is not None:
            assert r["docs_kept"] <= prev_docs
            assert r["tokens_kept"] <= prev_toks
        if r["docs_kept"] > 0:
            assert r["mean_quality_kept"] is not None
            if prev_q is not None:
                assert r["mean_quality_kept"] >= prev_q - 1e-9
            prev_q = r["mean_quality_kept"]
            # surviving mean must clear the gate's lower bound
            assert (
                r["mean_quality_kept"]
                >= r["threshold_decile"] / 10.0 - 1e-6
            )
        else:
            assert r["mean_quality_kept"] is None
        prev_docs, prev_toks = r["docs_kept"], r["tokens_kept"]


def test_g33_lift_identities(spark, sf_dir):
    """Pair counts can never exceed either brand's order count,
    support must equal n_ab / n_orders, and lift must equal
    support / (share_a * share_b) within rounding."""
    from streamandbatchprocessing_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    rows = _q("g33_brand_basket_lift")(spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    n_orders = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey").distinct().count()
    )
    for r in rows:
        assert 1 <= r["n_ab"] <= min(r["n_orders_a"], r["n_orders_b"])
        assert r["support"] == pytest.approx(
            r["n_ab"] / n_orders, abs=1e-6
        )
        assert r["lift"] == pytest.approx(
            r["n_ab"] * n_orders / (r["n_orders_a"] * r["n_orders_b"]),
            abs=1e-5,
        )


def test_g31_g32_percentiles_bracketed(spark, sf_dir):
    """For both latency profiles: p50 <= p90, both inside [min, max],
    and the mean inside [min, max]."""
    for name, lo, hi, mean, p50, p90 in (
        ("g31_interarrival_profile", "min_gap_us", "max_gap_us",
         "mean_gap_s", "p50_gap_s", "p90_gap_s"),
        ("g32_ship_latency_profile", "min_days", "max_days",
         "mean_days", "p50_days", "p90_days"),
    ):
        rows = _q(name)(spark, sf_dir).collect()
        assert rows, name
        scale = 1e6 if name.startswith("g31") else 1.0
        for r in rows:
            assert r[p50] <= r[p90] + 1e-9, name
            assert r[lo] / scale - 1e-6 <= r[p50] <= r[hi] / scale + 1e-6
            assert r[lo] / scale - 1e-6 <= r[p90] <= r[hi] / scale + 1e-6
            assert r[lo] / scale - 1e-6 <= r[mean] <= r[hi] / scale + 1e-6


def test_d19_utilization_census_identities(spark, sf_dir):
    """The census must cover the full M x ks grid exactly once, each
    subspace's assignments must add back to the corpus size (every
    vector encodes to exactly one code per subspace), shares must sum
    to ~1 per subspace, and is_dead must mirror n_assigned == 0."""
    from streamandbatchprocessing_spark.queries.similarity import (
        _PQ_KS,
        _PQ_M,
    )
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("d19_pq_code_utilization")(spark, sf_dir).collect()
    assert len(rows) == _PQ_M * _PQ_KS
    assert {(r["m"], r["code"]) for r in rows} == {
        (m, k) for m in range(_PQ_M) for k in range(_PQ_KS)
    }
    n = load_table(spark, sf_dir, "embeddings").count()
    for m in range(_PQ_M):
        sub = [r for r in rows if r["m"] == m]
        assert sum(r["n_assigned"] for r in sub) == n
        assert sum(r["share"] for r in sub) == pytest.approx(1.0, abs=2e-5)
    for r in rows:
        assert r["is_dead"] == (r["n_assigned"] == 0)
        assert 0.0 <= r["share"] <= 1.0


def test_d20_margin_report_identities(spark, sf_dir):
    """Cell populations must add back to the corpus, the mean margin
    ratio must sit in [0, 1] (d1 <= d2 by construction), ambiguous
    counts must respect their population, and the cell ids must be a
    subset of the k seed ids."""
    from streamandbatchprocessing_spark.queries.similarity import _IVF_K
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("d20_ivf_assignment_margin")(spark, sf_dir).collect()
    assert rows
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n
    assert len(rows) <= _IVF_K
    for r in rows:
        assert 0 <= r["cid"] < _IVF_K
        assert 0.0 <= r["mean_margin_ratio"] <= 1.0 + 1e-9
        assert 0 <= r["n_ambiguous"] <= r["n_vecs"]
        assert r["ambiguous_share"] == pytest.approx(
            r["n_ambiguous"] / r["n_vecs"], abs=1e-6
        )


def test_e21_purity_identities(spark, sf_dir):
    """Source doc counts must add back to the corpus, the dominant
    share must be >= 1/n_langs, entropy must sit in [0, ln(n_langs)],
    and a single-language source must report zero entropy and share 1."""
    import math

    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("e21_source_language_purity")(spark, sf_dir).collect()
    assert rows
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        assert 1.0 / r["n_langs"] - 1e-6 <= r["top_share"] <= 1.0
        assert -1e-9 <= r["lang_entropy"] <= math.log(r["n_langs"]) + 1e-6
        if r["n_langs"] == 1:
            assert r["top_share"] == pytest.approx(1.0, abs=1e-9)
            assert r["lang_entropy"] == pytest.approx(0.0, abs=1e-9)


def test_g34_ltv_identities(spark, sf_dir):
    """Within a cohort: cum_revenue must be the running sum of revenue
    (non-decreasing), ltv_per_user must equal cum_revenue divided by
    the recomputed cohort size, and offsets must be nonnegative."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("g34_cohort_ltv")(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    sizes = {
        r["cohort_date"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
        .groupBy("cohort_date").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    by_cohort = defaultdict(list)
    for r in rows:
        assert r["day_offset"] >= 0
        by_cohort[r["cohort_date"]].append(r)
    for cd, cells in by_cohort.items():
        cells.sort(key=lambda r: r["day_offset"])
        run = 0.0
        for r in cells:
            run += r["revenue"]
            assert r["cum_revenue"] == pytest.approx(run, abs=1e-4)
            assert r["ltv_per_user"] == pytest.approx(
                r["cum_revenue"] / sizes[cd], abs=1e-4
            )


def test_p23_grid_consistency_with_marginals(spark, sf_dir):
    """The joint grid's margins must reproduce p18's length histogram
    (summed over sources) and p22's decile cells, and shares must sum
    to 1."""
    from collections import defaultdict

    rows = _q("p23_length_quality_grid")(spark, sf_dir).collect()
    assert rows
    assert sum(r["doc_share"] for r in rows) == pytest.approx(
        1.0, abs=1e-4
    )
    # length marginal vs p18 (p18 is per-source; sum it)
    p18 = _q("p18_token_length_histogram")(spark, sf_dir).collect()
    len_marginal = defaultdict(int)
    for r in p18:
        len_marginal[r["log2_bucket"]] += r["n_docs"]
    got = defaultdict(int)
    for r in rows:
        assert r["bucket_lo"] == 1 << (r["len_bucket"] - 1)
        assert 0 <= r["quality_decile"] <= 10
        got[r["len_bucket"]] += r["n_docs"]
    assert dict(got) == dict(len_marginal)
    # quality marginal vs p22 (survival at decile d minus at d+1)
    p22 = {
        r["threshold_decile"]: r["docs_kept"]
        for r in _q("p22_quality_survival_curve")(spark, sf_dir).collect()
    }
    qgot = defaultdict(int)
    for r in rows:
        qgot[r["quality_decile"]] += r["n_docs"]
    for d in range(11):
        expect = p22[d] - p22.get(d + 1, 0)
        assert qgot.get(d, 0) == expect, f"decile {d}"


def test_c23_bit_bias_identities(spark, sf_dir):
    """Exactly 32 bits, ones + zeros must equal the corpus doc count
    per bit, shares in [0, 1], and bias == |share - 0.5| within
    rounding."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("c23_simhash_bit_bias")(spark, sf_dir).collect()
    assert len(rows) == 32
    assert {r["bit"] for r in rows} == set(range(32))
    n = load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert r["n_ones"] + r["n_zeros"] == n
        assert 0.0 <= r["ones_share"] <= 1.0
        assert r["bias"] == pytest.approx(
            abs(r["ones_share"] - 0.5), abs=1e-6
        )


def test_d21_drift_identities(spark, sf_dir):
    """Half populations must add back to each label's total, cosine
    must sit in [-1, 1], and shift must be nonnegative. (No sign
    assumption on the cosine: near-zero-mean embeddings averaged over
    a handful of vectors per half can legitimately anti-correlate at
    sf0.001.)"""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("d21_embedding_drift")(spark, sf_dir).collect()
    assert rows
    totals = {
        r["label"]: (r["nr"], r["nc"])
        for r in load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
            .alias("nr"),
            F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
            .alias("nc"),
        )
        .collect()
    }
    for r in rows:
        assert (r["n_ref"], r["n_cur"]) == totals[r["label"]]
        assert r["centroid_shift"] >= 0
        assert -1.000001 <= r["centroid_cos"] <= 1.000001


def test_d22_confusion_identities(spark, sf_dir):
    """Confusion cells must add back to the corpus, predicted labels
    must come from the label set, is_correct must mirror the diagonal,
    and — centroids being least-squares representatives — the diagonal
    must hold a plurality overall."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("d22_nearest_centroid_confusion")(spark, sf_dir).collect()
    assert rows
    n = load_table(spark, sf_dir, "embeddings").count()
    labels = {
        r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("label").distinct().collect()
    }
    assert sum(r["n_vecs"] for r in rows) == n
    diag = 0
    for r in rows:
        assert r["label"] in labels and r["predicted"] in labels
        assert r["is_correct"] == (r["label"] == r["predicted"])
        if r["is_correct"]:
            diag += r["n_vecs"]
    # better than the 1/|labels| random-assignment baseline
    assert diag * len(labels) > n


def test_m13_placement_identities(spark, sf_dir):
    """Every distinct payload lands on exactly R nodes; per-rank
    payload counts add back to the distinct-payload count; balance
    ratios average ~1 across the populated grid."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.queries.multimodal_q import (
        _HRW_NODES,
        _HRW_REPLICAS,
    )
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("m13_hrw_placement_plan")(spark, sf_dir).collect()
    assert rows
    n_distinct = (
        load_table(spark, sf_dir, "documents")
        .select(F.md5("text")).distinct().count()
    )
    for rank in range(1, _HRW_REPLICAS + 1):
        got = sum(r["n_payloads"] for r in rows if r["replica_rank"] == rank)
        assert got == n_distinct, (rank, got, n_distinct)
    for r in rows:
        assert 0 <= r["node"] < _HRW_NODES
        assert 1 <= r["replica_rank"] <= _HRW_REPLICAS
        assert r["balance_ratio"] > 0
    total_weighted = sum(r["balance_ratio"] * r["node_bytes"] for r in rows)
    total_bytes = sum(r["node_bytes"] for r in rows)
    assert total_bytes > 0


def test_p24_audit_matches_p08_split(spark, sf_dir):
    """The audit's per-source counts must equal the actual p08 split's
    counts (shared rule), shares must sum to 1 per split, and every
    deviation must be a valid absolute difference."""
    from collections import Counter

    rows = _q("p24_split_balance_audit")(spark, sf_dir).collect()
    assert rows
    p08 = _q("p08_train_val_split")(spark, sf_dir).collect()
    expect = Counter((r["source"], r["split"]) for r in p08)
    for r in rows:
        assert r["n_train"] == expect[(r["source"], "train")]
        assert r["n_val"] == expect[(r["source"], "val")]
        assert 0.0 <= r["val_rate_deviation"] <= 1.0
    assert abs(sum(r["share_train"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["share_val"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["share_overall"] for r in rows) - 1.0) < 1e-3


def test_c24_audit_consistent_with_content_groups(spark, sf_dir):
    """The one-row audit must agree with an independent digest-level
    recount: dup-group and conflict counts, and the maxima, recomputed
    from scratch."""
    from collections import defaultdict

    from streamandbatchprocessing_spark.sources.batch import load_table

    row = _q("c24_dup_label_conflicts")(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents").select(
        "text", "lang", "source"
    ).collect()
    groups = defaultdict(lambda: [0, set(), set()])
    for r in docs:
        g = groups[r["text"]]
        g[0] += 1
        g[1].add(r["lang"])
        g[2].add(r["source"])
    assert row["n_dup_groups"] == sum(1 for g in groups.values() if g[0] > 1)
    assert row["n_docs_in_dups"] == sum(
        g[0] for g in groups.values() if g[0] > 1
    )
    assert row["n_lang_conflicts"] == sum(
        1 for g in groups.values() if len(g[1]) > 1
    )
    assert row["n_source_conflicts"] == sum(
        1 for g in groups.values() if len(g[2]) > 1
    )
    assert row["max_langs_per_group"] == max(
        len(g[1]) for g in groups.values()
    )
    assert row["max_sources_per_group"] == max(
        len(g[2]) for g in groups.values()
    )


def test_e22_growth_curve_identities(spark, sf_dir):
    """vocab_size must be the running sum of new_types, must end at the
    corpus's total distinct-type count, and must be strictly positive
    and non-decreasing."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = sorted(
        _q("e22_vocab_growth_curve")(spark, sf_dir).collect(),
        key=lambda r: r["log2_bucket"],
    )
    assert rows
    total_types = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .select("tok").distinct().count()
    )
    run = 0
    prev = 0
    for r in rows:
        assert r["new_types"] >= 1
        run += r["new_types"]
        assert r["vocab_size"] == run
        assert r["vocab_size"] > prev
        prev = r["vocab_size"]
        assert r["docs_prefix_hi"] == (1 << r["log2_bucket"]) - 1
    assert rows[-1]["vocab_size"] == total_types


def test_d23_distortion_identities(spark, sf_dir):
    """Every subspace must account for every vector; min <= mean*1e12
    <= max within rounding; codebook seed vectors (vec_id < ks) must
    reconstruct exactly, so n_exact >= ks per subspace."""
    from streamandbatchprocessing_spark.queries.similarity import (
        _PQ_KS,
        _PQ_M,
    )
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("d23_pq_distortion_profile")(spark, sf_dir).collect()
    assert len(rows) == _PQ_M
    n = load_table(spark, sf_dir, "embeddings").count()
    for r in rows:
        assert r["n_vecs"] == n
        assert r["min_err"] == 0  # the seeds hit their own codeword
        assert r["n_exact"] >= _PQ_KS
        assert (
            r["min_err"] / 1e12 - 1e-6
            <= r["mean_err"]
            <= r["max_err"] / 1e12 + 1e-6
        )


def test_g35_survival_is_monotone_and_anchored(spark, sf_dir):
    """users_k_or_more must be non-increasing in k; k=1 must equal the
    distinct-buyer count (share exactly 1)."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = sorted(
        _q("g35_purchase_frequency_curve")(spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == list(range(1, 21))
    buyers = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id").distinct().count()
    )
    assert rows[0]["users_k_or_more"] == buyers
    assert rows[0]["buyer_share"] == pytest.approx(1.0, abs=1e-9)
    prev = None
    for r in rows:
        if prev is not None:
            assert r["users_k_or_more"] <= prev
        prev = r["users_k_or_more"]


def test_c25_fn_stats_identities(spark, sf_dir):
    """16 functions; distinct values can't exceed docs; the top value's
    count can't exceed docs and must be >= docs/n_distinct (pigeonhole);
    distinct_ratio consistent."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = _q("c25_minhash_fn_stats")(spark, sf_dir).collect()
    assert len(rows) == 16
    n = load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert 1 <= r["n_distinct"] <= n
        assert r["min_value"] <= r["max_value"]
        assert 1 <= r["top_value_count"] <= n
        assert r["top_value_count"] * r["n_distinct"] >= n  # pigeonhole
        assert r["distinct_ratio"] == pytest.approx(
            r["n_distinct"] / n, abs=1e-6
        )


def test_d10_zero_norm_vector_raises(spark, tmp_path):
    """d10's per-cell Arrow pass must REFUSE zero-norm vectors: cosine
    is undefined there and NaN ordering diverges between engines
    (np.lexsort places NaN last, DuckDB ORDER BY DESC places NaN
    first), so the guard makes the divergence unreachable rather than
    producing a silently different top-k set."""
    import pytest
    from pyspark.sql import Row

    from streamandbatchprocessing_spark.queries import QUERIES

    fixture = str(tmp_path / "zero_norm")
    rows = [
        Row(vec_id=i, embedding=[float(i + 1), 1.0, 0.5, 2.0])
        for i in range(4)
    ] + [Row(vec_id=4, embedding=[0.0, 0.0, 0.0, 0.0])]
    spark.createDataFrame(rows).write.parquet(f"{fixture}/embeddings.parquet")
    with pytest.raises(Exception, match="zero-norm"):
        QUERIES["d10_mutual_knn_graph"](spark, fixture).collect()


def test_cell_cosine_row_blocking_is_invariant(spark, sf_dir, monkeypatch):
    """The per-cell pairwise passes (c09 SemDeDup, d10 mutual k-NN)
    compute their cosine blocks in row blocks bounded by
    _CELL_BLOCK_BYTES so a skewed cell costs O(|cell|²) WORK but never
    O(|cell|²) MEMORY. Splitting must be invisible: forcing one-row
    blocks must reproduce the default output bit-for-bit (every C[i,j]
    element accumulates dimension-sequentially regardless of which
    block row i lands in)."""
    from streamandbatchprocessing_spark.queries import QUERIES
    from streamandbatchprocessing_spark.queries import similarity as sim

    def run(name):
        return sorted(map(repr, QUERIES[name](spark, sf_dir).collect()))

    default = {n: run(n) for n in ("c09_semantic_dedup", "d10_mutual_knn_graph")}
    monkeypatch.setattr(sim, "_CELL_BLOCK_BYTES", 1)  # rows-of-1 blocks
    for name, want in default.items():
        assert run(name) == want, name


def test_p06_literal_and_broadcast_regimes_agree(spark, sf_dir, monkeypatch):
    """p06 picks between the Bloom pre-screen (panel grams fit the
    plan-literal bitmap cap; round 10 — previously intersect-before-
    explode) and explode + broadcast-hash-join (huge panel). Both
    regimes must produce identical rows — pin it by forcing the
    fallback with a zero cap."""
    from streamandbatchprocessing_spark.queries import QUERIES
    from streamandbatchprocessing_spark.queries import pipeline as pl

    fast = sorted(
        map(repr, QUERIES["p06_contamination_check"](spark, sf_dir).collect())
    )
    monkeypatch.setattr(pl, "_MAX_PANEL_LITERAL_GRAMS", 0)
    slow = sorted(
        map(repr, QUERIES["p06_contamination_check"](spark, sf_dir).collect())
    )
    assert fast == slow


def test_ivf_k_derivation():
    """The coarse-quantizer cell count is DERIVED from the corpus count
    (floor 8 — the value every oracle-compared SF derives, so the
    static SQL k-means twins stay exact there) and grows as a power of
    two holding the average cell at or under _IVF_CELL_TARGET, keeping
    the in-cell quadratic stages linear in corpus size."""
    from streamandbatchprocessing_spark.queries.similarity import (
        _IVF_CELL_TARGET,
        _IVF_K,
        _ivf_k_for,
    )

    # every fixture SF sits in the floor regime
    for n in (0, 125, 500, 2000, 4096):
        assert _ivf_k_for(n) == _IVF_K
    assert _ivf_k_for(8000) == 16          # the staged sf1.0 fixture
    assert _ivf_k_for(1_000_000) == 2048
    for n in (1, 10_000, 123_456, 10**7):
        k = _ivf_k_for(n)
        assert k * _IVF_CELL_TARGET >= n or k == _IVF_K or k >= (1 << 20)
        if k > _IVF_K:
            assert (k // 2) * _IVF_CELL_TARGET < n  # minimal such power
