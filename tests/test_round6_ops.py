"""Round-6 operator tests: scale-mode twins and estimator accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from streamandbatchprocessing_spark.queries import QUERIES


def test_p12_approx_within_tolerance(spark, sf_dir):
    """The approx profile must agree with p11's exact profile on every
    exact column (n_rows, n_null, min/max renders) and estimate each
    cardinality within 5x the configured 2% rsd (HLL++ error is
    probabilistic; 10% is far outside plausible drift for these
    cardinalities and still catches a broken estimator)."""
    exact = {
        r["column_name"]: r
        for r in QUERIES["p11_column_profile"](spark, sf_dir).collect()
    }
    approx = {
        r["column_name"]: r
        for r in QUERIES["p12_column_profile_at_scale"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for col, e in exact.items():
        a = approx[col]
        assert (a["n_rows"], a["n_null"], a["min_s"], a["max_s"]) == (
            e["n_rows"], e["n_null"], e["min_s"], e["max_s"]
        ), col
        nd, est = e["n_distinct"], a["approx_distinct"]
        assert abs(est - nd) <= max(1, 0.10 * nd), (
            f"{col}: approx {est} vs exact {nd}"
        )


def test_d11_recall_monotonic_in_nprobe(spark, sf_dir):
    """Probing more cells can only add candidates, so recall@k must be
    non-decreasing in nprobe for every query — the defining property
    of a multi-probe sweep (a violation means the probe sets are not
    nested or the ranking is unstable)."""
    rows = QUERIES["d11_nprobe_recall_curve"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q, "empty curve"
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["nprobe"])
        recs = [r["recall"] for r in rs]
        cands = [r["n_cands"] for r in rs]
        assert recs == sorted(recs), f"q{qid}: recall not monotonic {recs}"
        assert cands == sorted(cands), f"q{qid}: candidates shrank {cands}"


def test_d10_edges_are_mutual_and_canonical(spark, sf_dir):
    """Every emitted k-NN edge must be canonically oriented (a < b)
    with both directional ranks within k."""
    from streamandbatchprocessing_spark.queries.similarity import _KNN_K

    rows = QUERIES["d10_mutual_knn_graph"](spark, sf_dir).collect()
    assert rows, "no mutual edges found"
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert 1 <= r["rank_ab"] <= _KNN_K
        assert 1 <= r["rank_ba"] <= _KNN_K


def test_f13_cms_never_undercounts(spark, sf_dir):
    """The count-min invariant carried through the streaming drain:
    est_n >= true_n for every reported heavy hitter (CMS only ever
    overcounts on collisions; an undercount means micro-batch merges
    lost increments)."""
    rows = QUERIES["f13_streaming_heavy_hitters"](spark, sf_dir).collect()
    assert rows, "no heavy hitters at this SF"
    for r in rows:
        assert r["est_n"] >= r["true_n"], r


def test_c16_spectrum_accounts_for_every_posting(spark, sf_dir):
    """Σ df·n_shingles over the spectrum must equal the total exploded
    posting count, and Σ pair_cost must equal the total uncapped
    candidate-pair count — the spectrum is a lossless accounting of
    c04's cost model."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    from streamandbatchprocessing_spark.functions.text import shingles, tokens

    spec = QUERIES["c16_shingle_df_spectrum"](spark, sf_dir).collect()
    assert spec
    total_postings = sum(r["df"] * r["n_shingles"] for r in spec)
    docs = load_table(spark, sf_dir, "documents")
    expected = (
        docs.select(tokens("text").alias("toks"))
        .select(F.explode(F.array_distinct(shingles(F.col("toks")))).alias("g"))
        .count()
    )
    assert total_postings == expected
    for r in spec:
        assert r["pair_cost"] == r["n_shingles"] * r["df"] * (r["df"] - 1) // 2


def test_p15_kl_is_gibbs_nonnegative(spark, sf_dir):
    """Summed KL divergence must be >= 0 (Gibbs' inequality) and both
    reported distributions must each sum to ~1 over the surviving
    sources (the filter only drops sources absent from one half)."""
    rows = QUERIES["p15_source_mix_drift"](spark, sf_dir).collect()
    assert rows
    kl = sum(r["kl_term"] for r in rows)
    assert kl >= -1e-9, f"negative KL {kl}"
    assert abs(sum(r["p_cur"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["q_ref"] for r in rows) - 1.0) < 1e-3


def test_m07_chunks_tile_the_asset(spark, sf_dir):
    """Per asset: chunk starts advance by exactly the hop, every chunk
    is non-empty and window-bounded, and the final chunk reaches the
    last sample — the coverage contract the featurizer depends on."""
    rows = QUERIES["m07_audio_chunk_plan"](spark, sf_dir).collect()
    assert rows
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for media, rs in by_media.items():
        rs.sort(key=lambda r: r["chunk_id"])
        n = rs[0]["n_samples"]
        for i, r in enumerate(rs):
            assert r["chunk_start"] == i * 8000
            assert 1 <= r["chunk_len"] <= 16000
        last = rs[-1]
        assert last["chunk_start"] + last["chunk_len"] == min(
            n, last["chunk_start"] + 16000
        )
        assert last["chunk_start"] + 16000 >= n, "tail samples uncovered"


def test_m08_tiles_cover_image_area_exactly(spark, sf_dir):
    """Σ tile_w·tile_h per image == width·height: the tile grid is an
    exact partition of the pixel area (no gaps, no overlaps)."""
    rows = QUERIES["m08_image_tile_plan"](spark, sf_dir).collect()
    assert rows
    area: dict[int, int] = {}
    dims: dict[int, tuple] = {}
    for r in rows:
        area[r["media_id"]] = area.get(r["media_id"], 0) + (
            r["tile_w"] * r["tile_h"]
        )
        dims[r["media_id"]] = (r["width"], r["height"])
    for media, (w, h) in dims.items():
        assert area[media] == w * h, media


def test_g22_probabilities_sum_to_one_per_prev(spark, sf_dir):
    """Each prev_type's outgoing transition probabilities must sum to
    ~1 and its n_trans to n_from — the stochastic-matrix property."""
    rows = QUERIES["g22_event_transitions"](spark, sf_dir).collect()
    assert rows
    by_prev: dict[str, list] = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r)
    for prev, rs in by_prev.items():
        assert abs(sum(r["prob"] for r in rs) - 1.0) < 1e-4, prev
        assert sum(r["n_trans"] for r in rs) == rs[0]["n_from"], prev


def test_g23_diff_matches_modular_construction(spark, sf_dir):
    """The diff must report exactly the keys the deterministic
    perturbation touched: deleted = keys % 11 == 0, changed = keys
    % 7 == 0 (minus those also deleted), nothing added, and every
    changed row's price delta is exactly +1.5."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = QUERIES["g23_snapshot_diff"](spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    keys = [r["o_orderkey"] for r in orders.select("o_orderkey").collect()]
    want_deleted = {k for k in keys if k % 11 == 0}
    want_changed = {k for k in keys if k % 7 == 0 and k % 11 != 0}
    got = {r["o_orderkey"]: r for r in rows}
    assert {k for k, r in got.items() if r["change_type"] == "deleted"} == want_deleted
    assert {k for k, r in got.items() if r["change_type"] == "changed"} == want_changed
    assert not [r for r in rows if r["change_type"] == "added"]
    for r in rows:
        if r["change_type"] == "changed":
            assert r["new_price"] == r["old_price"] + 1.5


def test_c15_kept_doc_has_max_quality_in_bucket(spark, sf_dir):
    """Re-derive each colliding bucket's member qualities and check the
    kept doc is the (quality DESC, doc_id ASC) argmax — the keep-best
    policy, independently of the oracle."""
    from streamandbatchprocessing_spark.queries.dedup import (
        _BANDS, _band_bucket_cols, _sig_df,
    )
    from streamandbatchprocessing_spark.queries.textops import (
        quality_score_col, quality_scored_docs,
    )
    from streamandbatchprocessing_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    sig = _sig_df(docs)
    scored = quality_scored_docs(docs).select(
        "doc_id", quality_score_col().alias("q")
    )
    members: dict[tuple, list] = {}
    joined = sig.join(scored, "doc_id").collect()
    for row in joined:
        for b in range(_BANDS):
            key = (b, tuple(row[c] for c in _band_bucket_cols(b)))
            members.setdefault(key, []).append((row["doc_id"], row["q"]))
    result = QUERIES["c15_band_canonical_keep_best"](spark, sf_dir).collect()
    assert result
    # map bucket -> expected argmax among buckets with >= 2 members
    expected = {}
    for (b, _), ms in members.items():
        if len(ms) < 2:
            continue
        best = sorted(ms, key=lambda t: (-t[1], t[0]))[0]
        expected.setdefault(b, []).append(best)
    for r in result:
        assert (r["kept_doc_id"], r["kept_quality"]) in expected[r["band"]]
        assert r["n_dropped"] == r["n_docs"] - 1


def test_c14_calibration_aggregates_c08(spark, sf_dir):
    """The calibration table must be exactly the per-level aggregation
    of c08's per-pair report RESTRICTED to c14's deterministic pair
    sample (Carter-Wegman integer hash, derived modulus — the floor
    1/16 at fixture scale): same pair totals per estimate level and
    max error never below any sampled pair's error."""
    from streamandbatchprocessing_spark.queries.dedup import (
        _CAL_C1,
        _CAL_C2,
        _CAL_P,
        _CAL_SAMPLE_MOD,
    )

    def sampled(da: int, db: int) -> bool:
        h = (
            (da % _CAL_P) * _CAL_C1 % _CAL_P
            + (db % _CAL_P) * _CAL_C2 % _CAL_P
        ) % _CAL_P
        return h % _CAL_SAMPLE_MOD == 0

    pairs = [
        p for p in QUERIES["c08_candidate_verify"](spark, sf_dir).collect()
        if sampled(p["doc_a"], p["doc_b"])
    ]
    calib = QUERIES["c14_minhash_calibration"](spark, sf_dir).collect()
    assert calib
    n_by_level: dict[float, int] = {}
    max_by_level: dict[float, float] = {}
    for p in pairs:
        lvl = p["est_jaccard"]
        n_by_level[lvl] = n_by_level.get(lvl, 0) + 1
        max_by_level[lvl] = max(max_by_level.get(lvl, 0.0), p["est_error"])
    assert {r["est_jaccard"]: r["n_pairs"] for r in calib} == n_by_level
    for r in calib:
        assert abs(r["max_abs_err"] - max_by_level[r["est_jaccard"]]) < 1e-9
        assert r["avg_abs_err"] <= r["max_abs_err"] + 1e-9


def test_g24_islands_disjoint_and_ordered(spark, sf_dir):
    """Merged islands per customer must be strictly separated (next
    start > previous end — touching would have merged), non-empty, and
    account for every source interval."""
    from streamandbatchprocessing_spark.sources.batch import load_table

    rows = QUERIES["g24_interval_coalesce"](spark, sf_dir).collect()
    assert rows
    by_cust: dict[int, list] = {}
    total_intervals = 0
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
        total_intervals += r["n_intervals"]
        assert r["merged_start"] < r["merged_end"]
        assert r["n_intervals"] >= 1
    for cust, rs in by_cust.items():
        rs.sort(key=lambda r: r["island"])
        for a, b in zip(rs, rs[1:]):
            assert b["merged_start"] > a["merged_end"], (
                f"cust {cust}: islands {a['island']} and {b['island']} touch"
            )
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert total_intervals == n_orders


def test_p16_allocation_sums_exactly_to_budget(spark, sf_dir):
    """Hamilton apportionment: Σ alloc == the budget EXACTLY, every
    source gets floor or floor+1, and the +1s go to the largest
    remainders first."""
    from streamandbatchprocessing_spark.queries.pipeline import (
        _APPORTION_BUDGET,
    )

    rows = QUERIES["p16_budget_apportionment"](spark, sf_dir).collect()
    assert rows
    assert sum(r["alloc"] for r in rows) == _APPORTION_BUDGET
    bumped = sorted(
        r["rem_rank"] for r in rows if r["alloc"] == r["floor_alloc"] + 1
    )
    for r in rows:
        assert r["alloc"] in (r["floor_alloc"], r["floor_alloc"] + 1)
    # the bumped set is exactly ranks 1..R
    assert bumped == list(range(1, len(bumped) + 1))


def test_e16_head_is_sorted_and_mass_consistent(spark, sf_dir):
    """The head must be in non-increasing frequency order with strictly
    increasing cumulative mass, cum_share must track the running share
    sum, and the head's total mass can't exceed 1."""
    rows = QUERIES["e16_zipf_head_profile"](spark, sf_dir).collect()
    assert rows and rows[0]["rank"] == 1
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    cums = [r["cum_share"] for r in rows]
    assert cums == sorted(cums) and cums[-1] <= 1.0
    running = 0.0
    for r in rows:
        running += r["share"]
        assert abs(r["cum_share"] - running) < 1e-4, r["rank"]


def test_c17_keeps_best_member_of_each_component(spark, sf_dir):
    """Cross-check c17 against c07 + e02 independently: every reported
    cluster must match c07's multi-member components exactly, and the
    kept doc must be that component's (quality DESC, doc_id ASC)
    argmax."""
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in QUERIES["c07_dup_clusters"](spark, sf_dir).collect()
    }
    quality = {
        r["doc_id"]: r["quality_score"]
        for r in QUERIES["e02_quality_score"](spark, sf_dir).collect()
    }
    members: dict[int, list] = {}
    for doc, cl in clusters.items():
        members.setdefault(cl, []).append(doc)
    expected = {
        cl: sorted(ms, key=lambda d: (-quality[d], d))[0]
        for cl, ms in members.items()
        if len(ms) >= 2
    }
    got = QUERIES["c17_cluster_canonical_keep_best"](spark, sf_dir).collect()
    assert {r["cluster_id"]: r["kept_doc_id"] for r in got} == expected
    for r in got:
        assert r["n_members"] == len(members[r["cluster_id"]])
        assert r["n_dropped"] == r["n_members"] - 1


def test_c18_pairs_share_block_and_respect_threshold(spark, sf_dir):
    """Every emitted candidate pair must share its blocking token, be
    canonically oriented, and sit within the edit threshold — and the
    exact distance must match an independent Python Levenshtein."""
    from streamandbatchprocessing_spark.queries.dedup import _FUZZY_MAX_EDIT

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = QUERIES["c18_blocked_fuzzy_match"](spark, sf_dir).collect()
    assert rows, "no fuzzy candidates found"
    for r in rows[:200]:
        assert r["part_a"] < r["part_b"]
        ta, tb = r["name_a"].split(" "), r["name_b"].split(" ")
        assert ta[0] == tb[0]
        assert ta[1][:1] == tb[1][:1]
        assert 0 <= r["edit_dist"] <= _FUZZY_MAX_EDIT
        assert r["edit_dist"] == lev(r["name_a"], r["name_b"])


def test_m09_manifest_matches_exploded_plans(spark, sf_dir):
    """The closed-form manifest must equal the exploded plans' actual
    row counts per modality — the algebraic consistency that lets the
    scheduler trust the budget without generating unit rows."""
    manifest = {
        r["modality"]: r
        for r in QUERIES["m09_modality_manifest"](spark, sf_dir).collect()
    }
    assert set(manifest) == {"audio", "image", "video"}
    exploded = {
        "video": QUERIES["m03_frame_sample_plan"](spark, sf_dir).count(),
        "audio": QUERIES["m07_audio_chunk_plan"](spark, sf_dir).count(),
        "image": QUERIES["m08_image_tile_plan"](spark, sf_dir).count(),
    }
    for modality, n_rows in exploded.items():
        assert manifest[modality]["total_units"] == n_rows, modality
