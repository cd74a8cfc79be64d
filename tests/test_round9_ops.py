"""Mid-round-9 operator invariants: the twelve new knob-planning /
audit tables (c26, c27, d24, d25, e23, e24, g36, g37, m14, p25, p26,
p27).

Each already carries the strict DuckDB oracle compare via
tests/test_queries_oracle.py; these tests pin the MATHEMATICAL
invariants the oracle compare cannot see (an oracle that encodes the
same bug as the query still hash-matches)."""

from __future__ import annotations

import math

from streamandbatchprocessing_spark.queries import QUERIES


def _rows(spark, sf_dir, name):
    return QUERIES[name](spark, sf_dir).collect()


# ---------------------------------------------------------------------------
# c26 — band-plan S-curve
# ---------------------------------------------------------------------------
def test_c26_capture_is_a_probability_and_monotone_in_bands(spark, sf_dir):
    rows = _rows(spark, sf_dir, "c26_lsh_band_plan_curve")
    assert rows, "calibration sample produced no pairs"
    by_cfg: dict = {}
    for r in rows:
        assert 0.0 <= r["mean_capture"] <= 1.0
        assert r["expected_missed"] >= 0.0
        # expected misses never exceed the bin's pair count
        assert r["expected_missed"] <= r["n_pairs"] + 1e-6
        by_cfg.setdefault(r["jac_decile"], {})[r["n_bands"]] = r[
            "mean_capture"
        ]
    # At fixed rows-per-signature (16 hashes), MORE bands => shorter
    # bands => capture probability can only rise at every similarity:
    # 1-(1-s^r)^b with (b, r) = (2,8)->(16,1) is pointwise increasing
    # in b along this family.
    for decile, curve in by_cfg.items():
        caps = [curve[b] for b in sorted(curve)]
        for a, b in zip(caps, caps[1:]):
            # 1e-6 slack: per-pair captures are 6dp-quantized before
            # the bin mean, so ties can flip by one quantum.
            assert b >= a - 1e-6, (decile, caps)


def test_c26_theory_matches_closed_form(spark, sf_dir):
    # Spot-check one bin against the closed form evaluated at the bin's
    # mean jaccard: the bin MEAN capture must sit inside the capture
    # range of the bin's similarity endpoints (capture is monotone in s).
    rows = _rows(spark, sf_dir, "c26_lsh_band_plan_curve")
    for r in rows:
        b, rpb = r["n_bands"], r["rows_per_band"]
        lo = max(r["jac_decile"] / 10.0, 0.0)
        hi = min((r["jac_decile"] + 1) / 10.0, 1.0)
        cap = lambda s: 1.0 - (1.0 - s ** rpb) ** b  # noqa: E731
        assert cap(lo) - 1e-6 <= r["mean_capture"] <= cap(hi) + 1e-6


# ---------------------------------------------------------------------------
# c27 — dedup threshold sweep
# ---------------------------------------------------------------------------
def test_c27_sweep_is_monotone_and_consistent(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "c27_dedup_threshold_sweep"),
        key=lambda r: r["threshold_16ths"],
    )
    assert [r["threshold_16ths"] for r in rows] == list(range(8, 17))
    n_docs = rows[0]["n_docs_removed"] + rows[0]["n_docs_kept"]
    for r in rows:
        assert r["n_docs_removed"] + r["n_docs_kept"] == n_docs
        assert 0.0 <= r["kept_share"] <= 1.0
    # Raising the gate can only remove FEWER docs and qualify FEWER pairs.
    for a, b in zip(rows, rows[1:]):
        assert b["n_docs_removed"] <= a["n_docs_removed"]
        assert b["n_pairs"] <= a["n_pairs"]
        assert b["n_docs_kept"] >= a["n_docs_kept"]
    # A removed doc needs at least one qualifying pair.
    for r in rows:
        assert r["n_docs_removed"] <= r["n_pairs"] or r["n_pairs"] == 0


# ---------------------------------------------------------------------------
# d24 — cosine→label reliability curve
# ---------------------------------------------------------------------------
def test_d24_bins_are_sound(spark, sf_dir):
    rows = _rows(spark, sf_dir, "d24_cosine_label_reliability")
    assert rows
    for r in rows:
        assert -20 <= r["cos_bin"] <= 19
        assert 0 <= r["n_same_label"] <= r["n_pairs"]
        assert 0.0 <= r["same_label_share"] <= 1.0
        # mean cosine sits inside the bin (top bin holds cos = 1.0).
        lo = r["cos_bin"] * 0.05
        hi = (r["cos_bin"] + 1) * 0.05
        if r["cos_bin"] == 19:
            hi = 1.0 + 1e-9
        assert lo - 1e-6 <= r["mean_cosine"] <= hi + 1e-6


# ---------------------------------------------------------------------------
# d25 — SQ bit-width sweep
# ---------------------------------------------------------------------------
def test_d25_error_shrinks_with_width(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "d25_sq_bitwidth_sweep"),
        key=lambda r: r["width_bits"],
    )
    assert [r["width_bits"] for r in rows] == [2, 4, 6, 8]
    n = rows[0]["n_values"]
    for r in rows:
        assert r["levels"] == (1 << r["width_bits"]) - 1
        assert r["n_values"] == n
        assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"]
        assert math.isclose(
            r["compression_x"], 32.0 / r["width_bits"], rel_tol=1e-5
        )
    # NOTE: pairwise error monotonicity across widths is NOT asserted —
    # the 3/15/63/255-level grids are not nested (15 ∤ 63, 63 ∤ 255),
    # so per-value error can locally grow at a finer width; the provable
    # invariant is the per-width half-step bound, tested below.


def test_d25_max_error_respects_half_step_bound(spark, sf_dir):
    """Round-to-nearest onto a per-dim [mn, mx] grid can never err by
    more than half the WIDEST dimension's step."""
    import duckdb

    rows = _rows(spark, sf_dir, "d25_sq_bitwidth_sweep")
    widest = duckdb.sql(
        f"""SELECT MAX(mx - mn) AS w FROM (
            SELECT p, MIN(val) AS mn, MAX(val) AS mx FROM (
                SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) p,
                       unnest(CAST(embedding AS DOUBLE[])) val
                FROM '{sf_dir}/embeddings.parquet') GROUP BY p)"""
    ).fetchone()[0]
    for r in rows:
        bound = widest / (2 * r["levels"]) + 1e-9
        assert r["max_abs_err"] <= bound, (r["width_bits"], bound)


# ---------------------------------------------------------------------------
# e23 — token burstiness
# ---------------------------------------------------------------------------
def test_e23_moments_are_consistent(spark, sf_dir):
    rows = _rows(spark, sf_dir, "e23_token_burstiness")
    assert rows
    for r in rows:
        assert r["total_count"] >= r["n_docs"] >= 1
        assert 0.0 < r["doc_share"] <= 1.0
        assert r["mean_per_doc"] >= 1.0 - 1e-9  # conditioned on presence
        assert r["burstiness"] >= -1e-6  # variance/mean is nonnegative
        # A token appearing exactly once per containing doc has VMR 0.
        if r["total_count"] == r["n_docs"]:
            assert abs(r["burstiness"]) <= 1e-9


# ---------------------------------------------------------------------------
# e24 — source vocabulary JSD
# ---------------------------------------------------------------------------
def test_e24_jsd_is_a_bounded_symmetric_panel(spark, sf_dir):
    rows = _rows(spark, sf_dir, "e24_source_vocab_jsd")
    assert rows
    seen = set()
    for r in rows:
        a, b = r["source_a"], r["source_b"]
        assert a < b  # unordered pairs, each exactly once
        assert (a, b) not in seen
        seen.add((a, b))
        assert 0.0 - 1e-9 <= r["jsd_nats"] <= math.log(2.0) + 1e-9
        assert r["n_union_tokens"] >= 1
    # complete upper-triangle panel over the sources present
    srcs = sorted({s for ab in seen for s in ab})
    assert len(seen) == len(srcs) * (len(srcs) - 1) // 2


def test_e24_vocab_cap_enforced_and_oracle_mirrored(spark, sf_dir):
    """The top-K vocabulary cap (the enforced e08/e16 head discipline)
    bounds the grid support on BOTH engines identically: at a small K
    the capped Spark build still strict-oracle-matches the capped SQL,
    and union support per pair can never exceed K."""
    from streamandbatchprocessing_spark.queries.textops import (
        _e24_frame,
        _e24_oracle,
    )
    from tests.oracle_harness import compare

    k = 7
    compare(
        spark, sf_dir, "e24_capped",
        lambda s, d: _e24_frame(s, d, k), _e24_oracle(k),
    )
    for r in _e24_frame(spark, sf_dir, k).collect():
        assert r["n_union_tokens"] <= k


def test_e24_cap_above_vocab_is_a_noop(spark, sf_dir):
    """The deployed K (65536) sits far above the fixture vocabulary, so
    the capped build equals the unbounded-vocabulary build — the cap
    changes nothing until the corpus actually has a tail to drop."""
    from streamandbatchprocessing_spark.queries.textops import _e24_frame

    capped = {
        (r["source_a"], r["source_b"]): (r["n_union_tokens"], r["jsd_nats"])
        for r in _rows(spark, sf_dir, "e24_source_vocab_jsd")
    }
    wide = {
        (r["source_a"], r["source_b"]): (r["n_union_tokens"], r["jsd_nats"])
        for r in _e24_frame(spark, sf_dir, 1 << 30).collect()
    }
    assert capped == wide


# ---------------------------------------------------------------------------
# g36 / g37 — header-vs-detail audits
# ---------------------------------------------------------------------------
def test_g36_totals_and_bounds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "g36_order_value_reconciliation")
    assert rows
    for r in rows:
        assert 0 <= r["n_mismatched"] <= r["n_orders"]
        assert 0.0 <= r["mean_abs_dev"] <= r["max_abs_dev"] + 1e-9
        # mean cannot exceed max; zero mismatches forces zero deviation
        if r["n_mismatched"] == 0:
            assert r["max_abs_dev"] <= 0.01 + 1e-9


def test_g37_grid_is_a_partition_of_orders(spark, sf_dir):
    rows = _rows(spark, sf_dir, "g37_order_status_consistency")
    assert rows
    total_share = sum(r["order_share"] for r in rows)
    assert abs(total_share - 1.0) <= 1e-4  # 6dp rounding per cell
    for r in rows:
        assert r["recorded_status"] in ("F", "O", "P")
        assert r["derived_status"] in ("F", "O", "P")
        assert r["is_consistent"] == int(
            r["recorded_status"] == r["derived_status"]
        )
        assert r["n_lineitems"] >= r["n_orders"]  # >=1 line per order


# ---------------------------------------------------------------------------
# m14 — HRW rebalance audit
# ---------------------------------------------------------------------------
def test_m14_minimal_movement_invariants(spark, sf_dir):
    rows = {r["node"]: r for r in _rows(spark, sf_dir, "m14_hrw_rebalance_audit")}
    lost = rows[0]
    # The drained node holds nothing after.
    assert lost["n_after"] == 0 and lost["n_inherited"] == 0
    assert lost["bytes_after"] == 0 and lost["inherited_share"] == 0.0
    survivors = [rows[n] for n in rows if n != 0]
    # Survivors keep every pre-existing replica: after = before + inherited.
    for r in survivors:
        assert r["n_after"] == r["n_before"] + r["n_inherited"]
        assert r["bytes_after"] >= r["bytes_before"]
    # Exactly node 0's replica slots move — nothing else.
    assert sum(r["n_inherited"] for r in survivors) == lost["n_before"]
    # Replica-slot conservation: R slots per digest before and after.
    total_before = sum(r["n_before"] for r in rows.values())
    total_after = sum(r["n_after"] for r in rows.values())
    assert total_before == total_after


# ---------------------------------------------------------------------------
# p25 — context-length fit
# ---------------------------------------------------------------------------
def test_p25_ladder_is_monotone_per_source(spark, sf_dir):
    rows = _rows(spark, sf_dir, "p25_context_length_fit")
    assert rows
    by_src: dict = {}
    for r in rows:
        assert 0 <= r["n_over"] <= r["n_docs"]
        assert 0 <= r["tokens_lost"] <= r["total_tokens"]
        assert 0.0 <= r["over_share"] <= 1.0
        assert 0.0 <= r["loss_share"] <= 1.0
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs = sorted(rs, key=lambda r: r["ctx"])
        assert [r["ctx"] for r in rs] == [32, 64, 128, 256]
        for a, b in zip(rs, rs[1:]):
            # A longer window can only truncate less.
            assert b["n_over"] <= a["n_over"]
            assert b["tokens_lost"] <= a["tokens_lost"]
            # Consistency of the aggregate columns across the ladder.
            assert b["n_docs"] == a["n_docs"]
            assert b["total_tokens"] == a["total_tokens"]


# ---------------------------------------------------------------------------
# p26 — split leakage audit
# ---------------------------------------------------------------------------
def test_p26_counts_are_consistent_with_the_split(spark, sf_dir):
    (r,) = _rows(spark, sf_dir, "p26_split_leakage_audit")
    assert r["n_train"] + r["n_val"] == r["n_docs"]
    assert 0 <= r["val_docs_exact_leaked"] <= r["n_val"]
    assert 0 <= r["val_docs_near_leaked"] <= r["n_val"]
    # Each leaking group leaks >= 1 val doc.
    assert r["exact_leak_groups"] <= r["val_docs_exact_leaked"]
    # Every near-leaked val doc needs at least one cross pair.
    assert r["val_docs_near_leaked"] <= r["cross_neardup_pairs"]
    assert 0.0 <= r["val_leak_share"] <= 1.0
    # An exact cross-split dup IS a 16/16 (>= 14/16) candidate pair, so
    # the near-dup arm must see at least the exact-leaked val docs.
    assert r["val_docs_near_leaked"] >= r["val_docs_exact_leaked"]


def test_p26_flag_regimes_agree(spark, sf_dir):
    """Round 12: the near-dup arm attaches split flags by the
    planner-gated cheaper of broadcast flag joins vs inline id-hashing
    (planner_broadcasts over _p26_trial). Both branches must be
    bit-identical — force each regime via the broadcast threshold (the
    artifact memo keys on it, so each setting re-derives the gate) and
    compare the one-row audit exactly."""
    from streamandbatchprocessing_spark.queries.pipeline import _p26_trial
    from streamandbatchprocessing_spark.queries.registry import (
        planner_broadcasts,
    )

    conf_key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf_key)
    rows = {}
    try:
        for threshold, want in (("10485760", True), ("-1", False)):
            spark.conf.set(conf_key, threshold)
            assert planner_broadcasts(
                spark, sf_dir, "p26_flag_regime", _p26_trial
            ) is want
            rows[want] = _rows(spark, sf_dir, "p26_split_leakage_audit")
    finally:
        spark.conf.set(conf_key, prev)
    assert rows[True] == rows[False]


# ---------------------------------------------------------------------------
# p27 — tokenizer fertility
# ---------------------------------------------------------------------------
def test_p27_ratios_are_coherent(spark, sf_dir):
    rows = _rows(spark, sf_dir, "p27_tokenizer_fertility")
    assert rows
    for r in rows:
        assert r["n_docs"] >= 1
        # Every piece is at least one character; every word holds at
        # least one piece; pieces never undercount words.
        assert r["total_bpe_tokens"] >= r["total_ws_tokens"] >= r["n_docs"]
        assert r["chars_per_token"] >= 1.0 - 1e-9
        assert r["pieces_per_word"] >= 1.0 - 1e-9
        assert r["chars_per_word"] >= r["pieces_per_word"] - 1e-6
        # fertility x pieces-per-word ~= chars-per-word (exact up to
        # the 6dp quantization of each factor)
        assert abs(
            r["chars_per_token"] * r["pieces_per_word"]
            - r["chars_per_word"]
        ) <= max(0.01, r["chars_per_word"] * 1e-3)


# ---------------------------------------------------------------------------
# c26 expression generator — textual repeated squaring IS the power
# ---------------------------------------------------------------------------
def test_sq_chain_strings_evaluate_to_the_exact_power():
    """The generated multiply chains are plain arithmetic over one
    variable, so Python can evaluate the SAME text both engines run:
    the chain must agree with the closed-form power to float ulps for
    every power-of-two exponent the configs use."""
    from hypothesis import given, strategies as st

    from streamandbatchprocessing_spark.queries.dedup import _sq_chain

    @given(st.floats(min_value=0.0, max_value=1.0,
                     allow_nan=False, allow_infinity=False))
    def check(x):
        for n in (1, 2, 4, 8, 16):
            expr = _sq_chain("exact_r", n)
            got = eval(expr, {"__builtins__": {}}, {"exact_r": x})  # noqa: S307
            want = x ** n
            assert got == want or abs(got - want) <= 1e-15 * max(
                1.0, abs(want)
            ), (n, x, got, want)

    check()


def test_curve_exprs_match_closed_form_in_python():
    """cap6/miss6 strings, evaluated as plain Python on a grid of
    similarities, must match pround(1-(1-s^r)^b) within one quantum
    for every registered (bands, rows) config."""
    import math

    from streamandbatchprocessing_spark.queries.dedup import (
        _CURVE_CONFIGS,
        _curve_exprs,
    )

    def py_floor_expr(expr, s):
        return eval(  # noqa: S307
            expr, {"__builtins__": {"floor": math.floor}}, {"exact_r": s}
        )

    for b, r in _CURVE_CONFIGS:
        cap6_e, miss6_e = _curve_exprs(b, r)
        for i in range(0, 101, 7):
            s = i / 100.0
            miss = (1.0 - s ** r) ** b
            want_cap = math.floor((1.0 - miss) * 1000000.0 + 0.5) / 1000000.0
            want_miss = math.floor(miss * 1000000.0 + 0.5) / 1000000.0
            got_cap = py_floor_expr(cap6_e, s)
            got_miss = py_floor_expr(miss6_e, s)
            # repeated squaring may differ from libm pow by <= 1 ulp,
            # which after 6dp flooring is at most one quantum.
            assert abs(got_cap - want_cap) <= 1e-6 + 1e-12, (b, r, s)
            assert abs(got_miss - want_miss) <= 1e-6 + 1e-12, (b, r, s)
