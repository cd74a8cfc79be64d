"""Round-10 hardening invariants: the enforced emission bounds on the
output-bound pair dumps (c18 blocked fuzzy match, c20 containment
pairs) — the production lever the round-9 verdict asked for (the c04
stop-shingle precedent: a tested cap, not a docstring note).

Each capped build is ALSO strict-oracle-compared at a non-default cap
(the lever itself is verified against SQL, not just the deployed
default, which tests/test_queries_oracle.py already covers)."""

from __future__ import annotations

from collections import defaultdict

from streamandbatchprocessing_spark.queries.dedup import (
    _C20_TOPN,
    _FUZZY_TOPN,
    _c18_frame,
    _c18_oracle,
    _c20_frame,
    _containment_oracle,
)
from tests.oracle_harness import compare

#: A cap no group reaches at test scale: the uncapped pair set.
_UNCAPPED = 1 << 30


# ---------------------------------------------------------------------------
# c18 — blocked fuzzy match emission bound
# ---------------------------------------------------------------------------
def test_c18_cap_keeps_best_n_per_left_record(spark, sf_dir):
    """The capped build must emit, per part_a, exactly the top-N rows
    of the UNCAPPED build under (edit_dist asc, part_b asc) — the cap
    is a best-first emission bound, never a sampling of matches."""
    uncapped = _c18_frame(spark, sf_dir, _UNCAPPED).collect()
    assert uncapped, "fixture produced no fuzzy matches"
    by_a = defaultdict(list)
    for r in uncapped:
        by_a[r["part_a"]].append(r)
    n = 3  # far below the fixture's densest block, so the cap bites
    expect = {
        (r["part_a"], r["part_b"])
        for rows in by_a.values()
        for r in sorted(rows, key=lambda r: (r["edit_dist"], r["part_b"]))[:n]
    }
    got = _c18_frame(spark, sf_dir, n).collect()
    assert {(r["part_a"], r["part_b"]) for r in got} == expect
    counts = defaultdict(int)
    for r in got:
        counts[r["part_a"]] += 1
    assert max(counts.values()) <= n
    assert any(len(v) > n for v in by_a.values()), (
        "cap never bit — lower n so the test exercises the bound"
    )


def test_c18_capped_variant_matches_oracle(spark, sf_dir):
    """The lever itself is SQL-verified: a non-default cap must still
    strict-match the capped oracle (QUALIFY row_number mirror)."""
    compare(
        spark, sf_dir, "c18_cap3",
        lambda s, d: _c18_frame(s, d, 3), _c18_oracle(3),
    )


def test_c18_deployed_default_is_bounded(spark, sf_dir):
    assert _FUZZY_TOPN > 0, (
        "the deployed c18 cap must ENFORCE a bound (the round-9 "
        "verdict item)"
    )


# ---------------------------------------------------------------------------
# c20 — containment pairs emission bound
# ---------------------------------------------------------------------------
def test_c20_cap_keeps_strongest_n_per_doc(spark, sf_dir):
    """Per doc_a the capped build must keep the top-N qualifying pairs
    by (max one-sided containment desc, doc_b asc) of the uncapped
    build."""
    uncapped = _c20_frame(spark, sf_dir, _UNCAPPED).collect()
    assert uncapped, "fixture produced no containment pairs"
    by_a = defaultdict(list)
    for r in uncapped:
        by_a[r["doc_a"]].append(r)
    n = 2  # the fixture's dense corpus has far deeper groups
    expect = {
        (r["doc_a"], r["doc_b"])
        for rows in by_a.values()
        for r in sorted(
            rows,
            key=lambda r: (
                -max(r["containment_ab"], r["containment_ba"]),
                r["doc_b"],
            ),
        )[:n]
    }
    got = _c20_frame(spark, sf_dir, n).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == expect
    counts = defaultdict(int)
    for r in got:
        counts[r["doc_a"]] += 1
    assert max(counts.values()) <= n
    assert any(len(v) > n for v in by_a.values()), (
        "cap never bit — lower n so the test exercises the bound"
    )


def test_c20_capped_variant_matches_oracle(spark, sf_dir):
    compare(
        spark, sf_dir, "c20_cap2",
        lambda s, d: _c20_frame(s, d, 2), _containment_oracle(2),
    )


def test_c20_deployed_default_is_bounded(spark, sf_dir):
    assert _C20_TOPN > 0, (
        "the deployed c20 cap must ENFORCE a bound (the round-9 "
        "verdict item)"
    )


# ---------------------------------------------------------------------------
# p06 — Bloom pre-screen bit-packing
# ---------------------------------------------------------------------------
def test_p06_bloom_expr_never_false_negative(spark, sf_dir):
    """The plan-literal Bloom screen's bit twiddling (unsigned->signed
    two's-complement word literals, DIV/shiftleft probes) must admit
    EVERY member — a false negative would silently drop real
    contamination hits, the one failure mode the attribution join
    cannot repair. Build the bitmap from Spark's own xxhash64 over an
    adversarial member set (empty string, spaces, unicode, long
    strings, near-collisions), screen members + non-members through
    the deployed filter expression, and require all members admitted
    with the non-member pass-rate plausibly bloom-ish (<100%)."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.queries.pipeline import (
        _P06_BLOOM_K,
        _P06_BLOOM_M,
        _p06_bloom_screen_expr,
    )

    members = [
        "", " ", "  ", "a", "the quick brown fox jumps over",
        "naïve café déjà-vu", "文字 漢字 かな", "\ttab\tsep",
        "x" * 500, "pad pad pad pad pad",
    ] + [f"member token stream {i} gram" for i in range(200)]
    others = [f"absent token stream {i} gram" for i in range(2000)]

    mdf = spark.createDataFrame([(m,) for m in members], ["g"])
    pos = mdf.select(
        *[
            F.pmod(F.xxhash64(F.col("g"), F.lit(s)), F.lit(_P06_BLOOM_M))
            .alias(f"p{s}")
            for s in range(_P06_BLOOM_K)
        ]
    ).collect()
    words = [0] * (_P06_BLOOM_M // 64)
    for r in pos:
        for s in range(_P06_BLOOM_K):
            p = r[f"p{s}"]
            words[p // 64] |= 1 << (p % 64)
    # Screen each string through the DEPLOYED array-filter expression
    # (a 1-element gram array survives iff the gram is admitted).
    screen = _p06_bloom_screen_expr(words, grams="array(g)")
    both = spark.createDataFrame(
        [(g, True) for g in members] + [(g, False) for g in others],
        ["g", "is_member"],
    )
    got = both.select(
        "is_member", (F.size(F.expr(screen)) == 1).alias("admitted")
    ).collect()
    n_member_dropped = sum(
        1 for r in got if r["is_member"] and not r["admitted"]
    )
    assert n_member_dropped == 0, f"{n_member_dropped} false negatives"
    admitted_others = sum(
        1 for r in got if not r["is_member"] and r["admitted"]
    )
    # ~210 members * 2 probes in 2^20 bits => FP rate ~1.6e-7; even a
    # 1000x modeling slack keeps 2000 non-members essentially all out.
    assert admitted_others < len(others), "screen admits everything"
