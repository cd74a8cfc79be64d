"""Property-based checks of the engine's portable-determinism
primitives: the integer micro-mean quantizer (g13) and the Morton code
(b31). Each has a pure-Python model; hypothesis drives the model over
the full input space, and one Spark batch pins the column expressions
to the model on a sampled grid (the oracle suite separately pins
Spark == DuckDB on fixture data)."""

from __future__ import annotations

import re
from fractions import Fraction
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from streamandbatchprocessing_spark.functions.aggregates import dsum


# ---------------------------------------------------------------------------
# g13 micro-mean quantizer: m6 = half-away-from-zero round of s6/n
# ---------------------------------------------------------------------------
def _micro_mean_model(s6: int, n: int) -> int:
    """The SQL formula, verbatim: truncating integer div on the
    sign-split magnitude."""
    if s6 < 0:
        return -((2 * (-s6) + n) // (2 * n))
    return (2 * s6 + n) // (2 * n)


def _round_half_away(x: Fraction) -> int:
    """Reference semantics: nearest integer, ties away from zero."""
    sign = -1 if x < 0 else 1
    ax = abs(x)
    floor = ax.numerator // ax.denominator
    rem = ax - floor
    if rem > Fraction(1, 2) or rem == Fraction(1, 2):
        floor += 1
    return sign * floor


@settings(max_examples=500)
@given(
    st.integers(min_value=-(10**15), max_value=10**15),
    st.integers(min_value=1, max_value=10**9),
)
def test_micro_mean_formula_is_half_away_rounding(s6, n):
    assert _micro_mean_model(s6, n) == _round_half_away(Fraction(s6, n))


def test_micro_mean_spark_expression_matches_model(spark):
    from streamandbatchprocessing_spark.queries.relational_ext import (
        _MICRO_MEAN_SQL,
    )

    cases = [
        (s6, n)
        for s6 in (-2000003, -1, 0, 1, 7, 2000001, 2000003, 10**14 + 1)
        for n in (1, 2, 3, 7, 1000, 999983)
    ]
    df = spark.createDataFrame(cases, "s6 long, n_vals long")
    got = [
        r["m"]
        for r in df.select(F.expr(_MICRO_MEAN_SQL).alias("m")).collect()
    ]
    # The SQL expression scales back to a 6-dp decimal; compare in
    # micro-units to stay integer-exact.
    assert [int(m.scaleb(6)) for m in got] == [
        _micro_mean_model(s6, n) for s6, n in cases
    ]


# ---------------------------------------------------------------------------
# b31 Morton code: bijective and hierarchical (the locality property)
# ---------------------------------------------------------------------------
def _morton_model(x: int, y: int, bits: int = 12) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=500)
@given(st.integers(0, 4095), st.integers(0, 4095),
       st.integers(0, 4095), st.integers(0, 4095))
def test_morton_model_is_injective(x1, y1, x2, y2):
    if (x1, y1) != (x2, y2):
        assert _morton_model(x1, y1) != _morton_model(x2, y2)


@settings(max_examples=500)
@given(st.integers(0, 4095), st.integers(0, 4095))
def test_morton_model_is_hierarchical(x, y):
    # Dropping the low bit of each dimension == dropping the low two
    # z-bits: z-order ranges therefore nest by quadtree cell, which is
    # why contiguous z-runs (files) cover compact rectangles.
    assert _morton_model(x, y) >> 2 == _morton_model(x >> 1, y >> 1)


def test_morton_spark_expression_matches_model(spark):
    from streamandbatchprocessing_spark.sources.zorder import morton2

    import random

    rng = random.Random(7)
    cases = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(256)]
    df = spark.createDataFrame(cases, "x long, y long")
    got = [
        r["z"]
        for r in df.select(
            morton2(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    assert got == [_morton_model(x, y) for x, y in cases]


# ---------------------------------------------------------------------------
# pround: engine-portable floor-based rounding (the round(double, s)
# replacement after d08's live .5-tie divergence)
# ---------------------------------------------------------------------------
def _pround_model(x: float, scale: int) -> float:
    """Pure-float model of floor(x·10^s + 0.5)/10^s — every step an
    exactly-specified IEEE op, so this IS what both engines compute."""
    import math

    k = float(10 ** scale)
    return math.floor(x * k + 0.5) / k


def _adversarial_doubles() -> list[float]:
    """Inputs engineered to sit on or near rounding ties: exact
    half-micro ties (2k+1)/(2e6), small-denominator quotients (the
    fixture shape that produced d08's divergence), and scale edges."""
    vals = [(2 * k + 1) / 2e6 for k in range(0, 2000, 97)]
    vals += [a / b for b in (3, 7, 60, 64, 128, 192, 19200)
             for a in range(1, 40)]
    vals += [617 / 192000, 0.0032135, -0.0032135, 0.0, 1.0, -1.0]
    vals += [v * s for v in (0.1234565, 123456.5 / 1e6) for s in (1, -1)]
    return vals


def test_pround_spark_matches_duckdb_on_tie_adversaries(spark):
    """The portability claim itself, engine-vs-engine: Spark's pround
    column expression and DuckDB's floor-formula twin must agree
    EXACTLY on every tie-adversarial input (where round(double, 6)
    is allowed to — and does — disagree)."""
    import duckdb

    from streamandbatchprocessing_spark.functions.aggregates import (
        pround,
        pround_sql,
    )

    vals = _adversarial_doubles()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               schema="i long, x double")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", pround(F.col("x"), 6, alias="y")).collect()
    }
    con = duckdb.connect()
    expr = pround_sql("x", 6)
    want = {
        i: con.execute(f"SELECT {expr} AS y FROM (SELECT ? AS x)", [v])
        .fetchone()[0]
        for i, v in enumerate(vals)
    }
    assert got == want
    # model agreement too (documents WHAT the shared value is)
    for i, v in enumerate(vals):
        assert got[i] == _pround_model(v, 6)


def test_oracle_floor_rounding_formulas_are_self_consistent():
    """Most oracles inline the portable floor formula rather than
    calling pround_sql (they predate it / are plain strings). This
    guard makes the inlining safe: in EVERY registered oracle, each
    `* K + 0.5) / K'` rounding site must use the SAME scale on both
    sides (a mismatched pair silently rounds to the wrong precision —
    exactly the drift class pround_sql exists to prevent)."""
    import re

    from streamandbatchprocessing_spark.queries import ORACLES

    pat = re.compile(r"\*\s*([0-9]+(?:\.[0-9]+)?)\s*\+\s*0\.5\)\s*/\s*"
                     r"([0-9]+(?:\.[0-9]+)?)")
    checked = 0
    for name, sql in ORACLES.items():
        for mul, div in pat.findall(sql):
            assert float(mul) == float(div), (name, mul, div)
            checked += 1
    assert checked >= 40  # the formula is load-bearing across families


#: A decimal sum cast straight back to double: ``dsum``/``davg``
#: written out by hand.
_INLINE_DSUM = re.compile(r"""cast\("decimal\(25,6\)"\)\)\s*\.cast\("double"\)""")


def test_exact_decimal_sum_only_in_the_aggregates():
    """functions/aggregates.dsum/davg is the one Spark-side exact-decimal
    sum: no other module casts a decimal sum straight back to double.
    Partial decimal sums that a later step merges, and windowed sums,
    do not match."""
    pkg = Path(dsum.__code__.co_filename).resolve().parents[1]
    offenders = [
        f"{path.relative_to(pkg)}: {m.group(0)!r}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "aggregates.py" or path.parent.name != "functions"
        for m in _INLINE_DSUM.finditer(path.read_text())
    ]
    assert not offenders, "\n".join(offenders)
    assert _INLINE_DSUM.search('F.sum(F.col("v").cast("decimal(25,6)"))\n  .cast("double")')
    assert not _INLINE_DSUM.search('F.sum(F.col("v").cast("decimal(25,6)")).alias("dsum_raw")')
    assert not _INLINE_DSUM.search('F.sum(F.col("v").cast("decimal(25,6)"))\n.over(w)\n.cast("double")')


# ---------------------------------------------------------------------------
# _cos_row_blocks: row blocking must be invisible in the doubles
# ---------------------------------------------------------------------------
@settings(max_examples=120, deadline=None)
@given(
    st.integers(min_value=2, max_value=24),   # n vectors
    st.integers(min_value=1, max_value=8),    # dim
    st.integers(min_value=0, max_value=2**31),
)
def test_cos_row_blocks_bitwise_block_invariant(n, dim, seed):
    """The per-cell cosine generator (c09/d10's memory bound) must
    produce bit-identical doubles for ANY block split: every C[i,j]
    accumulates dimension-sequentially regardless of which block row i
    lands in, so forcing one-row blocks must equal the single-block
    matrix exactly — not approximately."""
    import numpy as np

    from streamandbatchprocessing_spark.queries import similarity as sim

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, dim))
    # Reject zero-norm rows (the generator raises on them by design).
    X[np.sqrt((X * X).sum(axis=1)) == 0.0] += 1.0

    def full(block_bytes):
        orig = sim._CELL_BLOCK_BYTES
        sim._CELL_BLOCK_BYTES = block_bytes
        try:
            out = np.empty((n, n))
            for blk, C in sim._cos_row_blocks(X, "prop"):
                out[blk] = C
            return out
        finally:
            sim._CELL_BLOCK_BYTES = orig

    one_block = full(8 * n * n + 1024)  # everything in a single block
    row_blocks = full(1)                # one row per block
    assert one_block.shape == (n, n)
    assert np.array_equal(one_block, row_blocks)  # bitwise, no tolerance


def test_cos_row_blocks_rejects_zero_norm():
    import numpy as np
    import pytest

    from streamandbatchprocessing_spark.queries import similarity as sim

    X = np.array([[1.0, 2.0], [0.0, 0.0], [3.0, 1.0]])
    with pytest.raises(ValueError, match="zero-norm"):
        list(sim._cos_row_blocks(X, "prop"))
