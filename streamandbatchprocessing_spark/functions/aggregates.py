"""Deterministic aggregate builders.

Floating-point ``SUM``/``AVG`` results depend on partition/merge order,
so the same query can return slightly different doubles run-to-run (and
engine-to-engine). The reference sidesteps this only by ``round(x, 2)``
(AnalysisAggregator.scala:113-118) which still has boundary risk. We do
it properly: accumulate in exact decimal, then cast the final value back
to double. Decimal addition is associative/commutative, so results are
bit-identical regardless of partitioning — which is exactly what a
100 TB cluster run needs for reproducibility, and what lets the DuckDB
oracle match us bit-for-bit.

Cost note: decimal hash-agg is marginally slower than double but stays
inside whole-stage codegen; the scan still dominates at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Wide enough for sums over ~1e12 rows of money-sized values.
_DECIMAL = "decimal(25,6)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent SUM over a double column, returned as double.

    DuckDB-oracle equivalent:
    ``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DECIMAL)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent AVG (decimal-sum / non-null count) as double.

    DuckDB-oracle equivalent:
    ``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DECIMAL)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def pround(col: Column | str, scale: int, alias: str | None = None) -> Column:
    """ENGINE-PORTABLE rounding: ``floor(x·10^s + 0.5) / 10^s``.

    Every step (multiply, add, floor, divide) is an exactly-specified
    IEEE 754 operation, so any engine computing this expression on the
    same double produces the SAME double. Ties resolve half-up (toward
    +∞) on both engines by construction. ``round(double, s)`` is
    engine-SPECIFIC at .5 ties even on bit-identical inputs: Spark
    rounds the exact binary expansion via BigDecimal HALF_UP while
    DuckDB rounds the scaled double, and the two can land on opposite
    sides of a tie (observed live: d08's centroid mean, 0.003213 vs
    0.003214 at sf0.1).

    Domain bound: |x|·10^s must stay below 2^53 for the float multiply
    to be order-of-magnitude exact and below 2^63 for Spark's
    LONG-typed floor — true for every rounded output here (shares,
    scores, correlations ≤ 1; money quotients ≤ 1e7 at scale 6).

    DuckDB-oracle equivalent: ``floor(x * 1e{s} + 0.5) / 1e{s}``
    (see :func:`pround_sql`).
    """
    c = F.col(col) if isinstance(col, str) else col
    k = float(10 ** scale)
    out = F.floor(c * F.lit(k) + F.lit(0.5)).cast("double") / F.lit(k)
    return out.alias(alias) if alias else out


def pround_sql(x: str, scale: int) -> str:
    """The SQL twin of :func:`pround` for DuckDB oracle strings.

    Most existing oracles INLINE this formula verbatim (they are plain
    strings, predating this helper); use pround_sql in new f-string
    oracles. The inlined copies are pinned two ways: the engine-vs-
    engine tie test (test_pround_spark_matches_duckdb...) proves the
    formula itself, and test_oracle_floor_rounding_formulas_are_self_
    consistent scans every registered oracle for mismatched multiply/
    divide scales."""
    k = float(10 ** scale)
    return f"floor(({x}) * {k!r} + 0.5) / {k!r}"


#: DuckDB-oracle twins of :func:`dsum` and :func:`davg` for oracle
#: strings: ``DSUM_SQL.format(x=<column expression>)``.
DSUM_SQL = "CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE)"
DAVG_SQL = DSUM_SQL + " / COUNT({x})"
