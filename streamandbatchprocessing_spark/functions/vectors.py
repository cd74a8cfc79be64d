"""Vector math over ``array<float>`` embedding columns — built-in
higher-order functions only (JVM-side, codegen'd): no UDF in the
similarity hot path.

Determinism contract: elements are widened float→double (exact), then
folded left-to-right; verified bit-identical to DuckDB's
``list_cosine_similarity`` on the fixture embeddings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """Exact float→double widening of an array<float> column.
    DuckDB: ``CAST(v AS DOUBLE[])``."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of elementwise products."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity. DuckDB: ``list_cosine_similarity(a, b)``."""
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(vec: Column, n_bits: int = 4, offset: int = 0) -> Column:
    """Coarse quantization bucket from the sign bits of dimensions
    ``offset+1 .. offset+n_bits`` — the cheap IVF-style partitioner used
    to restrict ANN search to one bucket (2^n_bits cells). Distinct
    ``offset`` values give independent LSH-style bands over the same
    vector. DuckDB: ``sum over CASE WHEN v[offset+i+1] >= 0 THEN 2^i
    ELSE 0 END``."""
    bucket = F.lit(0)
    for i in range(n_bits):
        bucket = bucket + F.when(
            F.element_at(vec, offset + i + 1) >= 0, F.lit(2**i)
        ).otherwise(0)
    return bucket


def sign_bits_for(n: int, target: int = 256, lo: int = 4, hi: int = 16) -> int:
    """Data-derived sign-bucket WIDTH: the smallest bit count in
    ``[lo, hi]`` whose cell count holds the average per-cell population
    at or under ``target`` (``2^bits * target >= n``). In-bucket ANN
    work is Σ|cell|², so bits must grow with log₂(N) to keep the
    per-cell quadratic cost flat — this makes that sizing rule code
    instead of docstring prose (the c09 salt precedent). Integer-exact
    (shift-and-compare, no float log), so the DuckDB twin
    :func:`sign_bits_sql` derives the identical value from the same
    corpus count."""
    bits = lo
    while bits < hi and (1 << bits) * target < n:
        bits += 1
    return bits


def sign_bits_sql(table: str, target: int = 256, lo: int = 4,
                  hi: int = 16) -> str:
    """DuckDB scalar expression computing :func:`sign_bits_for` from
    ``COUNT(*)`` over ``table`` — same integer shift-and-compare, so
    both engines derive the same width from the same data."""
    return (
        f"COALESCE((SELECT MIN(b) FROM range({lo}, {hi + 1}) t(b) "
        f"WHERE (CAST(1 AS BIGINT) << b) * {target} >= "
        f"(SELECT COUNT(*) FROM {table})), {hi})"
    )


def sign_bucket_sql_dyn(col: str, bits_expr: str, max_bits: int = 16) -> str:
    """DuckDB rendering of :func:`sign_bucket` whose WIDTH is a SQL
    expression (e.g. a ``params`` CTE column fed by
    :func:`sign_bits_sql`): bit *i* contributes only while
    ``i < bits``."""
    return "(" + " + ".join(
        f"CASE WHEN {i} < {bits_expr} AND {col}[{i + 1}] >= 0 "
        f"THEN {2 ** i} ELSE 0 END"
        for i in range(max_bits)
    ) + ")"


def sign_bucket_sql(col: str, n_bits: int = 4, offset: int = 0) -> str:
    """DuckDB rendering of :func:`sign_bucket` (1-based list indexing)."""
    return "(" + " + ".join(
        f"CASE WHEN {col}[{offset + i + 1}] >= 0 THEN {2 ** i} ELSE 0 END"
        for i in range(n_bits)
    ) + ")"
