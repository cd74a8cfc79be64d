"""Batch sources over the driver fixture tables (parquet).

Parity target: reference S6/S7/S8 (Delta batch read/write,
``BatchJob.scala:44-90``) — here generalized to the parquet star schema
the harness provides (TESTDATA.md). Every table is parquet; Delta is
not on this classpath.

Scale notes: readers return plain lazy DataFrames so Catalyst keeps
predicate pushdown / column pruning / partition pruning; nothing here
forces materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Parquet schema memo, keyed by table path (round-12 optimization,
#: guide §6): schema INFERENCE is a driver-side footer read on every
#: ``spark.read.parquet`` call — measured 127 ms/call vs 22 ms with an
#: explicit schema on the sf0.1 fixtures — and the registry builds
#: 1–6 table reads per query, so a bench run paid seconds of pure
#: re-inference of immutable schemas. Production tables get schemas
#: from a catalog (Hive/Iceberg/Delta) for exactly this reason; the
#: memo is that catalog for the fixture dirs. Metadata only — never
#: rows — and per-process, so every run still computes from the
#: parquet inputs.
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {FIXTURE_TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver has shipped events.parquet with two different ``ts``
    physical types across rounds: parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects — PARQUET_TYPE_ILLEGAL — unless
    read as raw longs via the legacy conf) and plain TIMESTAMP(MICROS).
    Detect which one this fixture uses and normalize both to
    TIMESTAMP_NTZ so every downstream query sees one timezone-free
    type. The nanos path truncates with integer ``div 1000``, matching
    DuckDB's TIMESTAMP_NS→TIMESTAMP cast bit-for-bit (verified).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    # Same schema memo as load_table; the nanosAsLong conf is set
    # before EVERY read, so the memoized schema (nanos → LongType
    # under that conf) matches what re-inference would yield.
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned batch write (reference S7/S8:
    ``df.write.format("delta").partitionBy("category").mode("overwrite")``).

    At scale the partition column choice is the whole game: the reference
    partitions its raw snapshots by ``category`` (~10 values) and the
    stream table by ``event_date`` — both low-cardinality columns that
    downstream filters prune on. Keep that contract.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so the SQL-string
    interface (``spark.sql``) sees the same catalog names the DuckDB
    oracle does — including the events nanos-timestamp shim, which the
    view inherits from ``load_table``."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
