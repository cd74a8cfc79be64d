"""Interchange formats: schema-exact roundtrips beyond parquet.

The fixture star schema arrives as parquet, but a production engine
ingests and exports CSV / JSON Lines / ORC as a matter of course
(reference S6/S7 generalized: this module adds the OPTIONS that make
the text formats lossless and the tests that prove it).

Why options matter: parquet and ORC are self-describing, but CSV/JSON
drop type information — a naive roundtrip silently turns timestamps
into strings and longs into doubles. The canonical options below pin:

* timestamps to microsecond ISO-8601 (``_TS_FMT``) — NTZ-safe, no
  session-timezone dependence on the text side;
* schema on READ (never inferSchema: inference samples the data and
  can flip types between files — a 100 TB ingest must declare, not
  guess);
* ``mode=FAILFAST`` so malformed rows fail the job instead of becoming
  silent nulls (the default PERMISSIVE mode is how corrupt ingests go
  unnoticed);
* explicit null token for CSV (empty string is ambiguous once real
  empty strings exist).

Scale: all three formats stream through the normal DataFrame
writer/reader (per-partition files, no driver materialization). Text
formats lose parquet's column pruning and predicate pushdown — the
tests pin that the PARQUET path keeps them, which is why ingest
converts to parquet/ORC first and text lives only at the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Microsecond-precision, timezone-free — matches TIMESTAMP_NTZ exactly.
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_CSV_NULL = "\\N"

INTERCHANGE_FORMATS = ("parquet", "orc", "json", "csv")


def _has_nested(schema: T.StructType) -> bool:
    return any(
        isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        for f in schema.fields
    )


def write_interchange(df: DataFrame, path: str, fmt: str) -> None:
    """Write ``df`` so that :func:`read_interchange` with the same
    schema reproduces it exactly. CSV rejects nested columns up front
    (flat-file format — Spark would otherwise error mid-job)."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"unsupported interchange format {fmt!r}")
    if fmt == "csv" and _has_nested(df.schema):
        raise ValueError("csv cannot carry nested columns; use json/orc")
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true").option("timestampNTZFormat", _TS_FMT) \
             .option("timestampFormat", _TS_FMT).option("nullValue", _CSV_NULL)
    elif fmt == "json":
        w = w.option("timestampNTZFormat", _TS_FMT).option(
            "timestampFormat", _TS_FMT
        )
    w.format(fmt).save(path)


def read_interchange(
    spark: SparkSession, path: str, fmt: str, schema: T.StructType
) -> DataFrame:
    """Schema-declared, FAILFAST read of an interchange directory.

    The schema is REQUIRED (not inferred) for the text formats and
    enforced for the binary ones — the ingest contract is "these
    columns, these types, or the job fails loudly"."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"unsupported interchange format {fmt!r}")
    r = spark.read.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true").option("timestampNTZFormat", _TS_FMT) \
             .option("timestampFormat", _TS_FMT).option("nullValue", _CSV_NULL) \
             .option("mode", "FAILFAST")
    elif fmt == "json":
        r = r.option("timestampNTZFormat", _TS_FMT).option(
            "timestampFormat", _TS_FMT
        ).option("mode", "FAILFAST")
    return r.format(fmt).load(path)
