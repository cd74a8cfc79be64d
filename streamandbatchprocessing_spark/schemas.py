"""Canonical event schema + Kafka JSON parsing.

Parity target: reference ``Schemas.scala:8-39`` (the 31-column
TransactionEvent StructType — the single source of truth for both
streaming and batch) and ``Schemas.scala:44-48`` (Kafka value decode +
from_json parse, where malformed fields become nulls, never schema
drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(name: str, nullable: bool = True) -> StructField:
    return StructField(name, StringType(), nullable)


#: Reference Schemas.scala:8-39 — 22 strings, 2 timestamps, 1 int,
#: 5 doubles, 1 boolean. Nullability mirrors the declared schema
#: (9 non-null fields); parsed Kafka data is effectively all-nullable.
TRANSACTION_SCHEMA = StructType(
    [
        _s("transaction_id", False),
        StructField("event_timestamp", TimestampType(), False),
        StructField("processing_timestamp", TimestampType(), True),
        _s("customer_id", False),
        _s("customer_tier"),
        _s("product_id", False),
        _s("product_name", False),
        _s("category", False),
        _s("sub_category"),
        _s("brand"),
        StructField("quantity", IntegerType(), False),
        StructField("unit_price", DoubleType(), False),
        StructField("discount_percent", DoubleType(), True),
        StructField("total_amount", DoubleType(), False),
        StructField("tax_amount", DoubleType(), True),
        _s("currency", False),
        _s("payment_method", False),
        _s("card_network"),
        _s("transaction_status", False),
        _s("channel", False),
        _s("store_id"),
        _s("region", False),
        _s("city", False),
        _s("state"),
        _s("postal_code"),
        _s("device_type"),
        _s("session_id"),
        _s("ip_address"),
        StructField("is_fraudulent", BooleanType(), True),
        StructField("fraud_score", DoubleType(), True),
        _s("batch_id"),
    ]
)


def parse_kafka_value(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka raw bytes → typed transaction rows (reference S2+S3):
    ``CAST(value AS STRING)`` then ``from_json`` against the canonical
    schema; malformed fields null out rather than failing the stream."""
    return (
        df.select(F.col(value_col).cast("string").alias("json_value"))
        .select(F.from_json("json_value", TRANSACTION_SCHEMA).alias("data"))
        .select("data.*")
    )


def with_ingest_columns(df: DataFrame) -> DataFrame:
    """Ingest-time derivations (reference StreamingJob.scala:41-42):
    ``event_date`` partition column + ``processing_timestamp``."""
    return df.withColumn("event_date", F.to_date("event_timestamp")).withColumn(
        "processing_timestamp", F.current_timestamp()
    )
