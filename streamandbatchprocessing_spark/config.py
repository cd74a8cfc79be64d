"""Typed application config tree.

Parity target: the reference's HOCON tree (``config/AppConfig.scala:5-41``
loading ``conf/application.conf:1-36``) — app name, http binding, spark
(master/checkpoints/fair-scheduler file), kafka (bootstrap servers with
``${?KAFKA_BOOTSTRAP_SERVERS}`` env override, topic, group prefix),
table paths (base path with derived stream/batch/seed sub-paths — HOCON
substitution re-expressed as post-init derivation), and batch-runner
limits (pool size, page sizes, source path).

HOCON isn't on this stack; the same tree is frozen dataclasses with a
``load()`` that layers: built-in defaults ← optional JSON file
(``$SBP_CONFIG`` or explicit path, nested keys mirroring the HOCON
sections) ← environment overrides. Derived paths only apply when the
file didn't pin them, matching HOCON's lazy substitution.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class HttpConfig:
    host: str = "0.0.0.0"
    port: int = 8080


@dataclass(frozen=True)
class SparkConfig:
    master: str | None = None  # None → local[$SPARK_GRAFT_CPUS]
    checkpoint_dir: str = "data/checkpoints"
    fair_scheduler_file: str | None = None  # None → packaged fairscheduler.xml


@dataclass(frozen=True)
class KafkaConfig:
    bootstrap_servers: str = "localhost:9092"
    stream_topic: str = "transactions-stream"
    consumer_group_prefix: str = "streamandbatchprocessing"


@dataclass(frozen=True)
class TablesConfig:
    """Reference ``delta.*`` paths; the tables under them are parquet
    (Delta is not on this classpath)."""

    base_path: str = "data/tables"
    stream_transactions_path: str = ""  # derived: <base>/stream/transactions
    stream_aggregations_path: str = ""  # derived: <base>/stream/stream_aggregations
    batch_base_path: str = ""           # derived: <base>/batches
    seed_path: str = ""                 # derived: <base>/seed/transactions


@dataclass(frozen=True)
class BatchConfig:
    thread_pool_size: int = 8
    default_page_size: int = 100
    max_page_size: int = 10000
    source_path: str = ""  # derived: tables.stream_transactions_path


@dataclass(frozen=True)
class AppConfig:
    app_name: str = "streamandbatchprocessing-spark"
    http: HttpConfig = field(default_factory=HttpConfig)
    spark: SparkConfig = field(default_factory=SparkConfig)
    kafka: KafkaConfig = field(default_factory=KafkaConfig)
    tables: TablesConfig = field(default_factory=TablesConfig)
    batch: BatchConfig = field(default_factory=BatchConfig)


_SECTIONS = {
    "http": HttpConfig,
    "spark": SparkConfig,
    "kafka": KafkaConfig,
    "tables": TablesConfig,
    "batch": BatchConfig,
}


def _derive(cfg: AppConfig) -> AppConfig:
    """HOCON-substitution analog: fill path fields left empty."""
    t = cfg.tables
    t = replace(
        t,
        stream_transactions_path=t.stream_transactions_path
        or os.path.join(t.base_path, "stream", "transactions"),
        stream_aggregations_path=t.stream_aggregations_path
        or os.path.join(t.base_path, "stream", "stream_aggregations"),
        batch_base_path=t.batch_base_path or os.path.join(t.base_path, "batches"),
        seed_path=t.seed_path or os.path.join(t.base_path, "seed", "transactions"),
    )
    b = cfg.batch
    if not b.source_path:
        b = replace(b, source_path=t.stream_transactions_path)
    return replace(cfg, tables=t, batch=b)


def load(path: str | None = None, env: dict | None = None) -> AppConfig:
    """Defaults ← JSON file (``path`` or ``$SBP_CONFIG``) ← env overrides."""
    env = os.environ if env is None else env
    path = path or env.get("SBP_CONFIG")
    data: dict = {}
    if path:
        with open(path) as f:
            data = json.load(f)

    kwargs: dict = {}
    if "app_name" in data:
        kwargs["app_name"] = data["app_name"]
    for name, cls in _SECTIONS.items():
        section = data.get(name, {})
        unknown = set(section) - {f_ for f_ in cls.__dataclass_fields__}
        if unknown:
            raise ValueError(f"unknown config keys in [{name}]: {sorted(unknown)}")
        kwargs[name] = cls(**section)
    cfg = AppConfig(**kwargs)

    # Env overrides, mirroring application.conf's ${?KAFKA_BOOTSTRAP_SERVERS}.
    if env.get("KAFKA_BOOTSTRAP_SERVERS"):
        cfg = replace(
            cfg,
            kafka=replace(
                cfg.kafka, bootstrap_servers=env["KAFKA_BOOTSTRAP_SERVERS"]
            ),
        )
    return _derive(cfg)
