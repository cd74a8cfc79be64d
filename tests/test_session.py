"""``build_spark``'s master-dependent defaults and the one local-master
check shared by the session and the dedup artifacts."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from streamandbatchprocessing_spark import session
from streamandbatchprocessing_spark.queries import dedup

LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://h:7077", False),
        ("yarn", False),
    ],
)
def test_is_local_master(master, local):
    assert session.is_local_master(master) is local


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the conf."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):  # noqa: N802 — mirrors the builder API
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):  # noqa: N802
        return self.conf


@pytest.mark.parametrize(
    "master, listed_on_driver",
    [
        ("local[2]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://h:7077", False),
        ("yarn", False),
    ],
)
def test_driver_side_listing_only_on_local_masters(monkeypatch, master, listed_on_driver):
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    conf = session.build_spark(master=master)
    assert conf["master"] == master
    # Cluster masters keep Spark's default (distributed listing above 32 dirs).
    assert (LISTING in conf) is listed_on_driver


def test_local_session_lists_on_driver(spark):
    assert int(spark.conf.get(LISTING)) == 2**31 - 1


def test_pairs_materialize_auto_uses_reliable_on_local_cluster(monkeypatch):
    monkeypatch.setattr(dedup, "_PAIRS_MATERIALIZE", "auto")
    for master, mode in (("local[*]", "local"), ("local-cluster[2,1,1024]", "reliable")):
        fake = SimpleNamespace(sparkContext=SimpleNamespace(master=master))
        assert dedup._pairs_materialize_mode(fake) == mode
