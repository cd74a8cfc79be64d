"""``build_spark``'s master-dependent defaults and the one local-master
check shared by the session and the dedup artifacts."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from streamandbatchprocessing_spark import session
from streamandbatchprocessing_spark.queries import dedup

LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


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
    # Cluster masters keep Spark's defaults: distributed listing above 32
    # dirs, and the FileContext checkpoint manager.
    assert (LISTING in conf) is listed_on_driver
    assert conf.get(CHECKPOINT_MANAGER) == (
        session.FS_CHECKPOINT_FILE_MANAGER if listed_on_driver else None
    )


def test_extra_conf_overrides_the_checkpoint_manager(monkeypatch):
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    own = "org.example.Manager"
    conf = session.build_spark(master="local[2]", extra_conf={CHECKPOINT_MANAGER: own})
    assert conf[CHECKPOINT_MANAGER] == own


def test_local_session_lists_on_driver(spark):
    assert int(spark.conf.get(LISTING)) == 2**31 - 1


def test_local_session_commits_checkpoints_through_filesystem(spark, tmp_path):
    jvm = spark._jvm  # noqa: SLF001
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),  # noqa: SLF001
    )
    assert manager.getClass().getName() == session.FS_CHECKPOINT_FILE_MANAGER


def test_pairs_materialize_auto_uses_reliable_on_local_cluster(monkeypatch):
    monkeypatch.setattr(dedup, "_PAIRS_MATERIALIZE", "auto")
    for master, mode in (("local[*]", "local"), ("local-cluster[2,1,1024]", "reliable")):
        fake = SimpleNamespace(sparkContext=SimpleNamespace(master=master))
        assert dedup._pairs_materialize_mode(fake) == mode


class _FakeContext:
    """A SparkContext with no checkpoint dir set; records ``setCheckpointDir``."""

    def __init__(self, master):
        self.master = master
        self.dirs = []
        unset = SimpleNamespace(isDefined=lambda: False)
        self._jsc = SimpleNamespace(sc=lambda: SimpleNamespace(checkpointDir=lambda: unset))

    def setCheckpointDir(self, path):  # noqa: N802 — mirrors SparkContext
        self.dirs.append(path)


@pytest.mark.parametrize(
    "master", ["local-cluster[2,1,1024]", "spark://h:7077", "yarn"]
)
def test_reliable_regime_needs_a_shared_checkpoint_dir_on_cluster_masters(
    monkeypatch, master
):
    # A driver-local staging dir is unreadable by other executors: no fallback.
    monkeypatch.delenv("SBP_CHECKPOINT_DIR", raising=False)
    sc = _FakeContext(master)
    fake = SimpleNamespace(sparkContext=sc)
    with pytest.raises(RuntimeError, match=r"\$SBP_CHECKPOINT_DIR"):
        dedup._ensure_checkpoint_dir(fake)
    assert sc.dirs == []
    monkeypatch.setenv("SBP_CHECKPOINT_DIR", "hdfs://nn/ckpt")
    dedup._ensure_checkpoint_dir(fake)
    assert sc.dirs == ["hdfs://nn/ckpt"]
