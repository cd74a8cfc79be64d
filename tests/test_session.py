"""``build_spark``'s master-dependent defaults and the one local-master
check shared by the session and the dedup artifacts."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from streamandbatchprocessing_spark import session
from streamandbatchprocessing_spark.queries import dedup

from .factories import transactions_df

LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_IMPL = "spark.hadoop.fs.file.impl"
FAKE_CLASSES = "/cache/nio-local-fs"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    _no_jvm_yet(monkeypatch)
    conf = session.build_spark(master=master)
    assert conf["master"] == master
    # Cluster masters keep Spark's defaults: distributed listing above 32
    # dirs, the FileContext checkpoint manager and the stock local
    # filesystem (their executors could not load the class).
    assert (LISTING in conf) is listed_on_driver
    assert conf.get(CHECKPOINT_MANAGER) == (
        session.FS_CHECKPOINT_FILE_MANAGER if listed_on_driver else None
    )
    assert conf.get(FILE_IMPL) == (
        session.NIO_LOCAL_FILESYSTEM if listed_on_driver else None
    )
    assert conf.get(session.DRIVER_CLASSPATH) == (FAKE_CLASSES if listed_on_driver else None)


def _no_jvm_yet(monkeypatch):
    """Record the builder's conf as if no JVM were running, with the
    filesystem classes already built."""
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(session, "nio_filesystem_classes", lambda: FAKE_CLASSES)


@pytest.mark.parametrize("jvm", ["python_gateway", "spark_submit"])
def test_local_filesystem_needs_a_new_jvm(monkeypatch, jvm):
    # A running JVM's classpath is fixed: naming the class would make
    # every local file access fail with ClassNotFoundException. Under
    # spark-submit or the pyspark shell the JVM starts before Python,
    # which finds it through PYSPARK_GATEWAY_PORT.
    _no_jvm_yet(monkeypatch)
    if jvm == "python_gateway":
        monkeypatch.setattr(session.SparkContext, "_gateway", object())
    else:
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "45678")
    conf = session.build_spark(master="local[2]")
    assert FILE_IMPL not in conf and session.DRIVER_CLASSPATH not in conf


def test_extra_conf_overrides_the_checkpoint_manager(monkeypatch):
    _no_jvm_yet(monkeypatch)
    own = "org.example.Manager"
    conf = session.build_spark(
        master="local[2]",
        extra_conf={CHECKPOINT_MANAGER: own, FILE_IMPL: "org.example.Fs"},
    )
    assert conf[CHECKPOINT_MANAGER] == own
    assert conf[FILE_IMPL] == "org.example.Fs"


def test_extra_classpath_is_appended_to(monkeypatch):
    _no_jvm_yet(monkeypatch)
    conf = session.build_spark(
        master="local[2]", extra_conf={session.DRIVER_CLASSPATH: "/a.jar:/b.jar"}
    )
    assert conf[session.DRIVER_CLASSPATH] == f"/a.jar:/b.jar{os.pathsep}{FAKE_CLASSES}"


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


def _modes(root):
    """(path, mode) of every file and dir under ``root``."""
    out = []
    for d, dirs, files in os.walk(root):
        out += [(os.path.join(d, n), 0o40000) for n in dirs]
        out += [(os.path.join(d, n), 0) for n in files]
    return [(p, kind | (os.stat(p).st_mode & 0o7777)) for p, kind in out]


def test_local_writes_keep_stock_modes(spark, tmp_path):
    """The session's local filesystem is ``NioLocalFileSystem``. Files it
    writes (parquet parts, checkpoint logs, state deltas and their
    ``.crc`` twins) are ``0o666 & ~umask``, dirs ``0o777 & ~umask``."""
    jvm = spark._jvm  # noqa: SLF001
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsparkSession.sessionState().newHadoopConf()  # noqa: SLF001
    )
    assert fs.getClass().getName() == session.NIO_LOCAL_FILESYSTEM
    from streamandbatchprocessing_spark.streaming.transactions import (
        start_transaction_pipeline,
    )

    rows = transactions_df(spark, 300).drop("processing_timestamp")
    rows.write.partitionBy("event_date").parquet(str(tmp_path / "table"))
    src = str(tmp_path / "src")
    rows.drop("event_date").write.parquet(src)
    for q in start_transaction_pipeline(
        spark, spark.readStream.schema(rows.drop("event_date").schema).parquet(src),
        str(tmp_path / "pipe"), trigger_available_now=True,
    ):
        q.awaitTermination()
    umask = os.umask(0)
    os.umask(umask)
    modes = _modes(tmp_path / "table") + _modes(tmp_path / "pipe")
    names = {os.path.basename(p) for p, _ in modes}
    assert any(n.endswith(".parquet.crc") for n in names)
    assert any(n.endswith(".delta") for n in names)  # state store
    assert {"offsets", "commits", "_spark_metadata"} <= names
    wrong = [
        (p, oct(m)) for p, m in modes
        if m != (0o40000 | (0o777 & ~umask) if m & 0o40000 else 0o666 & ~umask)
    ]
    assert wrong == []


_SPAWN_SHIM = """#!/bin/sh
echo "$0 $*" >> "$SPAWN_LOG"
exec /usr/bin/env PATH="$REAL_PATH" "$(basename "$0")" "$@"
"""

_WORKLOADS = textwrap.dedent("""
    import json, os, sys, time
    sys.path.insert(0, sys.argv[1])
    from streamandbatchprocessing_spark.queries import QUERIES
    from streamandbatchprocessing_spark.service.api import create_app
    from streamandbatchprocessing_spark.service.batch_job import BatchJobRunner
    from streamandbatchprocessing_spark.service.registry import BatchRegistry
    from streamandbatchprocessing_spark.session import build_spark
    from streamandbatchprocessing_spark.streaming.transactions import (
        start_transaction_pipeline,
    )
    from tests.factories import transactions_df

    sf_dir, work = sys.argv[2], sys.argv[3]
    spark = build_spark(master="local[2]", shuffle_partitions=4,
                        extra_conf={"spark.ui.enabled": "false"})
    log = os.environ["SPAWN_LOG"]
    rows = transactions_df(spark, 400).drop("processing_timestamp")
    rows.cache().count()
    spawns = {}

    def spawned(name, fn):
        open(log, "w").close()
        fn()
        with open(log) as f:
            spawns[name] = f.read().splitlines()

    def drain():
        QUERIES["f14_stream_semi_join"](spark, sf_dir).collect()

    def live():
        src = os.path.join(work, "src")
        rows.drop("event_date").repartition(2).write.parquet(src)
        stream = (spark.readStream.schema(rows.drop("event_date").schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        for q in start_transaction_pipeline(spark, stream, os.path.join(work, "pipe"),
                                            trigger_available_now=True):
            q.awaitTermination()
        for name in ("raw_transactions", "stream_aggregations"):
            commits = os.listdir(os.path.join(work, "pipe", "checkpoints", name, "commits"))
            assert sorted(c for c in commits if c.isdigit()) == ["0", "1"]

    def batch():
        runner = BatchJobRunner(spark, BatchRegistry(), os.path.join(work, "batches"),
                                source_loader=lambda: rows)
        client = create_app(runner).test_client()
        batch_id = client.post("/batch/run", json={
            "analysisType": "revenue_by_category",
            "startDate": "2024-01-01", "endDate": "2024-12-31"}).get_json()["batchId"]
        status = "PENDING"
        while status in ("PENDING", "RUNNING"):
            time.sleep(0.05)
            status = client.get(f"/batch/status/{batch_id}").get_json()["status"]
        assert status == "COMPLETED"
        for suffix in ("", "/aggregated"):
            assert client.get(f"/batch/data/{batch_id}{suffix}").status_code == 200

    spawned("f14_drain", drain)
    spawned("live_pipeline", live)
    spawned("rest_batch", batch)
    print(json.dumps(spawns))
""")


def test_local_writes_spawn_no_processes(tmp_path, sf_dir):
    """With ``chmod`` and ``readlink`` shimmed on PATH to log each call,
    an f14 drain, two micro-batches of the live pipeline and one REST
    batch with its pages spawn neither."""
    shim = tmp_path / "shim"
    shim.mkdir()
    for name in ("chmod", "readlink"):
        (shim / name).write_text(_SPAWN_SHIM)
        (shim / name).chmod(0o755)
    env = dict(
        os.environ, SPAWN_LOG=str(tmp_path / "spawns.log"),
        REAL_PATH=os.environ["PATH"], PATH=f"{shim}{os.pathsep}{os.environ['PATH']}",
    )
    work = tmp_path / "work"
    work.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _WORKLOADS, REPO, sf_dir, str(work)],
        env=env, capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    spawns = json.loads(proc.stdout.strip().splitlines()[-1])
    assert spawns == {"f14_drain": [], "live_pipeline": [], "rest_batch": []}


def test_session_without_javac_keeps_sparks_local_filesystem(tmp_path):
    """With no ``javac`` on PATH (and no cached classes), a new session
    starts on Spark's stock local filesystem and says so once."""
    path = []
    for i, d in enumerate(os.environ["PATH"].split(os.pathsep)):
        if os.path.exists(os.path.join(d, "javac")):
            farm = tmp_path / f"bin{i}"
            farm.mkdir()
            for name in os.listdir(d):
                if name != "javac":
                    (farm / name).symlink_to(os.path.join(d, name))
            d = str(farm)
        path.append(d)
    env = dict(os.environ, PATH=os.pathsep.join(path), XDG_CACHE_HOME=str(tmp_path / "cache"))
    code = textwrap.dedent("""
        import sys
        sys.path.insert(0, sys.argv[1])
        from streamandbatchprocessing_spark.session import build_spark
        spark = build_spark(master="local[1]", extra_conf={"spark.ui.enabled": "false"})
        fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
            spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
        spark.range(3).write.parquet(sys.argv[2])
        print(fs.getClass().getName())
    """)
    proc = subprocess.run(
        [sys.executable, "-c", code, REPO, str(tmp_path / "out")],
        env=env, capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] != session.NIO_LOCAL_FILESYSTEM
    logged = [line for line in proc.stderr.splitlines() if "NioLocalFileSystem" in line]
    assert len(logged) == 1 and "javac" in logged[0], logged
    assert not (tmp_path / "cache").exists()


def test_pairs_materialize_auto_uses_reliable_on_local_cluster():
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
