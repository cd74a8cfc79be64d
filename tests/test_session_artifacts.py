"""Session-shared artifact discipline (queries/registry.session_artifact).

The dedup family (signatures / candidate stream / token sets) and the
ANN family (quantized vectors / k-means index / PQ encoding) read
write-once session artifacts instead of rebuilding inside each query.
These tests pin the three properties that sharing must not break:

1. Artifact contents equal a cold inline rebuild bit-for-bit.
2. The memo actually memoizes (same object back) — and is keyed on the
   plan-perturbation confs, so the forced-SMJ sweep rebuilds.
3. release_session_artifacts empties the memo and unpersists, so a
   corpus-snapshot rotation cannot leak cached blocks.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from streamandbatchprocessing_spark.queries import dedup
from streamandbatchprocessing_spark.queries.registry import (
    _SESSION_ARTIFACTS,
    release_session_artifacts,
    session_artifact,
)
from streamandbatchprocessing_spark.sources.batch import load_table


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_shared_pairs_equals_inline_rebuild(spark, sf_dir):
    shared = dedup.shared_pairs(spark, sf_dir).select(
        "da", "db", (F.col("agree") / 16.0).alias("est")
    )
    docs = load_table(spark, sf_dir, "documents")
    inline = dedup._band_pairs(
        dedup._sig_df(docs),
        lambda pa, pb, band: [
            (dedup._agree_col(pa, pb, band) / 16.0).alias("est")
        ],
    )
    assert _rows(shared) == _rows(inline)


def test_shared_toksets_sizes_match_string_sets(spark, sf_dir):
    # int64-hashed sets must preserve SIZES exactly (the only thing the
    # exact measures read) vs the raw string token sets.
    hashed = dedup.shared_toksets(spark, sf_dir).select(
        "doc_id", F.size("toks").alias("n")
    )
    strings = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).alias("n"),
    )
    assert _rows(hashed) == _rows(strings)


def test_text_artifacts_split_text_once(spark, sf_dir):
    # The four corpus text artifacts derive from one token projection
    # (dedup.corpus_tokens), so each plan splits ``text`` exactly once
    # per document; an inline split inside the shingle lambda would
    # run once per shingle.
    for build in (
        dedup.shared_sig,
        dedup.shared_toksets,
        dedup.shared_simhash_fp,
        dedup.shared_shingles,
    ):
        df = build(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        # A materialized adaptive plan prints its initial plan after
        # the final one; count the plan that ran.
        ran = plan.split("== Initial Plan ==")[0]
        assert ran.count("split(") == 1, (build.__name__, plan)


def test_memo_hits_and_is_conf_keyed(spark, sf_dir):
    a = dedup.shared_sig(spark, sf_dir)
    b = dedup.shared_sig(spark, sf_dir)
    assert a is b  # memo hit — no rebuild
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        c = dedup.shared_sig(spark, sf_dir)
        assert c is not a  # perturbed conf gets its own build
        assert _rows(c) == _rows(a)  # ...with identical contents
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_release_empties_memo_and_allows_rebuild(spark, sf_dir):
    before = dedup.shared_sig(spark, sf_dir)
    assert _SESSION_ARTIFACTS
    release_session_artifacts()
    assert not _SESSION_ARTIFACTS
    after = dedup.shared_sig(spark, sf_dir)
    assert after is not before
    assert _rows(after) == _rows(before)


def test_tuple_artifacts_release_cleanly(spark, sf_dir):
    # tuple-valued artifacts (DataFrames mixed with plain objects) must
    # unpersist their DataFrame parts without raising
    marker = session_artifact(
        spark, sf_dir, "test_tuple",
        lambda: (load_table(spark, sf_dir, "region").persist(), [1, 2, 3]),
    )
    assert marker[1] == [1, 2, 3]
    release_session_artifacts()
    assert not _SESSION_ARTIFACTS


def test_shared_kmeans_equals_cold_rebuild(spark, sf_dir):
    """The shared k-means index (centroids + assignment) must be
    bit-identical to a cold _integer_kmeans run — deterministic Lloyd
    on integer arithmetic has no legitimate source of drift, so any
    difference means the memo leaked state between builds."""
    from streamandbatchprocessing_spark.queries import similarity as sim

    centroids, assign = sim._shared_kmeans(spark, sf_dir)
    _, ei = sim._quantized_vectors(spark, sf_dir)
    cold_centroids, cold_assign = sim._integer_kmeans(ei)
    assert centroids == cold_centroids
    assert _rows(assign) == _rows(cold_assign)


def test_shared_pq_encoding_equals_cold_rebuild(spark, sf_dir):
    """The shared PQ encoding (codes per vector + codebook tensor)
    must equal a cold rebuild."""
    import numpy as np

    from streamandbatchprocessing_spark.queries import similarity as sim

    ei, coded, CB, sd = sim._pq_encoded(spark, sf_dir)
    ei2, coded2, CB2, sd2 = sim._pq_encoded_build(spark, sf_dir)
    try:
        assert sd == sd2
        assert np.array_equal(CB, CB2)
        assert _rows(coded) == _rows(coded2)
    finally:
        # the cold rebuild's persist is outside both release registries
        coded2.unpersist()


def test_concurrent_builds_memoize_once(spark, sf_dir):
    """Concurrent first-touch must not double-build (the losing build's
    persisted DataFrame would be orphaned in the block manager): all
    threads must get the SAME object back."""
    import threading

    release_session_artifacts()
    results = []
    barrier = threading.Barrier(4)

    def touch():
        barrier.wait()
        results.append(dedup.shared_sig(spark, sf_dir))

    threads = [threading.Thread(target=touch) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 4
    assert all(r is results[0] for r in results)


def test_release_scopes_by_application_id(spark, sf_dir):
    from streamandbatchprocessing_spark.queries.registry import (
        session_artifact as sa,
    )

    release_session_artifacts()
    sa(spark, sf_dir, "scope_probe", lambda: "mine")
    # a foreign application's entry must survive a scoped release
    _SESSION_ARTIFACTS[("other-app", sf_dir, "scope_probe")] = "theirs"
    release_session_artifacts(spark.sparkContext.applicationId)
    assert ("other-app", sf_dir, "scope_probe") in _SESSION_ARTIFACTS
    assert not any(
        k[0] == spark.sparkContext.applicationId for k in _SESSION_ARTIFACTS
    )
    release_session_artifacts()


def test_shared_artifacts_are_spill_safe(spark, sf_dir):
    """Every materialized shared artifact must keep a MEMORY_AND_DISK
    storage level — a MEMORY_ONLY artifact would silently drop
    partitions (recompute churn for a persist()-cached one, job FAILURE
    for a checkpointed one) or OOM when the candidate stream outgrows
    executor memory at large SF. The pairs artifact is
    localCheckpoint-materialized (round 12: lineage truncation), so its
    blocks live on the checkpoint RDD, not in the CacheManager —
    inspect whichever holds the artifact's blocks."""
    from streamandbatchprocessing_spark.queries import similarity as sim

    frames = {
        "sig": dedup.shared_sig(spark, sf_dir),
        "pairs": dedup.shared_pairs(spark, sf_dir),
        "toksets": dedup.shared_toksets(spark, sf_dir),
        "shingles": dedup.shared_shingles(spark, sf_dir),
        "kmeans_assign": sim._shared_kmeans(spark, sf_dir)[1],
        "pq_coded": sim._pq_encoded(spark, sf_dir)[1],
        "adc_scored": sim._pq_adc_scores(spark, sf_dir)[1],
    }
    for name, df in frames.items():
        analyzed = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        if analyzed.getClass().getSimpleName() == "LogicalRDD":
            jlvl = analyzed.rdd().getStorageLevel()
            assert jlvl.useMemory() and jlvl.useDisk(), (
                name, jlvl.toString(),
            )
        else:
            lvl = df.storageLevel
            assert lvl.useMemory and lvl.useDisk, (name, str(lvl))


def test_variant_cap_evicts_lru_conf_variants(spark, sf_dir):
    """Artifacts are keyed on plan-conf values, so a session sweeping
    many conf combinations would otherwise accumulate one persisted
    copy per variant per kind. The memo retains at most TWO variants
    per (app, sf_dir, kind) — exactly the perturb_sweep working set —
    and unpersists least-recently-used beyond that."""
    release_session_artifacts()
    builds = []

    def touch(tag):
        return session_artifact(
            spark, sf_dir, "cap_probe", lambda: builds.append(tag) or tag
        )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("5", "7", "11"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            touch(parts)
        # three variants built, only the last two retained
        assert builds == ["5", "7", "11"]
        probe_keys = [
            k for k in _SESSION_ARTIFACTS if k[2] == "cap_probe"
        ]
        assert len(probe_keys) == 2
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert touch("7-again") == "7"  # still memoized (no rebuild)
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        assert touch("5-again") == "5-again"  # evicted -> rebuilt
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
        release_session_artifacts()


def test_variant_cap_is_env_configurable(spark, sf_dir, monkeypatch):
    """Round-10 operations lever: a host sweeping K >= 3 conf variants
    round-robin sets $SBP_ARTIFACT_VARIANTS_CAP=K to hold all K
    resident — with the cap raised to 3, the 3-variant round-robin
    that thrashes the default LRU of 2 never rebuilds."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c",
         "from streamandbatchprocessing_spark.queries.registry import "
         "_ARTIFACT_VARIANTS_CAP as c; print(c)"],
        env={**os.environ, "SBP_ARTIFACT_VARIANTS_CAP": "5"},
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "5"

    from streamandbatchprocessing_spark.queries import registry

    monkeypatch.setattr(registry, "_ARTIFACT_VARIANTS_CAP", 3)
    release_session_artifacts()
    builds = []

    def touch(tag):
        return session_artifact(
            spark, sf_dir, "cap3_probe", lambda: builds.append(tag) or tag
        )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for _sweep in range(3):  # round-robin the 3 variants 3x
            for parts in ("5", "7", "11"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                touch(parts)
        # one build per variant, zero rebuilds across re-entries
        assert builds == ["5", "7", "11"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
        release_session_artifacts()


def test_evicted_lock_race_keeps_first_insert(spark, sf_dir):
    """A thread waiting on a key lock that eviction just removed from
    the lock map races the key's rebuilder (which holds a FRESH lock
    for the same key). Both builds run; the first insert must win, all
    callers must get that same object back, and the losing build's
    persisted DataFrame must be unpersisted — never orphaned in the
    block manager."""
    import threading

    from streamandbatchprocessing_spark.queries.registry import (
        _ARTIFACT_KEY_LOCKS,
    )
    from streamandbatchprocessing_spark.sources.batch import load_table

    release_session_artifacts()
    slow_entered = threading.Event()
    slow_release = threading.Event()
    results = {}
    built = {}

    def slow_build():
        # Simulates the waiter that acquired the STALE lock object:
        # while it builds, eviction has already popped its lock, so a
        # second caller builds concurrently under a fresh lock.
        slow_entered.set()
        assert slow_release.wait(timeout=30)
        built["loser"] = load_table(spark, sf_dir, "region").persist()
        return built["loser"]

    def slow_caller():
        results["slow"] = session_artifact(
            spark, sf_dir, "race_probe", slow_build
        )

    def fast_caller():
        results["fast"] = session_artifact(
            spark, sf_dir, "race_probe",
            lambda: load_table(spark, sf_dir, "nation").persist(),
        )

    t_slow = threading.Thread(target=slow_caller)
    t_slow.start()
    assert slow_entered.wait(timeout=30)
    # Simulate the eviction that races the in-flight build: pop the
    # key's lock so the next caller mints a fresh one and builds.
    with_probe = [k for k in _ARTIFACT_KEY_LOCKS if k[2] == "race_probe"]
    assert with_probe, "slow build should have registered its key lock"
    for k in with_probe:
        _ARTIFACT_KEY_LOCKS.pop(k, None)
    t_fast = threading.Thread(target=fast_caller)
    t_fast.start()
    t_fast.join(timeout=30)
    assert "fast" in results, "fresh-lock build should not block"
    slow_release.set()
    t_slow.join(timeout=30)
    # First insert (the fast caller's) wins; the slow loser gets the
    # same object back and its own build is unpersisted.
    assert results["slow"] is results["fast"]
    assert results["fast"].storageLevel.useMemory  # winner stays persisted
    assert not built["loser"].storageLevel.useMemory  # loser unpersisted
    memo_values = [
        v for k, v in _SESSION_ARTIFACTS.items() if k[2] == "race_probe"
    ]
    assert memo_values == [results["fast"]]
    release_session_artifacts()


def test_unrelated_artifact_builds_do_not_serialize(spark, sf_dir):
    """Builds hold a PER-KEY lock, not the global memo lock: a thread
    touching kind B must not wait for kind A's slow first-touch build
    (ADVICE r08: the service's 3-deep pool serialized on the single
    global lock)."""
    import threading
    import time as _t

    release_session_artifacts()
    a_started = threading.Event()
    a_release = threading.Event()
    b_done_at = []

    def slow_a():
        def build():
            a_started.set()
            assert a_release.wait(timeout=30)
            return "A"
        session_artifact(spark, sf_dir, "slow_kind_a", build)

    def fast_b():
        assert a_started.wait(timeout=30)
        session_artifact(spark, sf_dir, "fast_kind_b", lambda: "B")
        b_done_at.append(_t.monotonic())

    ta = threading.Thread(target=slow_a)
    tb = threading.Thread(target=fast_b)
    ta.start()
    tb.start()
    tb.join(timeout=30)
    finished_before_a_released = not ta.is_alive() or bool(b_done_at)
    a_release.set()
    ta.join(timeout=30)
    assert b_done_at, "kind-B build blocked behind kind-A's build"
    assert finished_before_a_released
    release_session_artifacts()


def test_pairs_reliable_regime_survives_block_loss(spark, sf_dir, monkeypatch):
    """Round 13 (the round-12 verdict's #1): on a cluster master the
    candidate stream materializes via reliable ``checkpoint()`` + a
    MEMORY_AND_DISK persist, so (a) the consumer plan keeps the
    lineage-free ``Scan ExistingRDD`` leaf the round-12 localCheckpoint
    bought, (b) contents are bit-identical to the local regime, and
    (c) LOSING the in-memory blocks cannot strand a consumer — reads
    recompute from the checkpoint FILES (the failure mode the advisor
    flagged: localCheckpoint blocks are unrecoverable on executor
    loss). Forced via $SBP_PAIRS_MATERIALIZE, which is also the gate's
    own escape hatch."""
    from streamandbatchprocessing_spark.plans import executed_plan

    release_session_artifacts()
    local_rows = _rows(dedup.shared_pairs(spark, sf_dir))
    release_session_artifacts()
    monkeypatch.setattr(dedup, "_PAIRS_MATERIALIZE", "reliable")
    try:
        pairs = dedup.shared_pairs(spark, sf_dir)
        analyzed = pairs._jdf.queryExecution().analyzed()  # noqa: SLF001
        assert analyzed.getClass().getSimpleName() == "LogicalRDD"
        jrdd = analyzed.rdd()
        assert jrdd.isCheckpointed(), "reliable regime must checkpoint"
        assert "Scan ExistingRDD" in executed_plan(pairs)
        # warm-path persist layer present (MEMORY_AND_DISK, like local)
        lvl = pairs.storageLevel
        assert lvl.useMemory and lvl.useDisk, str(lvl)
        assert _rows(pairs) == local_rows
        # simulate block loss / LRU eviction: drop every cached block,
        # then read again — the reliable regime recomputes from the
        # checkpoint files where localCheckpoint would fail outright.
        pairs.unpersist(blocking=True)
        jrdd.unpersist(True)
        assert _rows(dedup.shared_pairs(spark, sf_dir)) == local_rows
    finally:
        release_session_artifacts()


def test_pairs_materialize_mode_follows_master(spark, monkeypatch):
    """auto = local on local[*] (blocks die with the process anyway;
    skip the checkpoint write), reliable anywhere else."""
    monkeypatch.setattr(dedup, "_PAIRS_MATERIALIZE", "auto")
    assert dedup._pairs_materialize_mode(spark) == "local"
    monkeypatch.setattr(dedup, "_PAIRS_MATERIALIZE", "reliable")
    assert dedup._pairs_materialize_mode(spark) == "reliable"


def test_reliable_checkpoint_computes_its_input_once(spark, monkeypatch):
    """The eager reliable checkpoint writes its files in the one job
    that computes the frame, so the candidate stream's 4-band self-join
    runs once without a persist before the checkpoint (Spark 4.1's
    ``Dataset.checkpoint`` calls ``doCheckpoint`` directly, with no
    separate count job), and reads after it come from the checkpoint.
    A Python UDF counts the rows it evaluates."""
    from pyspark.sql.types import LongType

    monkeypatch.setattr(dedup, "_PAIRS_MATERIALIZE", "reliable")
    evaluated = spark.sparkContext.accumulator(0)

    def tick(x):
        evaluated.add(1)
        return x

    df = spark.range(0, 100, numPartitions=4).select(
        F.udf(tick, LongType())("id").alias("id")
    )
    out = dedup._materialize_lineage_free(spark, df)
    try:
        assert evaluated.value == 100
        assert sorted(r.id for r in out.collect()) == list(range(100))
        assert evaluated.value == 100
    finally:
        out.unpersist()


def test_full_release_force_drops_checkpoint_blocks(spark, sf_dir):
    """The round-12 advisor's eviction finding: localCheckpoint blocks
    are invisible to DataFrame.unpersist, so the FULL-release path
    (shutdown / corpus rotation — caller promises no in-flight
    consumer) must force-unpersist the underlying RDD or a conf sweep
    strands O(pairs) copies until JVM GC. Eviction-path releases stay
    hands-off (a concurrent consumer of an unrecoverable block must
    not be failed mid-query)."""
    release_session_artifacts()
    pairs = dedup.shared_pairs(spark, sf_dir)
    jrdd = pairs._jdf.queryExecution().analyzed().rdd()  # noqa: SLF001
    assert jrdd.getStorageLevel().useMemory()
    release_session_artifacts()
    lvl = jrdd.getStorageLevel()
    assert not lvl.useMemory() and not lvl.useDisk(), lvl.toString()
