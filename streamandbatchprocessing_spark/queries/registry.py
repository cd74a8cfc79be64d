"""Registry wiring query callables to their DuckDB oracle SQL."""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import env_int  # also imported from here by the query modules
from ..session import ensure_query_conf

QueryFn = Callable[[SparkSession, str], DataFrame]


QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: DataFrames persisted by the most recent query invocation. Query
#: results are returned lazily (the caller runs the terminal action), so
#: a query cannot unpersist its own intermediates before returning;
#: instead each invocation releases the PREVIOUS query's cache, bounding
#: a long-lived session (bench loop, the service) to one query's worth
#: of cached blocks instead of accumulating forever.
_TRACKED_CACHE: list[DataFrame] = []

#: Session-LIFETIME artifacts, exempt from the per-query release above:
#: the write-once pipeline checkpoints several queries legitimately
#: share — the dedup family's MinHash signatures / banded candidate
#: stream / token sets, the ANN family's quantized vectors / k-means
#: index / PQ encoding. A production pipeline builds each ONCE per
#: corpus snapshot and runs every downstream stage off it; the memo
#: gives the registry the same shape. Builders persist() their own
#: DataFrames (MEMORY_AND_DISK — spills, never fails, when an artifact
#: outgrows memory at large SF).
#:
#: The key includes the plan-perturbation confs so
#: scripts/perturb_sweep.py's forced-SMJ pass rebuilds each artifact
#: under the perturbed physical plan — a conf-blind memo would hand the
#: perturbed run the default-plan cache and prove nothing.
_SESSION_ARTIFACTS: dict[tuple, object] = {}
_ARTIFACT_PLAN_CONF = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
)
#: Guards the memo DICTS only (never held across a build). The service
#: runs concurrent batch queries on one session (3-deep pool,
#: test_service's concurrency bar), and an unsynchronized miss would
#: double-build — the losing build's persisted DataFrame then sits
#: orphaned in the block manager with no release path. Builds
#: themselves serialize on a PER-KEY lock so a thread touching an
#: unrelated artifact never blocks behind another key's first-touch
#: build (a build runs driver actions — collect()s for k-means/PQ —
#: that can take seconds). Per-key RLock because builders compose
#: (shared_pairs builds shared_sig; _pq_adc_scores builds _pq_encoded)
#: and re-enter on the same thread; the composition graph is a DAG, so
#: cross-key lock order is acyclic and cannot deadlock.
_ARTIFACT_LOCK = threading.RLock()
_ARTIFACT_KEY_LOCKS: dict[tuple, threading.RLock] = {}

#: Most-variants kept per (application, sf_dir, kind): artifacts are
#: keyed on plan-conf values, so every conf variant builds its own
#: persisted copy, and an unbounded memo would accumulate one per conf
#: combination a long session sweeps. The default of 2 is the working
#: set of the plan-perturbation protocol (scripts/perturb_sweep.py
#: alternates default/perturbed per query — an LRU of 2 never thrashes
#: it) while bounding any sweep to two persisted copies per artifact.
#: A host sweeping K >= 3 conf variants ROUND-ROBIN thrashes an LRU of
#: 2 (every re-entry rebuilds — cold-rebuild equality is pinned by
#: tests/test_session_artifacts.py, so that costs time, never
#: correctness): set $SBP_ARTIFACT_VARIANTS_CAP=K to hold all K
#: variants resident, sized against executor storage memory (each
#: variant is one persisted MEMORY_AND_DISK copy of the artifact).
#: See README "Operations" for the sizing protocol.
_ARTIFACT_VARIANTS_CAP = env_int("SBP_ARTIFACT_VARIANTS_CAP", 2, minimum=1)


def _conf_or_default(spark: SparkSession, key: str) -> str:
    try:
        return str(spark.conf.get(key))
    except Exception:  # unset conf with no retrievable default
        return "<default>"


def _unpersist_value(value, *, force: bool = False) -> None:
    """Release a memo value's persisted blocks.

    ``DataFrame.unpersist()`` covers CacheManager-cached frames; for a
    checkpoint-materialized frame (a ``LogicalRDD`` — the candidate
    stream since round 12) it is a deliberate no-op on the EVICTION
    path, because localCheckpoint blocks cannot be recomputed and a
    concurrent consumer mid-query would fail outright (the round-12
    advisor's finding documents the consequence: an evicted variant's
    blocks wait for the ContextCleaner). ``force=True`` — the
    full-release path only (shutdown / corpus rotation, where the
    caller owns the session and promises no consumer is in flight) —
    additionally unpersists the underlying RDD's blocks so
    ``release_session_artifacts`` deterministically bounds storage
    instead of leaving up to cap-1 unreachable O(pairs) copies to
    Py4J/JVM GC timing."""
    for part in value if isinstance(value, tuple) else (value,):
        if isinstance(part, DataFrame):
            try:
                part.unpersist()
                if force:
                    analyzed = part._jdf.queryExecution().analyzed()  # noqa: SLF001
                    if analyzed.getClass().getSimpleName() == "LogicalRDD":
                        analyzed.rdd().unpersist(False)
            except Exception:
                pass  # session already stopped


def _artifact_key(spark: SparkSession, sf_dir: str, kind: str) -> tuple:
    return (
        spark.sparkContext.applicationId,
        sf_dir,
        kind,
        *(_conf_or_default(spark, k) for k in _ARTIFACT_PLAN_CONF),
    )


def has_session_artifact(spark: SparkSession, sf_dir: str, kind: str) -> bool:
    """True when :func:`session_artifact` would return ``kind`` for this
    session, corpus dir and plan-conf variant without building it."""
    with _ARTIFACT_LOCK:
        return _artifact_key(spark, sf_dir, kind) in _SESSION_ARTIFACTS


def session_artifact(spark: SparkSession, sf_dir: str, kind: str, build):
    """Memoized session-lifetime artifact: ``build()`` runs once per
    (application, corpus dir, artifact kind, plan-conf variant); its
    value (a DataFrame, or any tuple of DataFrames / plain objects) is
    returned verbatim afterwards. At most ``_ARTIFACT_VARIANTS_CAP``
    conf variants are retained per (application, corpus dir, kind) —
    least-recently-used beyond that are unpersisted and rebuilt on
    re-entry."""
    key = _artifact_key(spark, sf_dir, kind)
    with _ARTIFACT_LOCK:
        if key in _SESSION_ARTIFACTS:
            # Refresh LRU position for the variant cap.
            value = _SESSION_ARTIFACTS.pop(key)
            _SESSION_ARTIFACTS[key] = value
            return value
        key_lock = _ARTIFACT_KEY_LOCKS.setdefault(key, threading.RLock())
    with key_lock:
        # Double-checked: another thread may have finished this key's
        # build while we waited on its lock.
        with _ARTIFACT_LOCK:
            if key in _SESSION_ARTIFACTS:
                value = _SESSION_ARTIFACTS.pop(key)
                _SESSION_ARTIFACTS[key] = value
                return value
        value = build()
        orphan = None
        with _ARTIFACT_LOCK:
            existing = _SESSION_ARTIFACTS.get(key)
            if existing is not None:
                # A waiter on an EVICTED key-lock object can race a
                # rebuilder holding the key's fresh lock; keep the
                # first-inserted value and unpersist the loser so no
                # persisted DataFrame is orphaned in the block manager.
                orphan, value = value, existing
            else:
                _SESSION_ARTIFACTS[key] = value
            group = key[:3]
            variants = [
                k for k in _SESSION_ARTIFACTS if k[:3] == group
            ]
            evicted = []
            while len(variants) > _ARTIFACT_VARIANTS_CAP:
                oldest = variants.pop(0)  # dict order = LRU order
                evicted.append(_SESSION_ARTIFACTS.pop(oldest))
                _ARTIFACT_KEY_LOCKS.pop(oldest, None)
        if orphan is not None:
            _unpersist_value(orphan)
        for old in evicted:
            _unpersist_value(old)
    return value


def release_session_artifacts(application_id: str | None = None) -> None:
    """Unpersist and forget session-lifetime artifacts. With
    ``application_id``, releases only that Spark application's entries
    (Runtime.shutdown passes its own id, so an embedding host running
    two Runtimes in one process cannot unpersist the other's live
    caches); with no argument, releases everything (tests, or a host
    that owns the whole process). A host that rotates corpus snapshots
    within one session should call this at the rotation point — the
    memo is keyed by sf_dir, so a stale snapshot's artifacts otherwise
    stay cached until session end."""
    with _ARTIFACT_LOCK:
        keys = [
            k for k in _SESSION_ARTIFACTS
            if application_id is None or k[0] == application_id
        ]
        values = [_SESSION_ARTIFACTS.pop(k) for k in keys]
        for k in keys:
            _ARTIFACT_KEY_LOCKS.pop(k, None)
    for value in values:
        _unpersist_value(value, force=True)


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist an intermediate and register it for release when the next
    query runs (or on an explicit ``release_tracked_caches`` call)."""
    df.persist()
    _TRACKED_CACHE.append(df)
    return df


def release_tracked_caches() -> None:
    while _TRACKED_CACHE:
        _TRACKED_CACHE.pop().unpersist()


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a correctness query.

    ``oracle`` is ANSI SQL for DuckDB over views named after the fixture
    tables. ``None`` marks a genuinely non-SQL-expressible operator
    (custom stateful streaming etc.) — the driver then records a weaker
    rows-only check.
    """

    def decorate(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_query_conf(spark)
            release_tracked_caches()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return decorate
