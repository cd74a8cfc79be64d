"""Registry wiring query callables to their DuckDB oracle SQL."""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..plans import static_plan
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
#: Keyed by (application, corpus dir, kind) alone: an artifact's rows
#: do not depend on the session's plan confs, so one copy serves every
#: conf. A value that does depend on conf names it in its kind (the
#: planner probes key on the broadcast threshold). A harness proving
#: builds plan-invariant releases the artifacts between its passes
#: (scripts/perturb_sweep.py, tests/test_plan_perturbation.py).
_SESSION_ARTIFACTS: dict[tuple, object] = {}
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
#: cross-key lock order is acyclic and cannot deadlock. Key locks are
#: never dropped, so two builds of one key always share one lock.
_ARTIFACT_LOCK = threading.RLock()
_ARTIFACT_KEY_LOCKS: dict[tuple, threading.RLock] = {}


def _unpersist_value(value) -> None:
    """Release a memo value's persisted blocks: ``DataFrame.unpersist()``
    for CacheManager-cached frames, and the underlying RDD's blocks for
    a checkpoint-materialized frame (a ``LogicalRDD`` — the candidate
    stream), which ``unpersist()`` does not reach."""
    for part in value if isinstance(value, tuple) else (value,):
        if isinstance(part, DataFrame):
            try:
                part.unpersist()
                analyzed = part._jdf.queryExecution().analyzed()  # noqa: SLF001
                if analyzed.getClass().getSimpleName() == "LogicalRDD":
                    analyzed.rdd().unpersist(False)
            except Exception:
                pass  # session already stopped


def _artifact_key(spark: SparkSession, sf_dir: str, kind: str) -> tuple:
    return (spark.sparkContext.applicationId, sf_dir, kind)


def has_session_artifact(spark: SparkSession, sf_dir: str, kind: str) -> bool:
    """True when :func:`session_artifact` would return ``kind`` for this
    session and corpus dir without building it."""
    with _ARTIFACT_LOCK:
        return _artifact_key(spark, sf_dir, kind) in _SESSION_ARTIFACTS


def session_artifact(spark: SparkSession, sf_dir: str, kind: str, build):
    """Memoized session-lifetime artifact: ``build()`` runs once per
    (application, corpus dir, artifact kind); its value (a DataFrame,
    or any tuple of DataFrames / plain objects) is returned verbatim
    afterwards, until :func:`release_session_artifacts`."""
    key = _artifact_key(spark, sf_dir, kind)
    with _ARTIFACT_LOCK:
        if key in _SESSION_ARTIFACTS:
            return _SESSION_ARTIFACTS[key]
        key_lock = _ARTIFACT_KEY_LOCKS.setdefault(key, threading.RLock())
    with key_lock:
        # Double-checked: another thread may have finished this key's
        # build while we waited on its lock.
        with _ARTIFACT_LOCK:
            if key in _SESSION_ARTIFACTS:
                return _SESSION_ARTIFACTS[key]
        value = build()
        with _ARTIFACT_LOCK:
            _SESSION_ARTIFACTS[key] = value
    return value


def planner_broadcasts(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    trial: Callable[[SparkSession, str], DataFrame],
) -> bool:
    """Whether Catalyst plans the join ``trial(spark, sf_dir)`` builds
    as a broadcast hash join, read from the planner itself: the trial
    plan is compiled (analysis, optimization, physical planning; no job
    runs) and its static plan inspected, so a regime gate cannot
    disagree with the planner near the threshold as a parallel size
    model could. Memoized per (application, corpus dir,
    ``autoBroadcastJoinThreshold``): the threshold is part of the kind,
    so a changed threshold re-derives, and frame construction stays
    cheap."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    return session_artifact(
        spark, sf_dir, f"{kind}@{threshold}",
        lambda: "BroadcastHashJoin" in static_plan(trial(spark, sf_dir)),
    )


def release_session_artifacts(application_id: str | None = None) -> None:
    """Unpersist and forget session-lifetime artifacts. With
    ``application_id``, releases only that Spark application's entries
    (Runtime.shutdown passes its own id, so an embedding host running
    two Runtimes in one process cannot unpersist the other's live
    caches); with no argument, releases everything (tests, or a host
    that owns the whole process). A host that rotates corpus snapshots
    within one session should call this at the rotation point — the
    memo is keyed by sf_dir, so a stale snapshot's artifacts otherwise
    stay cached until session end. The caller promises no consumer of
    the released artifacts is in flight: checkpointed blocks cannot be
    recomputed."""
    with _ARTIFACT_LOCK:
        keys = [
            k for k in _SESSION_ARTIFACTS
            if application_id is None or k[0] == application_id
        ]
        values = [_SESSION_ARTIFACTS.pop(k) for k in keys]
    for value in values:
        _unpersist_value(value)


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
