"""Table maintenance: versioned snapshots (time travel), small-file
compaction, and vacuum — plus registry rebuild-from-disk.

Parity targets:
  * S12 time-travel read (SURVEY.md §2.1; the reference documents Delta's
    ``versionAsOf``/``timestampAsOf`` at AGENTS.md:1175-1187 without
    calling it). Delta isn't on this classpath, so ``VersionedTable``
    provides the same contract over plain parquet: every overwrite is a
    new immutable ``v=N`` directory recorded in a manifest, reads resolve
    a version or a timestamp against the manifest.
  * OPTIMIZE / VACUUM maintenance commands (AGENTS.md:1162-1171,1681):
    ``compact`` rewrites a directory of many small files into
    size-targeted ones (streaming sinks produce one file per micro-batch
    per partition — the classic small-file problem); ``vacuum`` drops
    expired snapshot versions.
  * Registry rebuild on restart (AGENTS.md:1683): the batch runner
    persists each terminal record as ``meta.json`` next to its outputs;
    ``rebuild_registry`` reconstructs the in-memory registry from those.

Scale notes: the manifest is O(versions) JSON on the driver — file
listings stay on the executors (Spark's InMemoryFileIndex); compaction
reads+writes once with ``repartition(target_files)``, so its cost is one
shuffle of the table being compacted, amortized against every future
read of it. Version swaps are manifest pointer updates (atomic
``os.replace``), never in-place file mutation, so concurrent readers of
an old version are unaffected — the same optimistic-snapshot discipline
Delta's log gives the reference (AGENTS.md:765,1701).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from .registry import BatchRegistry, BatchJobRecord, BatchStatus

_MANIFEST = "_manifest.json"

#: Bytes per file that :func:`compact` and :meth:`VersionedTable.optimize`
#: rewrite to. 128 MB is the parquet sweet spot: big enough that scan
#: tasks amortize footer/dictionary overhead, small enough that one file
#: is one comfortable task.
TARGET_FILE_BYTES = 128 * 1024 * 1024


class VersionedTable:
    """Parquet table with immutable versions and a JSON manifest.

    Layout::

        <root>/_manifest.json   {"current": 2, "versions": [...]}
        <root>/v=0/  <root>/v=1/  <root>/v=2/   (parquet dirs)

    Each version references a LIST of directories (Delta's add-file log
    entries, at directory granularity): ``write()`` snapshots into one
    new dir; ``append()`` commits a new dir and the new version points
    at the previous version's dirs plus it — no rewrite of existing
    data, which is what makes appends O(increment) instead of O(table)
    at 100 TB. Reads load all dirs of the resolved version with parquet
    schema merging, so an appended column surfaces as Delta's
    ``schema.autoMerge`` would: old rows read NULL for it, and time
    travel to a pre-append version still shows the old schema.
    """

    def __init__(self, root: str) -> None:
        self.root = root

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"current": -1, "versions": []}

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic pointer swap

    # -- write ------------------------------------------------------------
    def _commit(
        self,
        df: DataFrame,
        dirs_from_prev: list[str],
        partition_by: list[str] | None,
        operation: str = "WRITE",
        params: dict | None = None,
    ) -> int:
        """Write ``df`` into the next ``v=N`` dir, then commit a version
        whose dir list is ``dirs_from_prev + [v=N]``.

        The data lands fully before the manifest points at it, so a crash
        mid-write leaves the table at the previous version (write-ahead
        ordering — the poor man's transaction log).
        """
        manifest = self.manifest()
        version = manifest["current"] + 1
        vdir = os.path.join(self.root, f"v={version}")
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        manifest["versions"].append(
            {
                "version": version,
                "committed_at": time.time(),
                "dirs": [*dirs_from_prev, f"v={version}"],
                "operation": operation,
                # Physical layout is part of the version: OPTIMIZE (and
                # any future layout-preserving rewrite) reads it back so
                # a maintenance op can never silently de-partition the
                # table (Delta's OPTIMIZE preserves partitioning).
                **({"partition_by": partition_by} if partition_by else {}),
                **({"params": params} if params else {}),
            }
        )
        manifest["current"] = version
        self._write_manifest(manifest)
        return version

    def _commit_dirs(
        self,
        dirs: list[str],
        operation: str,
        params: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Commit a new version that only re-points at EXISTING data
        directories — a metadata-only transaction (no bytes move), the
        mechanism behind RESTORE."""
        manifest = self.manifest()
        version = manifest["current"] + 1
        manifest["versions"].append(
            {
                "version": version,
                "committed_at": time.time(),
                "dirs": list(dirs),
                "operation": operation,
                **({"partition_by": partition_by} if partition_by else {}),
                **({"params": params} if params else {}),
            }
        )
        manifest["current"] = version
        self._write_manifest(manifest)
        return version

    def _effective_partition_by(
        self, manifest: dict, version: int
    ) -> list[str] | None:
        """The physical layout in force at ``version``: its own recorded
        ``partition_by`` if any, else follow lineage — a RESTORE
        inherits from the version it restored (NOT from whatever was
        committed in between, which may carry a different layout), any
        other layout-silent commit (append, metadata op) inherits from
        its predecessor. Dead-ends (vacuumed ancestors) resolve to
        None."""
        live = {v["version"]: v for v in manifest["versions"]}
        seen: set[int] = set()
        while version in live and version not in seen:
            seen.add(version)
            entry = live[version]
            if "partition_by" in entry:
                return entry["partition_by"]
            params = entry.get("params") or {}
            if entry.get("operation") == "RESTORE" and "restored_from" in params:
                version = params["restored_from"]
            else:
                version -= 1
        return None

    @staticmethod
    def _dirs_of(entry: dict) -> list[str]:
        # Back-compat with single-"dir" manifests.
        return entry["dirs"] if "dirs" in entry else [entry["dir"]]

    def write(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Commit ``df`` as the next version (full snapshot: the new
        version references only the new directory); returns the version
        number."""
        return self._commit(df, [], partition_by, operation="WRITE")

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Append ``df`` as the next version WITHOUT rewriting existing
        data: only the increment is written, the new version references
        the previous dirs plus the new one. ``df`` may carry new columns
        (Delta ``schema.autoMerge``): reads of the new version merge
        schemas across dirs and old rows surface NULLs."""
        manifest = self.manifest()
        prev = [v for v in manifest["versions"] if v["version"] == manifest["current"]]
        prev_dirs = self._dirs_of(prev[0]) if prev else []
        return self._commit(df, prev_dirs, partition_by, operation="APPEND")

    # -- history / restore / optimize ---------------------------------------
    def history(self) -> list[dict]:
        """Delta's ``DESCRIBE HISTORY``: one row per version, newest
        first — version, commit timestamp, operation, referenced-dir
        count, and any operation params (e.g. RESTORE's source
        version). Pure manifest read: no data touched."""
        return [
            {
                "version": v["version"],
                "committed_at": v["committed_at"],
                "operation": v.get("operation", "WRITE"),
                "n_dirs": len(self._dirs_of(v)),
                **({"params": v["params"]} if "params" in v else {}),
            }
            for v in sorted(
                self.manifest()["versions"],
                key=lambda v: v["version"],
                reverse=True,
            )
        ]

    def restore(self, version: int) -> int:
        """Delta's ``RESTORE TABLE ... TO VERSION AS OF``: commit a NEW
        version whose dir list is the target version's — a
        metadata-only rollback (no data copied, history preserved, the
        bad version stays inspectable). Returns the new version."""
        manifest = self.manifest()
        live = {v["version"]: v for v in manifest["versions"]}
        if version not in live:
            raise ValueError(
                f"version {version} not available (have {sorted(live)})"
            )
        return self._commit_dirs(
            self._dirs_of(live[version]),
            operation="RESTORE",
            params={"restored_from": version},
            # Record the restored version's layout on the new entry so
            # it survives even if the source version is later vacuumed
            # (and so OPTIMIZE compacts within the RIGHT partitions).
            partition_by=self._effective_partition_by(manifest, version),
        )

    def optimize(self, spark: SparkSession) -> int:
        """Delta's ``OPTIMIZE`` as a versioned transaction: read the
        current version, rewrite it as ``ceil(bytes / TARGET_FILE_BYTES)``
        balanced files into a fresh dir, and commit a version referencing
        ONLY that dir. Unlike the standalone :func:`compact` (which swaps a
        plain directory in place), time travel is preserved — prior
        versions still reference the un-compacted dirs until
        :meth:`vacuum` reclaims them, exactly Delta's
        OPTIMIZE-then-VACUUM lifecycle. An append-heavy table (every
        micro-batch a new dir of small files) degrades every scan;
        this is the maintenance op that pays that debt back."""
        manifest = self.manifest()
        cur = [
            v for v in manifest["versions"] if v["version"] == manifest["current"]
        ]
        if not cur:
            raise ValueError("cannot optimize an empty table")
        total = sum(
            dir_stats(os.path.join(self.root, d))[1]
            for d in self._dirs_of(cur[0])
        )
        target_files = max(1, math.ceil(total / TARGET_FILE_BYTES))
        # Preserve the table's partitioning (Delta OPTIMIZE compacts
        # WITHIN partitions, never flattens them). Resolution follows
        # LINEAGE, not recency: after RESTORE the layout in force is
        # the restored version's, not whatever a later-but-abandoned
        # commit recorded — a "most recent recorded" rule would
        # silently re-layout restored data.
        part_by = self._effective_partition_by(manifest, manifest["current"])
        df = self.read(spark)
        df = (
            df.repartition(target_files, *part_by)
            if part_by
            else df.repartition(target_files)
        )
        return self._commit(
            df,
            [],
            part_by,
            operation="OPTIMIZE",
            params={"target_files": target_files},
        )

    # -- read (time travel) -------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of: float | str | None = None,
    ) -> DataFrame:
        """Current version by default; ``version=`` is Delta's
        ``versionAsOf``, ``as_of=`` is ``timestampAsOf`` — unix seconds
        or an ISO-8601 string like ``2025-01-15T14:00:00Z`` (the form the
        reference documents, AGENTS.md:1186); resolves to the latest
        version committed at-or-before the timestamp."""
        manifest = self.manifest()
        live = {v["version"]: v for v in manifest["versions"]}
        if version is None and as_of is None:
            version = manifest["current"]
        elif as_of is not None:
            if isinstance(as_of, str):
                as_of = dt.datetime.fromisoformat(
                    as_of.replace("Z", "+00:00")
                ).timestamp()
            eligible = [
                v["version"]
                for v in manifest["versions"]
                if v["committed_at"] <= as_of
            ]
            if not eligible:
                raise ValueError(f"no version committed at or before {as_of}")
            version = max(eligible)
        if version not in live:
            raise ValueError(
                f"version {version} not available (have {sorted(live)})"
            )
        paths = [
            os.path.join(self.root, d) for d in self._dirs_of(live[version])
        ]
        # mergeSchema: appended dirs may have evolved the schema — the
        # resolved version's read schema is the union (autoMerge parity).
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    # -- vacuum -------------------------------------------------------------
    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` versions; returns the dropped
        version numbers. The manifest shrinks first, then directories are
        deleted — a reader holding an old manifest can fail loudly but a
        new reader can never resolve a deleted version. Directories
        shared with surviving versions (append chains) are retained —
        Delta's vacuum makes the same reachability distinction at file
        granularity."""
        manifest = self.manifest()
        versions = sorted(manifest["versions"], key=lambda v: v["version"])
        doomed = versions[:-keep] if keep > 0 else versions
        if not doomed:
            return []
        survivors = versions[len(doomed):]
        manifest["versions"] = survivors
        self._write_manifest(manifest)
        reachable = {d for v in survivors for d in self._dirs_of(v)}
        dropped = []
        for v in doomed:
            for d in self._dirs_of(v):
                if d not in reachable:
                    shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
            dropped.append(v["version"])
        return dropped


def dir_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the parquet files under ``path``."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def compact(spark: SparkSession, path: str) -> dict:
    """OPTIMIZE-style small-file compaction (AGENTS.md:1162-1171): read
    the parquet table, rewrite it as ``ceil(bytes / TARGET_FILE_BYTES)``
    files, atomically swap directories. Returns before/after file counts.
    Compaction keys the streaming-sink story — per micro-batch files
    otherwise degrade every downstream scan.
    """
    files_before, total_bytes = dir_stats(path)
    target_files = max(1, math.ceil(total_bytes / TARGET_FILE_BYTES))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # coalesce() avoids a shuffle but can collapse upstream parallelism
    # into target_files read tasks; for a maintenance rewrite the shuffle
    # is the safer trade (full read parallelism, balanced output files).
    df.repartition(target_files).write.mode("errorifexists").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    files_after, _ = dir_stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
    }


# -- batch-registry persistence (AGENTS.md:1683) ----------------------------

def persist_record(base_dir: str, record: BatchJobRecord) -> None:
    """Write a terminal batch record as ``batches/<id>/meta.json``."""
    d = os.path.join(base_dir, "batches", record.batch_id)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(record.to_dict(), f, indent=1)
    os.replace(tmp, os.path.join(d, "meta.json"))


def rebuild_registry(base_dir: str) -> BatchRegistry:
    """Reconstruct the registry from persisted ``meta.json`` files after
    a restart. Jobs that died mid-flight have no terminal meta.json and
    surface as FAILED with a restart marker — the honest state, since
    their Futures are gone."""
    registry = BatchRegistry()
    batches_dir = os.path.join(base_dir, "batches")
    if not os.path.isdir(batches_dir):
        return registry
    for batch_id in sorted(os.listdir(batches_dir)):
        meta = os.path.join(batches_dir, batch_id, "meta.json")
        if os.path.isfile(meta):
            with open(meta) as f:
                d = json.load(f)
            d["status"] = BatchStatus(d["status"])
            registry.register(BatchJobRecord(**d))
        else:
            registry.register(
                BatchJobRecord(
                    batch_id=batch_id,
                    analysis_type="unknown",
                    start_date="",
                    end_date="",
                    status=BatchStatus.FAILED,
                    error="no terminal meta.json found after restart",
                )
            )
    return registry


def merge_upsert(
    spark: SparkSession,
    table: VersionedTable,
    updates: DataFrame,
    keys: list[str],
    allow_schema_merge: bool = False,
) -> int:
    """Delta ``MERGE INTO`` analog over a VersionedTable: rows matching
    on ``keys`` are replaced by the update row, unmatched update rows are
    inserted, everything else carries over — committed as a NEW version
    (readers of older versions are untouched; a crash mid-merge leaves
    the previous version current, same write-ahead ordering as write()).

    Implementation is a left-anti carry-over plus the updates: the
    anti join is one shuffle keyed on the merge keys (or broadcast when
    updates are small — the common CDC case, which AQE picks
    automatically); no row-level file rewrites, so the cost is
    proportional to the table, the lever Delta's deletion vectors also
    pull. Column sets must match unless ``allow_schema_merge`` (Delta's
    ``schema.autoMerge.enabled``, which the reference sets globally —
    SparkManager.scala:37): then updates may add columns and carried-over
    rows read NULL for them; enforced loudly otherwise.

    Returns the new version number.
    """
    current = table.read(spark)
    if set(current.columns) != set(updates.columns) and not allow_schema_merge:
        raise ValueError(
            f"merge schema mismatch: table={sorted(current.columns)} "
            f"updates={sorted(updates.columns)} "
            f"(pass allow_schema_merge=True for Delta-autoMerge behavior)"
        )
    missing_keys = [k for k in keys if k not in updates.columns]
    if missing_keys:
        raise ValueError(f"updates missing merge keys: {missing_keys}")
    survivors = current.join(updates.select(*keys), keys, "left_anti")
    merged = survivors.unionByName(updates, allowMissingColumns=True)
    return table.write(merged)
