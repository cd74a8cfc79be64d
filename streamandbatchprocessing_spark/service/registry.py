"""In-memory batch-job registry.

Parity target: reference ``registry/BatchRegistry.scala:10-54`` (a
``ConcurrentHashMap`` with atomic ``compute`` updates) and the
``BatchJobRecord`` model (``models/BatchJobRecord.scala:5-22``).
A lock-guarded dict gives the same atomicity guarantees from Python.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field, replace
from enum import Enum


class BatchStatus(str, Enum):
    PENDING = "PENDING"
    RUNNING = "RUNNING"
    COMPLETED = "COMPLETED"
    FAILED = "FAILED"


@dataclass(frozen=True)
class BatchJobRecord:
    batch_id: str
    analysis_type: str
    start_date: str
    end_date: str
    filters: dict[str, str] = field(default_factory=dict)
    status: BatchStatus = BatchStatus.PENDING
    submitted_at: float = field(default_factory=time.time)
    started_at: float | None = None
    completed_at: float | None = None
    row_count: int | None = None
    raw_path: str | None = None
    agg_path: str | None = None
    error: str | None = None
    #: seconds per run phase: source, snapshot_write, analysis_write
    phase_s: dict[str, float] | None = None
    #: schema (``StructType.jsonValue``) of each written output, keyed
    #: ``raw`` and by analysis name: pages read them back without inference
    schemas: dict[str, dict] | None = None
    #: rows written per analysis (one entry, or eight for full_report)
    agg_row_count: dict[str, int] | None = None

    def to_dict(self) -> dict:
        d = self.__dict__.copy()
        d["status"] = self.status.value
        return d


class BatchRegistry:
    """Thread-safe registry; ``update`` is atomic read-modify-write
    (reference's ``compute``, BatchRegistry.scala:38-53)."""

    def __init__(self) -> None:
        self._records: dict[str, BatchJobRecord] = {}
        self._lock = threading.Lock()

    def register(self, record: BatchJobRecord) -> None:
        with self._lock:
            if record.batch_id in self._records:
                raise ValueError(f"duplicate batch_id {record.batch_id!r}")
            self._records[record.batch_id] = record

    def get(self, batch_id: str) -> BatchJobRecord | None:
        with self._lock:
            return self._records.get(batch_id)

    def list_all(self) -> list[BatchJobRecord]:
        with self._lock:
            return sorted(
                self._records.values(), key=lambda r: r.submitted_at, reverse=True
            )

    def list_by_status(self, status: BatchStatus) -> list[BatchJobRecord]:
        return [r for r in self.list_all() if r.status is status]

    def update(self, batch_id: str, **changes) -> BatchJobRecord:
        with self._lock:
            record = self._records[batch_id]
            updated = replace(record, **changes)
            self._records[batch_id] = updated
            return updated

    def update_if(
        self, batch_id: str, expected: BatchStatus, **changes
    ) -> BatchJobRecord | None:
        """``update`` only while the record is in the ``expected`` status;
        None (and no change) otherwise. A batch failed by a shutdown stays FAILED
        whatever its thread does later."""
        with self._lock:
            record = self._records[batch_id]
            if record.status is not expected:
                return None
            updated = replace(record, **changes)
            self._records[batch_id] = updated
            return updated
