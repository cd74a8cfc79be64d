"""Ephemeral staging directories with process-exit cleanup.

Layout queries (b30/b31/b32/b35) stage write-once parquet copies and
the streaming harness stages checkpoint/sentinel dirs. Each staged dir
is memoized per (applicationId, sf_dir) by its caller, so within a
session nothing leaks; but repeated sessions in one process would each
leave their own copies behind. Every helper therefore allocates through
:func:`staging_dir`, which registers a single ``atexit`` hook that
removes all staged dirs when the Python process exits.

Only for EPHEMERAL artifacts: a real deployment's bucketed tables,
Z-ordered layouts, and streaming checkpoints are durable storage with
a lifecycle of their own (see ``service/maintenance.py``); these
helpers exist so the in-process demo/test path cleans up after itself.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_STAGED_DIRS: list[str] = []
_HOOKED = False


def staging_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` under ``$SBP_STAGING_DIR`` (else the system
    temp root) plus registration for removal at process exit. Returns
    the created directory path."""
    global _HOOKED
    path = tempfile.mkdtemp(
        prefix=prefix, dir=os.environ.get("SBP_STAGING_DIR") or None
    )
    _STAGED_DIRS.append(path)
    if not _HOOKED:
        atexit.register(_cleanup)
        _HOOKED = True
    return path


def _cleanup() -> None:
    while _STAGED_DIRS:
        shutil.rmtree(_STAGED_DIRS.pop(), ignore_errors=True)
