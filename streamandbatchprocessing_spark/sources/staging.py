"""Ephemeral staging directories with process-exit cleanup.

Layout queries (b30/b31/b32/b35) stage write-once parquet copies and
the streaming harness stages checkpoint/sentinel dirs under the system
temp root. Each staged dir is memoized per (applicationId, sf_dir) by
its caller, so within a session nothing leaks — but repeated sessions
(pytest + bench + driver_sim in one round) each leave their own copies
behind. Every helper now allocates through :func:`staging_dir`, which
registers a single ``atexit`` hook that removes all staged dirs when
the Python process exits.

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

from ..config import env_int

_STAGED_DIRS: list[str] = []
_HOOKED = False

#: Root directory for staged dirs. ``$SBP_STAGING_DIR`` overrides;
#: ``None`` means the per-kind default below.
_STAGING_ROOT: str | None = os.environ.get("SBP_STAGING_DIR") or None

#: Fast ephemeral root for ``kind="state"`` staging: a tmpfs when the
#: host has one. Streaming checkpoint/offset/commit logs and sentinel
#: stages are hundreds of TINY files (each with a CRC twin, written
#: then renamed) whose creation latency is pure per-drain overhead on
#: a disk-backed temp root — measured round 12 (interleaved min-of-3,
#: sf0.1 noop sink): f12 5.73 → 4.18 s, f14 3.66 → 2.79 s, f13
#: 2.12 → 1.79 s, f01 2.42 → 2.22 s just from moving them to tmpfs.
#: Bulk staging (``kind="bulk"``: staged parquet table layouts, which
#: scale with the corpus) stays on the disk-backed system temp root.
_FAST_EPHEMERAL_ROOTS = ("/dev/shm",)


#: Byte cap for a SINGLE ``kind="state"`` staged dir on the fast
#: (tmpfs = memory-backed) root. tmpfs competes with executor memory —
#: in a memory-cgroup-limited container an unexpectedly large staged
#: payload OOMs the host rather than slowing down (round-12 verdict's
#: #3) — so anything with a size hint above the cap, or above the
#: tmpfs' free space with 2x slack, falls back to the disk-backed
#: system temp root. Checkpoint/sentinel metadata (no hint) is tiny by
#: construction and stays fast. 0 disables tmpfs staging entirely; a
#: malformed or negative value fails at import, naming the variable.
_STATE_STAGING_MAX_BYTES = env_int("SBP_STATE_STAGING_MAX_BYTES", 1 << 30)


def _fast_root(size_hint_bytes: int | None = None) -> str | None:
    if _STATE_STAGING_MAX_BYTES == 0:
        return None
    for root in _FAST_EPHEMERAL_ROOTS:
        if not (os.path.isdir(root) and os.access(root, os.W_OK)):
            continue
        if size_hint_bytes is not None:
            if size_hint_bytes > _STATE_STAGING_MAX_BYTES:
                continue
            try:
                st = os.statvfs(root)
                if size_hint_bytes * 2 > st.f_bavail * st.f_frsize:
                    continue  # would consume >half the tmpfs headroom
            except OSError:
                continue
        return root
    return None


def set_staging_root(root: str | None) -> None:
    """Override where staged dirs are created (``None`` = the per-kind
    defaults), in-process: for tests and placement A/Bs (the tmpfs
    verdict is in OPTIMIZATION_r12.md, item 13). Deployments use
    ``$SBP_STAGING_DIR``."""
    global _STAGING_ROOT
    _STAGING_ROOT = root


def staging_dir(
    prefix: str, *, kind: str = "bulk", size_hint_bytes: int | None = None
) -> str:
    """``tempfile.mkdtemp`` plus registration for removal at process
    exit. Returns the created directory path.

    ``kind="bulk"`` (default) — staged parquet layouts: system temp
    root, disk-backed, sized by the corpus. ``kind="state"`` —
    streaming checkpoint/sentinel metadata: small files whose write
    latency is per-drain overhead, placed on the fast ephemeral root
    when the host has one. A caller that stages a payload of KNOWN
    size (the staged-events data copy) passes ``size_hint_bytes``; a
    hint above ``$SBP_STATE_STAGING_MAX_BYTES`` or above the tmpfs'
    free space (2x slack) falls back to the disk root — tmpfs is
    memory, and a corpus-scaled copy there (Docker's 64 MB /dev/shm
    default, a bigger SF) fails with ENOSPC or silently eats RAM.
    ``$SBP_STAGING_DIR`` / ``set_staging_root`` override both."""
    global _HOOKED
    root = _STAGING_ROOT
    if root is None and kind == "state":
        root = _fast_root(size_hint_bytes)
    path = tempfile.mkdtemp(prefix=prefix, dir=root)
    _STAGED_DIRS.append(path)
    if not _HOOKED:
        atexit.register(_cleanup)
        _HOOKED = True
    return path


def _cleanup() -> None:
    while _STAGED_DIRS:
        shutil.rmtree(_STAGED_DIRS.pop(), ignore_errors=True)
