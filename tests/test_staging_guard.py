"""Placement guard for ``kind="state"`` staging (round 13, the
round-12 advisor's medium finding + verdict "what's wrong" #3).

tmpfs is memory: the staged-events path copies the corpus-scaled
events fixture into its staging dir, and on a host with a small tmpfs
(Docker's 64 MB /dev/shm default) or at a larger SF an unguarded tmpfs
default fails with ENOSPC mid-drain — or silently consumes executor
RAM in a memory-cgroup-limited container. ``staging_dir`` therefore
takes a ``size_hint_bytes`` and falls back to the disk-backed temp
root when the hint exceeds ``$SBP_STATE_STAGING_MAX_BYTES`` or half
the tmpfs' free space; hint-less state dirs (checkpoint metadata, tiny
by construction) keep the fast root.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from streamandbatchprocessing_spark.sources import staging


def _root_of(path: str) -> str:
    return os.path.dirname(path)


def test_oversized_hint_falls_back_to_disk(monkeypatch):
    fast = staging._fast_root()
    if fast is None:
        pytest.skip("host has no tmpfs root")
    monkeypatch.setattr(staging, "_STATE_STAGING_MAX_BYTES", 1024)
    small = staging.staging_dir(
        "sbp-test-guard-", kind="state", size_hint_bytes=512
    )
    big = staging.staging_dir(
        "sbp-test-guard-", kind="state", size_hint_bytes=4096
    )
    assert _root_of(small) == fast, small
    assert _root_of(big) == tempfile.gettempdir(), big


def test_free_space_slack_guard(monkeypatch):
    fast = staging._fast_root()
    if fast is None:
        pytest.skip("host has no tmpfs root")
    st = os.statvfs(fast)
    free = st.f_bavail * st.f_frsize
    # a hint larger than half the free space must fall back even when
    # the byte cap would admit it
    monkeypatch.setattr(staging, "_STATE_STAGING_MAX_BYTES", free * 4)
    spill = staging.staging_dir(
        "sbp-test-guard-", kind="state", size_hint_bytes=free // 2 + 1
    )
    assert _root_of(spill) == tempfile.gettempdir(), spill


def test_zero_cap_disables_fast_root(monkeypatch):
    monkeypatch.setattr(staging, "_STATE_STAGING_MAX_BYTES", 0)
    d = staging.staging_dir("sbp-test-guard-", kind="state")
    assert _root_of(d) == tempfile.gettempdir(), d


def test_hintless_state_dirs_keep_fast_root():
    fast = staging._fast_root()
    if fast is None:
        pytest.skip("host has no tmpfs root")
    d = staging.staging_dir("sbp-test-guard-", kind="state")
    assert _root_of(d) == fast, d


def test_explicit_root_overrides_guard(monkeypatch):
    monkeypatch.setattr(staging, "_STATE_STAGING_MAX_BYTES", 0)
    with tempfile.TemporaryDirectory() as override:
        staging.set_staging_root(override)
        try:
            d = staging.staging_dir(
                "sbp-test-guard-", kind="state", size_hint_bytes=1 << 40
            )
            assert _root_of(d) == override, d
        finally:
            staging.set_staging_root(None)


def _staging_cap(value: str) -> subprocess.CompletedProcess:
    """Import the staging module in a fresh interpreter with
    ``$SBP_STATE_STAGING_MAX_BYTES`` set; prints the parsed cap."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.run(
        [sys.executable, "-c",
         "from streamandbatchprocessing_spark.sources import staging as s; "
         "print(s._STATE_STAGING_MAX_BYTES, s._fast_root() is None)"],
        cwd=root, capture_output=True, text=True, timeout=120,
        env=dict(os.environ, SBP_STATE_STAGING_MAX_BYTES=value),
    )


@pytest.mark.parametrize("value", ["1GiB", "-1"])
def test_malformed_cap_fails_naming_the_variable(value):
    proc = _staging_cap(value)
    assert proc.returncode != 0
    assert "$SBP_STATE_STAGING_MAX_BYTES" in proc.stderr, proc.stderr


def test_zero_cap_from_env_disables_fast_root():
    proc = _staging_cap("0")
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["0", "True"]
