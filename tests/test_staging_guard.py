"""Placement and cleanup of ephemeral staged dirs (``sources/staging.py``).

Every staged dir (layout copies, drain checkpoints, staged event
sources, the reliable pairs checkpoint) is allocated through
``staging_dir``, so ``$SBP_STAGING_DIR`` alone decides where they live.
"""

from __future__ import annotations

import os
import subprocess
import sys


def test_staging_dir_env_places_every_staged_dir(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         "from streamandbatchprocessing_spark.sources.staging import staging_dir\n"
         "for p in ('sbp-bucketed-', 'sbp-stream-ckpt-', "
         "'sbp-staged-events-', 'sbp-reliable-ckpt-'):\n"
         "    print(staging_dir(p))"],
        cwd=root, capture_output=True, text=True, timeout=120,
        env=dict(os.environ, SBP_STAGING_DIR=str(tmp_path)),
    )
    assert proc.returncode == 0, proc.stderr
    staged = proc.stdout.split()
    assert len(staged) == 4
    for path in staged:
        assert os.path.dirname(path) == str(tmp_path), path
        # removed by the exit hook when the staging process ended
        assert not os.path.exists(path), path
