"""bench.py with positional query names: the totals record stays the
last stdout line and the BENCH_local.json sidecar is never written."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_named_queries_totals_last_and_no_sidecar(tmp_path):
    # The directory name reads sf0.1, the one scale at which a full run
    # writes the sidecar; the data behind it is sf0.001.
    sf_dir = tmp_path / "sf0.1"
    sf_dir.symlink_to("/root/testdata/sf0.001", target_is_directory=True)
    sidecar = REPO / "BENCH_local.json"
    before = sidecar.stat().st_mtime_ns if sidecar.exists() else None
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=str(sf_dir), SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "ngsi_window_min"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["metric"] == "total_query_wall_clock"
    assert last["n_queries"] == 1 and last["n_failed"] == 0
    after = sidecar.stat().st_mtime_ns if sidecar.exists() else None
    assert after == before
