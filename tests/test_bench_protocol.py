"""bench.py's output protocol: the detail record, then the compact
summary as the last stdout line; a subset run writes no file."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _root_files() -> dict[str, float]:
    """Every top-level entry of the repo, with the mtime of each file."""
    return {
        e.name: e.stat().st_mtime if e.is_file() else None for e in os.scandir(ROOT)
    }


def test_subset_run_prints_detail_and_summary_and_writes_nothing(sf_dir, tmp_path):
    before = _root_files()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_QUERIES="etl_daily_summary",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    summary, detail = json.loads(lines[-1]), json.loads(lines[-2])

    assert summary["n_queries"] == 1
    assert {"metric", "value", "unit", "sf", "window_steal_share"} <= set(summary)
    assert "load_flagged" not in summary and "detail" not in summary

    assert set(detail["queries"]) == {"etl_daily_summary"}
    assert detail["host"]["nproc"] >= 1
    assert 0 <= detail["window_steal_share"] <= 1
    assert summary["value"] == detail["value"]

    assert _root_files() == before
