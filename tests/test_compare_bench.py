"""tools/compare_bench.py: per-query diff of two bench artifacts on raw wall
time, and the headline-only fallback for driver-recorded artifacts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = [
    sys.executable,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "compare_bench.py",
    ),
]


def _write(tmp_path, name: str, payload: dict) -> str:
    p = tmp_path / name
    p.write_text(json.dumps(payload))
    return str(p)


def _run(*paths: str) -> str:
    out = subprocess.run(
        TOOL + list(paths), capture_output=True, text=True, check=True
    )
    return out.stdout


def test_regression_is_flagged_on_raw_wall_time(tmp_path):
    # n_jobs and per-query rows ride along in BENCH_local.json; only the
    # `queries` map of median wall seconds is diffed
    old = {
        "value": 2.7,
        "queries": {"q": 0.5, "fast": 1.2, "gone": 1.0},
        "n_jobs": {"q": 2, "fast": 3, "gone": 1},
    }
    new = {
        "value": 2.6,
        "queries": {"q": 2.0, "fast": 0.3, "new_q": 0.3},
        "rows": {"q": {"wall_median_s": 2.0, "n_jobs": 2}},
    }
    out = _run(
        _write(tmp_path, "old.json", old), _write(tmp_path, "new.json", new)
    )
    regressions = out.split("regressions")[1].split("top improvements")[0]
    assert "(1):" in regressions.splitlines()[0]
    assert "q: 0.50s -> 2.00s (+1.50s)" in regressions
    assert "fast: 1.20s -> 0.30s (-0.90s)" in out.split("top improvements")[1]
    assert "added (1): new_q" in out
    assert "removed (1): gone" in out


def test_headline_only_artifact_falls_back_to_totals(tmp_path):
    old = {"parsed": {"value": 480.0, "n_queries": 344}}
    new = {"value": 500.0, "queries": {"q": 1.0}}
    out = _run(
        _write(tmp_path, "old.json", old), _write(tmp_path, "new.json", new)
    )
    assert "old: 344 queries 480.0s | new: 1 queries 500.0s" in out
    assert "headline only" in out
    assert "regressions" not in out
