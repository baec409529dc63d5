"""tools/compare_bench.py floor normalization (round 11).

The host's per-job scheduler floor swings 5->240 ms by boot; a
job-count-heavy query with an IDENTICAL plan reads 2-3x slower on a bad
boot. With n_jobs + host_job_floor_ms in both artifacts the comparator
must subtract each side's own floor term before flagging movers — and
fall back to raw wall-clock (with a notice) when either side predates
the instrumentation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = [
    "python",
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


def test_floor_tax_is_not_flagged_as_regression(tmp_path):
    # same plan (same n_jobs), fast boot vs slow boot: 20 jobs x
    # (220-10)ms = +4.2s of pure floor — raw comparison would flag it,
    # floor-normalized must not
    old = {
        "value": 1.2,
        "queries": {"stream_heavy": 1.0, "scan_light": 0.2},
        "n_jobs": {"stream_heavy": 20, "scan_light": 2},
        "host_job_floor_ms": 10.0,
    }
    new = {
        "value": 5.7,
        "queries": {"stream_heavy": 5.4, "scan_light": 0.3},
        "n_jobs": {"stream_heavy": 20, "scan_light": 2},
        "host_job_floor_ms": 220.0,
    }
    out = _run(
        _write(tmp_path, "old.json", old), _write(tmp_path, "new.json", new)
    )
    assert "floor-normalized" in out
    assert "(0):" in out.split("regressions")[1].splitlines()[0]


def test_real_regression_survives_floor_normalization(tmp_path):
    # extra plan work AND extra jobs on the same boot: normalization
    # must still flag it (2.0s plan work vs 0.5s baseline)
    old = {
        "value": 0.52,
        "queries": {"q": 0.52},
        "n_jobs": {"q": 2},
        "host_job_floor_ms": 10.0,
    }
    new = {
        "value": 2.02,
        "queries": {"q": 2.02},
        "n_jobs": {"q": 2},
        "host_job_floor_ms": 10.0,
    }
    out = _run(
        _write(tmp_path, "old.json", old), _write(tmp_path, "new.json", new)
    )
    assert "q: 0.50s -> 2.00s" in out
    assert "[raw 0.52s -> 2.02s]" in out


def test_legacy_artifact_falls_back_to_raw(tmp_path):
    old = {"value": 1.0, "queries": {"q": 1.0}}  # pre-r11: no n_jobs
    new = {
        "value": 3.0,
        "queries": {"q": 3.0},
        "n_jobs": {"q": 10},
        "host_job_floor_ms": 200.0,
    }
    out = _run(
        _write(tmp_path, "old.json", old), _write(tmp_path, "new.json", new)
    )
    assert "n_jobs on one side only" in out
    assert "q: 1.00s -> 3.00s" in out  # raw comparison still reported
