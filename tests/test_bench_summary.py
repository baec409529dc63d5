"""bench.py's per-query row, from synthetic runs: no Spark session."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import REPEATS, run_record, summarize


def _job(submit: float, complete: float | None) -> dict:
    # the fields of a SparkStatus.new_jobs entry that bench reads
    return {"id": 0, "submit": submit, "complete": complete, "stages": []}


def test_row_pins_median_min_and_median_runs_layers():
    runs = [
        # 1.0 s: 0.1 pre, two overlapping jobs, 0.2 gap, 0.05 post
        run_record(100.0, 101.0, 2.5, [_job(100.1, 100.5), _job(100.3, 100.45),
                                       _job(100.7, 100.95)]),
        run_record(200.0, 200.8, 1.5, [_job(200.2, 200.6)]),
        # a job still running when the run returned is clipped to its end
        run_record(300.0, 301.6, 4.0, [_job(300.4, None)]),
    ]
    assert len(runs) == REPEATS
    row = summarize(runs)
    assert row["wall_median_s"] == 1.0
    assert row["wall_min_s"] == 0.8
    assert row["cpu_median_s"] == 2.5
    assert row["n_jobs"] == 3
    assert (row["pre_job_s"], row["in_job_s"], row["gap_s"], row["post_job_s"]) == (
        0.1, 0.65, 0.2, 0.05)
    layers = row["pre_job_s"] + row["in_job_s"] + row["gap_s"] + row["post_job_s"]
    assert abs(layers - row["wall_median_s"]) < 0.005


def test_run_without_jobs_is_all_pre_job():
    row = summarize([run_record(0.0, 0.3, 0.2, [])] * REPEATS)
    assert row["n_jobs"] == 0
    assert row["pre_job_s"] == row["wall_median_s"] == 0.3
    assert row["in_job_s"] == row["gap_s"] == row["post_job_s"] == 0.0


def test_unfinished_job_runs_to_the_end_of_its_run():
    rec = run_record(300.0, 301.6, 4.0, [_job(300.4, None)])
    assert rec["split"]["post_job"] == 0.0
    assert abs(rec["split"]["in_job"] - 1.2) < 1e-9
