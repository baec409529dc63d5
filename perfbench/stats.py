"""Pure arithmetic behind the benchmark's metrics: percentiles with a
sample-count rule, unions of job intervals, the pre-job / in-job / gap /
post-job split of an op's wall time, and span self time."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

#: A percentile is reported only when at least this many samples lie
#: strictly beyond it; below that, one outlier moves it.
MIN_TAIL_SAMPLES = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values: each one moves it by the same
    factor as it moves itself, whatever its size."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: Sequence[float], q: float) -> float | None:
    """Nearest-rank ``q`` percentile (0 < q < 1), or None when fewer than
    MIN_TAIL_SAMPLES samples lie beyond it: p90 needs 100 samples, p99
    needs 1000."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile rank {q} outside (0, 1)")
    n = len(values)
    rank = math.ceil(q * n)  # 1-based
    if n - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[rank - 1]


Interval = tuple[float, float]


def union(intervals: Iterable[Interval]) -> list[Interval]:
    """Merge overlapping or touching intervals into disjoint sorted ones."""
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if hi < lo:
            raise ValueError(f"interval ends before it starts: {(lo, hi)}")
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(lo, hi) for lo, hi in out]


def covered(intervals: Iterable[Interval], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by at least one of ``intervals``."""
    total = 0.0
    for a, b in union(intervals):
        total += max(0.0, min(b, hi) - max(a, lo))
    return total


def job_split(op_start: float, op_end: float, jobs: Sequence[Interval]) -> dict[str, float]:
    """Split an op's wall time by its Spark jobs' (submit, complete) times.

    ``pre_job`` runs from the op's start to its first job (analysis,
    planning, py4j, driver-side work); ``in_job`` is the union of the job
    intervals; ``gap`` is the uncovered time between the first job's submit
    and the last job's completion (driver work between jobs); ``post_job``
    runs from the last completion to the op's end. The four sum to the
    op's wall time. Job times are clipped to the op, because the status
    store stamps in milliseconds."""
    wall = op_end - op_start
    if not jobs:
        return {"pre_job": wall, "in_job": 0.0, "gap": 0.0, "post_job": 0.0}
    clipped = [(min(max(a, op_start), op_end), min(max(b, op_start), op_end)) for a, b in jobs]
    first = min(a for a, _ in clipped)
    last = max(b for _, b in clipped)
    in_job = covered(clipped, op_start, op_end)
    return {
        "pre_job": first - op_start,
        "in_job": in_job,
        "gap": (last - first) - in_job,
        "post_job": op_end - last,
    }


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that its
    direct children cover. Spans are dicts with ``id``, ``parent`` (an id
    or None), ``start`` and ``end``. Children that overlap each other (spans
    from concurrent threads) are counted once."""
    children: dict[int, list[Interval]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
