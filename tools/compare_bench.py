#!/usr/bin/env python
"""Diff two bench JSON artifacts (BENCH_r{N}.json / BENCH_local.json):
per-query deltas, biggest regressions/improvements, added/removed queries.

Usage: python tools/compare_bench.py OLD.json NEW.json [--threshold 1.5]
  threshold = flag queries slower by more than this factor (and >0.5s abs).
"""

from __future__ import annotations

import argparse
import json


def load(path: str) -> tuple:
    """Returns (per_query_map_or_None, headline_total, n_queries); the map is
    None for headline-only driver artifacts."""
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d:  # driver-recorded BENCH_r{N}.json (headline only)
        h = d["parsed"]
        return None, h.get("value"), h.get("n_queries")
    qs = d.get("queries", d)
    qs = {k: v for k, v in qs.items() if isinstance(v, (int, float))}
    return qs, d.get("value", sum(qs.values())), len(qs)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()
    (old, old_total, old_n), (new, new_total, new_n) = load(args.old), load(args.new)
    print(
        f"old: {old_n} queries {old_total:.1f}s | "
        f"new: {new_n} queries {new_total:.1f}s"
    )
    if old is None or new is None:
        print("(per-query map unavailable on one side — headline only)")
        return

    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    common = sorted(set(old) & set(new))

    deltas = [(n, old[n], new[n], new[n] - old[n]) for n in common]
    regressions = [
        d
        for d in deltas
        if d[2] > d[1] * args.threshold and d[3] > 0.5
    ]
    improvements = sorted(deltas, key=lambda d: d[3])[:5]

    print(f"added ({len(added)}): {', '.join(added) or '-'}")
    print(f"removed ({len(removed)}): {', '.join(removed) or '-'}")
    print(f"\nregressions > {args.threshold}x and >0.5s ({len(regressions)}):")
    for n, o, w, d in sorted(regressions, key=lambda d: -d[3]):
        print(f"  {n}: {o:.2f}s -> {w:.2f}s (+{d:.2f}s)")
    print("\ntop improvements:")
    for n, o, w, d in improvements:
        if d < -0.2:
            print(f"  {n}: {o:.2f}s -> {w:.2f}s ({d:.2f}s)")


if __name__ == "__main__":
    main()
