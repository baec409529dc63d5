"""Benchmark sweep: run every queries() entry, or the names given, on the
fixture tier in $SPARK_GRAFT_SF_DIR (default: the sf0.1 tier) on
local[$SPARK_GRAFT_CPUS].

    SPARK_GRAFT_SF_DIR=<tier dir, e.g. .../sf0.01> python bench.py [names...]

Protocol: after a one-query warmup (JVM, codegen, parquet footers), every
query runs REPEATS times, each run a full materialization through the noop
sink (plan + execute). Between runs the session's persisted frames and
trained-model memos are dropped, so no run reuses another's work. A run is
measured with perfbench's instruments: wall time, CPU seconds of the driver
plus the JVM and every process below it (``run.tree_cpu_s``), and the jobs
it scheduled, read from the status store (``tracing.SparkStatus``), whose
submit/complete times split the wall time into pre-job, in-job, gap and
post-job time (``stats.job_split``).

Output contract: the last two stdout lines are JSON. The second-to-last is
the per-query map (``metric: per_query_wall_seconds``: ``queries`` = median
wall seconds, ``n_jobs``); the last is the compact headline (metric, value =
sum of per-query medians, unit, sf, n_queries, n_errors), kept small so a
tail-buffered capture still parses it. BENCH_local.json next to this script
carries the headline, the ``queries`` map and one row per query (see
``summarize``); stderr carries one human-readable line per query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
_path = list(sys.path)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from run import tree_cpu_s  # noqa: E402
from stats import job_split, median  # noqa: E402
from tracing import SparkStatus  # noqa: E402

# perfbench/run.py also puts its directory first on sys.path, where its
# `tests` package would shadow the repo's; its modules are loaded, so drop it
sys.path[:] = _path

#: runs per query; odd, so the median run is one of the runs
REPEATS = 3


def run_record(start: float, end: float, cpu: float, jobs: list[dict]) -> dict:
    """One run's figures from its wall-clock interval, its CPU seconds and
    its jobs as ``SparkStatus.new_jobs`` returns them. A job still running
    at ``end`` counts as running until then."""
    intervals = [(j["submit"], j["complete"] if j["complete"] is not None else end)
                 for j in jobs]
    return {"wall": end - start, "cpu": cpu, "n_jobs": len(jobs),
            "split": job_split(start, end, intervals)}


def summarize(runs: list[dict]) -> dict:
    """A query's BENCH_local.json row: median and minimum wall seconds,
    median CPU seconds, and the job count and pre-job / in-job / gap /
    post-job seconds of the median run, which sum to its wall time."""
    mid = sorted(runs, key=lambda r: r["wall"])[len(runs) // 2]
    return {
        "wall_median_s": round(mid["wall"], 4),
        "wall_min_s": round(min(r["wall"] for r in runs), 4),
        "cpu_median_s": round(median([r["cpu"] for r in runs]), 4),
        "n_jobs": mid["n_jobs"],
    } | {f"{k}_s": round(v, 4) for k, v in mid["split"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="queries to run (default: all)")
    args = ap.parse_args()
    loadavg_at_start = os.getloadavg()[0]  # before this process adds its own load
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from cdc_debezium_kafka_airflow_spark.operators.similarity import clear_model_memos
    from cdc_debezium_kafka_airflow_spark.session import get_spark

    qs = entrymod.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    names = sorted(args.names or qs)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    qs["q1_pricing_summary"](spark, sf_dir).collect()
    status = SparkStatus(spark)  # job ids from here on belong to the sweep

    def run_once(name: str) -> dict:
        # /proc is read outside the timed window; it costs the driver a few ms
        jvm0 = tree_cpu_s(jvm_pid)
        py0 = time.process_time()
        t0 = time.perf_counter()
        epoch0 = time.time() - t0  # the status store stamps wall-clock time
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            cpu = time.process_time() - py0 + tree_cpu_s(jvm_pid) - jvm0
        finally:
            jobs = status.new_jobs()
            spark.catalog.clearCache()
            clear_model_memos()
        return run_record(epoch0 + t0, epoch0 + t1, cpu, jobs)

    rows: dict[str, dict] = {}
    timings: dict[str, float] = {}
    for name in names:
        try:
            row = summarize([run_once(name) for _ in range(REPEATS)])
        except Exception as exc:  # never lose the whole sweep to one query
            print(f"BENCH-ERROR {name}: {exc}", file=sys.stderr, flush=True)
            timings[name] = -1.0
            continue
        rows[name] = row
        timings[name] = row["wall_median_s"]
        print(f"{name}: wall {row['wall_median_s']:.3f}s (min {row['wall_min_s']:.3f}) "
              f"cpu {row['cpu_median_s']:.2f}s jobs {row['n_jobs']} "
              f"pre {row['pre_job_s']:.3f} in {row['in_job_s']:.3f} "
              f"gap {row['gap_s']:.3f} post {row['post_job_s']:.3f}",
              file=sys.stderr, flush=True)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    n_jobs = {name: row["n_jobs"] for name, row in rows.items()}
    headline = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(v for v in timings.values() if v >= 0), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": sum(1 for v in timings.values() if v < 0),
    }
    with open(os.path.join(ROOT, "BENCH_local.json"), "w") as fh:
        json.dump(headline | {
            "repeats": REPEATS,
            "loadavg_at_start": round(loadavg_at_start, 2),
            "queries": timings,
            "rows": rows,
        }, fh, indent=1, sort_keys=True)
    # The per-query map is its own line before the headline: a capture that
    # keeps only a short tail must still see the whole headline.
    print(json.dumps({"metric": "per_query_wall_seconds", "unit": "sec", "sf": sf,
                      "queries": timings, "n_jobs": n_jobs},
                     sort_keys=True, separators=(",", ":")))
    print(json.dumps(headline | {
        "queries_file": "BENCH_local.json",
        "per_query_stdout_metric": "per_query_wall_seconds",
    }))


if __name__ == "__main__":
    main()
