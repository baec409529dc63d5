"""Benchmark: closed-loop runs of fixed registry-query lists on local[4].

    python3 perfbench/run.py --workload cdc_replicate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run

1. stages the program under ``.bench_build/`` (see ``stage_program``),
2. generates the workload's input tier from ``--seed`` (``gen.py``),
3. starts a session and makes one warm pass over every op whose outputs
   are checked against the ops' DuckDB oracles (``setup_s``),
4. runs the ops in a closed loop (one client, a seeded order per pass):
   whole passes start until ``--seconds`` have passed, and at least the
   workload's ``passes`` run, so every op's figure is a median of that many
   samples or more, and
5. prints a summary and, as the last stdout line, one JSON object.

Times that are bound are CPU seconds of the Python driver, the JVM and its
Python workers (see ``end_to_end``); wall-clock figures are printed too.

With ``--trace 1`` every op of the loop runs twice, traced (``tracing.py``)
and untraced; the JSON then carries the per-layer figures and
``tracing.overhead_frac``, and the spans go to ``.bench_build/traces/``.
Ops that raise or fail their oracle print a ``BENCH-ERROR`` or
``BENCH-MISMATCH`` line and count in ``failed``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import random
import re
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PKG = "cdc_debezium_kafka_airflow_spark"
CORES = 4
HEAP = "1g"
TICK = os.sysconf("SC_CLK_TCK")  # /proc's CPU-time unit, per second

sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    tier: gen.TierSpec
    #: True: each op consumes the tier's whole change log, and
    #: ``work_per_cpu_s`` counts change events; False: it counts queries
    events_per_op: bool
    #: fewest loop passes, i.e. samples per op, of an untraced run. With
    #: ``--seconds`` shorter than these passes take, every run has the same
    #: number of samples, taken at the same stage of the JVM's warm-up
    passes: int


WORKLOADS = {
    "cdc_replicate": Workload(
        ops=(
            "upsert_materialize", "snk_dlq_audit", "e2e_reference_pipeline",
            "stream_upsert_state", "stream_foreachbatch_upsert",
            "stream_foreachbatch_upsert_pg", "stream_scd2_upsert",
        ),
        tier=gen.TierSpec(sf=0.01, events=15_000),
        events_per_op=True,
        # 8-17 s a pass on a 4-core VM. The median of 3 drops an outlier
        # sample; the mean of 2 does not (``op_cpu_s`` spread 0.157 over
        # five runs with 2 passes, one op reading 1.6x its usual CPU time)
        passes=3,
    ),
    "warehouse_reads": Workload(
        ops=(
            "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
            "q5_regional_volume", "q6_forecast_revenue", "q7_volume_shipping",
            "q10_returned_items", "q13_customer_distribution", "q14_promo_effect",
            "q17_small_qty_revenue", "q19_disjunctive_revenue",
            "q22_dormant_customers",
        ),
        tier=gen.TierSpec(sf=0.01, events=10_000),
        events_per_op=False,
        passes=4,  # 5-9 s a pass
    ),
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --- staging -----------------------------------------------------------------

def program_files(root: str) -> list[str]:
    """The entry module, the package, and the oracle gate whose result
    canonicalisation the check reuses."""
    files = [os.path.join(root, "__spark_entry__.py"),
             os.path.join(root, "tools", "check_oracles.py")]
    for dp, dns, fs in os.walk(os.path.join(root, PKG)):
        dns[:] = sorted(d for d in dns if d != "__pycache__")
        files += [os.path.join(dp, f) for f in sorted(fs) if f.endswith(".py")]
    return files


#: a quoted absolute path up to a ``.cache`` or ``spark-warehouse`` component
_HARDCODED_ROOT = re.compile(r"""(["'])/[\w./-]*?/(?=(?:\.cache|spark-warehouse)["'/])""")


def stage_program(root: str, build: str) -> str:
    """Copy the program under ``build/stage-<digest>`` and return that dir.

    Some program modules hard-code an absolute repository path for their
    ``.cache`` and ``spark-warehouse`` directories. The copy points those
    literals at the stage dir, so every file the program writes stays
    inside the checkout and next to the ``.cache`` its other caches use. A
    program without such literals is copied unchanged."""
    files = program_files(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stage = os.path.join(build, f"stage-{h.hexdigest()[:12]}")
    if os.path.exists(os.path.join(stage, ".staged")):
        return stage
    for old in glob.glob(os.path.join(build, "stage-*")):
        shutil.rmtree(old)
    tmp = stage + ".tmp"
    for f in files:
        dst = os.path.join(tmp, os.path.relpath(f, root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(f, encoding="utf-8") as fh:
            text = fh.read()
        text = _HARDCODED_ROOT.sub(lambda m: m.group(1) + stage + "/", text)
        with open(dst, "w", encoding="utf-8") as fh:
            fh.write(text)
    open(os.path.join(tmp, ".staged"), "w").close()
    os.replace(tmp, stage)
    return stage


def ensure_tier(build: str, stage: str, workload: str, seed: int, spec: gen.TierSpec) -> str:
    """The tier for (workload, seed), generated unless already on disk.
    Other seeds' tiers of this workload, and the program's caches keyed on
    their names, are removed first."""
    name = gen.tier_name(workload, seed, spec)
    inputs = os.path.join(build, "inputs")
    path = os.path.join(inputs, name)
    if os.path.isdir(path):
        return path
    prefix = f"pb_{workload}_s"
    for old in glob.glob(os.path.join(inputs, prefix + "*")):
        shutil.rmtree(old, ignore_errors=True)
    for old in glob.glob(os.path.join(stage, ".cache", f"*{prefix}*")):
        if os.path.isdir(old):
            shutil.rmtree(old)
        else:
            os.remove(old)
    os.makedirs(inputs, exist_ok=True)
    gen.write_tier(path, seed, spec)
    return path


# --- processes ---------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) spent so far by ``pid`` and every live
    process below it, including the children each of them has reaped: the
    JVM, the Python workers and the workers that already exited."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / TICK


def host_steal_ticks() -> int:
    """Ticks the hypervisor has taken from this machine's CPUs since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def reset_rss_peaks(pids: list[int]) -> None:
    """Restart the high-water marks of ``pids`` at their current resident
    size, so a later peak shows only what came after this call."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def rss_peak_mb(pids: list[int]) -> float:
    """Summed high-water resident memory (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until it and every process it
    started (Python workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = [proc.pid] + descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in procs:
        while alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


# --- the program ---------------------------------------------------------------

@dataclass
class Program:
    """A live session on the staged program, and the entry points used."""

    spark: object
    session_s: float
    #: CPU seconds of the session start: the Python driver's, and all of the
    #: JVM's up to then
    session_cpu_s: float
    jvm_pid: int
    queries: dict
    oracles: dict
    clear_memos: object
    jobs: object
    multiset: object


def start_program(build: str, stage: str) -> Program:
    """Import the staged program and start its session on local[CORES].

    Every file Spark, the JVM and Python workers write goes under
    ``build``; the process's working directory moves there too."""
    tmp = os.path.join(build, "tmp")
    work = os.path.join(build, "work")
    for d in (tmp, work):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": HEAP,
        "TMPDIR": tmp,
        # spark-submit's launcher JVM, then the Spark driver JVM.
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir.
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # The heap is fixed and touched up front (-Xms = -Xmx, pre-touch):
        # left to grow, the JVM's resident size follows the collector's
        # sizing choices (peak_rss_mb spread 0.11 over five runs on a 4-core
        # VM). So on-heap growth shows as spark.gc_s, not as peak_rss_mb.
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", f"spark.local.dir={tmp}",
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch",
            "pyspark-shell"]),
    })
    os.chdir(work)

    # the oracle canonicalisation of the repo's gate, imported as-is; it
    # prepends a fixed path to sys.path at import, which is undone here
    saved_path = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(stage, "tools", "check_oracles.py"))
    check_oracles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracles)
    sys.path[:] = saved_path

    sys.path.insert(0, stage)
    import __spark_entry__ as entry  # sets PYTHONPATH for Python workers

    from cdc_debezium_kafka_airflow_spark.operators.similarity import clear_model_memos
    from cdc_debezium_kafka_airflow_spark.session import get_spark
    from cdc_debezium_kafka_airflow_spark.streaming import jobs

    t0 = time.perf_counter()
    py0 = time.process_time()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    py1 = time.process_time()
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return Program(
        spark=spark,
        session_s=session_s,
        session_cpu_s=py1 - py0 + tree_cpu_s(jvm_pid),
        jvm_pid=jvm_pid,
        queries=entry.queries(),
        oracles=entry.oracle_sql(),
        clear_memos=clear_model_memos,
        jobs=jobs,
        multiset=check_oracles.df_to_multiset,
    )


# --- the run -----------------------------------------------------------------

class Bench:
    def __init__(self, prog: Program, workload: Workload, tier: str):
        self.prog = prog
        self.spark = prog.spark
        self.wl = workload
        self.tier = tier
        self.attempted = 0
        self.failed = 0
        self.broken: set[str] = set()

    def isolate(self) -> None:
        """Drop persisted frames and trained-model memos between ops, as
        ``bench.py`` does: no op reuses another op's work."""
        self.spark.catalog.clearCache()
        self.prog.clear_memos()

    def warm_pass(self) -> tuple[float, float, dict]:
        """One pass collecting every op's output. Returns its wall time, its
        CPU seconds and the outputs; an op that raises is marked broken."""
        outputs, wall, cpu = {}, 0.0, 0.0
        for op in self.wl.ops:
            self.attempted += 1
            jvm0 = tree_cpu_s(self.prog.jvm_pid)
            py0 = time.process_time()
            t0 = time.perf_counter()
            try:
                outputs[op] = self.prog.queries[op](self.spark, self.tier).toPandas()
            except Exception:
                print(f"BENCH-ERROR {op}: raised in the warm pass", flush=True)
                traceback.print_exc()
                self.failed += 1
                self.broken.add(op)
            wall += time.perf_counter() - t0
            cpu += time.process_time() - py0 + tree_cpu_s(self.prog.jvm_pid) - jvm0
            self.isolate()
        return wall, cpu, outputs

    def check(self, outputs: dict) -> None:
        """Compare each op's warm-pass output with its DuckDB oracle."""
        import duckdb

        multiset = self.prog.multiset
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tier}/{t}.parquet'")
            for op, pdf in outputs.items():
                try:
                    odf = con.execute(self.prog.oracles[op]).df()
                except duckdb.Error as exc:
                    print(f"BENCH-MISMATCH {op}: oracle raised {exc}", flush=True)
                    self.failed += 1
                    self.broken.add(op)
                    continue
                sc, sm = multiset(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
                oc, om = multiset(list(odf.columns), list(odf.itertuples(index=False, name=None)))
                if sc != oc:
                    why = f"columns spark={sc} oracle={oc}"
                elif sm != om:
                    n = sum(1 for a, b in zip(sm, om) if a != b)
                    why = f"rows spark={len(sm)} oracle={len(om)}, {n} differ"
                else:
                    continue
                print(f"BENCH-MISMATCH {op}: {why}", flush=True)
                self.failed += 1
                self.broken.add(op)
        finally:
            con.close()

    def loop(self, seconds: float, rng: random.Random, run_one, min_passes: int) -> None:
        """Closed loop: the next op starts when the last one finished. Each
        pass runs every op once, in a fresh seeded order; passes start
        until ``seconds`` have passed, and at least ``min_passes`` run, so
        every op has the same number of samples."""
        ops = [op for op in self.wl.ops if op not in self.broken]
        deadline = time.perf_counter() + seconds
        passes = 0
        while passes < min_passes or time.perf_counter() < deadline:
            order = list(ops)
            rng.shuffle(order)
            for op in order:
                run_one(op)
            passes += 1

    def timed(self, op: str, tracer=None) -> dict | None:
        """Run one op through the noop sink; returns its timings, or None if
        it raised."""
        self.attempted += 1
        fn = self.prog.queries[op]
        if tracer is not None:
            tracer.open_op(f"{op}#{self.attempted}", op)
        try:
            # the JVM side is read from /proc, which costs the driver a few
            # milliseconds: it is read outside the driver's own CPU window
            jvm0 = tree_cpu_s(self.prog.jvm_pid)
            py0 = time.process_time()
            t0 = time.perf_counter()
            df = fn(self.spark, self.tier)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cpu = time.process_time() - py0 + tree_cpu_s(self.prog.jvm_pid) - jvm0
        except Exception:
            print(f"BENCH-ERROR {op}: raised in the timed loop", flush=True)
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            spans = tracer.close_op() if tracer is not None else None
            self.isolate()
        return {"op": op, "build_s": t1 - t0, "sink_s": t2 - t1, "wall_s": t2 - t0,
                "cpu_s": cpu, "spans": spans}

    def work_per_pass(self) -> float:
        ops = [op for op in self.wl.ops if op not in self.broken]
        return float(len(ops) * (self.wl.tier.events if self.wl.events_per_op else 1))


def per_op_medians(samples: list[dict], key: str) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s[key])
    return {op: stats.median(v) for op, v in by_op.items()}


def end_to_end(bench: Bench, samples: list[dict], setup_cpu_s: float, pids: list[int],
               steal_frac: float) -> dict:
    """The bound metrics, in CPU seconds, and the wall-clock figures, which
    are printed but not bound.

    On a VM that shares its host, the hypervisor takes CPU time away
    ("steal"), and an op's wall time grows with it: over four
    ``cdc_replicate`` runs on a 4-core VM, at 2% to 40% steal, the wall
    ``op_geomean`` read 1.19 to 2.05 s, while the CPU figure read 3.12 to
    3.58 s. Stolen time is not charged to the processes; a busy host still
    slows the work itself, but far less than it delays it."""
    wall = per_op_medians(samples, "wall_s")
    cpu = per_op_medians(samples, "cpu_s")
    for op in sorted(wall):
        n = sum(1 for s in samples if s["op"] == op)
        print(f"  {op:32s} wall {wall[op]:8.4f} s  cpu {cpu[op]:8.4f} s  (median of {n})")
    # The median op of a short list of unlike ops jumps between neighbouring
    # ops from run to run; the geometric mean moves with every op, and by
    # the same factor whatever the op's size, so it is the bound aggregate.
    print(f"wall: op_p50_s {stats.median(list(wall.values())):.4f} s (median op), "
          f"op_geomean_s {stats.geomean(list(wall.values())):.4f} s, "
          f"host steal {100 * steal_frac:.1f}% of the loop's CPU time")
    p90 = stats.percentile([s["wall_s"] for s in samples], 0.9)
    if p90 is not None:
        print(f"wall: op_p90_s {p90:.4f} s over {len(samples)} samples")
    return {
        "setup_s": (setup_cpu_s, "s"),
        "op_cpu_s": (stats.geomean(list(cpu.values())), "s"),
        "work_per_cpu_s": (bench.work_per_pass() / sum(cpu.values()), "1/s"),
        "peak_rss_mb": (rss_peak_mb(pids), "MB"),
    }


def per_layer(samples: list[dict], session_s: float,
              untraced_geomean: float) -> tuple[dict, dict]:
    """Workload figures from traced samples: for each op, the median of each
    figure over its samples; then summed over ops (one pass's worth).
    Ratios are formed from those sums. Also returns the per-op figures."""
    keys = list(samples[0]["layers"])
    by_op: dict[str, list[dict]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s)
    per_op = {
        op: {k: stats.median([s["layers"][k] for s in ss]) for k in keys}
        | {"queries.build_s": stats.median([s["build_s"] for s in ss]),
           "queries.sink_s": stats.median([s["sink_s"] for s in ss]),
           "wall_s": stats.median([s["wall_s"] for s in ss])}
        for op, ss in by_op.items()
    }
    total = {k: sum(p[k] for p in per_op.values())
             for k in next(iter(per_op.values())) if k != "wall_s"}
    total["spark.stage_skew"] = max(p["spark.stage_skew"] for p in per_op.values())
    total["spark.task_util"] = (
        total["spark.task_s"] / (total["spark.in_job_s"] * CORES)
        if total["spark.in_job_s"] > 0 else 0.0)
    traced = stats.geomean([p["wall_s"] for p in per_op.values()])
    total["tracing.overhead_frac"] = traced / untraced_geomean - 1.0
    total["session.start_s"] = session_s
    return total, per_op


def unit_of(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_util", "_skew")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    for need in ("__spark_entry__.py", PKG, os.path.join("tools", "check_oracles.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the program")

    # wall time of each step of the run, printed at the end
    phases: list[str] = []
    t_last = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_last
        now = time.perf_counter()
        phases.append(f"{name} {now - t_last:.1f} s")
        t_last = now

    os.makedirs(BUILD, exist_ok=True)
    stage = stage_program(ROOT, BUILD)
    tier = ensure_tier(BUILD, stage, args.workload, args.seed, wl.tier)
    phase("stage+inputs")

    prog = start_program(BUILD, stage)
    spark = prog.spark
    phase("session")
    try:
        if wl.events_per_op:
            # the change-log replay dir is an input derived from the tier;
            # build it before anything is timed
            prog.jobs.changelog_stream(spark, tier)
            phase("replay dir")
        bench = Bench(prog, wl, tier)

        warm_s, warm_cpu_s, outputs = bench.warm_pass()
        setup_cpu_s = prog.session_cpu_s + warm_cpu_s
        phase("warm pass")
        print(f"set-up: {setup_cpu_s:.2f} CPU s, {prog.session_s + warm_s:.2f} s wall")
        bench.check(outputs)
        del outputs
        phase("check")
        # peak_rss_mb covers the loop only: not the input generation, the
        # oracle check or the warm pass's collected outputs
        pids = [os.getpid(), prog.jvm_pid]
        reset_rss_peaks(pids)

        rng = random.Random(args.seed)
        if args.trace:
            metrics = traced_run(bench, args.seconds, rng, args, prog.session_s)
        else:
            samples: list[dict] = []
            steal0, t0 = host_steal_ticks(), time.perf_counter()
            bench.loop(args.seconds, rng, lambda op: samples.append(bench.timed(op)),
                       wl.passes)
            steal_frac = ((host_steal_ticks() - steal0) / TICK
                          / (os.cpu_count() * (time.perf_counter() - t0)))
            samples = [s for s in samples if s is not None]
            if not samples:
                fail("no op completed")
            metrics = end_to_end(bench, samples, setup_cpu_s, pids, steal_frac)
        phase("loop")
    finally:
        stop_session(spark)
    phase("stop")

    print("phases: " + ", ".join(phases))
    for name, (value, unit) in metrics.items():
        print(f"{name:32s} {value:14.6f} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def traced_run(bench: Bench, seconds: float, rng: random.Random, args,
               session_s: float) -> dict:
    """The loop of a ``--trace 1`` run: every op runs twice back to back,
    once traced and once not, the order alternating between consecutive
    pairs so that warm-up drift falls on both sides alike. Returns the
    per-layer metrics and writes the spans and per-op figures to a trace
    file."""
    from tracing import ProgressLog, SparkStatus, Spans, op_layers

    spans = Spans()
    status = SparkStatus(bench.spark)
    progress = ProgressLog(bench.spark)
    epoch0 = time.time() - time.perf_counter()
    samples: list[dict] = []
    untraced: list[dict] = []
    n_wrapped = 0

    def run(op: str, traced: bool) -> None:
        nonlocal n_wrapped
        if traced:
            n_wrapped = spans.install()
        try:
            s = bench.timed(op, spans if traced else None)
        finally:
            spans.uninstall()
        jobs = status.new_jobs()  # drains the listener bus first
        events = progress.take()
        if s is None:
            return
        if traced:
            s["layers"] = op_layers(s["spans"], jobs, events, epoch0)
            samples.append(s)
        else:
            untraced.append(s)

    def run_pair(op: str) -> None:
        traced_first = (len(samples) + len(untraced)) % 4 == 2
        run(op, traced_first)
        run(op, not traced_first)

    try:
        bench.loop(seconds, rng, run_pair, 1)
    finally:
        progress.close()
    if not samples or not untraced:
        fail("no traced op completed")
    untraced_geomean = stats.geomean(list(per_op_medians(untraced, "wall_s").values()))
    total, per_op = per_layer(samples, session_s, untraced_geomean)

    out_dir = os.path.join(BUILD, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "wrapped_functions": n_wrapped, "per_op": per_op,
                   "samples": [{k: v for k, v in s.items() if k != "spans"} for s in samples],
                   "spans": spans.spans}, fh)
    print(f"trace: {len(spans.spans)} spans, {len(samples)} samples -> {path}")
    for op, fig in sorted(per_op.items()):
        print(f"  {op:32s} wall {fig['wall_s']:7.3f}  pre {fig['spark.pre_job_s']:6.3f}  "
              f"in {fig['spark.in_job_s']:6.3f}  gap {fig['spark.gap_s']:6.3f}  "
              f"jobs {fig['spark.jobs']:4.0f}")
    return {k: (v, unit_of(k)) for k, v in sorted(total.items())}


if __name__ == "__main__":
    sys.exit(main())
