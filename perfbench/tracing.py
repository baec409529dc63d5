"""Traced runs: spans from wrappers around the program's layer functions,
job/stage/task figures from Spark's status store, and trigger progress from
a StreamingQueryListener. Everything is read from outside the program; the
wrappers are installed on module attributes and removed again.

Layers are named after the package's modules: ``sources`` (every
``sources.*`` module), ``operators.<module>`` and ``streaming`` (for
``streaming.jobs``).
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from datetime import datetime, timezone

from stats import covered, job_split, self_times

PKG = "cdc_debezium_kafka_airflow_spark"

#: Layers whose figures the benchmark reports, the ones its workloads
#: exercise; spans of the other ``operators.*`` modules still go to the
#: trace file.
REPORTED_LAYERS = ("sources", "operators.cdc", "streaming")


def layer_of(module_name: str) -> str | None:
    if not module_name.startswith(PKG + "."):
        return None
    rel = module_name[len(PKG) + 1:]
    if rel.startswith("sources."):
        return "sources"
    if rel.startswith("operators."):
        return rel
    return "streaming" if rel == "streaming.jobs" else None


class Spans:
    """In-memory span recorder. A span has a name, a layer, start and end
    (``time.perf_counter`` seconds), the id of the span that was open on
    the same thread when it started (or the op's root span), and the op id.
    Spans are only recorded while an op is open."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._op: tuple[str, int] | None = None
        self._root: dict | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def open_op(self, op_id: str, name: str) -> None:
        root = self._new_id()
        self._op = (op_id, root)
        self._root = {"id": root, "parent": None, "name": name, "layer": "op",
                      "op": op_id, "start": time.perf_counter(), "end": None}

    def close_op(self) -> list[dict]:
        """End the op; returns its spans, root first."""
        self._root["end"] = time.perf_counter()
        op_id, _ = self._op
        self._op = None
        with self._lock:
            mine = [s for s in self.spans if s["op"] == op_id]
            self.spans.append(self._root)
        return [self._root] + mine

    def call(self, name: str, layer: str, fn, args, kwargs):
        op = self._op
        if op is None:
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self._new_id()
        span = {"id": sid, "parent": stack[-1] if stack else op[1], "name": name,
                "layer": layer, "op": op[0], "start": time.perf_counter(), "end": None}
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def install(self) -> int:
        """Wrap every public function of the layer modules, and rebind every
        name in the package's loaded modules that refers to one of them (the
        ``queries`` modules import operator functions by name). Returns the
        number of functions wrapped."""
        wrapped: dict[int, object] = {}
        modules = {n: m for n, m in sys.modules.items()
                   if m is not None and (n == PKG or n.startswith(PKG + "."))}
        for name, mod in modules.items():
            layer = layer_of(name)
            if layer is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != name):
                    continue
                wrapped[id(fn)] = self._wrap(fn, f"{layer}.{attr}", layer)
        for mod in modules.values():
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, w)
        return len(wrapped)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, layer, fn, args, kwargs)

        return traced


class ProgressLog:
    """Collects StreamingQueryProgress events as plain dicts."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.events: list[dict] = []
        self._lock = threading.Lock()
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def add(self, p) -> None:
        ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        ev = {
            "query": str(p.id),
            "batch": p.batchId,
            "start": ts.replace(tzinfo=timezone.utc).timestamp(),
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
            "state_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
        }
        with self._lock:
            self.events.append(ev)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class SparkStatus:
    """Job, stage and task figures from the Spark driver's status store. Jobs are
    attributed to an op by job-id frontier: Spark numbers jobs sequentially
    per context, so the ids allocated between two probes belong to the op
    run between them, streaming-thread jobs included."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._seen_stages: set[int] = set()
        self.drain()
        self._next = self._frontier()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event, so
        the status store and the streaming listener are up to date."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _frontier(self, start: int = 0) -> int:
        i = start
        while self._tracker.getJobInfo(i) is not None:
            i += 1
        return i

    def new_jobs(self) -> list[dict]:
        """Jobs started since the last call, with their stages' figures.
        Stages are counted once, in the first job that lists them; a
        skipped stage reused from an earlier job adds nothing."""
        self.drain()
        end = self._frontier(self._next)
        jobs = []
        for jid in range(self._next, end):
            jd = self._store.job(jid)
            if not jd.submissionTime().isDefined():
                continue
            submit = jd.submissionTime().get().getTime() / 1000.0
            done = (jd.completionTime().get().getTime() / 1000.0
                    if jd.completionTime().isDefined() else None)
            stages = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._stage(sid)
                if st is not None:
                    stages.append(st)
            jobs.append({"id": jid, "submit": submit, "complete": done, "stages": stages})
        self._next = end
        return jobs

    def _stage(self, sid: int) -> dict | None:
        sd = self._store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return None
        skew = 1.0
        summary = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            skew = top / med if med > 0 else 1.0
        return {
            "id": sid,
            "tasks": sd.numCompleteTasks(),
            "task_s": sd.executorRunTime() / 1e3,
            "task_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": sd.inputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "output_bytes": sd.outputBytes(),
            "skew": skew,
        }


def op_layers(spans: list[dict], jobs: list[dict], progress: list[dict],
              epoch0: float) -> dict[str, float]:
    """Per-layer figures of one traced op sample.

    ``spans`` is the op's span list, root first (perf_counter seconds;
    ``epoch0`` converts them to the wall clock the status store uses);
    ``jobs`` the op's jobs from SparkStatus; ``progress`` the trigger
    progress events received while the op ran."""
    root = spans[0]
    start, end = epoch0 + root["start"], epoch0 + root["end"]
    intervals = [(j["submit"], j["complete"] if j["complete"] is not None else end)
                 for j in jobs]
    split = job_split(start, end, intervals)
    stages = [s for j in jobs for s in j["stages"]]
    out = {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["tasks"] for s in stages)),
        "spark.pre_job_s": split["pre_job"],
        "spark.in_job_s": split["in_job"],
        "spark.gap_s": split["gap"],
        "spark.post_job_s": split["post_job"],
        "spark.stage_skew": max((s["skew"] for s in stages), default=1.0),
    }
    for key in ("task_s", "task_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        out[f"spark.{key}"] = float(sum(s[key] for s in stages))

    selfs = self_times(spans)
    for layer in REPORTED_LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        cover = [(epoch0 + s["start"], epoch0 + s["end"]) for s in mine]
        out[f"{layer}.call_s"] = covered(cover, start, end)
        out[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in mine)

    out.update(streaming_figures(progress, intervals))
    return out


def streaming_figures(progress: list[dict], job_intervals: list[tuple[float, float]]) -> dict[str, float]:
    """Trigger counts and sums. Streams here run one or two triggers each,
    so sums, not percentiles. ``sink_driver_s`` is each trigger's addBatch
    time minus the in-job time inside that trigger: the driver-side share
    of the sink (MERGE / ON CONFLICT statements, foreachBatch Python)."""
    ms = lambda e, k: e["ms"].get(k, 0) / 1e3  # noqa: E731
    sink_driver = 0.0
    for e in progress:
        lo = e["start"]
        hi = lo + ms(e, "triggerExecution")
        sink_driver += max(0.0, ms(e, "addBatch") - covered(job_intervals, lo, hi))
    last: dict[str, dict] = {}
    for e in progress:
        if e["query"] not in last or e["batch"] >= last[e["query"]]["batch"]:
            last[e["query"]] = e
    return {
        "streaming.triggers": float(len(progress)),
        "streaming.input_rows": float(sum(e["rows"] for e in progress)),
        "streaming.trigger_s": sum(ms(e, "triggerExecution") for e in progress),
        "streaming.add_batch_s": sum(ms(e, "addBatch") for e in progress),
        "streaming.planning_s": sum(ms(e, "queryPlanning") for e in progress),
        "streaming.wal_commit_s": sum(ms(e, "walCommit") for e in progress),
        "streaming.latest_offset_s": sum(ms(e, "latestOffset") for e in progress),
        "streaming.sink_driver_s": sink_driver,
        "streaming.state_rows": float(sum(e["state_rows"] for e in last.values())),
        "streaming.state_bytes": float(sum(e["state_bytes"] for e in last.values())),
    }
