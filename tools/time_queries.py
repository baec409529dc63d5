"""Time individual queries() entries at a given SF (perf triage helper).

Usage: python tools/time_queries.py [--sf DIR] [--repeat N] [names...]

Each name runs N times (default 1) through the noop sink. Between runs the
session's persisted frames are dropped (``clearCache``), as ``bench.py``
does, so no run reads another run's cache. Prints, per name, the median
wall seconds and the median CPU seconds: the driver's Python process plus
the JVM and every process below it (Python workers), read from
``/proc/<pid>/stat``. CPU is the steadier figure on a shared host. A third
column, ``forked``, is the part of that CPU spent in short-lived children
the JVM forked and reaped during the run (helper processes such as
Hadoop's ``readlink``/``chmod`` shell-outs): the JVM's ``cutime + cstime``
delta, so fork cost shows as its own figure.
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

args = sys.argv[1:]
sf = "/root/testdata/sf0.1"
repeat = 1
while args and args[0] in ("--sf", "--repeat"):
    if args[0] == "--sf":
        sf = args[1]
    else:
        repeat = int(args[1])
    args = args[2:]

import __spark_entry__ as m
from cdc_debezium_kafka_airflow_spark.session import get_spark

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat after the command name; [] once gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _proc_cpu_s(pid: int) -> float:
    """utime + stime + reaped children's, in seconds; 0 once gone."""
    return sum(int(x) for x in _stat_fields(pid)[11:15]) / _TICK


def reaped_cpu_s(pid: int) -> float:
    """cutime + cstime: CPU of the children pid has waited for, in seconds."""
    return sum(int(x) for x in _stat_fields(pid)[13:15]) / _TICK


def _children(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(pid: int) -> float:
    return sum(_proc_cpu_s(p) for p in [pid, *_children(pid)])


spark = get_spark("probe")
spark.sparkContext.setLogLevel("ERROR")
jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
qs = m.queries()
for name in args or sorted(qs):
    walls, cpus, forked = [], [], []
    try:
        for _ in range(repeat):
            reaped0 = reaped_cpu_s(jvm_pid)
            jvm0, py0, t0 = tree_cpu_s(jvm_pid), time.process_time(), time.perf_counter()
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            cpus.append(time.process_time() - py0 + tree_cpu_s(jvm_pid) - jvm0)
            forked.append(reaped_cpu_s(jvm_pid) - reaped0)
            spark.catalog.clearCache()
        print(f"{name}: {statistics.median(walls):.2f}s "
              f"cpu {statistics.median(cpus):.2f}s "
              f"forked {statistics.median(forked):.2f}s", flush=True)
    except Exception as e:
        print(f"{name}: ERROR {type(e).__name__} {str(e)[:200]}", flush=True)
        spark.catalog.clearCache()
