"""SparkSession construction and per-session tuning.

The reference pins every timestamp to UTC (``database.connectionTimeZone=UTC``,
reference register-mysql-connector.json:14) and narrows decimals to IEEE double
(``decimal.handling.mode=double``, register-mysql-connector.json:17); we mirror
the timezone here and the double convention in the fixtures/oracles.

Scale posture (100 TB design, tested on local[32]):
  - AQE on: runtime partition coalescing, skew-join splitting, dynamic
    broadcast decisions survive a 1000x scale-up where static plans don't.
  - shuffle.partitions sized for the local harness; on a real cluster this is
    overridden (or left to AQE's coalescing with a high initial value).
  - Arrow enabled for the few Pandas-UDF paths (multimodal stubs).
  - Codegen cache sized to the query surface, so a repeated query reuses
    its compiled classes and the JIT'd code built on them. One pass over
    the twelve warehouse reads (sf0.01, local[4]) compiles 117 distinct
    classes, more than Spark's 100-entry LRU default holds: at the
    default each repeat pass recompiled 103 of them, at
    CODEGEN_CACHE_ENTRIES none (three repeat passes). A retained class
    costs about 7.7 KB of metaspace and 5.8 KB of code heap: a full
    bench.py sweep at sf0.01 ended with 4,026 compiled classes, +29.7 MB
    metaspace and +22.3 MB code heap over the 100-entry default (which
    compiled 10,642).
"""

from __future__ import annotations

import os
import sys
import zipfile

from pyspark.sql import SparkSession

_PYFILES_SHIPPED: set[str] = set()
_CODEGEN_CACHE_CHECKED: set[str] = set()


def session_key(spark: SparkSession) -> str:
    """Stable identity for a live session. id(spark) is NOT stable: after a
    session is stopped and garbage-collected a new SparkSession can reuse the
    same CPython object address, which would silently skip per-session setup
    (addPyFile) and reintroduce executor unpickle failures."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # spark-connect sessions have no accessible context
        return f"id-{id(spark)}"


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable on executor Python workers.

    A driver-owned session may have been created before this repo was on
    PYTHONPATH; pandas-UDF / mapInPandas / applyInPandas functions that
    reference module-level symbols then fail to unpickle on workers. Shipping
    the package via addPyFile fixes that for any session, local or cluster.
    """
    key = session_key(spark)
    if key in _PYFILES_SHIPPED:
        return
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import REPO_ROOT

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    cache_dir = os.path.join(REPO_ROOT, ".cache")
    os.makedirs(cache_dir, exist_ok=True)
    zip_path = os.path.join(cache_dir, "engine_pkg.zip")
    src_mtime = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(pkg_dir)
        for f in fs
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
        # PID-suffixed tmp: two harness processes rebuilding concurrently
        # must not interleave writes into one tmp file; os.replace keeps
        # the publish atomic either way
        tmp = f"{zip_path}.tmp.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for dp, _, fs in os.walk(pkg_dir):
                for f in fs:
                    if f.endswith(".py"):
                        full = os.path.join(dp, f)
                        zf.write(full, os.path.relpath(full, REPO_ROOT))
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception as exc:  # e.g. spark-connect sessions have no context
        print(
            f"SHIP-PACKAGE-SKIPPED: {type(exc).__name__}: {exc}",
            file=sys.stderr,
        )
    _PYFILES_SHIPPED.add(key)

# Runtime-settable confs applied to ANY session that runs our queries --
# including the driver-owned session passed into __spark_entry__ callables.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS): Spark has no nanos timestamp,
    # so read as long and convert (sources/tables.py) — truncation to micros
    # matches DuckDB's ns->us handling.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # local[32] harness: 60k-600k rows/table -> a few MB per partition.
    # On a 1000-executor cluster reading 100 TB this is set to O(cores*3)
    # or left high and AQE-coalesced.
    "spark.sql.shuffle.partitions": "32",
    # Leave the whole-stage codegen stage id out of the generated class
    # name. AQE numbers stages in the order their inputs finish, so one
    # query's stage ids vary run to run (e2e_reference_pipeline: 4 plan
    # variants in 8 runs on local[32]); with the id in the class name, each
    # variant's source differs and misses the codegen cache.
    "spark.sql.codegen.useIdInClassName": "false",
}

# Applied on top of RUNTIME_CONFS only to a session whose master is
# local[...], where every checkpoint this repo writes sits on the machine's
# own filesystem (tmpfs or .cache).
LOCAL_RUNTIME_CONFS: dict[str, str] = {
    # Commit streaming checkpoint files (offsets, commits, state deltas)
    # through the FileSystem API instead of FileContext. FileContext's
    # rename asks for the target's link status, and without Hadoop's
    # native library RawLocalFileSystem answers that by forking `readlink`
    # (Hadoop 3.4.2: getFileLinkStatusInternal -> FileUtil.readLink ->
    # Shell), a fork per checkpoint file. On a local filesystem rename(2)
    # is atomic either way. On HDFS or an object store this manager checks
    # for the target and then renames, weaker than FileContext's rename
    # without overwrite, so a cluster session keeps Spark's default.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def _is_local(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext.master.startswith("local")
    except Exception:  # spark-connect sessions have no accessible context
        return False


# Static conf: read once, when the JVM's code generator first compiles, so
# only a session built by get_spark carries it. Sized by measurement (see
# "Scale posture" above): one sweep of all 344 queries at sf0.001 with an
# unbounded cache compiled 3,994 distinct classes, and a second sweep 28
# more. 4096 would leave 2% headroom, and an LRU smaller than a repeated
# sweep misses on every lookup, so the cap is the next power of two.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 8192


def _check_codegen_cache(spark: SparkSession) -> None:
    """Name, once per session on stderr, a codegen cache smaller than ours.

    A driver-owned session built without our static conf keeps Spark's
    100-entry default, and a static conf cannot change at runtime, so
    repeated queries recompile. Stdout stays clean: it carries the bench
    headline JSON."""
    key = session_key(spark)
    if key in _CODEGEN_CACHE_CHECKED:
        return
    _CODEGEN_CACHE_CHECKED.add(key)
    active = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if active < CODEGEN_CACHE_ENTRIES:
        print(
            f"CODEGEN-CACHE: maxEntries={active} < {CODEGEN_CACHE_ENTRIES}; "
            "set it when building the session",
            file=sys.stderr,
            flush=True,
        )


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (driver-owned)."""
    _ship_package(spark)
    _check_codegen_cache(spark)
    confs = RUNTIME_CONFS | (LOCAL_RUNTIME_CONFS if _is_local(spark) else {})
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable on this build -> keep going; none are
            # correctness-critical except timeZone, which is settable.
            pass
    return spark


def get_spark(app_name: str = "cdc-spark-engine") -> SparkSession:
    """Build a local session for tests/bench (driver provides its own)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # bench.py's job-frontier probe (n_jobs accounting) walks
        # statusTracker job ids; at the default retainedJobs=1000 a single
        # job-heavy query could evict the probe's anchor and stick the
        # frontier (ADVICE r11). UI is off, so the retained metadata is
        # just the status store; a full 344-query bench schedules ~2.2k
        # jobs per sweep — 200k leaves two orders of magnitude headroom.
        .config("spark.ui.retainedJobs", "200000")
        .config("spark.sql.shuffle.partitions", "32")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
