"""Shared helpers for query modules, and the one query registry."""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_debezium_kafka_airflow_spark.session import apply_runtime_confs
from cdc_debezium_kafka_airflow_spark.sources.tables import (
    _file_fingerprint,
    load_table,
    table_path,
)

#: every registered query and its DuckDB oracle, keyed by name in
#: definition order; ``registry`` orders the driver's view of them
QUERIES: dict[str, Callable[..., DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: the fixture-table loader under the short name the query bodies use
t = load_table


def q(name: str, oracle: str):
    """Register the decorated query under ``name`` with its oracle SQL.

    The registered callable, which also replaces the module attribute,
    applies the session tuning once per call before it runs the body: the
    driver owns the session, and the tuned confs (timeZone=UTC among them)
    are runtime-settable, so each query pins them itself."""
    if name in QUERIES:
        raise ValueError(f"duplicate query name: {name}")

    def deco(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
        @functools.wraps(fn)
        def run(spark: SparkSession, *args, **kwargs) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[name] = run
        ORACLES[name] = oracle
        return run

    return deco


def widen_narrow_scan(df: DataFrame, key: tuple | str | None = None) -> DataFrame:
    """Give an upcoming expensive per-row stage (Python UDTF,
    applyInPandas, or a heavy higher-order-function projection) its full
    core width — scale-adaptively.

    The one-file fixtures scan as a SINGLE split (one parquet row group),
    so an expensive stage fused onto the scan runs serially no matter how
    many cores the session has; a round-robin repartition ahead of it
    trades a few-MB shuffle for core-width parallelism (measured round 12:
    udtf_polymorphic's 100k per-row evals 2.2 s -> ~0.3 s). At production
    scale the scan already carries more splits than cores and this helper
    is a NO-OP — the condition is derived from the plan's own partition
    count, not a local constant (optimization-guide §2: partitioning must
    be scale-adaptive, not tuned to one harness).

    ``key``: optional (sf_dir, table) of the fixture store the scan
    reads, or the path of any other parquet store. The probe forces a
    physical planning pass (~60-100 ms per fresh plan — ADVICE r12); the
    answer depends only on the scan's file layout and the session width,
    so keyed callers pay the planning once per store layout: the memo key
    carries the store's on-disk fingerprint, and a store rewritten
    in-process probes again. Keyless calls probe every time (correct, just
    slower)."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if key is not None:
        path = key if isinstance(key, str) else table_path(*key)
        memo_key = (key, _file_fingerprint(path), width)
        if memo_key not in _NARROW_SCAN_MEMO:
            _NARROW_SCAN_MEMO[memo_key] = (
                df.rdd.getNumPartitions() < width
            )
        narrow = _NARROW_SCAN_MEMO[memo_key]
    else:
        narrow = df.rdd.getNumPartitions() < width
    if narrow:
        return df.repartition(width)
    return df


#: see widen_narrow_scan — decision memo for the narrow-scan probe; an
#: input-layout property (scan split count vs session width), never data
_NARROW_SCAN_MEMO: dict[tuple, bool] = {}
