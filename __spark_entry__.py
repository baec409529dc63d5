"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -- flagship query: full CDC pipeline (serialize Debezium
                 envelopes -> parse -> DLQ split -> unwrap -> last-write-wins
                 materialize) + warehouse rollup, at sf0.001.
queries()     -- one entry per implemented operator from SURVEY.md §2.
oracle_sql()  -- DuckDB twins (ANSI SQL over the pre-registered views);
                 every registered query carries one — engine-specific
                 outputs (trained ANN / LSH / PCA / BPE) emit
                 derived-invariant audit rows the SQL recomputes exactly.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Ensure the engine package resolves regardless of the harness cwd, for this
# process and for executor Python workers (pandas UDF / mapInPandas paths).
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
if _REPO not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_debezium_kafka_airflow_spark.queries.registry import get_oracles, get_queries

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full advertised CDC path — serialize -> parse -> DLQ
    split -> unwrap -> last-write-wins materialize -> per-table warehouse
    rollup — at sf0.001. BOTH split branches are consumed (VERDICT r08
    task #5): the clean branch becomes the warehouse rollup rows, the
    poison branch surfaces as a '_dlq' audit row, so a defect anywhere in
    the split is visible in the returned frame, not silently discarded."""
    from cdc_debezium_kafka_airflow_spark.operators.cdc import (
        split_dlq,
        unwrap,
        upsert_materialize,
    )
    from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import _parsed
    from cdc_debezium_kafka_airflow_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    main, dlq = split_dlq(_parsed(spark, SF0001))
    state = upsert_materialize(unwrap(main))
    rollup = state.groupBy("table_name").agg(
        F.count("*").alias("n_live_rows"),
        F.max("last_offset").alias("max_offset"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    dlq_row = dlq.agg(
        F.lit("_dlq").alias("table_name"),
        F.count("*").alias("n_live_rows"),
        F.coalesce(F.max("offset"), F.lit(-1)).alias("max_offset"),
        F.lit(0.0).alias("sum_value"),
    )
    return rollup.unionByName(dlq_row)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return get_queries()


def oracle_sql() -> dict[str, str]:
    return get_oracles()
