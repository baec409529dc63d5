"""Remaining SURVEY.md §2 surface ops: snapshot source, schema-history sink,
raw-SQL passthrough, the (Pandas) UDF surface, watermarked streaming."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_debezium_kafka_airflow_spark.queries.common import q, t
from cdc_debezium_kafka_airflow_spark.operators.cdc import parse_envelope, unwrap
from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import JSON_TS_OPTS
from cdc_debezium_kafka_airflow_spark.streaming import jobs

@q(
    "src_cdc_snapshot",
    """
    SELECT 'r' AS op, o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def src_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial consistent snapshot (Debezium emits every existing row as an
    op='r' envelope before streaming the binlog, reference
    register-mysql-connector.json:4,11-12). The real serialize->parse round
    trip runs here; a hash match proves snapshot fidelity for a second table
    schema (orders, incl. its timestamp column)."""
    o = t(spark, sf_dir, "orders")
    row = F.struct(*[F.col(c) for c in o.columns])
    # serialize minimal snapshot envelope {payload:{after,op:'r'}}
    ser = o.select(
        F.to_json(
            F.struct(
                F.struct(
                    row.alias("after"),
                    F.lit("r").alias("op"),
                ).alias("payload")
            ),
            JSON_TS_OPTS,
        ).alias("value")
    )
    schema = (
        "payload struct<after:struct<o_orderkey:bigint,o_custkey:bigint,"
        "o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,"
        "o_orderpriority:string>,op:string>"
    )
    parsed = ser.select(
        F.from_json(F.col("value"), schema, JSON_TS_OPTS).alias("p")
    )
    return parsed.select(F.col("p.payload.op").alias("op"), "p.payload.after.*")


@q(
    "snk_schema_history",
    """
    SELECT DISTINCT 'orders' AS table_name,
           CAST(1 + o_orderkey % 2 AS INT) AS schema_version,
           CASE WHEN o_orderkey % 2 = 0
                THEN 'CREATE TABLE orders (o_orderkey BIGINT, o_totalprice DOUBLE)'
                ELSE 'ALTER TABLE orders ADD COLUMN o_orderpriority STRING'
           END AS ddl
    FROM orders
    """,
)
def snk_schema_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-history topic analog: the DDL-change log the reference persists
    to `dbhistory.pos` (register-mysql-connector.json:13,19-21), derived from
    the observed schema versions of the evolving orders stream."""
    o = t(spark, sf_dir, "orders")
    version = (1 + F.col("o_orderkey") % 2).cast("int")
    ddl = F.when(
        F.col("o_orderkey") % 2 == 0,
        "CREATE TABLE orders (o_orderkey BIGINT, o_totalprice DOUBLE)",
    ).otherwise("ALTER TABLE orders ADD COLUMN o_orderpriority STRING")
    return (
        o.select(
            F.lit("orders").alias("table_name"),
            version.alias("schema_version"),
            ddl.alias("ddl"),
        )
        .distinct()
    )


@q(
    "src_sql_passthrough",
    """
    SELECT 'events' AS table_name,
           coalesce(max(event_id), 0) AS max_id,
           count(*) AS n_rows
    FROM events
    """,
)
def src_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL passthrough: the reference's query idiom is SQL strings pushed
    through DB hooks (dags/cdc_data_integrity_dynamic_dag.py:50-55); our
    engine IS the executor, so the same string runs via spark.sql."""
    t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        "SELECT 'events' AS table_name, coalesce(max(event_id), 0) AS max_id, "
        "count(*) AS n_rows FROM events_v"
    )


@q(
    "udf_surface",
    """
    SELECT event_id,
           round(value * (1 + CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
                                   AS INT) / 100.0), 6) AS boosted_value
    FROM events
    """,
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-defined-function surface (the reference's response_check
    callables are user-defined predicates, dags/cdc_health_check_dag.py:17-34)
    as an Arrow-vectorized pandas_udf — the only sanctioned way to run custom
    Python per-row at scale (batched columnar transfer, no per-row pickling).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def boost(value: pd.Series, k: pd.Series) -> pd.Series:
        return (value * (1 + k / 100.0)).round(6)

    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id", boost(F.col("value"), k).alias("boosted_value")
    )


@q(
    "stream_watermark",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type, count(*) AS n_events
    FROM events
    WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
          <= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
    GROUP BY 1, 2
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode tumbling windows: only windows closed by the
    1-day watermark are emitted (the engine's late-data bound).

    Deterministic under availableNow replay regardless of file/batch split:
    every window whose end is <= the FINAL watermark (max event ts - 1 day)
    is emitted exactly once by stream end (the final no-data micro-batch
    flushes state), and no other window is — which is exactly the set the
    oracle derives in closed form."""
    return jobs.windowed_event_counts_watermarked(spark, sf_dir)


@q(
    "udf_arrow_batches",
    """
    SELECT l_returnflag,
           count(*) AS n_lines,
           round(sum(round(l_extendedprice * (1 - l_discount), 4)), 2)
             AS revenue,
           round(max(l_extendedprice * (1 - l_discount)), 4) AS max_disc_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_arrow_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the ZERO-COPY Python batch path — RecordBatches move
    JVM -> Python without pandas materialization, transformed with
    ``pyarrow.compute`` kernels (C++ vectorized, no per-row Python), and
    flow straight back. One tier lower than pandas_udf (no index/object
    overhead), the right interface when the Python side is itself
    columnar — completing the UDF ladder: row UDF < pandas_udf <
    mapInPandas < mapInArrow.

    The per-row revenue is rounded to its exact 4dp lattice INSIDE the
    Arrow kernel, so the downstream JVM sum is order-independent and the
    oracle reproduces it bit-for-bit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )

    def arrow_revenue(batches):
        for batch in batches:
            price = batch.column(1)
            disc = batch.column(2)
            raw = pc.multiply(
                price, pc.subtract(pa.scalar(1.0, pa.float64()), disc)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pc.round(raw, 4), raw],
                ["l_returnflag", "disc_price", "raw_disc_price"],
            )

    shaped = li.mapInArrow(
        arrow_revenue,
        "l_returnflag string, disc_price double, raw_disc_price double",
    )
    return shaped.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("disc_price"), 2).alias("revenue"),
        F.round(F.max("raw_disc_price"), 4).alias("max_disc_price"),
    )


@q(
    "udf_cogrouped_pandas",
    """
    SELECT c.c_custkey,
           c.c_mktsegment,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spend,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey % 10 = 0
    GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
    """,
)
def udf_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED pandas UDF (`groupBy().cogroup(...).applyInPandas`): both
    relations arrive at the worker ALREADY aligned per key as two pandas
    frames — the per-entity reconciliation shape (a customer's profile
    beside ALL their orders) without hand-writing the join. Completes the
    pandas API matrix: scalar pandas_udf, grouped UDAF, mapInPandas,
    applyInPandasWithState, and now the two-frame cogroup.

    Scale posture: one co-partitioning shuffle on the key for both sides;
    the Python work is Arrow-batched per key group. BOTH sides are pruned
    to the reconciliation cohort BEFORE the cogroup — cogroup invokes the
    Python function once per key present on EITHER side, so an unpruned
    right side pays a per-key Python call for every group the left filter
    already discarded (measured: 29.5 s -> ~3 s at sf0.1 for the 10%%
    cohort; at 100 TB the unpruned form is a non-starter). The oracle is
    the equivalent relational LEFT JOIN + aggregate (cogroup must also
    emit customers with zero orders — the empty-right-frame case)."""
    # Hold the cogroup's key-parallel width explicitly (round-12): the
    # cohort is a few MB, so AQE's size-based coalescing collapses the
    # ENSURE_REQUIREMENTS shuffle feeding the Python stage to ONE
    # partition — but the stage's cost is per-GROUP Python machinery
    # (~2 ms/group of Arrow framing), which byte-size-driven AQE cannot
    # see. A user-numbered repartition is exempt from coalescing and
    # keeps all cores on the group calls (measured at sf0.1: 5.3 s ->
    # 0.9 s warm). Same discipline a 100 TB run needs: width for an
    # expensive per-group stage is set by group count, not bytes.
    width = spark.sparkContext.defaultParallelism
    cust = t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 10 == 0
    ).select("c_custkey", "c_mktsegment", "c_acctbal").repartition(
        width, "c_custkey"
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 10 == 0
    ).select("o_custkey", "o_orderkey", "o_totalprice").repartition(
        width, "o_custkey"
    )

    def reconcile(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:  # orders for a customer outside the filter
            return pd.DataFrame(
                columns=[
                    "c_custkey", "c_mktsegment", "n_orders", "total_spend",
                    "acctbal",
                ]
            )
        return pd.DataFrame(
            {
                "c_custkey": [int(key[0])],
                "c_mktsegment": [left["c_mktsegment"].iloc[0]],
                "n_orders": [int(len(right))],
                "total_spend": [
                    round(float(right["o_totalprice"].sum()), 2)
                    if len(right)
                    else 0.0
                ],
                "acctbal": [round(float(left["c_acctbal"].iloc[0]), 2)],
            }
        )

    return (
        cust.groupBy("c_custkey")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(
            reconcile,
            "c_custkey long, c_mktsegment string, n_orders long, "
            "total_spend double, acctbal double",
        )
    )
