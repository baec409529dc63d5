"""Third surface wave: theta (non-equi) join, Python UDTF via LATERAL,
grouped-map UDAF (applyInPandas), and SCD2 history — the versioned-table
derivative every CDC warehouse materializes besides latest-state."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.queries.common import (
    t,
    widen_narrow_scan,
)
from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import CH_CTE, _unwrapped

QUERIES = {}
ORACLES = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


@q(
    "join_theta",
    """
    WITH mx AS (SELECT o_orderstatus AS s, max(o_totalprice) AS mx
                FROM orders GROUP BY 1)
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           round(0.21 * mx, 4) AS cutoff
    FROM orders JOIN mx ON o_orderstatus = s AND o_totalprice < 0.21 * mx
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi key + inequality condition against a per-group
    aggregate (max is exact in doubles, so the boundary is deterministic
    across engines — never use avg in a cross-engine float comparison)."""
    o = t(spark, sf_dir, "orders")
    mx = o.groupBy(F.col("o_orderstatus").alias("s")).agg(
        F.max("o_totalprice").alias("mx")
    )
    return (
        o.join(
            F.broadcast(mx),
            on=[
                F.col("o_orderstatus") == F.col("s"),
                F.col("o_totalprice") < 0.21 * F.col("mx"),
            ],
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.round(0.21 * F.col("mx"), 4).alias("cutoff"),
        )
    )


@q(
    "udtf_surface",
    """
    SELECT event_id,
           'k' AS prop_key,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS prop_val
    FROM events
    """,
)
def udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF applied laterally per input row — the table-function
    surface (one input row -> N output rows), Spark 4's sanctioned custom
    flatMap in Python."""
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="prop_key string, prop_val int")
    class ParseProps:
        def eval(self, props: str):
            try:
                for k, v in json.loads(props).items():
                    yield k, int(v)
            except (ValueError, TypeError):
                return

    spark.udtf.register("parse_props", ParseProps)
    # per-row Python eval must not run on the fixture's single scan split
    # (scale-adaptive: no-op when the scan already carries >= core splits)
    widen_narrow_scan(
        t(spark, sf_dir, "events"), key=(sf_dir, "events")
    ).createOrReplaceTempView("events_udtf_v")
    return spark.sql(
        "SELECT e.event_id, p.prop_key, p.prop_val "
        "FROM events_udtf_v e, LATERAL parse_props(e.props) p"
    )


@q(
    "udaf_grouped_pandas",
    """
    SELECT event_type,
           round(sum(value * CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT))
                 / sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)), 6)
             AS weighted_value,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate over full groups via applyInPandas (grouped-map):
    the UDAF surface for logic Spark's built-in aggregates can't express.
    Arrow moves each group as one pandas frame."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        w = float((pdf["value"] * pdf["k"]).sum() / pdf["k"].sum())
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "weighted_value": [round(w, 6)],
                "n_events": [len(pdf)],
            }
        )

    return e.groupBy("event_type").applyInPandas(
        weighted, "event_type string, weighted_value double, n_events long"
    )


@q(
    "cdc_diff_snapshots",
    f"""
    WITH {CH_CTE},
    s1 AS (
      SELECT table_name, key_id, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY table_name, key_id
                                     ORDER BY off DESC) AS rn
        FROM ch WHERE off <= 5000
      ) WHERE rn = 1 AND op <> 'd'
    ),
    s2 AS (
      SELECT table_name, key_id, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY table_name, key_id
                                     ORDER BY off DESC) AS rn
        FROM ch
      ) WHERE rn = 1 AND op <> 'd'
    )
    SELECT coalesce(s2.table_name, s1.table_name) AS table_name,
           coalesce(s2.key_id, s1.key_id) AS key_id,
           CASE WHEN s1.key_id IS NULL THEN 'c'
                WHEN s2.key_id IS NULL THEN 'd'
                ELSE 'u' END AS change_op,
           s1.event_id AS old_event_id,
           s2.event_id AS new_event_id
    FROM s1 FULL OUTER JOIN s2
      ON s1.table_name = s2.table_name AND s1.key_id = s2.key_id
    WHERE s1.key_id IS NULL OR s2.key_id IS NULL
       OR s1.event_id <> s2.event_id
    """,
)
def cdc_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: the change feed between the warehouse state as of
    offset 5000 and the final state — emitted as c/u/d rows (what you'd
    publish to re-seed a downstream consumer from two snapshots when the log
    between them is gone). Two shared-shuffle aggregations + one key-aligned
    full-outer join."""
    from cdc_debezium_kafka_airflow_spark.operators.cdc import upsert_materialize

    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    s1 = upsert_materialize(u.filter(F.col("offset") <= 5000)).select(
        "table_name",
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("old_event_id"),
    )
    s2 = upsert_materialize(u).select(
        "table_name",
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("new_event_id"),
    )
    j = s1.join(s2, on=["table_name", "key_id"], how="full_outer")
    return (
        j.withColumn(
            "change_op",
            F.when(F.col("old_event_id").isNull(), "c")
            .when(F.col("new_event_id").isNull(), "d")
            .otherwise("u"),
        )
        .filter(
            F.col("old_event_id").isNull()
            | F.col("new_event_id").isNull()
            | (F.col("old_event_id") != F.col("new_event_id"))
        )
        .select("table_name", "key_id", "change_op", "old_event_id", "new_event_id")
    )


@q(
    "fn_recursive_cte",
    f"""
    WITH {CH_CTE}
    SELECT table_name, key_id, off,
           CAST(row_number() OVER (PARTITION BY table_name, key_id
                                   ORDER BY off) AS INT) AS version_n
    FROM ch
    """,
)
def fn_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): per-key version numbers
    computed by RECURSIVELY walking each key's prev-offset chain from its
    first event — while the oracle computes the same numbers with a
    row_number window. A hash match cross-validates the recursion against
    the window (two different algorithms, one answer). Depth is bounded by
    the longest per-key history (29 at sf0.1), far under the recursion
    limit.

    Each UnionLoop iteration replans its step query, so anything inside the
    recursive CTE body is re-executed per level: the lag window lives
    OUTSIDE the recursion behind a localCheckpoint (one window shuffle
    total, not one per level), and the frontier side of the step join is
    broadcast (it holds at most one row per live chain, shrinking every
    level) so no iteration shuffles the base relation. Measured at sf0.1:
    54 s -> 6 s."""
    u = _unwrapped(spark, sf_dir)
    base = (
        u.select("table_name", "key_id", "offset")
        .withColumn(
            "prev_off",
            F.lag("offset").over(
                Window.partitionBy("table_name", "key_id").orderBy("offset")
            ),
        )
        .localCheckpoint()
    )
    base.createOrReplaceTempView("rc_base_v")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT table_name, key_id, offset, 1 AS version_n
          FROM rc_base_v WHERE prev_off IS NULL
          UNION ALL
          SELECT /*+ BROADCAST(c) */
                 b.table_name, b.key_id, b.offset, c.version_n + 1
          FROM rc_base_v b JOIN chain c
            ON b.table_name = c.table_name
           AND b.key_id = c.key_id
           AND b.prev_off = c.offset
        )
        SELECT table_name, key_id, offset AS off, version_n FROM chain
        """
    )


@q(
    "fn_sql_udf",
    """
    SELECT l_returnflag,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS net_revenue,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS gross_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... RETURN
    expr): the discount/tax arithmetic lives in named, catalog-registered
    SQL UDFs that the optimizer INLINES into the plan — unlike Python UDFs
    there is no serialization boundary, so whole-stage codegen spans the
    whole aggregate."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gross_price"
        "(p DOUBLE, d DOUBLE, tax DOUBLE) "
        "RETURNS DOUBLE RETURN net_price(p, d) * (1 + tax)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_items,
               round(sum(net_price(l_extendedprice, l_discount)), 2)
                 AS net_revenue,
               round(sum(gross_price(l_extendedprice, l_discount, l_tax)), 2)
                 AS gross_revenue
        FROM lineitem_v
        GROUP BY l_returnflag
        """
    )


@q(
    "join_lateral",
    """
    SELECT o.o_orderkey, o.o_totalprice, t.n_items, t.max_line
    FROM orders o, LATERAL (
      SELECT count(*) AS n_items,
             round(max(l.l_extendedprice), 2) AS max_line
      FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
    ) t
    WHERE o.o_totalprice > 400000
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: a per-row subquery over another table,
    decorrelated by Catalyst into an ordinary aggregate + join (no
    nested-loop re-execution per outer row) — the relational surface the
    reference leaves to Postgres."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lv")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_lv")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice, t.n_items, t.max_line
        FROM orders_lv o, LATERAL (
          SELECT count(*) AS n_items,
                 round(max(l.l_extendedprice), 2) AS max_line
          FROM lineitem_lv l WHERE l.l_orderkey = o.o_orderkey
        ) t
        WHERE o.o_totalprice > 400000
        """
    )


@q(
    "fn_sql_parameterized",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice >= 250000
    GROUP BY o_orderpriority
    """,
)
def fn_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named-arg binding + IDENTIFIER clause): values
    bind as literals and the table name binds through IDENTIFIER — the
    injection-safe surface for templated production SQL."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_pv")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = :status AND o_totalprice >= :floor
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders_pv", "status": "F", "floor": 250000},
    )


@q(
    "fn_variant",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'k' AS INT)) AS INT) AS max_k,
           round(sum(CASE WHEN CAST(props->>'k' AS INT) > 50
                          THEN value END), 4) AS sum_value_highk
    FROM events
    GROUP BY event_type
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface via Spark 4's VARIANT type: ``parse_json``
    turns the props JSON into a variant ONCE, then typed path extraction
    (``variant_get``) feeds filters and aggregates. At scale variant beats
    per-expression ``get_json_object`` (each of which re-parses the string):
    one parse, many typed reads, and the binary variant encoding is
    column-prunable in parquet."""
    e = t(spark, sf_dir, "events")
    withv = e.select(
        "event_type",
        "value",
        F.parse_json("props").alias("v"),
    ).select(
        "event_type",
        "value",
        F.variant_get("v", "$.k", "int").alias("k"),
    )
    return withv.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.round(F.sum(F.when(F.col("k") > 50, F.col("value"))), 4).alias(
            "sum_value_highk"
        ),
    )


@q(
    "src_pydatasource",
    f"""
    WITH {CH_CTE}
    SELECT table_name, op, count(*) AS n_records,
           round(sum(CASE WHEN op = 'd' THEN NULL ELSE value END), 4)
             AS sum_value,
           max(user_id) AS max_key
    FROM ch GROUP BY table_name, op
    """,
)
def src_pydatasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via Spark 4's Python DataSource API: the changelog
    emitted by ``spark.read.format("cdc_changelog")`` (pyarrow row-group
    partitions, Arrow RecordBatch yield — sources/pydatasource.py), run
    through the SAME parse/DLQ/unwrap operators as the native path and
    profiled per (table, op). A hash match proves the pure-Python connector
    emits a faithful changelog end-to-end."""
    import os

    from cdc_debezium_kafka_airflow_spark.operators.cdc import (
        parse_envelope,
        split_dlq,
        unwrap,
    )
    from cdc_debezium_kafka_airflow_spark.sources.pydatasource import (
        ChangelogDataSource,
    )

    spark.dataSource.register(ChangelogDataSource)
    ch = (
        spark.read.format("cdc_changelog")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .load()
    )
    u = unwrap(split_dlq(parse_envelope(ch))[0])
    return u.groupBy("table_name", "op").agg(
        F.count("*").alias("n_records"),
        F.round(F.sum("after.value"), 4).alias("sum_value"),
        F.max("key_id").alias("max_key"),
    )


@q(
    "snk_pydatasource_dlq",
    f"""
    SELECT '{{"malformed":' || CAST(event_id AS VARCHAR) AS payload_json
    FROM events
    WHERE (event_id % 97 = 0 AND event_id % 10 < 8)
      AND NOT (event_id % 20 = 8)
    """,
)
def snk_pydatasource_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write side of the Python DataSource API: the DLQ audit rows go
    through the custom ``dlq_jsonl`` sink (per-task jsonl part files, a
    driver-side commit manifest — the two-phase protocol object stores
    need), then are read back and must round-trip exactly."""
    import os
    import shutil

    from cdc_debezium_kafka_airflow_spark.operators.cdc import (
        hoist_field,
        parse_envelope,
        split_dlq,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        process_scoped_scratch,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
        build_changelog,
    )
    from cdc_debezium_kafka_airflow_spark.sources.pydatasource import DlqJsonSink

    spark.dataSource.register(DlqJsonSink)
    dlq = hoist_field(
        split_dlq(parse_envelope(build_changelog(t(spark, sf_dir, "events"))))[1]
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = process_scoped_scratch(f"dlq_jsonl_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    dlq.write.format("dlq_jsonl").option("path", path).mode("append").save()
    return spark.read.schema("payload_json string").json(
        os.path.join(path, "part-*.jsonl")
    )


@q(
    "snk_pydatasource_stream",
    f"""
    SELECT '{{"malformed":' || CAST(event_id AS VARCHAR) AS payload_json
    FROM events
    WHERE (event_id % 97 = 0 AND event_id % 10 < 8)
      AND NOT (event_id % 20 = 8)
    """,
)
def snk_pydatasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING write side of the Python DataSource API
    (DataSourceStreamWriter, Spark 4): the DLQ audit rows flow through
    ``writeStream.format("dlq_jsonl")`` — per micro-batch, tasks write uuid
    part files and the driver commit publishes an atomic per-batch manifest
    (``_batch-<id>.json``); readers resolve ONLY manifest-listed files, so
    replayed/aborted attempts are invisible (the exactly-once contract).
    Completes the connector matrix: batch reader + stream reader + batch
    writer + stream writer, all pure Python. Round-trip must be exact —
    the oracle is the same closed-form DLQ membership the batch sink uses.
    """
    import os
    import shutil

    from cdc_debezium_kafka_airflow_spark.operators.cdc import (
        hoist_field,
        parse_envelope,
        split_dlq,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        derived_input,
        process_scoped_scratch,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
        build_changelog,
    )
    from cdc_debezium_kafka_airflow_spark.sources.pydatasource import (
        DlqJsonSink,
        committed_stream_files,
    )

    spark.dataSource.register(DlqJsonSink)
    # The DLQ remnant is a deterministic derivation of events — a derived
    # input like the changelog replay log, so repeated runs pay only for
    # the part this query actually demonstrates: the Python stream-writer
    # protocol. repartition, NOT coalesce: coalesce(4) would collapse the
    # whole changelog-build/parse stage (1M-row JSON serialize+parse at
    # sf0.1) onto 4 tasks; repartition keeps that stage at full
    # parallelism and shuffles only the ~1e-3-selectivity DLQ remnant
    # into 4 files.
    src = derived_input(
        sf_dir, "events", "dlq_stream_src",
        lambda path: hoist_field(
            split_dlq(
                parse_envelope(build_changelog(t(spark, sf_dir, "events")))
            )[1]
        ).repartition(4).write.parquet(path),
    )
    # the streaming leg (writer protocol under test) always runs fresh
    tag = os.path.basename(os.path.normpath(sf_dir))
    base = process_scoped_scratch(f"dlq_stream_{tag}")
    out = os.path.join(base, "out")
    ck = os.path.join(base, "ck")
    shutil.rmtree(base, ignore_errors=True)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(
        os.path.join(src, "*.parquet")
    )
    q_ = (
        stream.writeStream.format("dlq_jsonl")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination()
    files = committed_stream_files(out)
    return spark.read.schema("payload_json string").json(files)


@q(
    "cdc_scd2_history",
    f"""
    WITH {CH_CTE},
    led AS (
      SELECT *, lead(off) OVER (PARTITION BY table_name, key_id
                                ORDER BY off) AS next_off
      FROM ch
    )
    SELECT table_name, key_id,
           off AS valid_from_offset,
           next_off - 1 AS valid_to_offset,
           (next_off IS NULL) AS is_current,
           event_id, ts, user_id, event_type, value, props
    FROM led WHERE op <> 'd'
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version history from the changelog: every non-delete image
    becomes a version row with [valid_from, valid_to] offset bounds; deletes
    and newer versions close the interval; open intervals are current.

    One window over the same (table, key) partitioning the upsert uses —
    at scale both materializations share a single shuffle of the changelog.
    """
    from cdc_debezium_kafka_airflow_spark.operators.cdc import scd2_history

    return scd2_history(_unwrapped(spark, sf_dir))


@q(
    "cdc_scd2_retention",
    f"""
    WITH {CH_CTE},
    led AS (
      SELECT *, lead(off) OVER (PARTITION BY table_name, key_id
                                ORDER BY off) AS next_off
      FROM ch
    ),
    v AS (
      SELECT table_name, key_id, off AS valid_from_offset,
             next_off - 1 AS valid_to_offset,
             (next_off IS NULL) AS is_current
      FROM led WHERE op <> 'd'
    ),
    m AS (SELECT max(off) // 2 AS wm FROM ch),
    flagged AS (
      SELECT v.*,
             CASE WHEN is_current THEN 0
                  ELSE row_number() OVER (
                    PARTITION BY table_name, key_id, is_current
                    ORDER BY valid_from_offset DESC)
             END AS closed_rank,
             m.wm
      FROM v CROSS JOIN m
    ),
    verdicts AS (
      SELECT *,
             (is_current OR closed_rank = 1
              OR valid_to_offset >= wm) AS retained
      FROM flagged
    )
    SELECT table_name,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(CASE WHEN retained THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN retained THEN 0 ELSE 1 END) AS BIGINT)
             AS n_vacuumed,
           CAST(sum(CASE WHEN retained THEN valid_from_offset ELSE 0 END)
                AS BIGINT) AS retained_ck
    FROM verdicts GROUP BY table_name
    """,
)
def cdc_scd2_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history RETENTION (the VACUUM policy a history table needs at
    100 TB — versions accumulate forever otherwise): keep every CURRENT
    version, the single most recent closed version per key (fast
    "previous value" lookups), and any version still inside the retention
    window (valid_to >= half the log's max offset — in production, the
    compliance horizon). Everything else is vacuumable. Emits per-table
    accounting plus an exact checksum of the retained set so the policy
    is auditable, not just counted.

    Plan: the same single (table, key) shuffle the SCD2 materialization
    uses — the rank over closed versions rides the same window partition;
    retention verdicts are then map-only."""
    from cdc_debezium_kafka_airflow_spark.operators.cdc import scd2_history
    from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import (
        _unwrapped,
    )

    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    v = scd2_history(u)
    wm = u.agg((F.floor(F.max("offset") / 2)).cast("long").alias("wm"))
    w = Window.partitionBy("table_name", "key_id", "is_current").orderBy(
        F.col("valid_from_offset").desc()
    )
    flagged = (
        v.withColumn(
            "closed_rank",
            F.when(F.col("is_current"), F.lit(0)).otherwise(
                F.row_number().over(w)
            ),
        )
        .crossJoin(F.broadcast(wm))
        .withColumn(
            "retained",
            F.col("is_current")
            | (F.col("closed_rank") == 1)
            | (F.col("valid_to_offset") >= F.col("wm")),
        )
    )
    return flagged.groupBy("table_name").agg(
        F.count("*").cast("long").alias("n_versions"),
        F.sum(F.col("retained").cast("long")).cast("long").alias("n_retained"),
        F.sum((~F.col("retained")).cast("long")).cast("long")
        .alias("n_vacuumed"),
        F.sum(
            F.when(F.col("retained"), F.col("valid_from_offset")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("retained_ck"),
    )


@q(
    "cdc_point_in_time",
    f"""
    WITH {CH_CTE},
    led AS (
      SELECT *, lead(off) OVER (PARTITION BY table_name, key_id
                                ORDER BY off) AS next_off
      FROM ch
    ),
    v AS (
      SELECT table_name, key_id, off AS valid_from_offset,
             next_off - 1 AS valid_to_offset, value, user_id
      FROM led WHERE op <> 'd'
    ),
    m AS (SELECT max(off) AS mo FROM ch),
    probes AS (
      SELECT unnest([mo // 4, mo // 2, (3 * mo) // 4]) AS as_of FROM m
    )
    SELECT p.as_of, v.table_name,
           CAST(count(*) AS BIGINT) AS n_live_keys,
           round(sum(v.value), 4) AS sum_value,
           max(v.user_id) AS max_user
    FROM v JOIN probes p
      ON v.valid_from_offset <= p.as_of
     AND (v.valid_to_offset IS NULL OR p.as_of <= v.valid_to_offset)
    GROUP BY 1, 2
    """,
)
def cdc_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) query over the SCD2 history: reconstruct
    each table's live state AS OF three historical log offsets (25/50/75% of
    the changelog) by probing the validity intervals — the warehouse query
    that answers "what did the table look like before that batch landed".
    Deletes need no special case: a delete closes its predecessor's
    interval, so coverage alone yields the correct historical state.

    Plan: the 3-row probe side broadcasts (BroadcastNestedLoopJoin against
    intervals is fine at ANY corpus size when one side is O(probes)); the
    versions come from the same (table, key) shuffle the upsert shares. At
    scale with many probes this becomes the interval-join pattern of
    join_range_asof (union + carry-forward)."""
    from cdc_debezium_kafka_airflow_spark.operators.cdc import scd2_history

    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    versions = scd2_history(u).select(
        "table_name",
        "valid_from_offset",
        "valid_to_offset",
        "value",
        "user_id",
    )
    mo = u.agg(F.max("offset").alias("mo"))
    probes = mo.select(
        F.explode(
            F.array(
                F.floor(F.col("mo") / 4),
                F.floor(F.col("mo") / 2),
                F.floor(F.col("mo") * 3 / 4),
            )
        ).alias("as_of")
    )
    live = versions.join(
        F.broadcast(probes),
        (F.col("valid_from_offset") <= F.col("as_of"))
        & (
            F.col("valid_to_offset").isNull()
            | (F.col("as_of") <= F.col("valid_to_offset"))
        ),
    )
    return live.groupBy("as_of", "table_name").agg(
        F.count("*").alias("n_live_keys"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.max("user_id").alias("max_user"),
    )


@q(
    "fn_observe_metrics",
    """
    WITH inp AS (
      SELECT count(*) AS n_input,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_total
      FROM lineitem
    ),
    kept AS (
      SELECT count(*) AS n_kept,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev_kept
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 25
    ),
    grp AS (
      SELECT count(*) AS n_groups FROM (
        SELECT l_linestatus FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity >= 25
        GROUP BY l_linestatus)
    )
    SELECT inp.n_input, inp.qty_total, kept.n_kept, kept.rev_kept,
           grp.n_groups
    FROM inp, kept, grp
    """,
)
def fn_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.observe` / CollectMetrics: pipeline observability metrics
    (input cardinality, post-filter cardinality, kept revenue) accumulated
    DURING the one pass that runs the real query — zero extra scans, the
    engine-native version of the reference's after-the-fact COUNT(*)
    monitoring queries (dags/cdc_data_integrity_dynamic_dag.py:50-55).

    Two observation points bracket the filter, so the metrics double as a
    row-level audit (input vs kept) for free; at 100 TB this is the only
    affordable way to get per-stage counts — a separate count() per stage
    re-scans the corpus. The plan carries CollectMetrics nodes
    (pytest-pinned); the observed values are returned as a 1-row frame the
    oracle recomputes relationally."""
    from pyspark.sql import Observation

    obs_in = Observation("input")
    obs_kept = Observation("kept")
    li = t(spark, sf_dir, "lineitem").observe(
        obs_in,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty_total"),
    )
    kept = li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 25)
    ).observe(
        obs_kept,
        F.count(F.lit(1)).alias("n_kept"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("rev_kept"),
    )
    out = kept.groupBy("l_linestatus").agg(F.count("*").alias("n"))
    n_groups = out.count()  # the action that populates both observations
    m = {**obs_in.get, **obs_kept.get}
    return spark.createDataFrame(
        [
            (
                m["n_input"],
                m["qty_total"],
                m["n_kept"],
                m["rev_kept"],
                n_groups,
            )
        ],
        "n_input long, qty_total long, n_kept long, rev_kept double, "
        "n_groups long",
    )


@q(
    "sec_masked_view",
    """
    SELECT c_custkey,
           substr(c_name, 1, 9) || md5(c_name) AS masked_name,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS acct_band,
           c_mktsegment
    FROM customer
    WHERE c_mktsegment <> 'BUILDING'
    """,
)
def sec_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance surface: a masked VIEW consumers query instead of the
    base table — column masking (name replaced by a keyed-lookup-proof
    md5 token with a stable prefix for joins/debugging), value banding
    (exact balances generalized to coarse bands), and a row-level filter
    (one segment excluded), all enforced IN the view definition so no
    downstream query can deanonymize.

    Everything is deterministic JVM expressions (md5/substr/CASE), so the
    masked output is map-only, pushdown-friendly (the segment row filter
    reaches the parquet scan through the view), and bit-identical across
    engines — the oracle applies the same policy in SQL."""
    c = t(spark, sf_dir, "customer")
    c.createOrReplaceTempView("sec_customer_base")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW sec_customer_masked AS
        SELECT c_custkey,
               concat(substr(c_name, 1, 9), md5(c_name)) AS masked_name,
               CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS acct_band,
               c_mktsegment
        FROM sec_customer_base
        WHERE c_mktsegment <> 'BUILDING'
        """
    )
    return spark.table("sec_customer_masked")


@q(
    "fn_sql_scripting",
    """
    WITH g AS (SELECT o_orderstatus, count(*) AS c FROM orders GROUP BY 1)
    SELECT CAST(sum(c) AS BIGINT) AS n_orders,
           CAST(max(c) AS BIGINT) AS max_status_count,
           CAST(count(*) AS INT) AS n_statuses
    FROM g
    """,
)
def fn_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN/DECLARE/FOR/IF control flow): the
    procedural surface Airflow users reach for when a task is "run this
    loop of SQL against the warehouse" (the reference pushes exactly such
    scripted SQL through its hooks,
    dags/cdc_data_integrity_dynamic_dag.py:50-55). The script iterates a
    grouped cursor, accumulating into declared variables; the oracle is
    the equivalent set-based aggregate — same numbers, proving the
    procedural and relational forms agree."""
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        t(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
        return spark.sql(
            """
            BEGIN
              DECLARE total BIGINT DEFAULT 0;
              DECLARE hi BIGINT DEFAULT 0;
              DECLARE n_statuses INT DEFAULT 0;
              FOR row AS SELECT o_orderstatus s, count(*) c
                         FROM script_orders GROUP BY 1 ORDER BY 1 DO
                SET total = total + row.c;
                SET n_statuses = n_statuses + 1;
                IF row.c > hi THEN SET hi = row.c; END IF;
              END FOR;
              SELECT total AS n_orders, hi AS max_status_count,
                     n_statuses AS n_statuses;
            END
            """
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


@q(
    "fn_ansi_safety",
    """
    SELECT l_linenumber,
           count(*) AS n,
           CAST(count(CASE WHEN TRY_CAST(
                    CASE WHEN l_orderkey % 1000 = 0 THEN l_returnflag
                         ELSE CAST(l_orderkey AS VARCHAR) END AS INT)
                    IS NULL THEN 1 END) AS BIGINT) AS n_uncastable,
           round(sum(CASE WHEN l_linenumber - 1 = 0 THEN NULL
                          ELSE l_extendedprice / (l_linenumber - 1) END), 2)
             AS safe_div_sum,
           CAST(sum(CASE WHEN l_quantity > 25 THEN NULL
                         ELSE CAST(l_quantity AS BIGINT) END)
                AS BIGINT) AS guarded_sum
    FROM lineitem
    GROUP BY l_linenumber
    """,
)
def fn_ansi_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant expression surface under ANSI mode: ``try_cast`` /
    ``try_divide`` return NULL instead of failing the job — the
    row-poison containment a 100 TB pipeline needs (one bad value must
    not kill a 6-hour job; the DLQ split handles record-level poison,
    try_* handles expression-level). The oracle spells each try_* as its
    explicit NULL-guard CASE, proving the semantics equivalence.

    The probed column is numeric for all but ~0.1%% of rows (the realistic
    poison regime) — and that is ALSO the performance contract: under ANSI
    mode try_cast's failure path materializes a caught exception PER BAD
    ROW, so its cost scales with the failure rate, not the row count
    (measured at sf0.1: all-poison column 4.7 s vs rare-poison 0.4 s for
    the same aggregate). A pipeline expecting a high junk rate should
    pre-filter with a cheap regexp/rlike guard and keep try_* as the
    backstop, not the bulk path."""
    li = t(spark, sf_dir, "lineitem")
    probe = F.when(
        F.col("l_orderkey") % 1000 == 0, F.col("l_returnflag")
    ).otherwise(F.col("l_orderkey").cast("string"))
    return li.groupBy("l_linenumber").agg(
        F.count("*").alias("n"),
        F.count(
            F.when(probe.try_cast("int").isNull(), F.lit(1))
        ).alias("n_uncastable"),
        F.round(
            F.sum(
                F.try_divide(
                    F.col("l_extendedprice"), F.col("l_linenumber") - 1
                )
            ),
            2,
        ).alias("safe_div_sum"),
        F.sum(
            F.when(
                F.col("l_quantity") > 25, F.lit(None).cast("long")
            ).otherwise(F.col("l_quantity").cast("long"))
        ).alias("guarded_sum"),
    )


@q(
    "udtf_polymorphic",
    """
    SELECT event_type,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           count(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 `analyze`): the output schema is
    computed at PLAN TIME from the call's arguments — here a one-hot
    encoder whose indicator columns derive from the constant key list, the
    feature-engineering shape (a static-schema UDTF cannot express "one
    column per requested category"). Consumes the input relation as a
    TABLE(...) argument; downstream aggregation over the generated columns
    is ordinary JVM codegen, and the oracle reproduces the one-hot sums as
    CASE aggregates."""
    from pyspark.sql.functions import udtf as udtf_deco
    from pyspark.sql.types import IntegerType, LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeResult

    class OneHot:
        @staticmethod
        def analyze(row, keys):
            schema = StructType().add("event_id", LongType()).add(
                "event_type", StringType()
            )
            for k in keys.value.split(","):
                schema = schema.add(f"is_{k}", IntegerType())
            return AnalyzeResult(schema=schema)

        def eval(self, row, keys: str):
            ks = keys.split(",")
            yield (
                row["event_id"],
                row["event_type"],
                *[1 if row["event_type"] == k else 0 for k in ks],
            )

    spark.udtf.register("one_hot_poly", udtf_deco(OneHot))
    # per-row Python eval must not run on the fixture's single scan split
    # (scale-adaptive: no-op when the scan already carries >= core splits)
    widen_narrow_scan(
        t(spark, sf_dir, "events"), key=(sf_dir, "events")
    ).createOrReplaceTempView("poly_events")
    onehot = spark.sql(
        "SELECT * FROM one_hot_poly(TABLE(poly_events), 'click,view,purchase')"
    )
    return onehot.groupBy("event_type").agg(
        F.sum("is_click").cast("long").alias("n_click"),
        F.sum("is_view").cast("long").alias("n_view"),
        F.sum("is_purchase").cast("long").alias("n_purchase"),
        F.count("*").alias("n_rows"),
    )
