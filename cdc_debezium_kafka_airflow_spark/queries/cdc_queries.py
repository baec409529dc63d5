"""CDC-semantics queries (SURVEY.md §2.A/§2.B) + monitoring dataflow (§2.C).

Every query here runs the REAL pipeline: the serialized Debezium wire log
(events -> JSON envelopes, written once per events store, the Kafka
topic's role: ``streaming/jobs.changelog_dir``) -> from_json parse, once
per record -> DLQ split -> unwrap -> materialize. Batch queries read the
same log as the streaming twins. The DuckDB oracles reproduce the
*results* through the deterministic changelog spec (sources/cdc_fixture.py
docstring) without the JSON round-trip — so a hash match also proves the
Spark ser/de round-trip is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_debezium_kafka_airflow_spark.queries.common import q, t
from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
    SQL_IS_MALFORMED,
    SQL_IS_TOMBSTONE,
    SQL_OP_CASE,
    SQL_TABLE_CASE,
    build_changelog,
)
from cdc_debezium_kafka_airflow_spark.sources.monitor_fixture import (
    build_connector_status,
    build_topic_offsets,
)
from cdc_debezium_kafka_airflow_spark.operators.cdc import (
    change_op,
    hoist_field,
    is_dlq_record,
    parse_envelope,
    route_topic,
    schema_evolve,
    split_dlq,
    unwrap,
    upsert_materialize,
)
from cdc_debezium_kafka_airflow_spark.operators.monitoring import (
    any_failed,
    integrity_compare,
    lag_metrics,
    status_health,
)
from cdc_debezium_kafka_airflow_spark.streaming import jobs

# Shared oracle CTE: the parsed+DLQ-filtered changelog (valid records only).
CH_CTE = f"""
ch AS (
  SELECT event_id AS off,
         user_id  AS key_id,
         {SQL_TABLE_CASE} AS table_name,
         {SQL_OP_CASE}    AS op,
         event_id, ts, user_id, event_type, value, props
  FROM events
  WHERE NOT {SQL_IS_MALFORMED}
)
"""

# Materialized warehouse state (the upsert_materialize oracle shape).
MAT_CTE = f"""
{CH_CTE},
latest AS (
  SELECT *, row_number() OVER (PARTITION BY table_name, key_id
                               ORDER BY off DESC) AS rn
  FROM ch
),
mat AS (
  SELECT table_name, off AS last_offset, event_id, ts, user_id, event_type,
         value, props
  FROM latest WHERE rn = 1 AND op <> 'd'
)
"""


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parsed wire log, unpersisted: a bounded read of the serialized
    change log the streams consume (``jobs.changelog_batch``), each record
    parsed once (``parse_envelope``). A query that reads the parse in two
    or more branches persists what it needs itself."""
    return parse_envelope(jobs.changelog_batch(spark, sf_dir))


def _unwrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    main, _ = split_dlq(_parsed(spark, sf_dir))
    return unwrap(main)


@q(
    "ser_json_schema",
    f"""
    SELECT event_id AS offset,
           'mysql-server.pos_bi_db.' || {SQL_TABLE_CASE} AS topic,
           CAST(0 AS INT) AS partition,
           '{{"payload":{{"id":' || CAST(user_id AS VARCHAR) || '}}}}' AS key,
           {SQL_IS_TOMBSTONE} AS is_tombstone,
           ({SQL_IS_MALFORMED} AND NOT {SQL_IS_TOMBSTONE}) AS is_malformed
    FROM events
    """,
)
def ser_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-record projection of the serialized changelog; the oracle
    reconstructs the to_json key byte-for-byte."""
    ch = build_changelog(t(spark, sf_dir, "events"))
    return ch.select(
        "offset",
        "topic",
        "partition",
        "key",
        F.col("value").isNull().alias("is_tombstone"),
        F.coalesce(F.col("value").startswith('{"malformed'), F.lit(False)).alias(
            "is_malformed"
        ),
    )


@q(
    "de_json_schema_unwrap",
    f"""
    WITH {CH_CTE}
    SELECT off AS offset, table_name, op, (op = 'd') AS is_delete,
           user_id AS key_id,
           CASE WHEN op = 'd' THEN NULL ELSE event_id END AS event_id,
           CASE WHEN op = 'd' THEN NULL ELSE ts END AS ts,
           CASE WHEN op = 'd' THEN NULL ELSE user_id END AS user_id,
           CASE WHEN op = 'd' THEN NULL ELSE event_type END AS event_type,
           CASE WHEN op = 'd' THEN NULL ELSE value END AS value,
           CASE WHEN op = 'd' THEN NULL ELSE props END AS props
    FROM ch
    """,
)
def de_json_schema_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json parse + ExtractNewRecordState unwrap + tombstone handling:
    a hash match here proves the JSON round-trip (incl. timestamps) is
    lossless."""
    u = _unwrapped(spark, sf_dir)
    return u.select(
        "offset", "table_name", "op", "is_delete", "key_id", "after.*"
    )


@q(
    "upsert_materialize",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def upsert_materialize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core CDC operator: changelog -> current warehouse state
    (last-write-wins by offset, deletes/tombstones drop keys)."""
    return upsert_materialize(_unwrapped(spark, sf_dir))


@q(
    "snk_dlq_audit",
    f"""
    SELECT '{{"malformed":' || CAST(event_id AS VARCHAR) AS payload_json
    FROM events
    WHERE {SQL_IS_MALFORMED} AND NOT {SQL_IS_TOMBSTONE}
    """,
)
def snk_dlq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """errors.tolerance=all split + HoistField -> kafka_dlq audit rows."""
    _, dlq = split_dlq(_parsed(spark, sf_dir))
    return hoist_field(dlq)


@q(
    "xf_regexrouter",
    f"""
    SELECT {SQL_TABLE_CASE} AS table_name, count(*) AS n_records
    FROM events
    GROUP BY 1
    """,
)
def xf_regexrouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexRouter topic -> destination table, applied with a real regex on
    the real topic strings."""
    ch = build_changelog(t(spark, sf_dir, "events"))
    return (
        ch.select(route_topic(ch).alias("table_name"))
        .groupBy("table_name")
        .agg(F.count("*").alias("n_records"))
    )


@q(
    "xf_schema_evolve",
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority,
           CAST(1 + o_orderkey % 2 AS INT) AS schema_version
    FROM orders
    """,
)
def xf_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto.evolve additive evolution: pre-DDL rows (v1, no priority column)
    unioned with post-DDL rows (v2) -> widened with NULLs."""
    o = t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("schema_version")
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority", F.lit(2).alias("schema_version")
    )
    return schema_evolve(v1, v2)


@q(
    "cdc_integrity_check",
    f"""
    WITH {MAT_CTE},
    src AS (
      SELECT {SQL_TABLE_CASE} AS table_name,
             coalesce(max(event_id), 0) AS src_max,
             count(*) AS src_count
      FROM events GROUP BY 1
    ),
    dst AS (
      SELECT table_name, coalesce(max(last_offset), 0) AS dst_max,
             count(*) AS dst_count
      FROM mat GROUP BY 1
    )
    SELECT s.table_name, s.src_max,
           coalesce(d.dst_max, 0) AS dst_max,
           s.src_count,
           coalesce(d.dst_count, 0) AS dst_count,
           (s.src_max = coalesce(d.dst_max, 0)) AS max_match,
           (s.src_count = coalesce(d.dst_count, 0)) AS count_match
    FROM src s LEFT JOIN dst d USING (table_name)
    """,
)
def cdc_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only 'query': per-table MAX(id) + COUNT(*) parity
    between source and the CDC-materialized sink
    (dags/cdc_data_integrity_dynamic_dag.py:48-62; readme.md:41). Deletes
    legitimately make the sink lag — exactly what it alerts on."""
    from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import _table_col

    events = t(spark, sf_dir, "events")
    src_keyed = events.select(
        _table_col().alias("table_name"), F.col("event_id").alias("key")
    )
    sink_keyed = upsert_materialize(_unwrapped(spark, sf_dir)).select(
        "table_name", F.col("last_offset").alias("key")
    )
    return integrity_compare(src_keyed, sink_keyed, "key")


# --- monitoring (§2.C) -------------------------------------------------------

@q(
    "monitor_status_health",
    """
    SELECT 'connector_' || n_name AS connector_name,
           CASE WHEN n_nationkey % 7 = 3 THEN 'FAILED'
                WHEN n_nationkey % 7 = 5 THEN 'PAUSED'
                ELSE 'RUNNING' END AS connector_state,
           (n_nationkey % 4) AS n_tasks,
           (CASE WHEN n_nationkey % 7 IN (3, 5) THEN FALSE
                 ELSE (n_nationkey % 4 > 0 AND NOT (n_nationkey % 11 = 2)) END)
             AS healthy_simple,
           (CASE WHEN n_nationkey % 7 IN (3, 5) THEN FALSE
                 ELSE (n_nationkey % 4 > 0 AND
                       len(list_filter(range(0, n_nationkey % 4),
                                       i -> (n_nationkey + i) % 11 = 2)) = 0) END)
             AS healthy_strict
    FROM nation
    """,
)
def monitor_status_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both reference health predicates (simple task[0] check vs ∀-tasks
    array check) over the deterministic status-document fixture."""
    status = build_connector_status(t(spark, sf_dir, "nation"))
    return status_health(status)


LAG_CTE = f"""
topics AS (
  SELECT 'mysql-server.pos_bi_db.' || {SQL_TABLE_CASE} AS topic FROM events
),
per_topic AS (
  SELECT topic,
         CAST(0 AS INT) AS partition,
         count(*) AS latest_offset,
         greatest(count(*) - (length(topic) * 137) % 700, 0)
           AS committed_offset
  FROM topics GROUP BY topic
),
offs AS (
  SELECT * FROM per_topic
  UNION ALL
  SELECT 'mysql-server.pos_bi_db.empty_topic', CAST(0 AS INT),
         CAST(0 AS BIGINT), NULL
  UNION ALL
  SELECT 'mysql-server.pos_bi_db.idle_topic', CAST(0 AS INT),
         CAST(42 AS BIGINT), CAST(42 AS BIGINT)
),
lagged AS (
  SELECT topic, partition, latest_offset, committed_offset,
         CAST(CASE WHEN latest_offset = 0 THEN 0
              ELSE latest_offset - coalesce(committed_offset, 0) END AS BIGINT)
           AS lag
  FROM offs
)
"""


@q(
    "monitor_lag",
    f"""
    WITH {LAG_CTE}
    SELECT topic, partition, latest_offset, committed_offset, lag,
           (lag > 500) AS is_critical
    FROM lagged
    """,
)
def monitor_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-lag metrics: latest vs committed offsets, NULL/empty guards,
    500-message alert threshold (dags/kafka_latency_monitor.py:60-84)."""
    offsets = build_topic_offsets(t(spark, sf_dir, "events"))
    return lag_metrics(offsets)


@q(
    "monitor_fanout_config",
    f"""
    WITH {LAG_CTE},
    cfg AS (
      SELECT * FROM (VALUES
        ('mysql-server.pos_bi_db.ventas',          CAST(500 AS BIGINT)),
        ('mysql-server.pos_bi_db.productos',       CAST(500 AS BIGINT)),
        ('mysql-server.pos_bi_db.detalle_ventas',  CAST(200 AS BIGINT)),
        ('mysql-server.pos_bi_db.entidades',       CAST(50  AS BIGINT)),
        ('mysql-server.pos_bi_db.pagos_clientes',  CAST(1000 AS BIGINT))
      ) AS t(topic, max_lag)
    )
    SELECT cfg.topic, cfg.max_lag,
           coalesce(l.lag, 0) AS lag,
           (coalesce(l.lag, 0) > cfg.max_lag) AS is_critical
    FROM cfg LEFT JOIN lagged l USING (topic)
    """,
)
def monitor_fanout_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fan_out_dynamic`` made explicit: the reference fans out one Airflow
    task per element of a JSON config Variable
    (dags/cdc_health_check_dynamic_dag.py:55-63); here the config IS a tiny
    DataFrame with per-topic thresholds, joined against live lag metrics —
    one declarative program whatever the fan-out width."""
    cfg = spark.createDataFrame(
        [
            ("mysql-server.pos_bi_db.ventas", 500),
            ("mysql-server.pos_bi_db.productos", 500),
            ("mysql-server.pos_bi_db.detalle_ventas", 200),
            ("mysql-server.pos_bi_db.entidades", 50),
            ("mysql-server.pos_bi_db.pagos_clientes", 1000),
        ],
        "topic string, max_lag long",
    )
    lags = lag_metrics(build_topic_offsets(t(spark, sf_dir, "events")))
    return (
        cfg.join(lags.select("topic", "lag"), on="topic", how="left")
        .select(
            "topic",
            "max_lag",
            F.coalesce("lag", F.lit(0)).alias("lag"),
            (F.coalesce("lag", F.lit(0)) > F.col("max_lag")).alias("is_critical"),
        )
    )


@q(
    "monitor_any_failed",
    f"""
    WITH {LAG_CTE}
    SELECT count(*) FILTER (WHERE lag > 500) AS n_failed,
           count(*) FILTER (WHERE lag > 500) > 0 AS any_failed
    FROM lagged
    """,
)
def monitor_any_failed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE_FAILED fan-in: any critical topic raises the alert flag."""
    offsets = build_topic_offsets(t(spark, sf_dir, "events"))
    return any_failed(lag_metrics(offsets), "is_critical")


@q(
    "cdc_incremental_agg",
    f"""
    WITH {MAT_CTE}
    SELECT table_name, event_type,
           CAST(count(*) AS BIGINT) AS n_live_rows,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
             AS sum_scaled
    FROM mat GROUP BY table_name, event_type
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view maintenance fed
    by CDC): a per-(table, event_type) aggregate of the warehouse state is
    maintained WITHOUT recomputing it from scratch — the changelog is split
    at offset H (half the log, the 'already materialized' point):

        final_agg = base_agg                      (state before H, one pass)
                  - agg(pre-H images of keys touched after H)
                  + agg(final images of touched keys)

    Only keys that actually changed after H are re-resolved; untouched
    contributions are reused from the base aggregate. At 100 TB this is the
    difference between an hourly full recompute over the warehouse and a
    delta job proportional to the hour's churn. Counts and integer-scaled
    sums are exact under any partition order, so the oracle — a direct
    aggregate of the fully materialized state — must match to the bit.
    """
    un = _unwrapped(spark, sf_dir).persist()
    h = un.agg(F.max("offset").alias("m")).first().m // 2
    pre = un.filter(F.col("offset") < h)
    post = un.filter(F.col("offset") >= h)

    def agg_state(state: DataFrame) -> DataFrame:
        return state.groupBy("table_name", "event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("s"),
        )

    base_state = upsert_materialize(pre).persist()
    base_agg = agg_state(base_state)
    touched = post.select(
        "table_name", F.col("key_id").alias("user_id")
    ).distinct()
    removed = agg_state(base_state.join(touched, ["table_name", "user_id"]))
    final_touched = upsert_materialize(
        un.join(
            touched.withColumnRenamed("user_id", "key_id"),
            ["table_name", "key_id"],
        )
    )
    added = agg_state(final_touched)

    def prep(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.select(
            "table_name",
            "event_type",
            F.col("n").alias(n),
            F.col("s").alias(s),
        )

    merged = (
        prep(base_agg, "bn", "bs")
        .join(prep(removed, "rn", "rs"), ["table_name", "event_type"], "full")
        .join(prep(added, "an", "as_"), ["table_name", "event_type"], "full")
        .na.fill(0, ["bn", "bs", "rn", "rs", "an", "as_"])
    )
    out = merged.select(
        "table_name",
        "event_type",
        (F.col("bn") - F.col("rn") + F.col("an")).alias("n_live_rows"),
        (F.col("bs") - F.col("rs") + F.col("as_")).alias("sum_scaled"),
    ).filter(F.col("n_live_rows") > 0)
    # NOTE: no eager unpersist — the returned frame is still lazy, and the
    # harness executes it after this function returns; dropping the caches
    # here would force the parse lineage and base_state to recompute once
    # per consuming branch (defeating the persist, which must serve the
    # delta join + removed/added branches). The session owns cleanup, as
    # elsewhere in this file.
    return out


@q(
    "cdc_schema_compat",
    f"""
    WITH valid AS (
      SELECT {SQL_TABLE_CASE} AS table_name, (event_id % 2 = 0) AS g1
      FROM events
      WHERE NOT {SQL_IS_MALFORMED} AND NOT {SQL_IS_TOMBSTONE}
        AND event_id % 10 < 8  -- deletes carry no after image
    ),
    pres AS (
      SELECT table_name, max(g1) AS in_v1, max(NOT g1) AS in_v2
      FROM valid GROUP BY 1
    ),
    base AS (
      SELECT p.table_name, f.field, p.in_v1, p.in_v2
      FROM pres p CROSS JOIN (
        SELECT unnest(['event_id','ts','user_id','event_type',
                       'value','props']) AS field) f
      UNION ALL
      SELECT p.table_name, 'ingest_region', FALSE, p.in_v2
      FROM pres p WHERE p.in_v2
    )
    SELECT table_name, field, in_v1, in_v2,
           CASE WHEN in_v1 AND in_v2 THEN 'stable'
                WHEN in_v2 THEN 'added_in_v2'
                ELSE 'removed_in_v2' END AS change,
           CASE WHEN in_v1 AND in_v2 THEN 'FULL'
                WHEN in_v2 THEN 'BACKWARD'
                ELSE 'FORWARD' END AS compat
    FROM base
    """,
)
def cdc_schema_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-registry compatibility check, engine-native: introspect the
    PER-RECORD envelope schemas of the two-generation changelog (the
    schema-evolution replay — streaming/jobs.two_gen_replay_dir) with
    ``json_object_keys`` over each record's ``payload.after``, aggregate a
    field inventory per (table, generation), and emit the per-field verdict
    a registry's compatibility gate computes before accepting a new schema
    version: stable -> FULL, added-in-v2 -> BACKWARD (old readers ignore the
    new field; the JDBC sink ALTER-TABLE-ADDs — auto.evolve,
    register-postgres-sink.json:14), removed -> FORWARD. The oracle derives
    the same inventory relationally from the fixture's generation parity —
    a hash match proves the serialized envelopes carry exactly the declared
    field sets (to_json drops nothing, the widening adds exactly
    ingest_region)."""
    from cdc_debezium_kafka_airflow_spark.streaming import jobs

    replay = jobs.two_gen_replay_dir(spark, sf_dir)
    ch = spark.read.parquet(replay)
    after_json = F.get_json_object("value", "$.payload.after")
    rows = (
        ch.withColumn("_after", after_json)
        .filter(F.col("_after").isNotNull())
        .select(
            F.regexp_extract("topic", r"([^.]+)$", 1).alias("table_name"),
            (
                F.get_json_object("value", "$.payload.after.event_id")
                .cast("long") % 2 == 0
            ).alias("g1"),
            F.explode(F.json_object_keys("_after")).alias("field"),
        )
    )
    inv = rows.groupBy("table_name", "field").agg(
        F.max("g1").alias("in_v1"),
        F.max(~F.col("g1")).alias("in_v2"),
    )
    return inv.select(
        "table_name",
        "field",
        "in_v1",
        "in_v2",
        F.when(F.col("in_v1") & F.col("in_v2"), "stable")
        .when(F.col("in_v2"), "added_in_v2")
        .otherwise("removed_in_v2")
        .alias("change"),
        F.when(F.col("in_v1") & F.col("in_v2"), "FULL")
        .when(F.col("in_v2"), "BACKWARD")
        .otherwise("FORWARD")
        .alias("compat"),
    )


@q(
    "cdc_forget_user",
    f"""
    WITH {MAT_CTE},
    purged AS (
      SELECT * FROM mat WHERE user_id % 17 != 0
    ),
    audit AS (
      SELECT table_name,
             CAST(count(*) AS BIGINT) AS n_purged,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_subjects
      FROM mat WHERE user_id % 17 = 0 GROUP BY table_name
    )
    SELECT p.table_name,
           CAST(count(*) AS BIGINT) AS n_remaining,
           max(a.n_purged) AS n_purged,
           max(a.n_subjects) AS n_subjects
    FROM purged p LEFT JOIN audit a ON p.table_name = a.table_name
    GROUP BY p.table_name
    """,
)
def cdc_forget_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation through the materialized warehouse
    (the compliance op every CDC warehouse eventually runs): a deterministic
    deletion list (user_id % 17 == 0 — in production, the DSR queue) is
    anti-joined out of the live state, and the same pass emits the audit a
    DPO needs: rows purged and distinct data subjects per table. Deletion
    list semantics ride the upsert materialization, so tombstoned and
    superseded rows are already gone before the purge — only LIVE images
    count. One broadcast anti-join over the materialized state; at scale
    the deletion list is the small side by construction."""
    from pyspark.sql import functions as F

    mat = upsert_materialize_q(spark, sf_dir)
    forget = F.col("user_id") % 17 == 0
    purged = mat.filter(~forget)
    audit = mat.filter(forget).groupBy("table_name").agg(
        F.count("*").alias("n_purged"),
        F.countDistinct("user_id").alias("n_subjects"),
    )
    return (
        purged.groupBy("table_name")
        .agg(F.count("*").alias("n_remaining"))
        .join(F.broadcast(audit), "table_name", "left")
        .select("table_name", "n_remaining", "n_purged", "n_subjects")
    )


@q(
    "cdc_snapshot_handoff",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def cdc_snapshot_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot -> streaming handoff (the Debezium bootstrap lifecycle,
    register-mysql-connector.json snapshot mode): the warehouse is first
    materialized from the changelog PREFIX (offsets <= the handoff point,
    half the log) and re-emitted as op='r' snapshot records at their
    original offsets — exactly what a connector's initial snapshot produces
    — then the changelog SUFFIX is applied ON TOP of those snapshot
    records through the same upsert. A hash match against the straight
    full materialization proves the handoff is gapless and overlap-safe:
    keys deleted before the handoff stay absent unless re-created, keys
    updated after it converge to the suffix image, and offset-based
    last-write-wins arbitrates any snapshot/suffix overlap."""
    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    after_fields = [
        f.name for f in u.schema["after"].dataType.fields
    ]
    k = u.agg(F.floor(F.max("offset") / 2).alias("k"))
    uk = u.join(F.broadcast(k))
    cols = ["table_name", "key_id", "offset", "is_delete", "after"]
    prefix = uk.filter(F.col("offset") <= F.col("k")).select(cols)
    suffix = uk.filter(F.col("offset") > F.col("k")).select(cols)
    snap_state = upsert_materialize(prefix)
    snap_log = snap_state.select(
        "table_name",
        F.col("user_id").alias("key_id"),
        F.col("last_offset").alias("offset"),
        F.lit(False).alias("is_delete"),
        F.struct(*after_fields).alias("after"),
    )
    return upsert_materialize(snap_log.unionByName(suffix))


@q(
    "e2e_reference_pipeline",
    f"""
    WITH {MAT_CTE}
    SELECT 'serialize' AS stage,
           count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS checksum
    FROM events
    UNION ALL
    SELECT 'parse_dlq',
           (SELECT count(*) FROM events WHERE NOT {SQL_IS_MALFORMED}),
           CAST((SELECT count(*) FROM events WHERE {SQL_IS_MALFORMED})
                AS BIGINT)
    UNION ALL
    SELECT 'unwrap', (SELECT count(*) FROM ch),
           CAST((SELECT count(*) FROM ch WHERE op = 'd') AS BIGINT)
    UNION ALL
    SELECT 'materialize', (SELECT count(*) FROM mat),
           CAST((SELECT sum(CAST(round(value * 10000) AS BIGINT)) FROM mat)
                AS BIGINT)
    UNION ALL
    SELECT 'integrity',
           (SELECT count(DISTINCT table_name) FROM mat),
           CAST((SELECT count(DISTINCT table_name) FROM mat) AS BIGINT)
    UNION ALL
    SELECT 'bi_query',
           (SELECT count(DISTINCT table_name) FROM mat),
           CAST((SELECT max(user_id) FROM mat) AS BIGINT)
    """,
)
def e2e_reference_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE topology replayed end-to-end in one scenario,
    each stage feeding the next and leaving an audit row (stage, rows,
    checksum):

      serialize    Debezium-envelope changelog built (Kafka's payload)
      parse_dlq    typed parse; poison records split to the DLQ
      unwrap       ExtractNewRecordState images (+ delete markers)
      materialize  keyed warehouse upsert (the JDBC sink's end state)
      integrity    the integrity DAG's MAX(id)/COUNT probe — every table
                   must reconcile against an independent source-side
                   recomputation (checksum = #matching tables)
      bi_query     the warehouse answering the BI probe the DAGs run

    One lineage, not six queries: every stage consumes the previous
    stage's frame, so a defect anywhere surfaces as a wrong audit row
    downstream — this is the 'a reference user can switch' claim as a
    single executable fact (MIGRATION.md walks the same path in prose).

    Plan: two aggregates crossed once, zero collect()s at construction.
    One pass over the parsed wire log counts the serialize, parse_dlq and
    unwrap rows through ``split_dlq``'s and ``unwrap``'s own predicates;
    one per-table aggregate of the materialized state, joined with the
    integrity probe, gives the other three. The six audit rows are
    exploded out of the single 1x1 cross-joined row, so every aggregate
    subtree appears exactly once in the plan (ADVICE r09), and nothing is
    persisted: each branch parses each record once.
    """
    parsed = _parsed(spark, sf_dir)
    bad = is_dlq_record()
    log = parsed.agg(
        F.count("*").alias("n_log"),
        F.sum("offset").alias("sum_off"),
        F.count_if(~bad).alias("n_main"),
        F.count_if(bad).alias("n_dlq"),
        F.count_if(~bad & (change_op() == "d")).alias("n_del"),
    )

    mat = upsert_materialize(unwrap(split_dlq(parsed)[0]))
    # independent sink-side recomputation feeds the integrity probe — but
    # deletes must drop keys, so the source side is the LIVE key set too
    keyed = mat.select("table_name", F.col("user_id").alias("key"))
    per_table = mat.groupBy("table_name").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("s"),
        F.max("user_id").alias("mx"),
    ).join(integrity_compare(keyed, keyed, "key"), "table_name")
    state = per_table.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_mat"),
        F.sum("s").alias("s"),
        F.max("mx").alias("mx"),
        F.count("*").alias("n_tables"),
        F.count_if(F.col("max_match") & F.col("count_match")).alias("n_match"),
    )

    def srow(name: str, n: str, checksum: str):
        return F.struct(
            F.lit(name).alias("stage"),
            F.col(n).cast("long").alias("n_rows"),
            F.col(checksum).cast("long").alias("checksum"),
        )

    return (
        log.crossJoin(state)
        .select(
            F.explode(
                F.array(
                    srow("serialize", "n_log", "sum_off"),
                    srow("parse_dlq", "n_main", "n_dlq"),
                    srow("unwrap", "n_main", "n_del"),
                    srow("materialize", "n_mat", "s"),
                    srow("integrity", "n_tables", "n_match"),
                    srow("bi_query", "n_tables", "mx"),
                )
            ).alias("r")
        )
        .select("r.*")
    )


@q(
    "cdc_incremental_snapshot",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def cdc_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked incremental snapshot — the DBLog watermark algorithm Debezium
    uses to re-snapshot a table WITHOUT pausing the binlog stream (the
    reference connector's `incremental` snapshot mode; DBLog: Andreoli et
    al., Netflix, 2019). The simulation is faithful to the algorithm:

      - streaming starts at offset s0 = max/4 (the connector was already
        running); every binlog event after s0 is applied normally;
      - the key space is cut into 8 primary-key-range chunks (DBLog chunks
        by PK range so each SELECT is an index range scan);
      - chunk i's read happens inside a watermark window (lo_i, hi_i]:
        lo_i is the log offset when the chunk SELECT starts, and the read
        returns each key's image as of lo_i;
      - DBLog dedup rule: a chunk row is DISCARDED if its key has a binlog
        event inside the chunk's own watermark window — the streamed event
        is newer and must win (this is the race the algorithm exists for);
      - surviving chunk rows re-enter the pipeline as op='r' reads carrying
        their ORIGINAL last-change offset, so ordinary last-write-wins
        arbitration (upsert_materialize) merges snapshot and stream.

    The oracle is the straight full materialization: a hash match proves
    the interleaved chunk/stream replay converges to EXACTLY the state a
    from-the-beginning consumer reaches — deletes during the snapshot stay
    deleted, keys updated inside a watermark window take the stream image,
    and untouched keys surface only through their chunk.

    Physical plan: the chunk id, lo and hi are pure COLUMN functions of
    key_id (no driver loop over chunks), so the whole algorithm is two
    keyed hash-aggregations (chunk-read materialize + final materialize)
    plus one churn-sized anti-join for the dedup rule — every shuffle is on
    (table_name, key_id) and the plan is independent of the chunk count.
    At 100 TB the chunk boundaries come from source PK statistics and the
    anti-join's right side stays bounded by churn-per-window, not by table
    size.
    """
    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    after_fields = [f.name for f in u.schema["after"].dataType.fields]
    n_chunks = 8
    cols = ["table_name", "key_id", "offset", "is_delete", "after"]
    b = u.agg(
        F.floor(F.max("offset") / 4).alias("s0"),
        F.max("offset").alias("max_off"),
        F.max("key_id").alias("max_key"),
    )
    uk = u.join(F.broadcast(b))
    chunk = F.least(
        F.lit(n_chunks - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("key_id") - 1) * n_chunks / F.col("max_key")),
        ),
    )
    step = F.floor((F.col("max_off") - F.col("s0")) / (2 * n_chunks))
    tagged = (
        uk.withColumn("lo", F.col("s0") + chunk * step)
        .withColumn("hi", F.col("s0") + (chunk + 1) * step)
    )
    # chunk read: each key's image as of ITS chunk's low watermark
    snap_state = upsert_materialize(
        tagged.filter(F.col("offset") <= F.col("lo")).select(cols)
    )
    # DBLog dedup: keys with a streamed event inside their chunk's window
    win_keys = (
        tagged.filter(
            (F.col("offset") > F.col("lo")) & (F.col("offset") <= F.col("hi"))
        )
        .select("table_name", "key_id")
        .distinct()
    )
    snap_log = (
        snap_state.select(
            "table_name",
            F.col("user_id").alias("key_id"),
            F.col("last_offset").alias("offset"),
            F.lit(False).alias("is_delete"),
            F.struct(*after_fields).alias("after"),
        )
        .join(win_keys, ["table_name", "key_id"], "left_anti")
    )
    binlog = uk.filter(F.col("offset") > F.col("s0")).select(cols)
    return upsert_materialize(snap_log.unionByName(binlog))


@q(
    "cdc_outbox_router",
    f"""
    WITH {CH_CTE}
    SELECT 'outbox.event.' || event_type AS topic,
           user_id AS message_key,
           off AS event_uuid,
           event_type, ts, value, props
    FROM ch WHERE op = 'c'
    """,
)
def cdc_outbox_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional-outbox EventRouter SMT (Debezium's
    io.debezium.transforms.outbox.EventRouter — the standard way a service
    publishes domain events atomically with its own writes: events are
    INSERTed into an outbox table in the same transaction, Debezium captures
    the inserts, and the router fans them out to per-aggregate-type topics).

    Semantics reproduced:
      - INSERT-only: the outbox table is append-only from the router's view;
        op='u'/'d'/'r' records on it are skipped (route.tombstone.on.empty
        behaviour + UPDATE/DELETE skip);
      - route BY AGGREGATE TYPE: destination topic =
        'outbox.event.' || aggregate type (here the domain event_type);
      - message key = aggregate id (user_id) so one aggregate's events stay
        totally ordered within a topic partition;
      - the change event's offset rides along as the event UUID header the
        consumer uses for idempotent processing.

    Map-only over the already-parsed changelog (filter + projection — no
    shuffle at all); at 100 TB the router is a stateless pass-through whose
    output partitioning IS the (topic, key) Kafka layout.
    """
    u = _unwrapped(spark, sf_dir)
    ins = u.filter(F.col("op") == "c")
    return ins.select(
        F.concat(F.lit("outbox.event."), F.col("after.event_type")).alias(
            "topic"
        ),
        F.col("key_id").alias("message_key"),
        F.col("offset").alias("event_uuid"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.ts").alias("ts"),
        F.col("after.value").alias("value"),
        F.col("after.props").alias("props"),
    )


@q(
    "cdc_incremental_join",
    f"""
    WITH {MAT_CTE}
    SELECT a.user_id AS key_id,
           a.event_id AS a_event_id, a.last_offset AS a_offset,
           CAST(round(a.value * 10000) AS BIGINT) AS a_value_scaled,
           b.event_id AS b_event_id, b.last_offset AS b_offset,
           CAST(round(b.value * 10000) AS BIGINT) AS b_value_scaled
    FROM (SELECT * FROM mat WHERE table_name = 'ventas') a
    JOIN (SELECT * FROM mat WHERE table_name = 'pagos_clientes') b
      ON b.user_id = a.user_id
    """,
)
def cdc_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the two-sided companion to
    cdc_incremental_agg: a materialized join V = ventas |><| pagos_clientes
    (sale row joined to the same customer's payment row, both sides fed by
    the SAME changelog) is maintained under churn without recomputing the
    join. The log is split at offset H (the already-materialized point);
    then

        V_new = (V_old ANTI-JOIN touched_keys)        carried, no re-join
              UNION  fin(ventas)[touched] |><| fin(pagos)[touched]

    where touched = keys with post-H events on EITHER side and fin(X) is
    the last-write-wins image over the full log restricted to those keys.
    Untouched pairs are carried byte-for-byte from the old view; only
    churned keys re-resolve and re-join. The oracle recomputes the join
    from scratch over the fully materialized state — delta-maintained must
    equal full recompute exactly (including pairs DELETED because one side's
    key died after H, which the anti-join drops and the recompute branch
    never re-emits).

    Scale posture: the delta branch's joins are all semi-join-pruned to the
    churned-key set BEFORE any wide data moves (the pushdown that makes
    join-IVM ∝ churn, not warehouse size); carried rows never leave their
    storage partitions (anti-join on the view's own key partitioning). At
    100 TB this is the difference between an hourly full join of two
    warehouse tables and a delta job the size of the hour's changes.

    Reference parity: the reference materializes Debezium topics into
    per-table Postgres warehouse tables (register-postgres-sink.json:9
    lists the nine pos_bi_db topics, ventas/pagos_clientes among them)
    for scheduled BI joins downstream (readme.md:14 — "Data Warehouse");
    this maintains the joined view continuously instead.
    """
    ta, tb = "ventas", "pagos_clientes"
    un = _unwrapped(spark, sf_dir).filter(
        F.col("table_name").isin(ta, tb)
    ).persist()
    h = un.agg(F.max("offset").alias("m")).first().m // 2

    def pick(mat: DataFrame, name: str, prefix: str) -> DataFrame:
        return mat.filter(F.col("table_name") == name).select(
            F.col("user_id").alias("key_id"),
            F.col("event_id").alias(f"{prefix}_event_id"),
            F.col("last_offset").alias(f"{prefix}_offset"),
            F.round(F.col("value") * 10000)
            .cast("long")
            .alias(f"{prefix}_value_scaled"),
        )

    base = upsert_materialize(un.filter(F.col("offset") < h)).persist()
    v_old = pick(base, ta, "a").join(pick(base, tb, "b"), "key_id")

    touched = (
        un.filter(F.col("offset") >= h).select("key_id").distinct()
    )
    carried = v_old.join(touched, "key_id", "left_anti")
    fin = upsert_materialize(un.join(touched, "key_id"))
    delta = pick(fin, ta, "a").join(pick(fin, tb, "b"), "key_id")
    return carried.unionByName(delta)


@q(
    "cdc_time_weighted_avg",
    f"""
    WITH {CH_CTE},
    led AS (
      SELECT *, lead(off) OVER (PARTITION BY table_name, key_id
                                ORDER BY off) AS next_off
      FROM ch
    ),
    mo AS (SELECT max(off) AS m FROM ch),
    v AS (
      SELECT table_name, key_id,
             (COALESCE(next_off - 1, mo.m) - off + 1) AS dur,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM led CROSS JOIN mo
      WHERE op <> 'd'
    )
    SELECT table_name, key_id,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(dur) AS BIGINT) AS total_dur,
           round((CAST(sum(dur * cents) AS BIGINT) * 1.0
                  / CAST(sum(dur) AS BIGINT)) / 100.0, 6) AS twap
    FROM v GROUP BY table_name, key_id
    """,
)
def cdc_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over SCD2 validity intervals (the TWAP
    semantic): each version of a key contributes its value weighted by HOW
    LONG it was the live state (validity span in log offsets — swap in
    epoch time where the log carries wall-clock), so a value that held for
    90% of history dominates a flash update — the temporal-aggregation
    semantic a plain AVG over versions gets wrong. Deletes contribute
    nothing (no live span); open intervals extend to the log head.
    Numerator and denominator are exact integer sums (span x cents), one
    closing division — bit-stable cross-engine.

    Scale posture: the lead() window shares the (table, key) partitioning
    every CDC materialization in this engine uses (one shuffle serves the
    SCD2 close and this aggregate); the aggregate is map-side partial on
    the same keys, and the 1-row max-offset broadcast bounds open
    intervals. Reference parity: the reference's warehouse keeps only
    live upserted state (register-postgres-sink.json:15-16 —
    insert.mode=upsert, delete.enabled=true), so its BI queries can
    average current values only; this answers the temporal version of
    those questions."""
    from cdc_debezium_kafka_airflow_spark.operators.cdc import scd2_history

    # several branches read the parse: parse the wire log once
    un = _unwrapped(spark, sf_dir).persist()
    versions = scd2_history(un)
    mo = un.agg(F.max("offset").alias("m"))
    v = versions.crossJoin(F.broadcast(mo)).select(
        "table_name",
        "key_id",
        (
            F.coalesce(F.col("valid_to_offset"), F.col("m"))
            - F.col("valid_from_offset")
            + 1
        ).alias("dur"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return v.groupBy("table_name", "key_id").agg(
        F.count("*").alias("n_versions"),
        F.sum("dur").alias("total_dur"),
        F.round(
            (
                F.sum(F.col("dur") * F.col("cents"))
                * F.lit(1.0)
                / F.sum("dur")
            )
            / 100.0,
            6,
        ).alias("twap"),
    )


# Shared by cdc_txn_consistent and its streaming twin (streaming_queries
# stream_txn_consistent): the committed-prefix gate + materialization.
TXN_GATE_ORACLE = f"""
    WITH {CH_CTE},
    tx AS (SELECT ch.*, off // 16 AS txn_id FROM ch),
    mx AS (SELECT max(txn_id) AS max_txn FROM tx),
    applied AS (SELECT tx.* FROM tx CROSS JOIN mx WHERE txn_id < max_txn),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY table_name, key_id
                                   ORDER BY off DESC) AS rn
      FROM applied
    ),
    mat AS (SELECT * FROM latest WHERE rn = 1 AND op <> 'd'),
    held AS (
      SELECT table_name, CAST(count(*) AS BIGINT) AS n_inflight_held
      FROM tx CROSS JOIN mx WHERE txn_id = max_txn GROUP BY 1
    )
    SELECT m.table_name,
           CAST(count(*) AS BIGINT) AS n_live_keys,
           max(off) AS last_applied_offset,
           CAST(coalesce(max(h.n_inflight_held), 0) AS BIGINT)
             AS n_inflight_held
    FROM mat m LEFT JOIN held h ON h.table_name = m.table_name
    GROUP BY m.table_name
    """


@q("cdc_txn_consistent", TXN_GATE_ORACLE)
def cdc_txn_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactionally-consistent materialization — Debezium's
    ``provide.transaction.metadata`` contract (public Debezium docs; the
    reference connector leaves it off, register-mysql-connector.json, but a
    warehouse consumer that must never expose HALF a source transaction
    turns it on): every data event carries a transaction block
    ``{{id, total_order}}``, a BEGIN/END marker stream frames each source
    transaction, and a consistent consumer buffers events until their
    transaction's END marker arrives before applying them.

    Fixture spec: transaction id = ``offset // 16`` (a group commit of up
    to 16 consecutive log records). END markers are implied by log
    progress — a transaction is known-committed exactly when a LATER
    transaction's first record appears, so the highest txn id in the log is
    the in-flight tail and must be HELD BACK (the gate a mid-transaction
    crash replay needs: apply-all-or-nothing per source transaction).

    Output per table: live keys and max applied offset over the gated
    materialization, plus how many records are parked in the in-flight
    transaction buffer. The oracle recomputes the same gate + last-write-
    wins materialization in SQL — a hash match proves the engine applies
    EXACTLY the committed prefix, never a torn transaction.

    Physical plan: the gate is one 1-row broadcast (max txn id) against the
    shared parsed changelog — no extra shuffle before the materialize's own
    keyed aggregation; the held-back count rides the same scan. At 100 TB
    the in-flight buffer is bounded by one group commit x arrival rate, not
    by history.
    """
    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    cols = ["table_name", "key_id", "offset", "is_delete", "after"]
    tx = u.withColumn(
        "txn_id", F.floor(F.col("offset") / 16).cast("long")
    )
    b = tx.agg(F.max("txn_id").alias("max_txn"))
    txk = tx.join(F.broadcast(b))
    applied = txk.filter(F.col("txn_id") < F.col("max_txn")).select(cols)
    held = (
        txk.filter(F.col("txn_id") == F.col("max_txn"))
        .groupBy("table_name")
        .agg(F.count("*").alias("n_inflight_held"))
    )
    mat = upsert_materialize(applied)
    agg = mat.groupBy("table_name").agg(
        F.count("*").alias("n_live_keys"),
        F.max("last_offset").alias("last_applied_offset"),
    )
    return agg.join(F.broadcast(held), "table_name", "left").select(
        "table_name",
        "n_live_keys",
        "last_applied_offset",
        F.coalesce(F.col("n_inflight_held"), F.lit(0))
        .cast("long")
        .alias("n_inflight_held"),
    )


@q(
    "cdc_log_compaction",
    f"""
    WITH raw AS (
      SELECT event_id AS off,
             'mysql-server.pos_bi_db.' || {SQL_TABLE_CASE} AS topic,
             user_id AS k,
             {SQL_IS_TOMBSTONE} AS tomb
      FROM events
    ),
    b AS (SELECT max(off) AS mx FROM raw),
    c AS (
      SELECT raw.*,
             (mx * 3) // 4 AS active_start,
             mx // 2 AS tomb_horizon,
             row_number() OVER (PARTITION BY topic, k
                                ORDER BY off DESC) AS rn
      FROM raw CROSS JOIN b
    ),
    flags AS (
      SELECT topic, off,
             (off <= active_start AND rn > 1) AS dup_drop,
             (off <= active_start AND rn = 1 AND tomb
              AND off <= tomb_horizon) AS tomb_drop,
             (off > active_start) AS in_active
      FROM c
    )
    SELECT topic,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(CASE WHEN dup_drop THEN 1 ELSE 0 END) AS BIGINT)
             AS n_compacted_out,
           CAST(sum(CASE WHEN tomb_drop THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tombstones_expired,
           CAST(sum(CASE WHEN in_active THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active_segment,
           CAST(count(*)
                - sum(CASE WHEN dup_drop OR tomb_drop THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           min(CASE WHEN NOT (dup_drop OR tomb_drop) THEN off END)
             AS min_retained_offset
    FROM flags GROUP BY topic
    """,
)
def cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka log-compaction semantics over the raw CDC topics — the broker-
    side behavior the whole reference pipeline leans on (compacted offsets/
    config topics, docker-compose.yml:101-103; tombstones deliberately kept
    for the cleaner, drop.tombstones=false register-postgres-sink.json:24).
    The cleaner's contract (public Kafka docs, cleanup.policy=compact):

      - the ACTIVE segment is never cleaned: records past the last-cleanable
        offset (here the top quarter of the log) all survive;
      - in the cleaned region, only each (topic, key)'s LATEST record
        survives — older versions are compacted out;
      - a surviving tombstone (null value; the delete marker consumers need)
        is itself dropped once older than delete.retention.ms (here: at or
        below the log's midpoint offset).

    The broker never parses values, so this runs on the SERIALIZED
    changelog (malformed DLQ-bound records compact like any other record;
    tombstone-ness is value IS NULL) — per topic: total records, versions
    compacted away, tombstones expired, active-segment size, survivors, and
    the earliest surviving offset (what a from-zero consumer now sees
    first).

    Physical plan: one window shuffle keyed (topic, key) — the same layout
    as every keyed materialization here — then a map-side-partial topic
    rollup; the 1-row max-offset frame is broadcast. At 100 TB the cleaner
    is per-partition-local (Kafka compacts segment files against an offset
    map), which this plan mirrors: nothing crosses keys.
    """
    ch = build_changelog(t(spark, sf_dir, "events"))
    b = ch.agg(F.max("offset").alias("mx"))
    c = ch.join(F.broadcast(b)).select(
        "offset",
        "topic",
        "key",
        F.col("value").isNull().alias("tomb"),
        F.expr("mx * 3 DIV 4").alias("active_start"),
        F.expr("mx DIV 2").alias("tomb_horizon"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("topic", "key").orderBy(F.desc("offset"))
    r = c.withColumn("rn", F.row_number().over(w))
    cleaned = F.col("offset") <= F.col("active_start")
    dup_drop = cleaned & (F.col("rn") > 1)
    tomb_drop = (
        cleaned
        & (F.col("rn") == 1)
        & F.col("tomb")
        & (F.col("offset") <= F.col("tomb_horizon"))
    )
    dropped = dup_drop | tomb_drop
    return r.groupBy("topic").agg(
        F.count("*").alias("n_records"),
        F.sum(dup_drop.cast("long")).alias("n_compacted_out"),
        F.sum(tomb_drop.cast("long")).alias("n_tombstones_expired"),
        F.sum((F.col("offset") > F.col("active_start")).cast("long")).alias(
            "n_active_segment"
        ),
        (F.count("*") - F.sum(dropped.cast("long"))).alias("n_retained"),
        F.min(F.when(~dropped, F.col("offset"))).alias(
            "min_retained_offset"
        ),
    )


@q(
    "monitor_heartbeat",
    f"""
    WITH per_table AS (
      SELECT {SQL_TABLE_CASE} AS table_name,
             CAST(count(*) AS BIGINT) AS n_events,
             max(ts) AS last_change
      FROM events GROUP BY 1
    ),
    hb AS (SELECT max(ts) AS heartbeat FROM events)
    SELECT table_name, n_events,
           epoch_us(last_change) AS last_change_us,
           epoch_us(heartbeat) AS heartbeat_us,
           epoch_us(heartbeat) - epoch_us(last_change) AS staleness_us,
           (epoch_us(heartbeat) - epoch_us(last_change)
            > 600000000) AS is_stale
    FROM per_table CROSS JOIN hb
    """,
)
def monitor_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat-based freshness — Debezium's ``heartbeat.interval.ms``
    contract (public Debezium docs): the connector emits heartbeat records
    even when a table has NO traffic, so a monitor can tell "idle table,
    healthy connector" from "stuck replication" — the blind spot of the
    reference's pure lag monitor (dags/kafka_latency_monitor.py alerts on
    message lag, which reads ZERO both when a topic is idle and when the
    connector died).

    The connector-level heartbeat is the newest event time anywhere in the
    capture set; per table, staleness = heartbeat minus that table's last
    change. A table is flagged only when the CONNECTOR is provably ahead of
    it by more than the threshold (10 minutes) — idle-whole-pipeline never
    false-alarms, a single stuck table does. Integer microsecond arithmetic
    end-to-end (epoch_us both engines).

    Physical plan: one map-side-partial per-table aggregate + a 1-row
    broadcast for the heartbeat — no joins wider than 5 rows; at 100 TB
    this is a metadata-scale query regardless of log size.
    """
    ev = t(spark, sf_dir, "events")
    from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
        _table_col,
    )

    per_table = ev.groupBy(_table_col().alias("table_name")).agg(
        F.count("*").alias("n_events"),
        F.max("ts").alias("last_change"),
    )
    hb = ev.agg(F.max("ts").alias("heartbeat"))
    j = per_table.join(F.broadcast(hb))
    stale_us = F.unix_micros(F.col("heartbeat")) - F.unix_micros(
        F.col("last_change")
    )
    return j.select(
        "table_name",
        "n_events",
        F.unix_micros(F.col("last_change")).alias("last_change_us"),
        F.unix_micros(F.col("heartbeat")).alias("heartbeat_us"),
        stale_us.alias("staleness_us"),
        (stale_us > 600_000_000).alias("is_stale"),
    )


# Static FK rank of the reference schema (register-mysql-connector.json:12
# tables): entidades/productos are dimension parents; ventas/pagos_clientes
# reference entidades; detalle_ventas references ventas AND productos.
FK_RANK_SQL = (
    "CASE table_name WHEN 'entidades' THEN 0 WHEN 'productos' THEN 0 "
    "WHEN 'ventas' THEN 1 WHEN 'pagos_clientes' THEN 1 ELSE 2 END"
)


@q(
    "cdc_fk_apply_order",
    f"""
    WITH {CH_CTE},
    tx AS (
      SELECT off // 16 AS txn_id, off, table_name, op,
             {FK_RANK_SQL} AS fk_rank
      FROM ch
    )
    SELECT txn_id,
           CAST(row_number() OVER (
             PARTITION BY txn_id
             ORDER BY CASE WHEN op = 'd' THEN 1 ELSE 0 END,
                      CASE WHEN op = 'd' THEN -fk_rank ELSE fk_rank END,
                      off
           ) AS INT) AS apply_seq,
           off, table_name, op
    FROM tx
    """,
)
def cdc_fk_apply_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key-safe statement scheduling inside each source transaction
    — what a relational sink with enforced FK constraints needs and the
    reference's JDBC sink silently relies on commit order for: within a
    transaction, INSERTs/UPDATEs apply parents-first (a child row must
    never reference a not-yet-inserted parent) and DELETEs apply after,
    children-first (a parent row must never die while children point at
    it); log offset breaks ties so replays are deterministic.

    The FK DAG is the reference schema's (ventas -> detalle_ventas,
    entidades -> ventas/pagos_clientes, productos -> detalle_ventas); the
    rank is a static CASE column, so the whole schedule is ONE window over
    the transaction partitioning — the same (txn) shuffle key the gate
    uses, no joins, no driver involvement. At 100 TB the scheduler is a
    map-side rank within already-co-located transaction groups.
    """
    u = _unwrapped(spark, sf_dir)
    from pyspark.sql import Window

    fk_rank = (
        F.when(F.col("table_name").isin("entidades", "productos"), 0)
        .when(F.col("table_name").isin("ventas", "pagos_clientes"), 1)
        .otherwise(2)
    )
    tx = u.select(
        F.floor(F.col("offset") / 16).cast("long").alias("txn_id"),
        F.col("offset").alias("off"),
        "table_name",
        "op",
        fk_rank.alias("fk_rank"),
    )
    w = Window.partitionBy("txn_id").orderBy(
        F.when(F.col("op") == "d", 1).otherwise(0),
        F.when(F.col("op") == "d", -F.col("fk_rank")).otherwise(
            F.col("fk_rank")
        ),
        "off",
    )
    return tx.select(
        "txn_id",
        F.row_number().over(w).cast("int").alias("apply_seq"),
        "off",
        "table_name",
        "op",
    )


@q(
    "monitor_dlq_rate",
    f"""
    SELECT {SQL_TABLE_CASE} AS table_name,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(CASE WHEN {SQL_IS_MALFORMED} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dlq,
           (sum(CASE WHEN {SQL_IS_MALFORMED} THEN 1 ELSE 0 END) * 200
            > count(*) * 3) AS is_alert
    FROM events GROUP BY 1, 2
    """,
)
def monitor_dlq_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ-rate alerting — the monitor the reference's DLQ setup implies
    but never builds (register-postgres-sink.json routes poison records to
    `DLQ_postgres_sink` and logs them, errors.tolerance=all; nothing
    watches the RATE): per (table, day), poison records as a fraction of
    traffic, alerting when the rate exceeds 1.5% — compared
    CROSS-MULTIPLIED in integers (dlq * 200 > total * 3) so no float
    threshold can flip a verdict at any scale. A tolerance-all pipeline
    without a rate monitor silently converts a schema break into 100%
    data loss; this is the guard.

    One map-side-partial hash aggregate over the changelog (the DLQ flag
    is a row-local expression) — metadata-scale output regardless of log
    size, same plan family as the heartbeat monitor."""
    ch = build_changelog(t(spark, sf_dir, "events"))
    is_dlq = F.coalesce(
        F.col("value").startswith('{"malformed'), F.lit(False)
    )
    g = ch.groupBy(
        route_topic(ch).alias("table_name"),
        F.date_trunc("day", F.col("timestamp")).alias("day_start"),
    ).agg(
        F.count("*").alias("n_records"),
        F.sum(is_dlq.cast("long")).alias("n_dlq"),
    )
    return g.select(
        "table_name",
        "day_start",
        "n_records",
        "n_dlq",
        (F.col("n_dlq") * 200 > F.col("n_records") * 3).alias("is_alert"),
    )


@q(
    "cdc_scd2_lookup",
    f"""
    WITH {CH_CTE},
    dim_src AS (SELECT * FROM ch WHERE table_name = 'entidades'),
    led AS (
      SELECT *, lead(off) OVER (PARTITION BY key_id ORDER BY off) AS next_off
      FROM dim_src
    ),
    dim AS (
      SELECT key_id, off AS vf, next_off - 1 AS vt,
             event_id AS dim_event_id,
             CAST(round(value * 10000) AS BIGINT) AS dim_value_scaled
      FROM led WHERE op <> 'd'
    ),
    fact AS (SELECT key_id, off FROM ch WHERE table_name = 'ventas')
    SELECT f.key_id, f.off AS fact_offset,
           d.dim_event_id, d.dim_value_scaled
    FROM fact f LEFT JOIN dim d
      ON d.key_id = f.key_id AND d.vf <= f.off
     AND (d.vt IS NULL OR f.off <= d.vt)
    """,
)
def cdc_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (the Kimball Type-2 join): every sale
    event is enriched with the customer-dimension VERSION that was live
    when the sale happened — not today's image (that answer changes under
    you) and not a random version. Deleted-key windows yield NULL (a sale
    between the customer's delete and a later re-create has no valid
    dimension row), as do facts before the key's first version.

    The oracle states the semantics as the textbook interval join
    (vf <= fact_offset <= vt). The ENGINE never runs that join — a range
    predicate degenerates to a per-key nested loop (O(facts x versions)).
    Instead, operators/temporal.point_in_time_lookup unions the
    dimension's change markers (deletes carry an explicit not-valid
    marker — last(ignorenulls) alone cannot RESET, so validity rides
    inside the carried struct) with the facts and carries the latest
    marker forward in one key-partitioned window — the same O(n log n)
    shape as join_range_asof, ONE shuffle on the key. Contiguous SCD2
    intervals make carry-forward and interval-join provably equivalent;
    the hash match IS that proof, gaps included (and a hypothesis suite
    pins the operator against a brute-force replay on random histories).
    """
    from cdc_debezium_kafka_airflow_spark.operators.temporal import (
        point_in_time_lookup,
    )

    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    dim = u.filter(F.col("table_name") == "entidades").select(
        "key_id",
        "offset",
        "is_delete",
        F.struct(
            F.col("after.event_id").alias("dim_event_id"),
            F.round(F.col("after.value") * 10000)
            .cast("long")
            .alias("dim_value_scaled"),
        ).alias("payload"),
    )
    facts = u.filter(F.col("table_name") == "ventas").select(
        "key_id", "offset"
    )
    return point_in_time_lookup(dim, facts).select(
        "key_id",
        "fact_offset",
        F.col("payload.dim_event_id").alias("dim_event_id"),
        F.col("payload.dim_value_scaled").alias("dim_value_scaled"),
    )


@q(
    "fn_variant_shred",
    f"""
    WITH base AS (
      SELECT event_id, user_id, value,
             {SQL_TABLE_CASE} AS tbl, {SQL_OP_CASE} AS opc,
             {SQL_IS_MALFORMED} AS malformed,
             {SQL_IS_TOMBSTONE} AS tombstone
      FROM events
    ),
    cls AS (
      SELECT CASE WHEN tombstone THEN 'tombstone'
                  WHEN malformed THEN 'dlq' ELSE 'data' END AS kind,
             CASE WHEN NOT tombstone AND NOT malformed
                  THEN tbl END AS table_name,
             CASE WHEN NOT tombstone AND NOT malformed
                  THEN opc END AS op,
             CASE WHEN NOT tombstone AND NOT malformed AND opc <> 'd'
                  THEN user_id END AS uid,
             CASE WHEN NOT tombstone AND NOT malformed AND opc <> 'd'
                  THEN CAST(round(value * 10000) AS BIGINT) END AS sval
      FROM base
    )
    SELECT kind, table_name, op,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(count(DISTINCT uid) AS BIGINT) AS n_users,
           CAST(coalesce(sum(sval), 0) AS BIGINT) AS sum_value_scaled
    FROM cls GROUP BY kind, table_name, op
    """,
)
def fn_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface over the Debezium envelope — schema-on-read
    CDC consumption: the serialized changelog value parses into the
    half-open VARIANT type (``try_parse_json`` — the deliberately broken
    DLQ fraction yields NULL variants instead of a job failure, the
    PERMISSIVE-parse analog), and typed paths shred out of it with
    ``variant_get`` ('$.payload.op', '$.payload.source.table',
    '$.payload.after.user_id/value'); a field absent from a specific
    record (no ``after`` image on deletes — to_json drops null struct
    fields) reads as NULL rather than erroring, which is exactly why
    VARIANT fits envelopes whose effective schema varies per op.

    The oracle never touches JSON: it re-derives every expected value
    from the fixture's event_id arithmetic (the ser/de twin queries
    already prove the serialization itself), so a hash match proves the
    whole parse->shred->aggregate VARIANT path. Scale: parse+shred is
    map-only and Arrow/codegen-side; the single shuffle is the final
    3-key aggregate with map-side partials."""
    ch = build_changelog(t(spark, sf_dir, "events"))
    v = F.try_parse_json(F.col("value"))
    shred = ch.select(F.col("value"), v.alias("v")).select(
        F.when(F.col("value").isNull(), F.lit("tombstone"))
        .when(F.col("v").isNull(), F.lit("dlq"))
        .otherwise(F.lit("data"))
        .alias("kind"),
        F.variant_get("v", "$.payload.source.table", "string").alias(
            "table_name"
        ),
        F.variant_get("v", "$.payload.op", "string").alias("op"),
        F.variant_get("v", "$.payload.after.user_id", "long").alias("uid"),
        F.variant_get("v", "$.payload.after.value", "double").alias("val"),
    )
    return shred.groupBy("kind", "table_name", "op").agg(
        F.count("*").alias("n_records"),
        F.countDistinct("uid").alias("n_users"),
        F.coalesce(
            F.sum(F.round(F.col("val") * 10000).cast("long")), F.lit(0)
        ).alias("sum_value_scaled"),
    )


@q(
    "cdc_bitemporal_audit",
    f"""
    WITH {CH_CTE},
    t_asof AS (SELECT (max(off) * 3) // 5 AS t FROM ch),
    dim AS (
      SELECT key_id, off, off - (off % 10) * 50 AS v, event_id
      FROM ch WHERE table_name = 'entidades' AND op <> 'd'
    ),
    fact AS (
      SELECT key_id, off, off - (off % 10) * 50 AS v
      FROM ch WHERE table_name = 'ventas' AND op <> 'd'
    ),
    now_l AS (
      SELECT f.key_id, f.off AS fact_off, d.event_id AS dim_now,
             row_number() OVER (PARTITION BY f.key_id, f.off
                                ORDER BY d.v DESC, d.off DESC) AS rn
      FROM fact f LEFT JOIN dim d ON d.key_id = f.key_id AND d.v <= f.v
    ),
    asof_l AS (
      SELECT f.key_id, f.off AS fact_off, d.event_id AS dim_asof,
             row_number() OVER (PARTITION BY f.key_id, f.off
                                ORDER BY d.v DESC, d.off DESC) AS rn
      FROM fact f CROSS JOIN t_asof
      LEFT JOIN dim d ON d.key_id = f.key_id AND d.v <= f.v
                     AND d.off <= t_asof.t
    )
    SELECT n.key_id, n.fact_off, a.dim_asof, n.dim_now,
           (n.dim_now IS DISTINCT FROM a.dim_asof) AS revised
    FROM (SELECT * FROM now_l WHERE rn = 1) n
    JOIN (SELECT * FROM asof_l WHERE rn = 1) a
      ON a.key_id = n.key_id AND a.fact_off = n.fact_off
    """,
)
def cdc_bitemporal_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL attribution audit — the valid-time x transaction-time
    question the SCD2 family cannot ask: for every fact, which dimension
    version attributes it under TODAY's knowledge (all recorded
    corrections) vs what the warehouse believed AS OF transaction
    watermark T (integer 60% of the changelog head)? `revised` marks facts
    whose attribution was retroactively CHANGED by corrections recorded
    after T — the restatement blast radius a finance/compliance reload
    needs before republishing history.

    Valid time is a deterministic synthetic axis (v = off - (off%10)*50;
    the fixture's event time is order-isomorphic to the changelog offset,
    so genuine late-arriving corrections must be planted — the
    dq_ab_ztest calibration precedent). Attribution = latest dim version
    by (v, off) with v <= fact.v, i.e. newest business-effective version,
    newest RECORDING of it on valid-time ties.

    The oracle states both lookups as textbook interval joins + rank-1.
    The ENGINE never runs that join (per-key nested loop at scale):
    each lookup is ONE key-partitioned carry-forward window over the
    union of dim markers and facts ordered by (v, kind, off) — dims sort
    before facts on valid-time ties so v <= fact.v inclusive semantics
    hold; last(payload, ignorenulls) carries the newest version — the
    join_range_asof / point_in_time_lookup O(n log n) shape, one shuffle
    per knowledge state. The as-of pass only adds the off <= T filter
    (map-side, before the shuffle)."""
    from pyspark.sql.window import Window

    # several branches read the parse: parse the wire log once
    u = _unwrapped(spark, sf_dir).persist()
    live = u.filter(~F.col("is_delete"))
    v_of = F.col("offset") - (F.col("offset") % 10) * 50
    dim = live.filter(F.col("table_name") == "entidades").select(
        "key_id",
        "offset",
        v_of.alias("v"),
        F.lit(0).alias("kind"),
        F.struct(F.col("after.event_id").alias("dim_event_id")).alias(
            "payload"
        ),
    )
    facts = live.filter(F.col("table_name") == "ventas").select(
        "key_id",
        "offset",
        v_of.alias("v"),
        F.lit(1).alias("kind"),
        F.lit(None)
        .cast("struct<dim_event_id:long>")
        .alias("payload"),
    )
    t_asof = u.agg(
        F.expr("(max(offset) * 3) div 5").alias("t_watermark")
    )

    def carry(dim_side: DataFrame, out_name: str) -> DataFrame:
        w = (
            Window.partitionBy("key_id")
            .orderBy("v", "kind", "offset")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = F.last("payload", ignorenulls=True).over(w)
        return (
            dim_side.unionByName(facts)
            .select(
                "key_id",
                "offset",
                "kind",
                carried["dim_event_id"].alias(out_name),
            )
            .filter(F.col("kind") == 1)
            .select("key_id", F.col("offset").alias("fact_off"), out_name)
        )

    now_side = carry(dim, "dim_now")
    asof_side = carry(
        dim.crossJoin(F.broadcast(t_asof)).filter(
            F.col("offset") <= F.col("t_watermark")
        ).drop("t_watermark"),
        "dim_asof",
    )
    return now_side.join(asof_side, ["key_id", "fact_off"]).select(
        "key_id",
        "fact_off",
        "dim_asof",
        "dim_now",
        (~F.col("dim_now").eqNullSafe(F.col("dim_asof"))).alias("revised"),
    )
