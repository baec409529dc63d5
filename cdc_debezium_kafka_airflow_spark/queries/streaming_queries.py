"""Structured Streaming queries (SURVEY.md §2 M3) — real streaming jobs
(file-source replay, availableNow trigger, memory sink) whose final results
are batch-comparable, so the tumbling-window and stateful-upsert paths get
full DuckDB oracles despite executing through the streaming engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.queries.common import q
from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import CH_CTE, MAT_CTE
from cdc_debezium_kafka_airflow_spark.queries.ext_queries import DECONTAMINATE_ORACLE
from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
    SQL_IS_MALFORMED,
    SQL_IS_TOMBSTONE,
    SQL_TABLE_CASE,
)
from cdc_debezium_kafka_airflow_spark.operators.cdc import (
    hoist_field,
    parse_envelope,
    split_dlq,
)
from cdc_debezium_kafka_airflow_spark.streaming import jobs

@q(
    "stream_tumbling",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling-window aggregation executed by a streaming query."""
    return jobs.windowed_event_counts(spark, sf_dir)


@q(
    "stream_stream_join",
    """
    SELECT o.o_orderpriority,
           count(*) AS n_lineitems,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
    GROUP BY o.o_orderpriority
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: orders and lineitem as two independent
    watermarked streams, joined on key + event-time window (state evictable
    once the other side's watermark passes the window end)."""
    return jobs.stream_stream_interval_join(spark, sf_dir)


@q(
    "stream_upsert_state",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def stream_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed latest-state CDC materialization in the streaming state store;
    must equal the batch upsert_materialize result."""
    return jobs.streaming_upsert_state(spark, sf_dir)


@q(
    "stream_dedup_exact",
    """
    SELECT event_type, count(*) AS n_unique_events
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication by key within the watermark horizon
    (dropDuplicatesWithinWatermark): at-least-once sources (Kafka redelivery)
    dedupe in bounded state — state TTL = the watermark, so it survives
    unbounded streams."""
    deduped = (
        jobs.events_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique_events"))
    )
    # TWO chained stateful operators (dedup store + agg store) open/commit
    # one state store pair per shuffle partition per trigger — at the
    # session default of 32 that lifecycle dominated this query's
    # wall-clock (r08 watch-trio member; 5.3s -> 1.8s at sf0.1 with the
    # cap). Same sizing arithmetic as the stream-stream joins' parts=4.
    out = jobs._run_to_memory(deduped, "complete", parts="8")
    return out


@q(
    "stream_dlq_audit",
    f"""
    SELECT '{{"malformed":' || CAST(event_id AS VARCHAR) AS payload_json
    FROM events
    WHERE {SQL_IS_MALFORMED} AND NOT {SQL_IS_TOMBSTONE}
    """,
)
def stream_dlq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DLQ side output: parse-failing records quarantined mid-
    stream and hoisted to the audit shape — must quarantine exactly the same
    records as the batch path."""
    dlq = hoist_field(
        split_dlq(parse_envelope(jobs.changelog_stream(spark, sf_dir)))[1]
    )
    return jobs._run_to_memory(dlq, "append")


@q(
    "stream_stateful_pandas_upsert",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def stream_stateful_pandas_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): keyed last-write-
    wins with deletes in user-managed state — must equal upsert_materialize."""
    return jobs.stateful_upsert_apply_in_pandas(spark, sf_dir)


@q(
    "stream_statestore_audit",
    f"""
    WITH {CH_CTE},
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY table_name, key_id
                                   ORDER BY off DESC) AS rn
      FROM ch
    )
    SELECT table_name, key_id, off AS last_offset, (op = 'd') AS is_delete
    FROM latest WHERE rn = 1
    """,
)
def stream_statestore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-state observability: read the upsert job's OWN state store
    (spark.read.format('statestore') over its checkpoint) — every live
    (table, key) buffer including delete markers, without touching the job."""
    return jobs.state_store_audit(spark, sf_dir)


@q(
    "stream_pydatasource_upsert",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def stream_pydatasource_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING source (DataSourceStreamReader: row-position
    offsets, bounded per-trigger advance, executor-parallel partitions)
    feeding the JVM state-store upsert across micro-batches — must equal
    upsert_materialize."""
    return jobs.pydatasource_stream_upsert(spark, sf_dir)


@q(
    "stream_foreachbatch_upsert",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snk_jdbc_upsert analog: per-micro-batch MERGE accumulation via
    foreachBatch (the reference's JDBC upsert sink shape)."""
    return jobs.foreach_batch_upsert(spark, sf_dir)


@q(
    "stream_foreachbatch_upsert_pg",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def stream_foreachbatch_upsert_pg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snk_jdbc_upsert through the SECOND live dialect: the PostgreSQL
    ``INSERT ... ON CONFLICT`` statement the reference sink runs
    (register-postgres-sink.json:15) rendered by
    ``PostgresOnConflictDialect`` and executed VERBATIM against a live
    DuckDB over DB-API (DuckDB shares Postgres's ON CONFLICT dialect) —
    proving the dialect-dispatch seam with a second engine actually
    driving the SQL, not just a rendered string. Same protocol, guard,
    and oracle as the Derby MERGE twin ``stream_foreachbatch_upsert``."""
    return jobs.foreach_batch_upsert(
        spark, sf_dir, max_files_per_trigger=8, engine="duckdb"
    )


@q(
    "ctl_retry_upsert",
    f"""
    WITH {MAT_CTE}
    SELECT * FROM mat
    """,
)
def ctl_retry_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ctl_retry`` (reference DAG ``retries``/``retry_delay``,
    dags/cdc_health_check_dag.py default_args), engine-native: the JDBC
    MERGE sink runs with a fault injector that fails the FIRST attempt of
    every merge micro-batch mid-protocol (after the stage write, before the
    MERGE — a real partial side effect), and ``retrying_foreach_batch``
    absorbs each failure with bounded exponential backoff. The materialized
    table must be byte-identical to the no-fault run — proving retry +
    idempotent-MERGE compose into exactly-once under transient sink
    faults. The oracle is the same upsert materialization SQL."""
    attempt_log: list = []

    def flaky(batch_id: int, attempt: int) -> None:
        if attempt == 1:
            raise RuntimeError(f"injected transient sink fault b{batch_id}")

    out = jobs.foreach_batch_upsert(
        spark,
        sf_dir,
        # 4 micro-batches whatever the wire log's file count (it is the
        # building session's core count): several distinct injected faults
        # + cross-batch state, at a fraction of the per-batch Derby MERGE +
        # doubled-staging overhead of one-file-per-trigger (23.8s -> ~3s
        # for 32 files)
        max_files_per_trigger=-(-jobs.changelog_files(spark, sf_dir) // 4),
        fault_injector=flaky,
        max_attempts=3,
        attempt_log=attempt_log,
        db_suffix="_retry",
    )
    assert attempt_log, "fault injector never fired — retry path untested"
    return out


@q(
    "stream_schema_evolution",
    f"""
    WITH src AS (
      SELECT event_id, user_id, {SQL_TABLE_CASE} AS table_name
      FROM events
      WHERE NOT {SQL_IS_TOMBSTONE} AND NOT {SQL_IS_MALFORMED}
    ),
    last AS (
      SELECT table_name, user_id, max(event_id) AS last_id
      FROM src GROUP BY 1, 2
    )
    SELECT table_name,
           CAST(count(*) AS BIGINT) AS n_live_keys,
           CAST(sum(CASE WHEN last_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_v2_images
    FROM last
    WHERE last_id % 10 != 8  -- live: the key's final record is not a delete
    GROUP BY table_name
    """,
)
def stream_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xf_schema_evolve`` mid-stream (auto.evolve,
    register-postgres-sink.json:13-14): generation-2 micro-batches widen the
    envelope with ``after.ingest_region``; the sink's accumulated state
    widens additively and last-write-wins holds across generations. The
    oracle recomputes live keys + generation-2 image counts from pure
    event_id arithmetic (see jobs.schema_evolving_stream_upsert docstring
    for the shared determinism contract)."""
    return jobs.schema_evolving_stream_upsert(spark, sf_dir)


@q(
    "stream_sliding",
    """
    WITH w AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) - g * INTERVAL 1 DAY
               AS win_start,
             event_type, value
      FROM events, range(2) AS t(g)
    )
    SELECT win_start, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (2-day window, 1-day slide) as a real
    streaming query: each event lands in exactly duration/slide = 2
    overlapping windows. The oracle expands the same assignment relationally
    (event x range(2) -> shifted day buckets). State note: sliding windows
    multiply state rows by duration/slide — watermark TTL is what bounds it
    on unbounded streams."""
    agg = (
        jobs.events_stream(spark, sf_dir)
        .groupBy(
            F.window("ts", "2 days", "1 day").alias("win"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )
    out = jobs._run_to_memory(agg, "complete", parts="8")
    return out.select(
        F.col("win.start").alias("win_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@q(
    "stream_index_append",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_indexed,
           TRUE AS equals_batch_assignment
    FROM embeddings
    """,
)
def stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance: micro-batches of embeddings are
    cell-assigned against the once-trained IVF centroids and appended to a
    cell-partitioned index (partition-local appends, no rebuild — the job
    that keeps a 100 TB vector index fresh). The oracle pins total coverage;
    the streamed-equals-batch flag is computed in-engine by full-outer
    diffing the streamed index against the one-shot assignment."""
    return jobs.streaming_index_append(spark, sf_dir)


@q(
    "stream_semdedup_ingest",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_unaccounted,
           CAST(0 AS BIGINT) AS n_bad_corpus_dup,
           CAST(0 AS BIGINT) AS n_bad_batch_dup,
           CAST(0 AS BIGINT) AS n_bad_new
    FROM embeddings WHERE vec_id % 10 = 9
    """,
)
def stream_semdedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SemDeDup ingestion — third consumer of the shared
    corpus kept-set artifact: micro-batches verdict against the frozen
    artifact plus this stream's own accepted vectors (a growing
    accepted-store between batches). Arrival order replaces the one-shot
    global order, so the oracle is the order-free invariant set shared
    with ext_dedup_semantic_incremental: exact batch accounting + witness
    validity for every verdict class."""
    return jobs.stream_semdedup_ingest(spark, sf_dir)


@q("stream_decontaminate", DECONTAMINATE_ORACLE)
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING eval-set decontamination: incoming documents are screened
    AT INGEST against the benchmark Bloom bitset (built once, shared with
    ext_decontaminate_bloom) — per micro-batch: content-hash split,
    map-side shingle + Bloom prefilter, exact eval equi-join on the
    survivors. Per-doc verdicts are micro-batch-local, so the streamed
    result equals the batch operator's and reuses its EXACT oracle."""
    return jobs.stream_decontaminate(spark, sf_dir)


@q(
    "stream_scd2_upsert",
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
def stream_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD Type 2 sink: changelog micro-batches maintain a
    validity-interval HISTORY table in a live DuckDB via the set-based
    accumulate+repair protocol — ON CONFLICT-idempotent op inserts, then
    one windowed UPDATE...FROM that recomputes the interval chains of
    ONLY the touched keys, which makes the sink tolerant of OUT-OF-ORDER
    micro-batches (the replay's hash-partitioned files deliver offsets
    out of order — the real late-data case). The oracle is the whole-log
    batch SCD2 SQL (cdc_scd2_history's), so any missed close, double
    insert, or wrong interval across micro-batch boundaries flips the
    hash."""
    return jobs.foreach_batch_scd2(spark, sf_dir)


@q(
    "stream_index_append_dedup",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_appended,
           TRUE AS seed_matches_artifact,
           TRUE AS append_matches_assignment
    FROM embeddings WHERE vec_id % 10 = 9
    """,
)
def stream_index_append_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup -> ANN-index lifecycle over ONE shared stored
    artifact: the corpus kept-set (similarity.corpus_kept_set,
    partitioned by assignment cell — the same artifact, same cache key,
    ext_dedup_semantic_incremental verdicts against) file-level SEEDS the
    index store with zero recompute; the daily batch then streams in,
    cell-assigned and appended partition-locally. The oracle pins the
    genuine batch count; the two flags are the in-engine single-join
    audit: seeds match the artifact cell-for-cell, appends match the
    one-shot assignment."""
    return jobs.streaming_index_append_dedup(spark, sf_dir)


@q(
    "stream_domain_quota",
    """
    SELECT doc_id, source AS domain,
           (row_number() OVER (PARTITION BY source ORDER BY doc_id)) <= 15
             AS admitted
    FROM documents
    """,
)
def stream_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-domain admission quota (stateful rate limiting): each
    arriving doc is admitted iff its domain has admitted < 15 so far —
    per-tenant ingest caps / crawl politeness budgets as a custom
    applyInPandasWithState operator with a ONE-counter state per domain.
    Arrival order is deterministic (doc_id-range replay files), so the
    oracle recomputes the admitted set with a window rank."""
    return jobs.stream_domain_quota(spark, sf_dir, cap=15)


@q(
    "stream_late_data_drop",
    """
    WITH wm1 AS (
      SELECT max(ts) - INTERVAL 2 DAY AS w FROM events
      WHERE ts < '2024-01-09'
         OR (ts >= '2024-01-14' AND ts < '2024-01-15')
    ),
    wmf AS (SELECT max(ts) - INTERVAL 2 DAY AS w FROM events),
    kept AS (
      SELECT * FROM events e
      WHERE NOT (
        e.ts >= '2024-01-09' AND e.ts < '2024-01-14'
        AND CAST(date_trunc('day', e.ts) AS TIMESTAMP) + INTERVAL 1 DAY
              <= (SELECT w FROM wm1)
      )
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type, count(*) AS n_events
    FROM kept
    WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
            <= (SELECT w FROM wmf)
    GROUP BY 1, 2
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROPS, actually exercised: a 4-file replay
    delivers days 9-13 in the THIRD micro-batch, after day 14 has advanced
    the watermark into day 12 — days 9-11 drop (window end below the
    watermark), days 12-13 survive; the final append emits every window
    closed by the end watermark. The oracle recomputes both cuts from the
    exact closed-form watermark (max(seen prefix) - 2 days); the pinned
    Spark drop semantics are documented in jobs.stream_late_data_drop."""
    return jobs.stream_late_data_drop(spark, sf_dir)


@q(
    "stream_stream_left_outer",
    """
    WITH wm AS (
      SELECT least((SELECT max(o_orderdate) FROM orders),
                   (SELECT max(l_shipdate) FROM lineitem))
             - INTERVAL 30 DAY AS w
    ),
    m AS (
      SELECT o.o_orderkey, o.o_orderpriority, o.o_orderdate,
             count(l.l_orderkey) AS nl,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM orders o LEFT JOIN lineitem l
        ON l.l_orderkey = o.o_orderkey
       AND l.l_shipdate >= o.o_orderdate
       AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
      GROUP BY 1, 2, 3
    )
    SELECT o_orderpriority,
           CAST(sum(nl) AS BIGINT) AS n_lineitems,
           round(sum(rev), 2) AS revenue,
           CAST(sum(CASE WHEN nl = 0
                          AND o_orderdate + INTERVAL 120 DAY
                                < (SELECT w FROM wm)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_orders
    FROM m GROUP BY 1
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: matched pairs emit with
    inner semantics; an UNMATCHED order emits null-extended only once the
    joint watermark (min of both sides' watermark = least(max o_orderdate,
    max l_shipdate) - 30d) proves no future lineitem can land in its
    120-day window — orders whose window is still open at end-of-replay
    stay in state and do not emit. The oracle reproduces exactly that
    eviction cut relationally."""
    return jobs.stream_stream_left_outer_join(spark, sf_dir)


@q(
    "stream_chained_agg",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 1 DAY AS w FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
             sum(CAST(round(value * 10000) AS BIGINT)) AS ss
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day_start,
             event_type,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(sum(ss) AS BIGINT) / 10000.0 AS sum_value,
             count(*) AS n_hours_active
      FROM hourly GROUP BY 1, 2
    )
    SELECT day_start, event_type, n_events, sum_value, n_hours_active
    FROM daily, wm WHERE day_start + INTERVAL 1 DAY <= wm.w
    """,
)
def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful windowed aggregations chained inside ONE streaming
    query (Spark 3.4+): hourly per-type counts re-aggregated into daily
    totals without leaving the stream — the continuous-rollup topology
    that classically needs two jobs and an intermediate topic. Append
    mode end-to-end; the oracle reproduces the emission cut (daily
    windows whose end the joint watermark passed) and the per-day values
    (integer-scaled sums, so hourly->daily re-aggregation is exact)."""
    return jobs.chained_window_aggs(spark, sf_dir)


@q(
    "stream_stateful_restart",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 1 DAY AS w FROM events)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type, count(*) AS n_events
    FROM events, wm
    GROUP BY 1, 2
    HAVING CAST(date_trunc('day', any_value(ts)) AS TIMESTAMP)
             + INTERVAL 1 DAY <= any_value(wm.w)
    """,
)
def stream_stateful_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-aggregation STATE survives a query restart: phase 1 stops
    mid-stream, a new query on the same checkpoint restores window state +
    watermark, and the final emission equals a never-restarted run (full
    counts for every window the end watermark closed)."""
    return jobs.stateful_restart_windowed(spark, sf_dir)


@q(
    "stream_dual_sink",
    """
    WITH g AS (
      SELECT o_orderstatus, count(*) AS n_orders,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) / 100.0, 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT o_orderstatus, n_orders, revenue, 'bronze' AS sink FROM g
    UNION ALL
    SELECT o_orderstatus, n_orders, revenue, 'silver' FROM g
    """,
)
def stream_dual_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medallion fan-out: one trigger, two sinks (raw bronze append +
    aggregated silver) multiplexed inside foreachBatch over a persisted
    batch image — both sinks provably carry the same truth (the oracle
    compares each against the batch table)."""
    return jobs.dual_sink_medallion(spark, sf_dir)


@q(
    "stream_checkpoint_recovery",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           count(DISTINCT o_orderkey) AS n_distinct_keys,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a query restart: half the input commits, the
    query dies, a NEW query resumes from the same checkpoint and must
    process only the unseen files — duplicates or gaps hash-fail against
    the plain batch table (n_distinct_keys == n_orders is part of the
    compared output)."""
    return jobs.stream_checkpoint_recovery(spark, sf_dir)


@q(
    "stream_dim_refresh",
    """
    SELECT o_orderstatus,
           CASE WHEN o_orderkey % 2 = 0 THEN 'v1_' ELSE 'v2_' END
             || o_orderstatus AS label,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def stream_dim_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream dimension refresh via per-batch re-read inside
    foreachBatch: phase-1 rows (even keys) provably joined dim v1,
    phase-2 rows (odd keys) v2 — the closed-form oracle pins exactly
    which rows saw which dimension version."""
    return jobs.stream_dim_refresh(spark, sf_dir)


@q(
    "stream_stream_full_outer",
    """
    WITH wm AS (
      SELECT least((SELECT max(o_orderdate) FROM orders),
                   (SELECT max(l_shipdate) FROM lineitem))
             - INTERVAL 30 DAY AS w
    ),
    m AS (
      SELECT o.o_orderkey, o.o_orderpriority, o.o_orderdate,
             count(l.l_orderkey) AS nl,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM orders o LEFT JOIN lineitem l
        ON l.l_orderkey = o.o_orderkey
       AND l.l_shipdate >= o.o_orderdate
       AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
      GROUP BY 1, 2, 3
    ),
    prio AS (
      SELECT o_orderpriority,
             CAST(sum(nl) AS BIGINT) AS n_lineitems,
             round(sum(rev), 2) AS revenue,
             CAST(sum(CASE WHEN nl = 0
                            AND o_orderdate + INTERVAL 120 DAY
                                  < (SELECT w FROM wm)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_orders
      FROM m GROUP BY 1
    ),
    lu AS (
      SELECT CAST(NULL AS VARCHAR) AS o_orderpriority,
             count(*) AS n_lineitems,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             CAST(0 AS BIGINT) AS n_unmatched_orders
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey
                          AND l.l_shipdate >= o.o_orderdate
                          AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY)
        AND l.l_shipdate < (SELECT w FROM wm)
      HAVING count(*) > 0
    )
    SELECT * FROM prio UNION ALL SELECT * FROM lu
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: both sides watermarked, both
    unmatched sides emit null-extended exactly when the joint watermark
    proves no future match can arrive (orders at window-close + 120d,
    lineitems at their own shipdate — o_orderdate <= l_shipdate binds).
    The oracle reproduces both eviction cuts relationally; rows still in
    state at end-of-replay do not emit, matching the HAVING/wm guards."""
    return jobs.stream_stream_full_outer_join(spark, sf_dir)


@q(
    "stream_stream_semi",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate >= o.o_orderdate
        AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
    )
    GROUP BY 1
    """,
)
def stream_stream_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join: an order emits once on its
    first in-window lineitem — the final distinct set is exactly EXISTS."""
    return jobs.stream_stream_semi_anti_join(spark, sf_dir, "left_semi")


@q(
    "stream_static_join",
    """
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the events stream joins a
    broadcast batch dimension (customer) in every micro-batch — stateless,
    map-side, no shuffle of the stream (the CDC topic -> warehouse-dim
    enrichment topology of the reference's sink DAGs)."""
    return jobs.stream_static_dim_join(spark, sf_dir)


@q(
    "stream_session_timeout",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 12 HOUR
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    sess AS (
      SELECT user_id, sid,
             min(ts) AS session_start, max(ts) AS session_last,
             CAST(count(*) AS BIGINT) AS n_events,
             max(sid) OVER (PARTITION BY user_id) AS max_sid
      FROM g GROUP BY user_id, sid
    ),
    m AS (SELECT max(ts) AS mx FROM events)
    SELECT user_id, session_start, session_last, n_events
    FROM sess, m
    WHERE sid < max_sid                                  -- in-data close
       OR session_last + INTERVAL 12 HOUR <= mx - INTERVAL 1 HOUR -- timeout
    """,
)
def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization finalized by EVENT-TIME TIMEOUT (GroupStateTimeout.
    EventTimeTimeout) — completes the arbitrary-state API matrix beyond the
    NoTimeout stateful jobs. Four chronological replay batches advance the
    watermark so timeouts genuinely fire; a session emits on in-data close
    (next event beyond the 12 h gap — the batch sessionize_events twin's
    gap, so the two cross-validate) or on timeout (watermark passed
    last + gap). The oracle reproduces both cuts: every non-final session
    emits, and a user's FINAL session emits iff last + gap <= final
    watermark (global max ts - 1h delay) — the exact cut pinned against
    this build. Open sessions correctly never emit; at 100 TB they are
    the still-active users."""
    return jobs.stream_session_timeout(spark, sf_dir)


from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import (  # noqa: E402
    TXN_GATE_ORACLE,
)


@q("stream_txn_consistent", TXN_GATE_ORACLE)
def stream_txn_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction gate ACROSS micro-batches (streaming twin of
    ``cdc_txn_consistent`` — same oracle): a 4-slice chronological replay
    where each batch applies only transactions proven committed by later
    arrivals and parks the in-flight tail in a pending buffer the next
    batch drains. A transaction straddling a batch boundary is never
    half-applied; pending state is bounded by one group commit, not by
    history. Hash-equality with the batch gate proves the cross-batch
    buffering loses and leaks nothing (streaming/jobs.py
    txn_consistent_stream)."""
    return jobs.txn_consistent_stream(spark, sf_dir)


@q(
    "stream_ab_ztest",
    """
    WITH e AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type, variant,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s1,
             CAST(sum(cents * cents) AS BIGINT) AS s2
      FROM e GROUP BY event_type, variant
    ),
    w AS (
      SELECT a.event_type, a.n AS n_a, b.n AS n_b,
             CAST(a.s1 AS DOUBLE) / a.n AS ma,
             CAST(b.s1 AS DOUBLE) / b.n AS mb,
             CAST(a.s2 AS DOUBLE) / a.n
               - (CAST(a.s1 AS DOUBLE) / a.n)
                 * (CAST(a.s1 AS DOUBLE) / a.n) AS va,
             CAST(b.s2 AS DOUBLE) / b.n
               - (CAST(b.s1 AS DOUBLE) / b.n)
                 * (CAST(b.s1 AS DOUBLE) / b.n) AS vb
      FROM g a JOIN g b
        ON a.event_type = b.event_type
       AND a.variant = 0 AND b.variant = 1
    )
    SELECT event_type, n_a, n_b,
           round(ma / 100, 6) AS mean_a, round(mb / 100, 6) AS mean_b,
           round((ma - mb) / sqrt(va / n_a + vb / n_b), 6) AS z_null,
           (abs(round((ma - mb) / sqrt(va / n_a + vb / n_b), 6)) > 1.96)
             AS sig_null,
           round((ma - (mb + 3000.0)) / sqrt(va / n_a + vb / n_b), 6)
             AS z_planted,
           (abs(round((ma - (mb + 3000.0))
                      / sqrt(va / n_a + vb / n_b), 6)) > 1.96)
             AS sig_planted
    FROM w
    """,
)
def stream_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS experiment monitoring: the A/B z-test's sufficient
    statistics (exact int64-cents n/Σx/Σx² per (event_type, variant))
    live as streaming state in a complete-mode aggregation — each
    micro-batch folds into 10 integer state rows, and the z readout runs
    on the materialized state (shared scalar tree with the batch
    `dq_ab_ztest`, whose oracle this must hash-match exactly: the
    moment-form statistic is replay-order invariant, which is precisely
    why production experiment dashboards store moments, not samples)."""
    from cdc_debezium_kafka_airflow_spark.queries.relational3 import (
        ab_ztest_readout,
    )

    return ab_ztest_readout(jobs.streaming_ab_moments(spark, sf_dir))


@q(
    "stream_rolling_distinct",
    """
    WITH d AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM d)
    SELECT CAST(t.day AS TIMESTAMP) AS day,
           CAST((SELECT count(DISTINCT s.user_id) FROM d s
                 WHERE s.day <= t.day
                   AND s.day >= t.day - INTERVAL 6 DAY) AS BIGINT)
             AS users_7d,
           CAST((SELECT count(DISTINCT s.user_id) FROM d s
                 WHERE s.day = t.day) AS BIGINT) AS users_1d
    FROM days t
    """,
)
def stream_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users maintained incrementally across
    micro-batches via mergeable bitmap state (the streaming twin of
    win_rolling_distinct): every batch is an event_id slice touching ALL
    days, so per-day bitmaps are partial in every batch and the final
    OR-merge must reconstruct the exact batch answer — the oracle is the
    same correlated COUNT(DISTINCT), blind to the batch split."""
    return jobs.stream_rolling_distinct(spark, sf_dir)
