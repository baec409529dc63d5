"""Third wave of warehouse/curation surface: multi-region volume join
(TPC-H Q5 shape), cohort retention, curriculum staging.

Reference parity: the reference materializes its CDC stream into a
Postgres warehouse whose tables are the analytical query surface
(/root/reference readme.md:14 — JDBC Sink Connector into Postgres;
dags/cdc_data_integrity_dynamic_dag.py:50 shows the hook-SQL access
idiom, fanned out per table via Dynamic Task Mapping); these queries
exercise that same relational surface at star-join width (6 tables) and
event-analytics depth (cohort retention), re-expressed as Catalyst
plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.queries.common import q, t
from cdc_debezium_kafka_airflow_spark.queries.ext_queries import NORM
from cdc_debezium_kafka_airflow_spark.operators.text import text_metrics

@q(
    "q5_regional_volume",
    """
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table star join: local-supplier volume by nation
    within one region and a 2-year order window.

    Scale posture: region/nation are broadcast (tiny dims — the filter on
    r_name prunes nations BEFORE the fact join, so the n_nationkey IN-set
    reaches the supplier/customer scans); the date filter is pushed into
    the orders parquet scan; the big fact-fact joins (lineitem-orders,
    then customer/supplier) shuffle on their keys and AQE picks
    broadcast for whatever side turns out small after filtering. No
    cartesian anywhere — the c_nationkey = s_nationkey local-supplier
    predicate rides the supplier equi-join as a second conjunct.
    """
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    customer = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lineitem = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_lineitems"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


@q(
    "retention_cohort",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(datediff('day', CAST(f.cohort_week AS DATE),
                         CAST(e.ts AS DATE)) // 7 AS INT) AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen week, activity counted
    per week offset — the standard event-analytics retention triangle.

    Scale posture: two shuffles, both on user_id — the first-seen agg and
    the self-join reuse the same hash partitioning (Catalyst's
    ReusedExchange / EnsureRequirements collapses the second exchange
    when the join keys match the agg keys), and the final distinct-count
    agg is partial-aggregated map-side. The firsts side is exactly one
    row per user, so at 100 TB it is the small side and AQE broadcast
    kicks in when the user dimension fits.
    """
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = ev.join(firsts, "user_id")
    return (
        joined.select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_week").cast("date"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


@q(
    "ext_curriculum_stages",
    f"""
    WITH d AS (SELECT doc_id, {NORM} AS t FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(string_split(t, ' ')) AS INT) AS n_tokens,
             (length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')))
               / greatest(length(t), 1) AS punct_ratio,
             CAST(len(list_filter(string_split(t, ' '),
                  w -> w IN ('the','a','of','and','to','in','is','on'))) AS INT)
               AS n_stopwords
      FROM d
    ),
    s AS (
      SELECT doc_id, n_tokens,
             round(0.5 * least(n_tokens / 200.0, 1.0)
                   + 0.3 * least(n_stopwords / greatest(n_tokens, 1) * 5, 1.0)
                   + 0.2 * (1.0 - punct_ratio), 6) AS quality_score
      FROM m
    )
    SELECT CAST(least(greatest(floor(quality_score * 10), 0), 9) AS INT)
             AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round(avg(quality_score), 4) AS avg_quality
    FROM s
    GROUP BY 1
    """,
)
def ext_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging for training-data ordering: every document is
    assigned a quality band (fixed 0.1-wide thresholds on the shared
    quality score) and the corpus is summarized per stage.

    Scale posture: band assignment is MAP-ONLY (fixed thresholds — no
    global sort, no ntile; a decile-based curriculum would need a
    sampled-quantile pre-pass, which is exactly what
    ext_length_band_filter demonstrates). One partial-agg shuffle over
    ≤10 groups. At 100 TB the stage id doubles as the output partition
    key, so the downstream trainer reads stages sequentially without a
    sort.
    """
    scored = text_metrics(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "quality_score"
    )
    staged = scored.withColumn(
        "stage",
        F.least(
            F.greatest(F.floor(F.col("quality_score") * 10), F.lit(0)),
            F.lit(9),
        ).cast("int"),
    )
    return staged.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
    )


@q(
    "join_bloom_pruned",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           round(sum(l_extendedprice), 2) AS gross
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join with an AQE runtime bloom filter: the selective dim-side
    predicate (URGENT orders) is turned into a `bloom_filter_agg` subquery
    whose `might_contain` probe filters the FACT SCAN before the shuffle —
    at 100 TB the lineitem side sheds ~80% of its rows pre-exchange instead
    of shuffling them to die in the join.

    The injection thresholds are sized for real tables, so for the local
    fixture they are temporarily lowered; the physical plan is forced while
    they hold (QueryExecution memoizes it) and the session confs are
    restored before returning. The plan guard asserts `might_contain` on
    the application side.
    """
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice"
        )
        orders = t(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_lineitems"),
                F.round(F.sum("l_extendedprice"), 2).alias("gross"),
            )
        )
        # pin the plan under the lowered thresholds (memoized in
        # QueryExecution) so the conf restore below can't undo the filter
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            conf.set(k, v)


@q(
    "ctl_sla_misses",
    """
    WITH s AS (
      SELECT DISTINCT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS slot
      FROM events
    ),
    b AS (
      SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, g.slot
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot FROM b
      ) g
    )
    SELECT grid.event_type,
           CAST(count(*) AS BIGINT) AS n_expected,
           CAST(sum(CASE WHEN s.slot IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missed,
           min(CASE WHEN s.slot IS NULL THEN grid.slot END) AS first_missed
    FROM grid LEFT JOIN s
      ON grid.event_type = s.event_type AND grid.slot = s.slot
    GROUP BY 1
    """,
)
def ctl_sla_misses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA-miss detection — the Airflow scheduler health question ("which
    scheduled runs never happened?", reference dags/* pin */2 and */5 cron
    schedules) over an hourly heartbeat grid: every event_type is expected
    to land at least one event per hour between the global first and last
    heartbeat; emit expected/missed counts and the first missed slot.

    Scale posture: the expected grid is calendar-bounded (types x hours —
    thousands of rows regardless of data size) built from a 1-row bounds
    agg and an exploded sequence; the observed side collapses to DISTINCT
    (type, slot) BEFORE the join (shuffle carries one row per non-empty
    slot, not per event), and the left join broadcasts the tiny grid.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("slot")
    )
    observed = ev.distinct()
    types = ev.select("event_type").distinct()
    bounds = ev.agg(
        F.min("slot").alias("lo"), F.max("slot").alias("hi")
    )
    grid = types.crossJoin(
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("slot")
        )
    )
    j = grid.join(
        observed.withColumnRenamed("slot", "seen_slot"),
        (grid.event_type == observed.event_type)
        & (grid.slot == F.col("seen_slot")),
        "left",
    ).select(grid.event_type, grid.slot, "seen_slot")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_expected"),
        F.sum(F.when(F.col("seen_slot").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missed"),
        F.min(F.when(F.col("seen_slot").isNull(), F.col("slot"))).alias(
            "first_missed"
        ),
    )


@q(
    "fn_xml_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(event_id) AS BIGINT) AS max_event_id,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML serialization surface (Spark 4 native to_xml/from_xml): every
    event row is serialized to an XML record and parsed back, and the
    aggregate over the round-tripped rows must equal the direct aggregate
    (identity oracle) — proving the XML writer/parser preserve longs and
    doubles exactly. Connect-style pipelines meet XML payloads at the
    edges (legacy JMS/SOAP feeds into the same topics the reference's
    JSON converter serves).

    Scale posture: to_xml/from_xml are JVM expressions inside whole-stage
    codegen — per-row, no shuffle until the final agg, no Python.
    """
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    xml = ev.select(
        F.to_xml(F.struct("event_id", "event_type", "value")).alias("x")
    )
    parsed = xml.select(
        F.from_xml(
            "x", "event_id BIGINT, event_type STRING, value DOUBLE"
        ).alias("r")
    ).select("r.*")
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@q(
    "win_rolling_time",
    """
    SELECT o_orderkey,
           o_custkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ), 2) AS rolling_30d_spend
    FROM orders
    """,
)
def win_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling aggregate: each order carries its customer's
    trailing-30-day spend — a RANGE frame over event time (peers at the
    same timestamp all included), not a ROWS frame.

    Scale posture: one shuffle on o_custkey, then a per-partition sort of
    that customer's orders only — no global sort. Spark's rangeBetween
    needs a numeric ordering column, so the frame runs over unix seconds
    with an inclusive 30-day lower bound, exactly DuckDB's
    INTERVAL PRECEDING semantics.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_30d_spend"),
    )


@q(
    "join_null_safe",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM (SELECT CASE WHEN user_id % 50 = 0 THEN NULL ELSE user_id END AS k,
                 value
          FROM events) e
    JOIN (SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END
                   AS ck,
                 c_mktsegment
          FROM customer) c
      ON e.k IS NOT DISTINCT FROM c.ck
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    each other instead of dropping — the CDC-relevant corner where a
    nullable business key must still correlate (Debezium emits NULL for
    unset columns; a plain equi-join silently loses those rows).

    Scale posture: Spark plans eqNullSafe as a HASH join on the
    null-wrapped key (not a nested loop) — it shuffles like any equi-join.
    The NULL group is a deliberate hot key; in production you'd salt it
    (join_skew_salted shows the pattern) if nulls dominate.
    """
    ev = t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 50 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    )
    cust = t(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 50 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("ck"),
        "c_mktsegment",
    )
    return (
        ev.join(cust, ev.k.eqNullSafe(cust.ck))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@q(
    "fn_unpivot",
    """
    WITH m AS (
      SELECT p_brand, 'retailprice' AS metric, p_retailprice AS metric_value
      FROM part
      UNION ALL
      SELECT p_brand, 'size' AS metric, CAST(p_size AS DOUBLE) AS metric_value
      FROM part
    )
    SELECT p_brand, metric,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(metric_value), 2) AS total,
           round(avg(metric_value), 4) AS mean
    FROM m GROUP BY 1, 2
    """,
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (wide -> long): numeric part attributes melted into
    (metric, value) rows then profiled per brand — the data-profiling
    reshape. Spark's native `DataFrame.unpivot` expands rows map-side
    (an Expand node — no shuffle, no UNION re-scan of the table; the
    UNION ALL in the oracle is the relational spelling, not the plan).
    """
    part = t(spark, sf_dir, "part").select(
        "p_brand",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    melted = part.unpivot(
        ["p_brand"], ["retailprice", "size"], "metric", "metric_value"
    )
    return melted.groupBy("p_brand", "metric").agg(
        F.count("*").alias("n"),
        F.round(F.sum("metric_value"), 2).alias("total"),
        F.round(F.avg("metric_value"), 4).alias("mean"),
    )


@q(
    "sessionize_events",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 12 HOUR THEN 1 ELSE 0 END
               AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s2 AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s)
    SELECT user_id, session_seq, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM s2 GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap > 12h starts a new session) — the
    lag-flag-cumsum idiom that turns an event log into sessions without any
    self-join. Batch twin of streaming `session_window` aggregation
    (stream_session_window); the reference's event analytics would run this
    over the warehouse (readme.md:22-25).

    Scale posture: ONE shuffle on user_id serves both window functions AND
    the final per-session aggregate (same partitioning key prefix); the
    per-user sort is partition-local. Timestamp gaps compare as exact
    microsecond intervals — no float time arithmetic to diverge between
    engines."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.col("ts") - prev) > F.expr("INTERVAL 12 HOURS")),
        F.lit(1),
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        e.withColumn("new_sess", new_sess)
        .withColumn("session_seq", F.sum("new_sess").over(cum).cast("long"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@q(
    "agg_heavy_hitters",
    """
    WITH tot AS (SELECT count(*) AS n FROM lineitem)
    SELECT l_partkey, count(*) AS cnt,
           round(count(*) * 1.0 / any_value(tot.n), 6) AS support
    FROM lineitem, tot
    GROUP BY l_partkey
    HAVING count(*) * 4000 > 3 * any_value(tot.n)
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: keys whose support exceeds 0.075% of the corpus
    (cnt*4000 > 3*n — pure integer arithmetic, so membership can never flip
    on a float rounding between engines).

    Scale posture: ONE partial-aggregated shuffle on the key builds the
    count table; the 1-row corpus total broadcasts into the threshold
    filter. This is the exact verifier a production pipeline runs behind a
    count-min-sketch prefilter; at 100 TB the sketch bounds the candidate
    set and this query confirms it."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    tot = li.agg(F.count("*").alias("n"))
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(tot))
        .filter(F.col("cnt") * 4000 > 3 * F.col("n"))
        .select(
            "l_partkey",
            "cnt",
            F.round(F.col("cnt") * 1.0 / F.col("n"), 6).alias("support"),
        )
    )


@q(
    "dq_anomaly_iqr",
    """
    WITH q AS (
      SELECT event_type,
             round(quantile_cont(value, 0.25), 6) AS q1,
             round(quantile_cont(value, 0.75), 6) AS q3
      FROM events GROUP BY 1
    )
    SELECT e.event_type, q1, q3,
           CAST(count(CASE WHEN e.value < q1 - 1.5*(q3-q1)
                            OR e.value > q3 + 1.5*(q3-q1) THEN 1 END)
                AS BIGINT) AS n_outliers,
           count(*) AS n_rows
    FROM events e JOIN q USING(event_type)
    GROUP BY 1, 2, 3
    """,
)
def dq_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per metric family: exact interpolated
    quartiles, fences at 1.5*IQR, violation counts — the statistical
    data-quality check that complements dq_validation's rule-based gate.

    Cross-engine determinism: quartiles are rounded to 6dp on BOTH sides
    BEFORE fence arithmetic, so the fences are bit-identical doubles and
    every comparison resolves the same way in both engines.

    Scale posture: the quartile aggregate is one shuffle on event_type
    (exact percentile needs the group's values — at 100 TB swap in
    approx_percentile with a pinned accuracy, same query shape); the tiny
    per-type fence table broadcasts back onto the scan."""
    e = t(spark, sf_dir, "events").select("event_type", "value")
    qdf = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    outlier = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        e.join(F.broadcast(qdf), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.when(outlier, F.lit(1))).alias("n_outliers"),
            F.count("*").alias("n_rows"),
        )
    )


@q(
    "ts_gap_fill",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             round(sum(CAST(round(value * 1000000) AS BIGINT))
                   / (count(*) * 1000000.0), 6) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(h) AS hmin, max(h) AS hmax FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    j AS (
      SELECT g.event_type, g.h, hourly.v
      FROM grid g LEFT JOIN hourly
        ON hourly.event_type = g.event_type AND hourly.h = g.h
    ),
    f AS (
      SELECT event_type, h, v,
        last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
            OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
            OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM j
    )
    SELECT event_type, h,
      CASE WHEN v IS NOT NULL THEN v
           WHEN pv IS NULL THEN nv
           WHEN nv IS NULL THEN pv
           ELSE round(pv + (nv - pv) * (epoch(h) - epoch(ph))
                           / (epoch(nh) - epoch(ph)), 6)
      END AS value_filled,
      (v IS NULL) AS interpolated
    FROM f
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with LINEAR INTERPOLATION: hourly averages per
    metric family on a dense calendar grid; missing hours take
    prev + (next-prev) * elapsed/spanned between their nearest observed
    neighbors (edges carry the nearest value). The monitoring-dashboard
    densify step the reference's latency DAGs would feed
    (dags/kafka_latency_monitor.py:64-88 emits per-minute lag samples).

    Cross-engine determinism: hourly averages are rounded to 6dp BEFORE
    interpolation, epochs are exact integer seconds, and the interpolation
    expression is written with identical operation order in both engines.

    Scale posture: the grid explodes per GROUP (bounded: hours in range),
    not per row. Three exchanges, all keyed on the metric family: the
    hourly pre-aggregate (event_type, h), the per-family bounds aggregate,
    and the grid-join + neighbor windows (event_type) — each is
    family-partitioned, so at 100 TB the widest shuffle carries the HOURLY
    table (calendar x families), never raw events; all four neighbor
    lookups share the final partition-local sort.
    """
    e = t(spark, sf_dir, "events")
    # hourly average via per-row integer scaling (ROADMAP #7): the raw
    # double avg rounds differently across engines when the sum's last ulp
    # straddles a 6th-decimal boundary (observed at sf0.1); integer-scaled
    # sums are partition-order-exact, so the avg is bit-identical
    hourly = (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(
            F.round(
                F.sum(F.round(F.col("value") * 1000000).cast("long"))
                / (F.count("*") * F.lit(1000000.0)),
                6,
            ).alias("v")
        )
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
        .select(
            "event_type",
            F.explode(
                F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    j = grid.join(hourly, ["event_type", "h"], "left")
    wb = Window.partitionBy("event_type").orderBy("h")
    back = wb.rowsBetween(Window.unboundedPreceding, 0)
    fwd = wb.rowsBetween(0, Window.unboundedFollowing)
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    f = j.select(
        "event_type",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(back).alias("ph"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(fwd).alias("nh"),
    )
    ep = lambda c: F.unix_timestamp(c).cast("double")  # noqa: E731
    interp = F.round(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (ep("h") - ep("ph"))
        / (ep("nh") - ep("ph")),
        6,
    )
    return f.select(
        "event_type",
        "h",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(interp)
        .alias("value_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


@q(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS to_type
      FROM events
    ),
    cnt AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM cnt
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current) — the behavioral-model / anomaly-baseline
    primitive of event analytics.

    Scale posture: one shuffle on user_id for the lead() sequencing, one
    partial-aggregated shuffle on (from,to) for the counts; the
    normalizing row-sum runs over the |types|^2-sized count table, not the
    event log. No event ts ties exist per user (canary-pinned fixture), so
    lead() is deterministic."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wsum = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wsum), 6).alias("p"),
    )


def _aqe_skew_parts(spark: SparkSession, sf_dir: str):
    """Skewed fact + non-broadcastable join for the AQE skew-split demo:
    ~70% of lineitem lands on one hot key; the merge hint keeps it a
    sort-merge join so the hot partition is AQE's problem to split.

    Three conditions, each discovered the hard way, make the runtime split
    actually fire — all three ARE the 100 TB lessons:
    - the fact scan is repartition(8)'d first: AQE splits a skewed reduce
      partition BY MAP-OUTPUT CHUNKS, so a single-mapper stage (one small
      parquet file here; one giant unsplit file in production) is
      unsplittable no matter how skewed;
    - the payload is high-entropy (price-derived bigint): skew detection
      runs on COMPRESSED shuffle bytes, and a low-entropy column can
      compress a hot partition below the threshold;
    - the dim side is localCheckpoint'd: OptimizeSkewedJoin pattern-matches
      SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) only — an aggregate
      between shuffle and sort on either side defeats it."""
    li = t(spark, sf_dir, "lineitem").repartition(8)
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("skew_key"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("long") * 100000
            + F.col("l_orderkey")
        ).alias("payload"),
    )
    dim = (
        fact.select("skew_key")
        .distinct()
        .withColumn("dim_attr", F.col("skew_key") % 97)
        .localCheckpoint()
    )
    joined = fact.join(dim.hint("merge"), "skew_key")
    return joined.groupBy(
        F.when(F.col("skew_key") == 0, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("payload").alias("sum_payload"),
        F.sum("dim_attr").alias("sum_attr"),
    )


_AQE_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
}


@q(
    "join_aqe_skew",
    """
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey END
               AS skew_key,
             CAST(round(l_extendedprice * 100) AS BIGINT) * 100000
               + l_orderkey AS payload
      FROM lineitem
    ),
    dim AS (SELECT DISTINCT skew_key, skew_key % 97 AS dim_attr FROM fact)
    SELECT CASE WHEN f.skew_key = 0 THEN 'hot' ELSE 'cold' END AS bucket,
           count(*) AS n_rows,
           CAST(sum(f.payload) AS BIGINT) AS sum_payload,
           CAST(sum(d.dim_attr) AS BIGINT) AS sum_attr
    FROM fact f JOIN dim d ON f.skew_key = d.skew_key
    GROUP BY 1
    """,
)
def join_aqe_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join split — the NO-REWRITE answer to skew that
    complements join_skew_salted's manual salting: the optimizer detects
    the hot partition from runtime shuffle statistics and splits it across
    reducers (SortMergeJoin marked skew=true, pinned by
    tests/test_scale_plans.py::test_aqe_splits_skewed_join). At 100 TB this
    is the first line of defense (zero code change); salting remains for
    the case AQE cannot fix (a hot key the DIM side must replicate for).

    The skew-split run executes HERE, under demo-scaled thresholds (the
    fixture's hot partition is MBs, not the 256MB production default), and
    the confs are restored before returning so no other query inherits a
    64KB advisory partition size; the frozen result is what the oracle
    compares."""
    prev = {k: spark.conf.get(k, None) for k in _AQE_SKEW_CONFS}
    for k, v in _AQE_SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        agg = _aqe_skew_parts(spark, sf_dir)
        rows = agg.collect()
        schema = agg.schema
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, schema)


@q(
    "agg_cms_estimate",
    """
    WITH params AS (
      SELECT * FROM (VALUES (0, 31, 7), (1, 37, 11), (2, 41, 13), (3, 43, 17))
        AS t(depth, a, b)
    ),
    cms AS (
      SELECT p.depth, ((p.a * l.l_partkey + p.b) % 104729) % 2048 AS bucket,
             count(*) AS c
      FROM lineitem l, params p
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT l_partkey, count(*) AS exact_cnt
      FROM lineitem GROUP BY 1
      HAVING count(*) * 4000 > 3 * (SELECT count(*) FROM lineitem)
    ),
    est AS (
      SELECT e.l_partkey, e.exact_cnt,
             min(c.c) AS cms_estimate
      FROM exact e
      JOIN params p ON TRUE
      JOIN cms c ON c.depth = p.depth
               AND c.bucket = ((p.a * e.l_partkey + p.b) % 104729) % 2048
      GROUP BY 1, 2
    )
    SELECT l_partkey, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           cms_estimate >= exact_cnt AS never_underestimates
    FROM est
    """,
)
def agg_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built NATIVELY as a DataFrame — the streaming/
    mergeable heavy-hitter sketch, expressed so the whole structure stays
    relational: 4 pairwise-independent linear hashes ((a*key+b) mod p mod w)
    fan each row into 4 (depth, bucket) cells map-side, ONE partial-agg
    shuffle builds the 4x2048 table, and estimate(key) = min over depths of
    its cells. The exact heavy hitters (agg_heavy_hitters' threshold) are
    then re-estimated from the sketch; the CMS guarantee (estimates never
    undershoot) is part of the compared output.

    Scale posture: the sketch table is 8192 rows regardless of corpus size
    — it IS the mergeable artifact (union two sketches = sum cells, same
    convention as agg_sketch_mergeable's HLL blobs); the probe side is a
    broadcast of candidate keys. Integer-only hash arithmetic makes every
    cell and estimate bit-identical in the SQL oracle."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    params = [(0, 31, 7), (1, 37, 11), (2, 41, 13), (3, 43, 17)]
    p, w = 104729, 2048
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                (((F.lit(a) * F.col("l_partkey") + F.lit(b)) % p) % w).alias(
                    "bucket"
                ),
            )
            for d, a, b in params
        ]
    )
    cms = (
        li.select(F.explode(cells).alias("cell"))
        .groupBy("cell.depth", "cell.bucket")
        .agg(F.count("*").alias("c"))
    )
    tot = li.agg(F.count("*").alias("n"))
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("exact_cnt"))
        .join(F.broadcast(tot))
        .filter(F.col("exact_cnt") * 4000 > 3 * F.col("n"))
        .select("l_partkey", "exact_cnt")
    )
    probes = exact.select(
        "l_partkey", "exact_cnt", F.explode(cells.cast(
            "array<struct<depth:int,bucket:bigint>>"
        )).alias("cell")
    ).select(
        "l_partkey", "exact_cnt", "cell.depth", "cell.bucket"
    )
    return (
        probes.join(cms, ["depth", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "l_partkey",
            "exact_cnt",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_cnt")).alias(
                "never_underestimates"
            ),
        )
    )


@q(
    "sessionize_native",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 12 HOUR THEN 1 ELSE 0
               END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s2 AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM s)
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM s2 GROUP BY user_id, session_seq
    """,
)
def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE batch sessionization: ``F.session_window(ts, gap)`` in an
    ordinary groupBy — the same dynamic-gap windows the streaming engine
    uses (stream_session_window), here on a batch frame. Cross-validated
    three ways: the oracle is the RELATIONAL lag-flag-cumsum spelling, the
    manual twin is sessionize_events, and the streaming twin is
    stream_session_window — all three must produce identical session
    boundaries.

    Boundary semantics, pinned EMPIRICALLY
    (tests/test_relational2.py::test_session_window_boundary_semantics):
    per-event windows [ts, ts+gap) merge when they overlap OR TOUCH, so an
    event landing exactly prev+gap still JOINS the session — the lag rule
    is strictly-greater, the same convention sessionize_events uses, and
    the oracle spells exactly that."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return (
        e.groupBy(F.session_window("ts", "12 hours"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events",
            "total_value",
        )
    )


@q(
    "fn_transpose",
    """
    WITH g AS (
      SELECT l_returnflag,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 6) AS avg_disc
      FROM lineitem GROUP BY 1
    )
    SELECT 'revenue' AS key,
           max(CASE WHEN l_returnflag = 'A' THEN revenue END) AS A,
           max(CASE WHEN l_returnflag = 'N' THEN revenue END) AS N,
           max(CASE WHEN l_returnflag = 'R' THEN revenue END) AS R
    FROM g
    UNION ALL
    SELECT 'avg_qty',
           max(CASE WHEN l_returnflag = 'A' THEN avg_qty END),
           max(CASE WHEN l_returnflag = 'N' THEN avg_qty END),
           max(CASE WHEN l_returnflag = 'R' THEN avg_qty END)
    FROM g
    UNION ALL
    SELECT 'avg_disc',
           max(CASE WHEN l_returnflag = 'A' THEN avg_disc END),
           max(CASE WHEN l_returnflag = 'N' THEN avg_disc END),
           max(CASE WHEN l_returnflag = 'R' THEN avg_disc END)
    FROM g
    """,
)
def fn_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4): rows <-> columns for a compact
    metrics frame — the report-layout flip (metrics as rows, groups as
    columns) analysts otherwise hand-roll with a pivot+unpivot pair. The
    first column becomes the new header, so the groups must be known and
    bounded (here: the 3 return flags) — transpose is for SUMMARY frames,
    never corpus-sized data; the heavy aggregation runs distributed
    BEFORE the flip. The oracle spells the flip as conditional
    aggregation."""
    li = t(spark, sf_dir, "lineitem")
    summary = (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
        .orderBy("l_returnflag")
    )
    return summary.transpose()


@q(
    "fn_collation",
    """
    WITH mixed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority
                  ELSE lower(o_orderpriority) END AS pri_mixed,
             o_totalprice
      FROM orders
    )
    SELECT upper(pri_mixed) AS priority_ci,
           count(*) AS n_orders,
           count(DISTINCT pri_mixed) AS n_raw_spellings,
           round(sum(o_totalprice), 2) AS revenue
    FROM mixed
    GROUP BY upper(pri_mixed)
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String COLLATIONS (Spark 4): `collate(col, 'UTF8_LCASE')` makes
    case-insensitivity a property of the COMPARISON, not a rewrite — the
    grouping below unifies mixed-case spellings natively, where the
    classic approach smears lower()/upper() over every predicate (and
    breaks index/stats reuse). The oracle spells the same semantics with
    explicit case folding; the Spark side groups on the collated value
    directly. Output is canonicalized to upper() so both engines emit
    identical group keys (the collated group's representative is
    otherwise arrival-order-dependent)."""
    o = t(spark, sf_dir, "orders")
    mixed = o.select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.col("o_orderpriority")
        )
        .otherwise(F.lower("o_orderpriority"))
        .alias("pri_mixed"),
        "o_totalprice",
    )
    return (
        mixed.groupBy(F.collate("pri_mixed", "UTF8_LCASE").alias("pri_ci"))
        .agg(
            F.count("*").alias("n_orders"),
            F.count_distinct(
                F.collate("pri_mixed", "UTF8_BINARY")
            ).alias("n_raw_spellings"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.upper(F.col("pri_ci").cast("string")).alias("priority_ci"),
            "n_orders",
            "n_raw_spellings",
            "revenue",
        )
    )


@q(
    "basket_assoc_rules",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM b),
    ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS item_cnt
           FROM b GROUP BY 1),
    pc AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2,
             CAST(count(*) AS BIGINT) AS pair_cnt
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    r AS (
      SELECT p1 AS antecedent, p2 AS consequent, pair_cnt FROM pc
      UNION ALL
      SELECT p2, p1, pair_cnt FROM pc
    ),
    scored AS (
      SELECT r.antecedent, r.consequent, r.pair_cnt AS support_cnt,
             CAST(r.pair_cnt AS DOUBLE) / ia.item_cnt AS conf_exact,
             CAST(r.pair_cnt * n.n_orders AS DOUBLE)
               / (ia.item_cnt * ca.item_cnt) AS lift_exact
      FROM r JOIN ic ia ON ia.l_partkey = r.antecedent
             JOIN ic ca ON ca.l_partkey = r.consequent
             CROSS JOIN n
    )
    SELECT antecedent, consequent, support_cnt,
           round(conf_exact, 6) AS confidence,
           round(lift_exact, 6) AS lift
    FROM scored
    ORDER BY lift_exact DESC, support_cnt DESC, antecedent ASC,
             consequent ASC
    LIMIT 20
    """,
)
def basket_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (pairwise frequent itemsets with
    support / confidence / lift) over order baskets — the classic retail
    co-purchase analysis a warehouse user runs on exactly the orders +
    lineitem tables the reference materializes (readme.md:22-25 claims the
    Postgres warehouse serves BI; this is a staple BI workload the engine
    must therefore cover).

    Plan: NO self-join. Baskets are one `groupBy(l_orderkey).collect_set`
    shuffle; candidate pairs are generated JVM-side from each basket
    array with nested `transform` HOFs — bounded by basket_size² per
    order (a ~13-item cap here, never |parts|²) and entirely map-side
    after the basket shuffle. Pair counts then aggregate with map-side
    partial agg on (p1, p2); the >=2 support filter discards the long
    singleton tail BEFORE the rule join. Item counts and the order count
    are separate column-pruned scans with partial-agged aggregations (no
    shared-subplan cache needed — each is a 2-column scan). The rule/item
    join keys on partkey (AQE broadcasts the small side at this scale; at
    catalog scale it stays a co-partitioned shuffle join). Top-20-by-lift
    is orderBy+limit → TakeOrderedAndProject (per-partition heaps, no
    global sort materialization).

    Determinism protocol: confidence and lift are each a SINGLE division
    of exact int64 products, so both engines produce bit-identical IEEE
    doubles; ORDER BY uses the unrounded values with full integer
    tie-breaks (support, antecedent, consequent) so the rank-20 cut can
    never flip between engines; rounding happens only in the output
    projection."""
    li = t(spark, sf_dir, "lineitem")
    proj = li.select("l_orderkey", "l_partkey")
    n = proj.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    ic = proj.groupBy("l_partkey").agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("item_cnt")
    )
    baskets = proj.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("parts"),
                lambda x: F.transform(
                    F.col("parts"),
                    lambda y: F.struct(x.alias("p1"), y.alias("p2")),
                ),
            )
        ),
        lambda s: s["p1"] < s["p2"],
    )
    pc = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(
            F.col("pr.p1").alias("p1"),
            F.col("pr.p2").alias("p2"),
        )
        .agg(F.count("*").cast("bigint").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    rules = pc.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "pair_cnt",
    ).unionAll(
        pc.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            "pair_cnt",
        )
    )
    ia = ic.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("item_cnt").alias("ante_cnt"),
    )
    ca = ic.select(
        F.col("l_partkey").alias("consequent"),
        F.col("item_cnt").alias("cons_cnt"),
    )
    scored = (
        rules.join(ia, "antecedent")
        .join(ca, "consequent")
        .join(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("pair_cnt").alias("support_cnt"),
            (
                F.col("pair_cnt").cast("double") / F.col("ante_cnt")
            ).alias("conf_exact"),
            (
                (F.col("pair_cnt") * F.col("n_orders")).cast("double")
                / (F.col("ante_cnt") * F.col("cons_cnt"))
            ).alias("lift_exact"),
        )
    )
    return (
        scored.orderBy(
            F.desc("lift_exact"),
            F.desc("support_cnt"),
            F.asc("antecedent"),
            F.asc("consequent"),
        )
        .limit(20)
        .select(
            "antecedent",
            "consequent",
            "support_cnt",
            F.round("conf_exact", 6).alias("confidence"),
            F.round("lift_exact", 6).alias("lift"),
        )
    )


@q(
    "dq_ab_ztest",
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
def dq_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: two-sample z-test per event_type between the
    user_id-parity variants — the experimentation-analytics staple a
    warehouse serves daily. Two calibration columns make the readout
    FALSIFIABLE in both directions: `z_null` tests the real (random, no
    effect) split and should not fire; `z_planted` re-tests after adding a
    known +30.00 uplift to variant B's mean and MUST fire (an
    implementation that under-estimates variance or mixes up n_a/n_b
    breaks one of the two).

    Exactness protocol: values are scaled to int64 CENTS, so the
    first/second moments (sum, sum-of-squares) are EXACT integers; every
    engine then derives mean/variance/z through an identical fixed tree of
    double divisions — bit-identical, no sum-order dependence. Plan: one
    map-side-partial aggregation to 10 moment rows, then a self-join of
    the 10-row frame — corpus touched exactly once."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    g = e.groupBy("event_type", "variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("s2"),
    )
    return ab_ztest_readout(g)


def ab_ztest_readout(g: DataFrame) -> DataFrame:
    """Scalar z-test readout over a (event_type, variant, n, s1, s2) moment
    frame — shared by the batch query and the streaming twin (the moments
    are the distributed/stateful part; this is per-group arithmetic).
    The variant pivot is a conditional re-aggregation, not a self-join:
    one pass over the 10-row frame, and it stays valid over a streaming
    memory-sink relation (where a self-join would collide on attribute
    ids)."""

    def side(col: str, v: int):
        return (
            F.sum(F.when(F.col("variant") == v, F.col(col)))
            .cast("bigint")
        )

    w = g.groupBy("event_type").agg(
        side("n", 0).alias("n_a"),
        side("s1", 0).alias("s1a"),
        side("s2", 0).alias("s2a"),
        side("n", 1).alias("n_b"),
        side("s1", 1).alias("s1b"),
        side("s2", 1).alias("s2b"),
    # A group missing one variant (possible if every user_id in an
    # event_type shares parity) pivots to NULL n_a/n_b here, while the
    # oracle's inner self-join (a.variant=0 AND b.variant=1) drops it —
    # filter to match the oracle's inner-join semantics exactly.
    ).filter(F.col("n_a").isNotNull() & F.col("n_b").isNotNull())
    ma = F.col("s1a").cast("double") / F.col("n_a")
    mb = F.col("s1b").cast("double") / F.col("n_b")
    va = F.col("s2a").cast("double") / F.col("n_a") - ma * ma
    vb = F.col("s2b").cast("double") / F.col("n_b") - mb * mb
    se = F.sqrt(va / F.col("n_a") + vb / F.col("n_b"))
    z_null = F.round((ma - mb) / se, 6)
    z_planted = F.round((ma - (mb + F.lit(3000.0))) / se, 6)
    return w.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(ma / 100, 6).alias("mean_a"),
        F.round(mb / 100, 6).alias("mean_b"),
        z_null.alias("z_null"),
        (F.abs(z_null) > 1.96).alias("sig_null"),
        z_planted.alias("z_planted"),
        (F.abs(z_planted) > 1.96).alias("sig_planted"),
    )


@q(
    "dq_benford_check",
    """
    WITH v AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM v GROUP BY d),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c),
    terms AS (
      SELECT c.d, c.n_obs,
             round(CAST(c.n_obs AS DOUBLE) / tot.n, 6) AS p_obs,
             round(log10(1.0 + 1.0 / c.d), 6) AS p_benford,
             round(tot.n
                   * ((CAST(c.n_obs AS DOUBLE) / tot.n
                       - log10(1.0 + 1.0 / c.d))
                      * (CAST(c.n_obs AS DOUBLE) / tot.n
                         - log10(1.0 + 1.0 / c.d)))
                   / log10(1.0 + 1.0 / c.d), 6) AS chi2_term
      FROM c CROSS JOIN tot
    )
    SELECT d, n_obs, p_obs, p_benford, chi2_term,
           round(sum(chi2_term) OVER (), 4) AS chi2_total,
           (round(sum(chi2_term) OVER (), 4) > 20.09) AS reject_benford
    FROM terms
    """,
)
def dq_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the forensic
    data-quality screen for fabricated or truncated numeric columns. The
    digit histogram collapses the corpus to 9 rows map-side; expected mass
    is log10(1+1/d); the chi-square statistic (8 df, alpha=0.01 critical
    value 20.09) gives the reject verdict. TPC-H price totals are NOT
    Benford-distributed (bounded uniform-ish construction), so the audit
    honestly reports reject — the point is the audit's arithmetic, proven
    oracle-exact, not the fixture's conformity.

    Exactness protocol: the leading digit comes from INTEGER-to-string of
    exact cents (double-to-string formatting is engine-specific; int64
    rendering is not), per-term arithmetic is a fixed double op tree, and
    the 9-term chi-square total sums PRE-ROUNDED 6-decimal terms so
    window-sum order cannot move the 4-decimal rounded total."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    v = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    c = v.groupBy("d").agg(F.count("*").cast("bigint").alias("n_obs"))
    tot = c.agg(F.sum("n_obs").cast("bigint").alias("n"))
    p_obs_exact = F.col("n_obs").cast("double") / F.col("n")
    p_ben_exact = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    terms = c.join(F.broadcast(tot)).select(
        "d",
        "n_obs",
        F.round(p_obs_exact, 6).alias("p_obs"),
        F.round(p_ben_exact, 6).alias("p_benford"),
        F.round(
            F.col("n")
            * ((p_obs_exact - p_ben_exact) * (p_obs_exact - p_ben_exact))
            / p_ben_exact,
            6,
        ).alias("chi2_term"),
    )
    from pyspark.sql.window import Window

    chi2_total = F.round(
        F.sum("chi2_term").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
        4,
    )
    return terms.select(
        "d",
        "n_obs",
        "p_obs",
        "p_benford",
        "chi2_term",
        chi2_total.alias("chi2_total"),
        (chi2_total > 20.09).alias("reject_benford"),
    )
