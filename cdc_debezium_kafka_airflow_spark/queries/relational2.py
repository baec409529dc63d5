"""Second wave of warehouse surface: grouping sets, exact percentiles,
sessionization, TF-IDF, full-outer join, approximate distinct (HLL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.queries.common import q, t
from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text, ws_tokens

@q(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL surface (one pass, expanded by the
    planner into a single shuffle)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@q(
    "agg_percentile",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50_price,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (interpolated), per group."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.count("*").alias("n_orders"),
    )


@q(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_within_10pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the constant-memory distinct
    estimator used when exact distinct shuffles are too expensive at scale.

    Sketch estimates are engine-specific, so the oracle-comparable output is
    the exact count plus a Spark-verified error-bound flag (rsd=0.02 sketch
    must land within 10%); the raw estimate's tightness is asserted in
    pytest (tests/test_relational2.py).

    Plan note: countDistinct + another aggregate in ONE groupBy makes
    Catalyst EXPAND the input (a row per distinct-agg per input row), so
    the wide HLL buffer merges 2x rows — measured 4.3s vs the sum of the
    parts (3.2s) at sf0.1. HLL is duplicate-insensitive, so both metrics
    compute on a pre-distinct frame instead: one narrow distinct shuffle,
    then count(*) IS the exact distinct and the sketch sees each key once
    (4.3s -> ~1.5s, identical results)."""
    li = t(spark, sf_dir, "lineitem")
    dedup = li.select("l_returnflag", "l_orderkey").distinct()
    agg = dedup.groupBy("l_returnflag").agg(
        F.count("*").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("_approx") - F.col("exact_orders"))
            <= 0.1 * F.col("exact_orders")
        ).alias("approx_within_10pct"),
    )


@q(
    "stream_session_window",
    """
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 1 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 1 HOUR AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (1-hour inactivity gap) via the native session_window
    operator, executed as a REAL streaming query (merging session state in
    the state store); the oracle reproduces it with the classic
    gaps-and-islands SQL."""
    from cdc_debezium_kafka_airflow_spark.streaming import jobs

    agg = (
        jobs.events_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
    )
    out = jobs._run_to_memory(agg, "complete", parts="8")
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


@q(
    "join_full_outer",
    """
    WITH active AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    big AS (SELECT DISTINCT o_custkey % 150 AS user_id FROM orders
            WHERE o_totalprice > 400000)
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           (a.user_id IS NOT NULL) AS has_purchase_event,
           (b.user_id IS NOT NULL) AS has_big_order
    FROM active a FULL OUTER JOIN big b ON a.user_id = b.user_id
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")
    active = (
        e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    big = (
        o.filter(F.col("o_totalprice") > 400000)
        .select((F.col("o_custkey") % 150).alias("user_id"))
        .distinct()
    )
    a = active.alias("a")
    b = big.alias("b")
    return a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer").select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.col("a.user_id").isNotNull().alias("has_purchase_event"),
        F.col("b.user_id").isNotNull().alias("has_big_order"),
    )


@q(
    "dataset_statistics",
    """
    SELECT 'lineitem' AS table_name, 'l_extendedprice' AS column_name,
           count(*) AS n_rows,
           count(l_extendedprice) AS n_non_null,
           count(DISTINCT l_extendedprice) AS n_distinct,
           round(min(l_extendedprice), 4) AS min_value,
           round(max(l_extendedprice), 4) AS max_value,
           round(avg(l_extendedprice), 4) AS avg_value
    FROM lineitem
    UNION ALL
    SELECT 'orders', 'o_totalprice',
           count(*), count(o_totalprice), count(DISTINCT o_totalprice),
           round(min(o_totalprice), 4), round(max(o_totalprice), 4),
           round(avg(o_totalprice), 4)
    FROM orders
    UNION ALL
    SELECT 'events', 'value',
           count(*), count(value), count(DISTINCT value),
           round(min(value), 4), round(max(value), 4), round(avg(value), 4)
    FROM events
    """,
)
def dataset_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling (row/null/distinct counts, min/max/avg)
    across tables — the stats pass a pipeline runs before planning a 100 TB
    job (and what feeds CBO statistics)."""
    parts = []
    for table, col in [
        ("lineitem", "l_extendedprice"),
        ("orders", "o_totalprice"),
        ("events", "value"),
    ]:
        df = t(spark, sf_dir, table)
        parts.append(
            df.agg(
                F.count("*").alias("n_rows"),
                F.count(col).alias("n_non_null"),
                F.countDistinct(col).alias("n_distinct"),
                F.round(F.min(col), 4).alias("min_value"),
                F.round(F.max(col), 4).alias("max_value"),
                F.round(F.avg(col), 4).alias("avg_value"),
            ).select(
                F.lit(table).alias("table_name"),
                F.lit(col).alias("column_name"),
                "n_rows",
                "n_non_null",
                "n_distinct",
                "min_value",
                "max_value",
                "avg_value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@q(
    "agg_skew_salted",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           round(max(value), 4) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant aggregation: 5 distinct keys over the whole table is
    the pathological case where a plain groupBy sends each key's entire
    volume to one reducer. Two-stage salting — partial agg on
    (key, hash%N salt), final agg on key — spreads each hot key over N
    reducers; only N rows per key cross the second shuffle. (AQE skew
    handling covers joins; aggregation skew is handled by this pattern.)
    """
    e = t(spark, sf_dir, "events")
    n_salts = 16
    salted = (
        e.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(n_salts)))
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("value").alias("sv"),
            F.max("value").alias("mv"),
        )
    )
    return salted.groupBy("event_type").agg(
        F.sum("cnt").alias("n_events"),
        F.round(F.sum("sv"), 4).alias("sum_value"),
        F.round(F.max("mv"), 4).alias("max_value"),
    )


@q(
    "join_skew_salted",
    """
    WITH avg_by_type AS (
      SELECT event_type, avg(value) AS avg_value
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_above_avg,
           round(sum(e.value - a.avg_value), 2) AS excess_value
    FROM events e JOIN avg_by_type a ON e.event_type = a.event_type
    WHERE e.value > a.avg_value
    GROUP BY e.event_type
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant JOIN: the join-back-aggregate pattern (fact joined to
    per-key aggregates) on a 5-distinct-key fact table is the pathological
    skew case — a plain shuffle join sends each key's entire volume to one
    reducer. Salting spreads it: the fact side gets salt = hash(row) % N,
    the (tiny-per-key, huge-per-volume) dim side is exploded N ways, and the
    join runs on (key, salt) so each hot key occupies N reducers.

    The ``merge`` hint forces a real shuffle join — with a 5-row dim Spark
    would otherwise broadcast (the right call; at 100 TB this same pattern
    applies when the dim side is too big to broadcast and AQE's skew split
    cannot help because one key IS one partition). The aggregation twin is
    ``agg_skew_salted``.
    """
    e = t(spark, sf_dir, "events")
    n_salts = 16
    dim = e.groupBy("event_type").agg(F.avg("value").alias("avg_value"))
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    fact = e.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(n_salts)))
    joined = fact.join(
        dim_salted.hint("merge"), on=["event_type", "salt"]
    ).filter(F.col("value") > F.col("avg_value"))
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_above_avg"),
        F.round(F.sum(F.col("value") - F.col("avg_value")), 2).alias(
            "excess_value"
        ),
    )


@q(
    "agg_hier_rollup",
    """
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
             event_type, count(*) AS n_events,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS sum_scaled
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hour_start) AS TIMESTAMP) AS day_start,
           event_type,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(sum_scaled) AS BIGINT) / 10000.0 AS sum_value,
           count(*) AS n_hours_active
    FROM hourly GROUP BY 1, 2
    """,
)
def agg_hier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: daily aggregates REAGGREGATED
    from the hourly level (the continuous-aggregate pattern — at scale the
    hourly table is materialized once and coarser resolutions derive from it
    instead of rescanning raw events).

    Every value is scaled to an integer (4 implied decimals) PER ROW, before
    any summation: `value * 10000` is one IEEE multiply (identical in every
    engine) and `round` of a single double is deterministic, so both the
    hourly and daily sums are exact integer arithmetic — bit-identical under
    any summation/partition order. Rounding an aggregated double sum instead
    (the round-1/2 version) is NOT: float addition order perturbs the last
    ulp and the final round() can flip a boundary cell between engines —
    exactly the two-round hash_match=false in CORRECTNESS_r01/r02.
    """
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_scaled"),
    )
    return hourly.groupBy(
        F.date_trunc("day", "hour_start").alias("day_start"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        (F.sum("sum_scaled") / F.lit(10000.0)).alias("sum_value"),
        F.count("*").alias("n_hours_active"),
    )


@q(
    "join_range_interval",
    """
    WITH err AS (SELECT event_id AS err_id, user_id, ts AS err_ts
                 FROM events WHERE event_type = 'error')
    SELECT err_id, count(e.event_id) AS n_following
    FROM err JOIN events e
      ON e.user_id = err.user_id
     AND e.ts > err.err_ts
     AND e.ts <= err.err_ts + INTERVAL 1 HOUR
    GROUP BY err_id
    """,
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: events within 1 hour after each error event of
    the same user — implemented scale-aware as an equi-join on
    (user_id, hour_bucket) with each probe exploded to its 2 candidate
    buckets, then the exact range filter. Bounded ~2x blowup instead of the
    naive per-user cross product (which is what the sf0.01 oracle does)."""
    e = t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    # probe side: each error event looks in its own hour bucket and the next
    probes = err.select(
        "err_id",
        "err_user",
        "err_ts",
        F.explode(
            F.array(
                F.date_trunc("hour", "err_ts"),
                F.date_trunc("hour", F.col("err_ts") + F.expr("INTERVAL 1 HOUR")),
            )
        ).alias("bucket"),
    )  # the two buckets are always distinct (t and t+1h)
    build = e.select(
        "user_id",
        F.col("event_id").alias("ev_id"),
        F.col("ts").alias("ev_ts"),
        F.date_trunc("hour", "ts").alias("bucket"),
    )
    return (
        probes.join(
            build,
            on=[
                probes.err_user == build.user_id,
                probes.bucket == build.bucket,
            ],
        )
        .filter(
            (F.col("ev_ts") > F.col("err_ts"))
            & (F.col("ev_ts") <= F.col("err_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("err_id")
        .agg(F.count("ev_id").alias("n_following"))
    )


@q(
    "agg_approx_percentile",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
           TRUE AS approx_within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (quantile sketch): the constant-memory quantile
    estimator for 100TB-scale distributions.

    Sketch estimates are engine-specific, so the oracle-comparable output is
    the exact interpolated median plus a Spark-verified error-bound flag
    (accuracy=10000 sketch must land within 5%); the raw estimate's
    tightness is asserted in pytest (tests/test_relational2.py)."""
    o = t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50_exact"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_approx"),
    )
    return agg.select(
        "o_orderstatus",
        "p50_exact",
        (
            F.abs(F.col("_approx") - F.col("p50_exact"))
            <= 0.05 * F.abs(F.col("p50_exact"))
        ).alias("approx_within_5pct"),
    )


@q(
    "agg_pivot",
    """
    SELECT c_mktsegment,
           round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS rev_O,
           round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS rev_F,
           round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 0), 2) AS rev_P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) on order status: single-pass pivoted hash
    aggregation with explicit pivot values (no extra pass to discover them).
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    pivoted = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .sum("o_totalprice")
    )
    return pivoted.select(
        "c_mktsegment",
        F.round(F.coalesce(F.col("O"), F.lit(0)), 2).alias("rev_O"),
        F.round(F.coalesce(F.col("F"), F.lit(0)), 2).alias("rev_F"),
        F.round(F.coalesce(F.col("P"), F.lit(0)), 2).alias("rev_P"),
    )


@q(
    "join_cross",
    """
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    WHERE n.n_regionkey <> r.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (small dims only — anything larger is a
    bug, which is why Spark requires crossJoin to be explicit)."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .filter(F.col("n_regionkey") != F.col("r_regionkey"))
        .select("r_name", "n_name")
    )


@q(
    "fn_levenshtein",
    """
    SELECT p_partkey,
           levenshtein(p_type, p_brand) AS type_brand_dist,
           levenshtein(substr(p_name, 1, 15), substr(p_name, 16, 15)) AS halves_dist
    FROM part
    """,
)
def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (Levenshtein) — fuzzy string matching for entity
    resolution; JVM built-in on both engines with identical semantics."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_type", "p_brand").alias("type_brand_dist"),
        F.levenshtein(
            F.substring("p_name", 1, 15), F.substring("p_name", 16, 15)
        ).alias("halves_dist"),
    )


@q(
    "win_distribution",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(ntile(4) OVER w AS INT) AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@q(
    "funnel_conversion",
    """
    WITH s AS (SELECT user_id, min(ts) AS first_signup FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id, min(e.ts) AS first_purchase
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s.first_signup
          GROUP BY e.user_id)
    SELECT s.user_id, s.first_signup, p.first_purchase,
           (p.user_id IS NOT NULL) AS converted,
           CAST(CASE WHEN p.user_id IS NOT NULL
                THEN floor((epoch_us(p.first_purchase)
                            - epoch_us(s.first_signup)) / 1000000.0)
                END AS BIGINT) AS seconds_to_convert
    FROM s LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: first signup -> first subsequent purchase per user,
    conversion flag + latency. Two keyed aggregations and one key-aligned
    join — no per-event sequence scan."""
    e = t(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("first_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    j = s.join(p, "user_id", "left")
    return j.select(
        "user_id",
        "first_signup",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
        F.when(
            F.col("first_purchase").isNotNull(),
            (
                F.unix_micros("first_purchase") - F.unix_micros("first_signup")
            ) / F.lit(1_000_000),
        )
        .cast("long")
        .alias("seconds_to_convert"),
    )


@q(
    "ext_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(
          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
      FROM documents
    ),
    freq AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
    tot AS (SELECT sum(n) AS total FROM freq)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(freq.n / tot.total)), 6) AS avg_logprob
    FROM toks JOIN freq USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def ext_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: average token log-probability under
    the corpus's own unigram distribution — a classic quality/outlier signal
    for training-data filtering (low avg_logprob = rare-token-heavy doc)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(ws_tokens(normalize_text(F.col("text")))).alias("term"),
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    scored = toks.join(F.broadcast(freq), "term").crossJoin(
        F.broadcast(total)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg(F.log(F.col("n") / F.col("total"))), 6).alias(
            "avg_logprob"
        ),
    )


@q(
    "ext_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT DISTINCT source, doc_id, unnest(string_split(
          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT source, term, count(*) AS term_docs FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT source) AS n_sources FROM toks GROUP BY 1),
    scored AS (
      SELECT tf.source, tf.term,
             round(tf.term_docs * ln(20.0 / df.n_sources), 6) AS tfidf
      FROM tf JOIN df USING (term)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT source, term, tfidf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def ext_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 characteristic terms per source (tf = docs in source
    containing the term; idf = ln(n_sources_total / n_sources_with_term))."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select(
            "source",
            "doc_id",
            F.explode(
                F.array_distinct(ws_tokens(normalize_text(F.col("text"))))
            ).alias("term"),
        )
        .distinct()
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("term_docs"))
    df = toks.groupBy("term").agg(
        F.countDistinct("source").alias("n_sources")
    )
    scored = tf.join(df, "term").select(
        "source",
        "term",
        F.round(
            F.col("term_docs") * F.log(F.lit(20.0) / F.col("n_sources")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "term", "tfidf", "rnk")
    )


def _bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    cols: list[str],
    key: str,
    n_buckets: int = 8,
) -> str:
    """Create-or-attach a bucketed parquet table derived from a fixture
    table (fingerprint-cached under spark-warehouse/).

    Bucket layout is written ONCE (``repartition(n, key)`` first, so each
    output task holds exactly one bucket — Spark's bucket id is the same
    murmur3 pmod as hash partitioning — giving one file per bucket); later
    sessions re-attach the existing files with ``CREATE TABLE ... CLUSTERED
    BY`` DDL, which is metadata-only. This is THE co-location strategy for
    repeated large-scale joins: both sides pre-hashed on the join key at
    write time, so every subsequent join is shuffle-free."""
    import os

    from cdc_debezium_kafka_airflow_spark.sources.cache_util import derived_input

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"bkt_{source}_{tag}"
    df = t(spark, sf_dir, source).select(*cols)

    def build(path: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.repartition(n_buckets, F.col(key))
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .format("parquet")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(tbl)
        )

    # saveAsTable writes its own _SUCCESS; the fingerprint goes beside it
    loc = derived_input(
        sf_dir, source, f"bkt_{source}", build, under="spark-warehouse"
    )
    if not spark.catalog.tableExists(tbl):
        ddl_cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl_cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
    return tbl


@q(
    "join_bucketed",
    """
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           round(sum(l.l_extendedprice), 2) AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: lineitem and orders pre-bucketed on the
    join key into the same bucket count, so the sort-merge join runs with
    ZERO Exchange on either side (guarded by test_scale_plans) — at 100 TB
    this turns the nightly fact-to-fact join from the dominant shuffle into
    a local merge per bucket. The ``merge`` hint keeps the demo honest
    (AQE would otherwise broadcast the small fixture dim)."""
    lt = _bucketed_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_extendedprice"],
        "l_orderkey",
    )
    ot = _bucketed_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderpriority"],
        "o_orderkey",
    )
    li, od = spark.table(lt), spark.table(ot)
    return (
        li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@q(
    "dq_validation",
    """
    SELECT 'orders_custkey_fk' AS check_name,
           CAST((SELECT count(*) FROM orders o
                 LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE c.c_custkey IS NULL) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST((SELECT count(*) FROM lineitem l
                 LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_orderkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'events_event_id_unique',
           CAST((SELECT count(*) - count(DISTINCT event_id) FROM events)
                AS BIGINT)
    UNION ALL
    SELECT 'events_type_domain',
           CAST((SELECT count(*) FROM events WHERE event_type NOT IN
                 ('click','view','purchase','signup','error')) AS BIGINT)
    UNION ALL
    SELECT 'events_value_nonnull',
           CAST((SELECT count(*) FROM events WHERE value IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'customer_acctbal_range',
           CAST((SELECT count(*) FROM customer
                 WHERE c_acctbal < -1000 OR c_acctbal > 10000) AS BIGINT)
    """,
)
def dq_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (the deequ/Great-Expectations shape): referential
    integrity (anti-join counts), uniqueness, domain membership, null and
    range checks — each check one row (check_name, n_violations). The gate
    a 100 TB pipeline runs BEFORE publishing a snapshot; every check is a
    scan or broadcast-able anti-join, no check materializes violating rows
    (counts only — the violation sample query is a filter away)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    e = t(spark, sf_dir, "events")

    def one(name: str, n) -> DataFrame:
        return n.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    checks = [
        one(
            "orders_custkey_fk",
            o.join(
                c.select("c_custkey"),
                o.o_custkey == F.col("c_custkey"),
                "left_anti",
            ).agg(F.count("*").alias("n")),
        ),
        one(
            "lineitem_orderkey_fk",
            li.join(
                o.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ).agg(F.count("*").alias("n")),
        ),
        one(
            "events_event_id_unique",
            e.agg(
                (F.count("*") - F.countDistinct("event_id")).alias("n")
            ),
        ),
        one(
            "events_type_domain",
            e.filter(
                ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                )
            ).agg(F.count("*").alias("n")),
        ),
        one(
            "events_value_nonnull",
            e.filter(F.col("value").isNull()).agg(F.count("*").alias("n")),
        ),
        one(
            "customer_acctbal_range",
            c.filter(
                (F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 10000)
            ).agg(F.count("*").alias("n")),
        ),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionByName(df)
    return out


@q(
    "agg_sketch_mergeable",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
             count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT day_start, CAST(exact_users AS BIGINT) AS exact_users,
           TRUE AS sketch_within_2pct
    FROM daily
    UNION ALL
    SELECT CAST(NULL AS TIMESTAMP), count(DISTINCT user_id), TRUE
    FROM events
    """,
)
def agg_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    ``hll_sketch_agg``): one sketch per day is built and then UNIONED into
    the corpus total without touching raw data again — the 100 TB pattern
    where per-partition/per-day sketch artifacts persist in a metrics table
    and any rollup (weekly, all-time) is a cheap sketch union instead of a
    re-scan. The oracle pins the EXACT per-day distincts plus an accuracy
    contract: every emitted row asserts the sketch estimate landed within
    2% of exact (HLL lgConfigK=12 → ~1.6% rsd), so a regressed sketch path
    hash-fails rather than silently degrading. The NULL-day row is the
    union-of-sketches total."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day_start")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_day = daily.select(
        "day_start",
        "exact_users",
        (
            F.abs(
                F.hll_sketch_estimate("sk").cast("double")
                - F.col("exact_users")
            )
            <= 0.02 * F.col("exact_users")
        ).alias("sketch_within_2pct"),
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact_total = e.agg(F.countDistinct("user_id").alias("exact_users"))
    total_row = total.join(exact_total).select(
        F.lit(None).cast("timestamp").alias("day_start"),
        "exact_users",
        (
            F.abs(F.col("est").cast("double") - F.col("exact_users"))
            <= 0.02 * F.col("exact_users")
        ).alias("sketch_within_2pct"),
    )
    return per_day.unionByName(total_row)


@q(
    "attribution_last_touch",
    """
    WITH cl AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    pu AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.purchase_id, c.click_id, c.click_ts,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.click_ts DESC, c.click_id DESC)
               AS rn
      FROM pu p JOIN cl c
        ON c.user_id = p.user_id
       AND c.click_ts < p.purchase_ts
       AND c.click_ts >= p.purchase_ts - INTERVAL 7 DAY
    )
    SELECT p.purchase_id, p.user_id, p.purchase_ts,
           w.click_id,
           CAST(CASE WHEN w.click_id IS NOT NULL
                THEN floor((epoch_us(p.purchase_ts)
                            - epoch_us(w.click_ts)) / 1000000.0)
                END AS BIGINT) AS seconds_since_click
    FROM pu p LEFT JOIN (SELECT * FROM j WHERE rn = 1) w
      ON w.purchase_id = p.purchase_id
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — each purchase credited to the user's most
    recent click STRICTLY before it and within a 7-day lookback (the
    standard marketing-attribution join; ties on timestamp break to the
    higher event id, clicks at the exact purchase instant don't count).

    The oracle states it as the textbook inequality join + rank; the
    engine never runs that shape (per-user nested loop, O(clicks x
    purchases)): operators/temporal.last_touch_attribution unions clicks
    and purchases into one per-user timeline ordered by (ts, kind, id) —
    purchases sort BEFORE same-ts clicks, which enforces the strict < for
    free — and the latest click rides forward in a window carry; the
    7-day recency check is a row-local filter AFTER the carry. One
    shuffle on user_id, O(n log n), the attribution twin of
    cdc_scd2_lookup's version lookup. Property-tested against a
    brute-force python reference on random timelines."""
    from cdc_debezium_kafka_airflow_spark.operators.temporal import (
        last_touch_attribution,
    )

    e = t(spark, sf_dir, "events")
    cols = ["user_id", "ts", "event_id"]
    return last_touch_attribution(
        e.filter(F.col("event_type") == "click").select(cols),
        e.filter(F.col("event_type") == "purchase").select(cols),
    )


@q(
    "attribution_linear",
    """
    WITH cl AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    pu AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    tou AS (
      SELECT p.purchase_id, CAST(count(*) AS BIGINT) AS n
      FROM pu p JOIN cl c
        ON c.user_id = p.user_id
       AND c.click_ts < p.purchase_ts
       AND c.click_ts >= p.purchase_ts - INTERVAL 7 DAY
      GROUP BY 1
    )
    SELECT p.purchase_id, p.user_id, p.purchase_ts,
           CAST(coalesce(t.n, 0) AS BIGINT) AS n_touches,
           CASE WHEN t.n IS NOT NULL THEN round(1e0 / t.n, 6) END
             AS credit_per_touch
    FROM pu p LEFT JOIN tou t ON t.purchase_id = p.purchase_id
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (multi-touch) attribution — every click in the purchase's
    7-day lookback shares the credit equally. Counting a BOUNDED window
    per fact is the part a naive plan gets quadratically wrong;
    operators/temporal.linear_attribution injects each purchase's
    WINDOW-START as a synthetic boundary marker at ts − 7d on the user's
    click timeline, carries ONE running click count, and reads the window
    count as the prefix-sum difference between the purchase row and its
    start marker (markers sort before same-instant clicks so the >=
    boundary is inclusive; purchases sort before same-instant clicks so
    the < boundary is strict — both enforced by sort order, zero
    comparisons). One user_id shuffle + one purchase_id rollup,
    O(n log n) — the trick that turns any bounded temporal aggregate into
    two timeline reads. Oracle = the textbook inequality join + count;
    property-tested against a brute-force python reference."""
    from cdc_debezium_kafka_airflow_spark.operators.temporal import (
        linear_attribution,
    )

    e = t(spark, sf_dir, "events")
    cols = ["user_id", "ts", "event_id"]
    return linear_attribution(
        e.filter(F.col("event_type") == "click").select(cols),
        e.filter(F.col("event_type") == "purchase").select(cols),
    )


@q(
    "funnel_window",
    """
    WITH ev AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    pop AS (SELECT DISTINCT user_id FROM events),
    l1 AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'signup'),
    l2 AS (
      SELECT DISTINCT s.user_id
      FROM ev s JOIN ev c
        ON c.user_id = s.user_id
       AND s.event_type = 'signup' AND c.event_type = 'click'
       AND c.ts > s.ts AND c.ts <= s.ts + INTERVAL 12 HOUR
    ),
    l3 AS (
      SELECT DISTINCT s.user_id
      FROM ev s
      JOIN ev c ON c.user_id = s.user_id
       AND s.event_type = 'signup' AND c.event_type = 'click'
       AND c.ts > s.ts
      JOIN ev p ON p.user_id = s.user_id
       AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= s.ts + INTERVAL 12 HOUR
    )
    SELECT pop.user_id,
           CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
                     WHEN l2.user_id IS NOT NULL THEN 2
                     WHEN l1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_level
    FROM pop
    LEFT JOIN l1 ON l1.user_id = pop.user_id
    LEFT JOIN l2 ON l2.user_id = pop.user_id
    LEFT JOIN l3 ON l3.user_id = pop.user_id
    """,
)
def funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (ClickHouse ``windowFunnel`` semantics): per user,
    the deepest prefix of signup → click → purchase completed with
    STRICTLY increasing timestamps and the whole chain inside a 12-hour
    window anchored at the signup (12h splits the fixture population
    across all four levels). The oracle states it as the textbook
    triple EXISTS join.

    The engine replaces the exponential exists-chain with two sequential
    window passes over each user's (ts, kind)-ordered timeline — sort
    order encodes the strictness (purchases before clicks before signups
    at equal ts, so no same-instant step counts):

      pass 1  carry S = latest signup ts so far → at each click,
              s_at_click = the best chain start for that click;
      pass 2  carry max(s_at_click) over preceding clicks → at each
              purchase, the best reachable chain start.

    The greedy carry is provably equivalent to EXISTS: s_at_click is
    non-decreasing along the timeline, so the LAST click before a
    purchase dominates every other chain — the hash match against the
    EXISTS oracle is that proof executed. Both passes share one user_id
    exchange (plan-guarded elsewhere for the same shape); at 100 TB this
    is one shuffle + two sorts-free window reads versus a self-join
    pyramid that grows a power per funnel step."""
    e = t(spark, sf_dir, "events")
    ev = e.filter(
        F.col("event_type").isin("signup", "click", "purchase")
    ).select(
        "user_id",
        "ts",
        # same-ts ordering: purchase(0) < click(1) < signup(2) so a step
        # never sees a same-instant predecessor
        F.when(F.col("event_type") == "purchase", 0)
        .when(F.col("event_type") == "click", 1)
        .otherwise(2)
        .alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p1 = ev.withColumn(
        "s_carry", F.max(F.when(F.col("kind") == 2, F.col("ts"))).over(w)
    )
    p2 = p1.withColumn(
        "sc",
        F.max(
            F.when(F.col("kind") == 1, F.col("s_carry"))
        ).over(w),
    )
    seven = F.expr("INTERVAL 12 HOURS")
    lvl = p2.groupBy("user_id").agg(
        F.max(F.when(F.col("kind") == 2, 1).otherwise(0)).alias("has_s"),
        F.max(
            F.when(
                (F.col("kind") == 1)
                & F.col("s_carry").isNotNull()
                & (F.col("ts") <= F.col("s_carry") + seven),
                1,
            ).otherwise(0)
        ).alias("has_sc"),
        F.max(
            F.when(
                (F.col("kind") == 0)
                & F.col("sc").isNotNull()
                & (F.col("ts") <= F.col("sc") + seven),
                1,
            ).otherwise(0)
        ).alias("has_scp"),
    )
    pop = t(spark, sf_dir, "events").select("user_id").distinct()
    return pop.join(lvl, "user_id", "left").select(
        "user_id",
        F.when(F.col("has_scp") == 1, 3)
        .when(F.col("has_sc") == 1, 2)
        .when(F.col("has_s") == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("funnel_level"),
    )
