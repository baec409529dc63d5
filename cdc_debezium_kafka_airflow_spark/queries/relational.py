"""Relational warehouse surface (SURVEY.md §2.D) — the queries the reference
delegates to its Postgres warehouse, as idiomatic DataFrame programs with
exact DuckDB oracles.

Float-aggregate determinism: every money/avg aggregate is rounded identically
on both sides (sums→2dp, avgs→4dp, ratios/norms→6dp) so the driver's value
hash is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.queries.common import q, t

# --- scan / projection / filter ---------------------------------------------

@q(
    "proj_filter",
    """
    SELECT l_orderkey, l_partkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_discount > 0.08 AND l_quantity < 10
    """,
)
def proj_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection+predicate; both reach the parquet scan (PushedFilters)."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_discount") > 0.08) & (F.col("l_quantity") < 10))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice", "l_shipdate")
    )


# --- aggregation -------------------------------------------------------------

@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_hash flagship (TPC-H Q1 shape): partial+final hash aggregation."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@q(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + agg + top-k (date cutoff
    adapted to the fixture's 1995-2001 range)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


@q(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate reaches
    the parquet scan, so this measures raw columnar scan throughput."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lineitems"),
    )


@q(
    "agg_distinct",
    """
    SELECT c_mktsegment,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@q(
    "agg_rollup_cube",
    """
    SELECT r_name, n_name,
           round(sum(c_acctbal), 2) AS sum_acctbal,
           count(*)                 AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.count("*").alias("n_customers"),
        )
    )


# --- joins -------------------------------------------------------------------

@q(
    "join_inner_hash",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact shuffle join chain ending in a broadcast dim join; AQE picks
    broadcast for the small sides at runtime."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


@q(
    "join_broadcast",
    """
    SELECT p_brand,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the dim side: no shuffle of the fact table."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_lineitems"),
        )
    )


@q(
    "join_left",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total_spend"),
        )
    )


@q(
    "join_semi",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_mktsegment = 'AUTOMOBILE'
      AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "AUTOMOBILE")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@q(
    "join_anti",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@q(
    "join_range_asof",
    """
    WITH j AS (
      SELECT e.event_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey % 150 = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
    FROM j WHERE rn = 1
    """,
)
def join_range_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's latest order at event
    time (tie-break max o_orderkey).

    Implemented the scale-safe way: union both sides tagged, one shuffle+sort
    per key, carry the latest order forward with last_value — O(n log n), no
    per-event candidate blowup (the naive range join is quadratic; the oracle
    does that since DuckDB only needs sf0.01).
    """
    e = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    )
    o = t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("uid"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
    )
    w = (
        Window.partitionBy("uid")
        .orderBy(F.col("t").asc(), F.col("is_event").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = e.unionByName(o).withColumns(
        {
            "asof_orderkey": F.last("o_orderkey", ignorenulls=True).over(w),
            "asof_orderdate": F.last("o_orderdate", ignorenulls=True).over(w),
        }
    )
    return (
        merged.filter((F.col("is_event") == 1) & F.col("asof_orderkey").isNotNull())
        .select("event_id", "asof_orderkey", "asof_orderdate")
    )


# --- windows, sort, set ops --------------------------------------------------

@q(
    "win_rank",
    """
    SELECT * FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rnk <= 3
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


@q(
    "win_analytic",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           round(lag(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey), 2) AS prev_price
    FROM orders
    WHERE o_custkey < 100
    """,
)
def win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(run_w), 2).alias("running_spend"),
        F.round(F.lag("o_totalprice").over(order_w), 2).alias("prev_price"),
    )


@q(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject (per-partition heap +
    single-driver merge), not a full sort."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@q(
    "set_ops",
    """
    SELECT 'open_not_closed' AS tag, k AS c_custkey FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'open_and_closed' AS tag, k AS c_custkey FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    open_k = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    closed_k = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    only_open = open_k.subtract(closed_k).select(
        F.lit("open_not_closed").alias("tag"), "c_custkey"
    )
    both = open_k.intersect(closed_k).select(
        F.lit("open_and_closed").alias("tag"), "c_custkey"
    )
    return only_open.unionByName(both)


# --- scalar function families ------------------------------------------------

@q(
    "fn_string",
    """
    SELECT p_partkey,
           upper(substr(p_name, 1, 10))                    AS name_head,
           CAST(length(p_name) AS INT)                     AS name_len,
           CAST(regexp_extract(p_brand, '([0-9]+)$', 1) AS INT) AS brand_code,
           split_part(p_type, ' ', 1)                      AS type_head,
           concat(p_brand, ':', p_type)                    AS brand_type,
           replace(p_name, ' ', '_')                       AS name_snake
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 10)).alias("name_head"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_brand", r"([0-9]+)$", 1).cast("int").alias("brand_code"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@q(
    "fn_datetime",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(year(o_orderdate) AS INT)    AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           count(*)             AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@q(
    "fn_math",
    """
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(sum(abs(l_discount - 0.05)), 4)     AS sum_disc_dev,
           round(sqrt(avg(l_quantity * l_quantity)), 4) AS rms_qty,
           round(max(greatest(l_quantity, CAST(l_linenumber AS DOUBLE))), 2) AS max_greatest,
           round(min(least(l_quantity, CAST(l_linenumber AS DOUBLE))), 2)    AS min_least
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))),
            2,
        ).alias("sum_charge"),
        F.round(F.sum(F.abs(F.col("l_discount") - 0.05)), 4).alias("sum_disc_dev"),
        F.round(F.sqrt(F.avg(F.col("l_quantity") * F.col("l_quantity"))), 4).alias("rms_qty"),
        F.round(F.max(F.greatest(F.col("l_quantity"), ln)), 2).alias("max_greatest"),
        F.round(F.min(F.least(F.col("l_quantity"), ln)), 2).alias("min_least"),
    )


@q(
    "fn_json",
    """
    SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) % 10 AS k_bucket,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON access via get_json_object (the reference's whole data plane is
    JSON, register-mysql-connector.json:22-25)."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@q(
    "fn_array_map",
    """
    SELECT label,
           count(*) AS n_vecs,
           round(avg(round(sqrt(list_aggregate(
               list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6)), 6) AS avg_l2_norm,
           round(avg(len(list_filter(embedding::DOUBLE[], x -> x > 0))), 4) AS avg_n_pos
    FROM embeddings
    GROUP BY label
    """,
)
def fn_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform/aggregate/filter) — all
    JVM-side, no UDF."""
    e = t(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    l2 = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    n_pos = F.size(F.filter(vec, lambda x: x > 0))
    return (
        e.select("label", F.round(l2, 6).alias("l2"), n_pos.alias("n_pos"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("l2"), 6).alias("avg_l2_norm"),
            F.round(F.avg("n_pos"), 4).alias("avg_n_pos"),
        )
    )


@q(
    "join_asof_nearest",
    """
    WITH probes AS (
      SELECT event_id, user_id,
             TIMESTAMP '1994-01-01' + to_days(CAST(event_id % 1800 AS INT))
               AS pts
      FROM events
    ),
    j AS (
      SELECT p.event_id, p.pts, o.o_orderkey, o.o_orderdate,
             abs(epoch_us(o.o_orderdate) - epoch_us(p.pts)) AS du,
             row_number() OVER (PARTITION BY p.event_id
               ORDER BY abs(epoch_us(o.o_orderdate) - epoch_us(p.pts)) ASC,
                        o.o_orderdate ASC, o.o_orderkey DESC) AS rn
      FROM probes p JOIN orders o ON o.o_custkey % 150 = p.user_id
    )
    SELECT event_id, pts, o_orderkey AS nearest_orderkey,
           o_orderdate AS nearest_orderdate,
           CAST(du AS BIGINT) AS nearest_abs_us
    FROM j WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas merge_asof
    direction='nearest'): each probe matches the key's order with the
    MINIMAL |orderdate - probe| — both directions considered, ties broken
    toward the backward match then max orderkey. Probes ride a
    deterministic timeline inside the order era (event ts lives in 2024,
    orders in 1992-98, so a raw-ts 'nearest' would degenerate to plain
    backward-asof — the planted-axis precedent).

    Scale shape: the oracle's candidate join is per-key quadratic; the
    engine instead runs TWO carry-forward window passes over ONE tagged
    union — same partition key, so the second ordering re-sorts within
    partitions but never re-shuffles: backward carry (latest order <=
    pts, max-key ties) and forward carry (t DESC: earliest order >= pts,
    max-key ties), then a scalar nearest-pick between the two candidates
    in exact epoch-microsecond integers. O(n log n) per key, no
    candidate blowup."""
    probes = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.expr(
            "timestampadd(DAY, CAST(event_id % 1800 AS INT),"
            " TIMESTAMP '1994-01-01')"
        ).alias("tt"),
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    )
    o = t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("uid"),
        F.col("o_orderdate").alias("tt"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
    )
    u = probes.unionByName(o).withColumn(
        "payload",
        F.when(
            F.col("is_probe") == 0,
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderdate").alias("d"),
            ),
        ),
    )
    wb = (
        Window.partitionBy("uid")
        .orderBy(
            F.col("tt").asc(), F.col("is_probe").asc(),
            F.col("o_orderkey").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("uid")
        .orderBy(
            F.col("tt").desc(), F.col("is_probe").asc(),
            F.col("o_orderkey").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "event_id",
        "is_probe",
        F.col("tt").alias("pts"),
        F.last("payload", ignorenulls=True).over(wb).alias("bd"),
        F.last("payload", ignorenulls=True).over(wf).alias("fd"),
    ).filter(F.col("is_probe") == 1)
    pus = F.unix_micros(F.col("pts"))
    diff_b = pus - F.unix_micros(F.col("bd.d"))
    diff_f = F.unix_micros(F.col("fd.d")) - pus
    pick = (
        F.when(F.col("bd").isNull(), F.col("fd"))
        .when(F.col("fd").isNull(), F.col("bd"))
        .when(diff_b <= diff_f, F.col("bd"))
        .otherwise(F.col("fd"))
    )
    return (
        carried.filter(
            F.col("bd").isNotNull() | F.col("fd").isNotNull()
        )
        .withColumn("pk", pick)
        .select(
            "event_id",
            "pts",
            F.col("pk.k").alias("nearest_orderkey"),
            F.col("pk.d").alias("nearest_orderdate"),
            F.abs(F.unix_micros(F.col("pk.d")) - pus)
            .cast("bigint")
            .alias("nearest_abs_us"),
        )
    )
