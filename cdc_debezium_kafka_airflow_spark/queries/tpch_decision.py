"""Decision-support composites (TPC-H Q4/Q7/Q10/Q13/Q14/Q15/Q17/Q18/Q19/Q21/
Q22 shapes, adapted to the fixture schema — no partsupp / commitdate /
shipmode columns exist, so lateness is defined against o_orderdate and Q2/Q11/
Q12/Q16/Q20 are out of scope).

Why these matter for parity: the reference's warehouse surface is *raw SQL
pushed to Postgres* (dags/cdc_data_integrity_dynamic_dag.py:50-55 builds and
ships arbitrary SELECTs; readme.md:22-25 claims the warehouse serves BI
queries). A user switching to this engine brings whatever decision-support SQL
they ran there, so the engine must cover the full classical pattern space —
in particular the correlated-subquery family this module adds:

- Q4  correlated EXISTS              -> left-semi hash join
- Q13 filtered LEFT OUTER + two-level aggregate (count histogram)
- Q15 aggregate -> max-over-aggregate (scalar subquery on a derived view)
- Q17 correlated scalar-aggregate subquery -> manual decorrelation
- Q18 IN-subquery with HAVING        -> pre-aggregated semi join
- Q19 disjunctive (OR-of-ANDs) join predicates
- Q21 EXISTS + NOT EXISTS multiway   -> Catalyst decorrelation via spark.sql
- Q22 scalar AVG threshold + NOT EXISTS -> broadcast threshold + anti join

Float protocol: money sums round(2), ratios round(6); thresholds that gate
row membership are computed in exact integer arithmetic (l_quantity is
integer-valued so its sums/avgs are exact doubles; acctbal is scaled to
BIGINT cents and compared via cents*n > total — no division) so no row can
flip sides between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_debezium_kafka_airflow_spark.queries.common import q, t

_TS = lambda s: F.lit(s).cast("timestamp")  # noqa: E731


@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS (an order with at least one
    late-shipped lineitem; fixture has no l_commitdate, so "late" =
    shipped >90 days after the order date).

    Plan: LEFT SEMI hash join on l_orderkey with the date comparison as an
    extra join condition — the decorrelated form. At scale both sides
    shuffle on orderkey once; no per-row subquery execution exists anywhere.
    """
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _TS("1997-04-01 00:00:00"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, yr, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) GROUP BY supp_nation, cust_nation, yr
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.

    Scale posture: nation is broadcast twice (25 rows); the nation filter is
    applied to supplier and customer BEFORE they join the fact tables, so the
    big orderkey/custkey shuffles carry only pair-relevant rows.
    """
    nations = ("NATION_1", "NATION_2")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1998-01-01 00:00:00"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-merchandise revenue in
    a quarter. Plan: date filter prunes orders at the scan, returnflag
    prunes lineitem at the scan, nation broadcast, TakeOrderedAndProject
    caps the sort at k=20 per partition."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _TS("1997-04-01 00:00:00"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@q(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count histogram including zero-order
    customers — the filtered LEFT OUTER join (filter inside the join
    condition, not a WHERE, so empty customers survive) feeding a
    two-level aggregate.

    Scale posture: first aggregate shuffles on c_custkey (same key as the
    join, so AQE coalesces into the join exchange); the second groups the
    already-tiny histogram domain."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@q(
    "q14_promo_effect",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-revenue share for one month. part is
    broadcast (dim table), the month filter reaches the lineitem scan, and
    the two conditional sums fold into ONE aggregate pass."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-09-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1997-10-01 00:00:00"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(disc), 6).alias(
                "promo_revenue"
            )
        )
    )


@q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    max-over-an-aggregated-view (scalar subquery on a derived relation).

    Plan: the revenue view is computed ONCE (persisted for its two
    consumers), the 1-row max is broadcast into the filter, and the
    supplier dim joins by broadcast. Equality is tested on the ROUNDED
    revenue so both engines agree bit-for-bit on who wins."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1997-04-01 00:00:00"))
    )
    # persisted for its two consumers (the max subquery and the final
    # join); NO eager unpersist — the returned frame is still lazy and the
    # harness executes it later, so dropping the cache here would force a
    # full recompute per consumer (the cdc_incremental_agg lesson from the
    # round-3 review); the session cleans up, as other queries do
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
        .persist()
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@q(
    "q17_small_qty_revenue",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems far below their part's average order
    quantity — the classic correlated scalar-aggregate subquery, written in
    its decorrelated form: pre-aggregate avg(l_quantity) per part (one
    shuffle on l_partkey), then join the threshold back.

    Threshold determinism: l_quantity is integer-valued, so per-part sums
    stay exact in float64 under any partition order and both engines derive
    the identical 0.2*avg threshold — no row can flip sides.

    Scale posture: the brand filter (broadcast part dim) prunes BOTH the
    outer lineitems and the per-part aggregate before it, so the avg shuffle
    is brand-sized, not corpus-sized."""
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    li = t(spark, sf_dir, "lineitem")
    brand_li = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    thresholds = (
        brand_li.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        brand_li.join(
            F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@q(
    "q18_large_volume_customer",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold —
    IN-subquery with HAVING, decorrelated as aggregate -> semi join.

    The qualifying-key set (sum(l_quantity) > 250 — exact integer sums) is
    tiny relative to the fact table, so it broadcasts into a left-semi join
    against orders, and only qualifying orders' lineitems re-aggregate."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = t(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == F.col("big_orderkey"), "left_semi"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@q(
    "q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides.

    Catalyst factors the single-side conjuncts out of the disjunction:
    the part scan is pruned to the three brands and the lineitem scan to
    the union quantity range BEFORE the (broadcast) join; the residual OR
    evaluates post-join inside codegen. No cross product, no re-scan per
    branch."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & qty.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@q(
    "q21_suppliers_waiting",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o2 ON l3.l_orderkey = o2.o_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o2.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
    """,
)
def q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the supplier SOLELY responsible for a late
    multi-supplier order — EXISTS (another supplier participated) AND NOT
    EXISTS (another supplier was also late), "late" adapted to
    shipdate > orderdate + 90d.

    Deliberately expressed through spark.sql: correlated EXISTS / NOT
    EXISTS are exactly what Catalyst's RewritePredicateSubquery
    decorrelates into left-semi / left-anti hash joins on l_orderkey.
    tests/test_scale_plans.py pins the plan: no BroadcastNestedLoopJoin,
    no CartesianProduct — every subquery became a hash join, which is the
    shape that survives 100 TB (three orderkey-partitioned shuffles)."""
    t(spark, sf_dir, "supplier").createOrReplaceTempView("q21_supplier")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("q21_lineitem")
    t(spark, sf_dir, "orders").createOrReplaceTempView("q21_orders")
    return spark.sql(
        """
        SELECT s_name, count(*) AS numwait
        FROM q21_supplier
        JOIN q21_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN q21_orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAYS
          AND EXISTS (SELECT 1 FROM q21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
                          JOIN q21_orders o2 ON l3.l_orderkey = o2.o_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o2.o_orderdate + INTERVAL 90 DAYS)
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
        """
    )


@q(
    "q22_dormant_customers",
    """
    WITH pos AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                 FROM customer WHERE c_acctbal > 0.0),
    thr AS (SELECT sum(cents) AS total, count(*) AS n FROM pos)
    SELECT c_mktsegment, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, thr
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * thr.n > thr.total
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-09-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (every fixture customer has SOME order, so "dormant" = nothing
    since 1999-09-01), segmented by market segment.

    Threshold determinism: the scalar AVG comparison is done entirely in
    integer arithmetic — balances scale to BIGINT cents and the test is
    cents*n > total (no division, no float sum) — so the qualifying set is
    bit-identical across engines and partition orders.

    Plan: the 1-row threshold broadcasts; the dormancy check is a left-anti
    hash join against date-pruned orders."""
    c = t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .select(cents.alias("cents"))
        .agg(F.sum("cents").alias("total"), F.count("*").alias("n"))
    )
    recent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _TS("1999-09-01 00:00:00")
    ).select("o_custkey")
    return (
        c.join(F.broadcast(thr))
        .filter(cents * F.col("n") > F.col("total"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@q(
    "q8_market_share",
    """
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN part ON p_partkey = l_partkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT yr,
           round(100.0 * sum(CASE WHEN supp_nation = 'NATION_3'
                                  THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share,
           count(*) AS n_lines
    FROM base GROUP BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a part type's volume
    sold into one region, by year — a 8-table star with a conditional
    ratio at the top. All dims (region, both nation roles, part filter,
    supplier) broadcast; the two fact joins shuffle on their keys; both
    conditional sums fold into ONE aggregate pass."""
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    cust = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .select("c_custkey")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select("s_suppkey", "supp_nation")
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select(
        "p_partkey"
    )
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("yr"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    national = F.when(
        F.col("supp_nation") == "NATION_3", F.col("volume")
    ).otherwise(F.lit(0.0))
    return base.groupBy("yr").agg(
        F.round(F.lit(100.0) * F.sum(national) / F.sum("volume"), 6).alias(
            "mkt_share"
        ),
        F.count("*").alias("n_lines"),
    )


@q(
    "q9_product_profit",
    """
    SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity) * 10000) AS BIGINT))
                AS BIGINT) / 10000.0 AS profit,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for one product
    family (fixture has no partsupp, so p_retailprice*quantity stands in
    for ps_supplycost). The name LIKE filter prunes part BEFORE it
    broadcasts into lineitem, so the fact shuffle carries only the
    product family's rows."""
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem")
    # per-row integer scaling (ROADMAP #7): the profit expression has a
    # fixed 4dp lattice, so summing scaled BIGINTs is exact under any
    # partition order — no .01 flips at the rounding boundary
    profit_scaled = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity")
        )
        * 10000
    ).cast("long")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            (F.sum(profit_scaled) / F.lit(10000.0)).alias("profit"),
            F.count("*").alias("n_lines"),
        )
    )
