"""Fifth wave: operational CDC audits, privacy auditing, time-series
diagnostics, link prediction, and corpus-statistics laws.

Families added this round (round 7):
- CDC pipeline operations the reference's monitors imply but never compute
  (dags/kafka_latency_monitor.py watches END offsets only): offset-gap
  (lost-message) audit and out-of-order arrival audit over the changelog.
- Privacy: k-anonymity / l-diversity audit (companion to sec_masked_view,
  sec_dp_release — the third leg of the privacy family).
- Time-series diagnostics: lag-k autocorrelation and CUSUM changepoint
  detection over the events stream.
- Period-over-period revenue comparison (the WoW dashboard staple).
- Bipartite link prediction (common-neighbor / Jaccard) over the
  part-supplier graph — the graph family's non-iterative member.
- Corpus-statistics laws for LLM-data work: Zipf exponent (octave
  estimator), Heaps vocabulary-growth curve, and MOSS-style winnowing
  fingerprints (Schleimer et al. 2003) for plagiarism/overlap detection.

Cross-engine float discipline (ROADMAP.md item 7): aggregates an oracle
re-sums are computed in EXACT integer arithmetic (int64 cents; DECIMAL(38)
/ HUGEINT where squares exceed int64); doubles appear only in a fixed,
identically-parenthesized tail of single IEEE ops rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.operators.ranking import (
    histogram_rank,
    ntile_from_rank,
)
from cdc_debezium_kafka_airflow_spark.queries.common import (
    q,
    t,
    widen_narrow_scan,
)
from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
    SQL_TABLE_CASE,
    TOPIC_PREFIX,
    build_changelog,
)

_SQL_TOPIC = f"'{TOPIC_PREFIX}' || {SQL_TABLE_CASE}"

# ---------------------------------------------------------------------------
# CDC operational audits
# ---------------------------------------------------------------------------


@q(
    "cdc_offset_gap_audit",
    f"""
    WITH ch AS (
      SELECT {_SQL_TOPIC} AS topic, event_id AS off FROM events
    ),
    d AS (
      SELECT topic, off,
             off - lag(off) OVER (PARTITION BY topic ORDER BY off) - 1
               AS gap
      FROM ch
    )
    SELECT topic,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(count(CASE WHEN gap > 0 THEN 1 END) AS BIGINT) AS n_gaps,
           CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap,
           CAST(coalesce(sum(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
             AS missing_offsets
    FROM d GROUP BY topic
    """,
)
def cdc_offset_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-continuity audit per CDC topic: a gap between consecutive
    observed offsets means messages were lost, filtered, or compacted —
    the integrity check the reference's lag monitor
    (dags/kafka_latency_monitor.py:49-55) cannot see because it only polls
    END offsets. Reports per topic: record count, number of gaps, the
    largest gap, and total missing offsets (the changelog routes one
    global offset sequence across 5 topics, so per-topic gaps are the
    EXPECTED cross-topic interleave — the audit quantifies them exactly).

    Scale: one exchange (hash by topic) + an in-partition sort; on a real
    Kafka source rows arrive per-partition already offset-ordered, so the
    sort collapses to a streaming scan. Column pruning drops the fixture's
    JSON envelope serialization entirely (only offset/topic survive)."""
    ch = build_changelog(t(spark, sf_dir, "events")).select(
        "topic", F.col("offset").alias("off")
    )
    w = Window.partitionBy("topic").orderBy("off")
    d = ch.withColumn(
        "gap", F.col("off") - F.lag("off").over(w) - F.lit(1)
    )
    return d.groupBy("topic").agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.count(F.when(F.col("gap") > 0, 1)).cast("bigint").alias("n_gaps"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("bigint").alias("max_gap"),
        F.coalesce(
            F.sum(F.when(F.col("gap") > 0, F.col("gap"))), F.lit(0)
        )
        .cast("bigint")
        .alias("missing_offsets"),
    )


@q(
    "cdc_ordering_audit",
    f"""
    WITH ch AS (
      SELECT {_SQL_TOPIC} AS topic, event_id AS off, ts FROM events
    ),
    d AS (
      SELECT topic, off, ts,
             lag(ts) OVER (PARTITION BY topic ORDER BY off) AS prev_ts
      FROM ch
    ),
    p AS (
      SELECT topic,
             CAST(count(prev_ts) AS BIGINT) AS n_pairs,
             CAST(count(CASE WHEN prev_ts > ts THEN 1 END) AS BIGINT)
               AS n_inversions,
             CAST(coalesce(max(CASE WHEN prev_ts > ts
                    THEN epoch_us(prev_ts) - epoch_us(ts) END), 0)
                  AS BIGINT) AS max_backward_us
      FROM d GROUP BY topic
    )
    SELECT topic, n_pairs, n_inversions, max_backward_us,
           CASE WHEN n_pairs > 0
                THEN 1000000 * n_inversions // n_pairs
                ELSE CAST(0 AS BIGINT) END AS inversion_ppm
    FROM p
    """,
)
def cdc_ordering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit per CDC topic: within a topic (offset
    order = broker order), how often does the EVENT timestamp run
    backwards, and by how much at worst? This is the number that sizes
    every downstream watermark delay (stream_watermark,
    stream_late_data_drop pin the semantics; this measures the input) —
    at 100 TB you set `withWatermark` from this audit, not from folklore.
    inversion_ppm is exact integer arithmetic (parts-per-million via int64
    floor division; positive operands, so Spark `div`/DuckDB `//`
    agree)."""
    ch = build_changelog(t(spark, sf_dir, "events")).select(
        "topic", F.col("offset").alias("off"), F.col("timestamp").alias("ts")
    )
    w = Window.partitionBy("topic").orderBy("off")
    d = ch.withColumn("prev_ts", F.lag("ts").over(w))
    inv = F.col("prev_ts") > F.col("ts")
    p = d.groupBy("topic").agg(
        F.count("prev_ts").cast("bigint").alias("n_pairs"),
        F.count(F.when(inv, 1)).cast("bigint").alias("n_inversions"),
        F.coalesce(
            F.max(
                F.when(
                    inv, F.unix_micros("prev_ts") - F.unix_micros("ts")
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_backward_us"),
    )
    return p.select(
        "topic",
        "n_pairs",
        "n_inversions",
        "max_backward_us",
        # n_pairs = 0 for a single-record topic: Spark `div` would yield
        # NULL while DuckDB `//` errors — pin the edge to 0 on both sides
        F.expr(
            "CASE WHEN n_pairs > 0 THEN 1000000 * n_inversions div n_pairs"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("inversion_ppm"),
    )


# ---------------------------------------------------------------------------
# Privacy: k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------


@q(
    "sec_k_anonymity",
    """
    WITH cells AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_div
      FROM customer
      GROUP BY c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)
    )
    SELECT c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN n < 5 THEN 1 END) AS BIGINT)
             AS k_violating_cells,
           CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(min(l_div) AS BIGINT) AS min_l_diversity,
           (count(CASE WHEN n < 5 THEN 1 END) = 0) AS k_anonymous
    FROM cells GROUP BY c_nationkey
    """,
)
def sec_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit — the release-gate a data publisher
    runs BEFORE sec_masked_view ships a dataset: quasi-identifier cells
    (nation x account-balance band) with fewer than k=5 members re-identify
    their members; a cell whose sensitive attribute (market segment) takes
    <l distinct values leaks it even at k. Per nation: cell count, rows,
    k=5 violations, rows at risk, worst-cell l-diversity, and the pass
    flag. Completes the privacy family (masking, DP release, crypto-shred,
    PII scrub) with the auditing leg.

    Scale: two hash aggregations with map-side partials; the first groups
    by the QI cell key (bounded by the QI domain, not the row count), the
    second by nation. No window, no join."""
    c = t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    cells = c.groupBy(
        "c_nationkey", band.alias("bal_band")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_distinct("c_mktsegment").cast("bigint").alias("l_div"),
    )
    small = F.col("n") < 5
    return cells.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.when(small, 1)).cast("bigint").alias("k_violating_cells"),
        F.coalesce(F.sum(F.when(small, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.min("l_div").cast("bigint").alias("min_l_diversity"),
        (F.count(F.when(small, 1)) == 0).alias("k_anonymous"),
    )


# ---------------------------------------------------------------------------
# Time-series diagnostics
# ---------------------------------------------------------------------------


@q(
    "ts_autocorr",
    """
    WITH day AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY date_trunc('day', ts)
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM day
    ),
    dev AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(n * x - s AS HUGEINT) AS dv
      FROM day CROSS JOIN stats
    ),
    den AS (SELECT sum(dv * dv) AS dd FROM dev),
    num AS (
      SELECT k.k AS lag_k, sum(a.dv * b.dv) AS nk,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM range(1, 8) AS k(k)
      JOIN dev a ON TRUE
      JOIN dev b ON b.rn = a.rn + k.k
      GROUP BY k.k
    )
    SELECT CAST(lag_k AS BIGINT) AS lag_k, n_terms,
           round(CAST(nk AS DOUBLE) / CAST(dd AS DOUBLE), 6) AS acf
    FROM num CROSS JOIN den
    WHERE dd > 0
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of daily revenue — the seasonality
    diagnostic that justifies ts_seasonal_decompose's weekly period (a
    weekly cycle shows as an ACF peak at lag 7). Exactness: with S the
    integer total and n the day count, the scaled deviation n*x_t - S is
    an exact integer, so numerator sum(d_t * d_{t+k}) and denominator
    sum(d_t^2) are exact (DECIMAL(38,0) on Spark, HUGEINT in DuckDB — the
    squares exceed int64); the ACF is ONE double division rounded to 6.
    Scale: the corpus collapses to |days| rows in ONE partial-agged pass
    and is never re-scanned; totals, deviations, all 7 lags, and the
    denominator are windows over that single tiny frame, and the 7
    products unpivot through `stack` so the per-lag sums come from one
    aggregation."""
    e = t(spark, sf_dir, "events")
    day = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    # Everything below the day-aggregation runs on the |days| frame in a
    # SINGLE scan: totals, deviations, the 7 lags, and the denominator are
    # whole-frame / ordered windows over one deliberately-single-partition
    # frame (30 rows here; |days| even at 100 TB is thousands — the one
    # case where a partition-less window is the right plan). The earlier
    # crossJoin(stats) + rn-self-join formulation re-aggregated the raw
    # corpus SIX times.
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wo = Window.partitionBy(F.lit(1)).orderBy("d")
    dev = day.select(
        "d",
        (
            F.count("*").over(wall) * F.col("x") - F.sum("x").over(wall)
        )
        .cast("decimal(38,0)")
        .alias("dv"),
    )
    lagged = dev.select(
        "dv",
        F.sum(F.col("dv") * F.col("dv")).over(wall).alias("dd"),
        *[F.lag("dv", k).over(wo).alias(f"l{k}") for k in range(1, 8)],
    )
    stacked = lagged.select(
        "dd",
        F.expr(
            "stack(7, "
            + ", ".join(
                f"CAST({k} AS BIGINT), dv * l{k}" for k in range(1, 8)
            )
            + ") AS (lag_k, prod)"
        ),
    )
    # Two edge guards (ADVICE round-7 + round-8 test): (1) drop NULL
    # products (the first k rows of each lag) BEFORE grouping — a lag
    # k >= |days| then contributes no rows at all, matching the oracle's
    # inner join which emits no row for it; (2) a CONSTANT daily series
    # has dd = 0, where ANSI Spark raises DIVIDE_BY_ZERO while DuckDB
    # emits NaN — both sides now pin that degenerate case (ACF undefined)
    # to the empty result.
    return (
        stacked.where(F.col("prod").isNotNull() & (F.col("dd") > 0))
        .groupBy("lag_k")
        .agg(
            F.count("prod").cast("bigint").alias("n_terms"),
            F.round(
                F.sum("prod").cast("double") / F.min("dd").cast("double"), 6
            ).alias("acf"),
        )
    )


@q(
    "ts_cusum_changepoint",
    """
    WITH day AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                  AS BIGINT) AS x
      FROM events GROUP BY date_trunc('day', ts)
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM day
    ),
    cum AS (
      SELECT d,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t_idx,
             CAST(sum(x) OVER (ORDER BY d) AS BIGINT) AS cx
      FROM day
    ),
    cusum AS (
      SELECT d, t_idx, cx, n * cx - t_idx * s AS s_stat
      FROM cum CROSS JOIN stats
    )
    SELECT CAST(d AS TIMESTAMP) AS day_start, t_idx, cx AS cum_errors,
           s_stat,
           round(CAST(abs(s_stat) AS DOUBLE) / (n * s), 6) AS s_norm
    FROM cusum CROSS JOIN stats
    ORDER BY abs(s_stat) DESC, d LIMIT 5
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily error count — the
    level-shift detector behind "did the error rate change, and WHEN?"
    (monitor_slo_burn_rate pages on the rate; this localizes the break).
    The statistic n*C_t - t*S (C_t = running sum, S = total) is the exact
    integer form of cumsum(x - mean): its extremum is the max-likelihood
    single changepoint under a mean-shift model. Top-5 candidate days by
    |S_t| with a normalized score (one double division, rounded).
    Scale: corpus -> |days| rows in one aggregation; the cumulative
    window runs over the tiny day frame."""
    e = t(spark, sf_dir, "events")
    day = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("bigint")
        .alias("x")
    )
    stats = day.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    wo = Window.orderBy("d")
    cum = day.select(
        "d",
        F.row_number().over(wo).cast("bigint").alias("t_idx"),
        F.sum("x").over(wo).cast("bigint").alias("cx"),
    )
    cusum = cum.crossJoin(F.broadcast(stats)).select(
        "d",
        "t_idx",
        "cx",
        (F.col("n") * F.col("cx") - F.col("t_idx") * F.col("s")).alias(
            "s_stat"
        ),
        "n",
        "s",
    )
    return (
        cusum.select(
            F.col("d").alias("day_start"),
            "t_idx",
            F.col("cx").alias("cum_errors"),
            "s_stat",
            F.round(
                F.abs("s_stat").cast("double") / (F.col("n") * F.col("s")),
                6,
            ).alias("s_norm"),
        )
        .orderBy(F.abs("s_stat").desc(), "day_start")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Period-over-period comparison
# ---------------------------------------------------------------------------


@q(
    "win_period_compare",
    """
    WITH wk AS (
      SELECT c_mktsegment AS segment,
             date_trunc('week', o_orderdate) AS week_start,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_mktsegment, date_trunc('week', o_orderdate)
    )
    SELECT segment, CAST(week_start AS TIMESTAMP) AS week_start, rev_cents,
           lag(rev_cents) OVER (PARTITION BY segment ORDER BY week_start)
             AS prev_cents,
           round((rev_cents - lag(rev_cents) OVER
                    (PARTITION BY segment ORDER BY week_start))
                 / CAST(lag(rev_cents) OVER
                    (PARTITION BY segment ORDER BY week_start) AS DOUBLE),
                 6) AS wow_change,
           CAST(sum(rev_cents) OVER
                  (PARTITION BY segment ORDER BY week_start
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS rolling_3wk_cents
    FROM wk
    """,
)
def win_period_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue per market segment with a trailing 3-week
    total — the period-comparison dashboard query every warehouse serves.
    Revenue is exact int64 cents; the WoW change is one double division
    over integer operands, rounded to 6. ISO weeks (`date_trunc('week')`
    is Monday-anchored in both engines).
    Scale: one join (customer side broadcastable) + one partial-agged
    aggregation to |segments x weeks| rows; both windows share ONE
    partitioning (segment) and sort (week), so Spark plans a single
    exchange + sort for all three analytic columns."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    wk = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("week", "o_orderdate").alias("week_start"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("segment").orderBy("week_start")
    prev = F.lag("rev_cents").over(w)
    return wk.select(
        "segment",
        "week_start",
        "rev_cents",
        prev.alias("prev_cents"),
        F.round(
            (F.col("rev_cents") - prev) / prev.cast("double"), 6
        ).alias("wow_change"),
        F.sum("rev_cents")
        .over(w.rowsBetween(-2, 0))
        .cast("bigint")
        .alias("rolling_3wk_cents"),
    )


# ---------------------------------------------------------------------------
# Bipartite link prediction
# ---------------------------------------------------------------------------


@q(
    "graph_link_prediction",
    """
    WITH e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
    ok AS (SELECT p FROM e GROUP BY p HAVING count(*) <= 64),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS cn
      FROM e a
      JOIN e b ON a.p = b.p AND a.s < b.s
      JOIN ok ON ok.p = a.p
      GROUP BY a.s, b.s
    )
    SELECT s1, s2, cn, d1.deg AS deg1, d2.deg AS deg2,
           round(CAST(cn AS DOUBLE) / (d1.deg + d2.deg - cn), 6)
             AS jaccard
    FROM pairs
    JOIN deg d1 ON d1.s = s1
    JOIN deg d2 ON d2.s = s2
    ORDER BY cn DESC, s1, s2 LIMIT 20
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part-supplier bipartite graph:
    common-neighbor count and neighborhood Jaccard for supplier pairs —
    the non-iterative graph-analytics member beside PageRank/BFS/triangles
    (and the same candidate shape a 'suppliers like this one' recommender
    serves). Pairs are generated by joining the edge list with ITSELF ON
    THE SHARED NODE (both sides arrive co-partitioned from the same
    distinct-edge shuffle, and the pair counts combine map-side before
    the pair exchange), so work is sum(deg(p)^2) — and parts hotter than
    64 suppliers are excluded up front (the standard hot-node cap: a node
    with millions of neighbors contributes quadratic pairs but no signal;
    at 100 TB you cap or sample, and the cap is part of the operator's
    contract, stated here rather than hidden). The basket_assoc_rules-
    style map-side array pairing was MEASURED SLOWER here (10.6 s vs
    3.3 s at sf0.1): at ~30 neighbors/part the nested-transform struct
    build runs interpreted while the self-join + partial agg stay in
    whole-stage codegen — the array form only wins when the per-node
    fan-out is small. Top-20 by common-neighbor count with deterministic
    (s1, s2) tie-break; Jaccard is one double division over exact
    integers.
    Scale: distinct-edge projection is one agg; the self-join shuffles on
    p (co-partitioned both sides); the pair agg combines map-side; degree
    lookup is a broadcast (|suppliers| rows); top-20 is a driver heap
    (TakeOrderedAndProject)."""
    li = t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = e.groupBy("s").agg(F.count("*").cast("bigint").alias("deg"))
    ok = (
        e.groupBy("p")
        .agg(F.count("*").alias("np"))
        .filter(F.col("np") <= 64)
        .select("p")
    )
    # hot-node cap applied BEFORE pairing (left-semi on p): the semi join,
    # the self-join, and the degree agg all shuffle on the same keys the
    # edge projection already produced
    e_ok = e.join(ok, "p", "semi")
    a = e_ok.alias("a")
    b = e_ok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").cast("bigint").alias("cn"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("deg").alias("deg2"))
    scored = (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "cn",
            "deg1",
            "deg2",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("cn").desc(), "s1", "s2").limit(20)


# ---------------------------------------------------------------------------
# Customer-value analytics: RFM segmentation + Gini concentration
# ---------------------------------------------------------------------------


@q(
    "agg_rfm_segmentation",
    """
    WITH cust AS (
      SELECT o_custkey AS c,
             CAST(date_diff('day', max(o_orderdate),
                    (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
               AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS money
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT c, rec_days, freq, money,
             ntile(5) OVER (ORDER BY rec_days DESC, c) AS r_score,
             ntile(5) OVER (ORDER BY freq ASC, c) AS f_score,
             ntile(5) OVER (ORDER BY money ASC, c) AS m_score
      FROM cust
    )
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
             AS rfm_segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(money) AS BIGINT) AS total_cents,
           CAST(sum(money) AS BIGINT) // count(*) AS avg_cents
    FROM scored GROUP BY r_score * 100 + f_score * 10 + m_score
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    CRM workhorse: quintile scores per dimension, concatenated into the
    classic 111..555 segment code, with per-segment size and value.
    Determinism: every ntile ORDER BY carries the custkey tie-break, so
    quintile boundaries are reproducible across engines and runs (an
    unordered ntile is the classic nondeterministic-segmentation bug).
    Monetary is exact int64 cents end to end — the per-segment average is
    integer cents via truncating division (a double average rounded to 2
    lands on half-cent ties the engines round apart).

    Scale (round 10): the oracle's three ntile(5) windows are GLOBAL
    sorts over all customers — a single-task straggler once |customers|
    is large. The Spark plan instead stacks the three dimensions with
    one explode (r negated so every order is ASC), derives each row's
    EXACT rank per dimension from the value histogram
    (operators/ranking.py histogram_rank, group_cols=dim — every window
    partitioned, no ``WindowExec: No Partition Defined``), converts rank
    to the identical ntile bucket arithmetically (ntile_from_rank), and
    pivots the three scores back with one customer-keyed aggregation.
    Value domains are bounded data properties, not row counts: recency
    spans the date range in days, frequency the per-customer order
    count, monetary the per-customer cents range."""
    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        o.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("bigint").alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("money"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "c",
            F.datediff("gmax", "last_order").cast("bigint").alias(
                "rec_days"
            ),
            "freq",
            "money",
        )
    )
    stacked = cust.select(
        "c",
        "money",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("dim"),
                    (-F.col("rec_days")).alias("val"),
                ),
                F.struct(F.lit("f").alias("dim"), F.col("freq").alias("val")),
                F.struct(
                    F.lit("m").alias("dim"), F.col("money").alias("val")
                ),
            )
        ).alias("dv"),
    ).select("c", "money", F.col("dv.dim").alias("dim"), F.col("dv.val").alias("val"))
    ranked = histogram_rank(
        stacked,
        "val",
        "c",
        group_cols=("dim",),
        rank_col="_rk",
        n_col="_n",
    )
    quint = ranked.select(
        "c",
        "money",
        "dim",
        ntile_from_rank("_rk", "_n", 5).alias("s"),
    )
    scored = quint.groupBy("c").agg(
        F.max(F.when(F.col("dim") == "r", F.col("s"))).alias("r_score"),
        F.max(F.when(F.col("dim") == "f", F.col("s"))).alias("f_score"),
        F.max(F.when(F.col("dim") == "m", F.col("s"))).alias("m_score"),
        F.max("money").alias("money"),
    )
    return scored.groupBy(
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        )
        .cast("bigint")
        .alias("rfm_segment")
    ).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("money").cast("bigint").alias("total_cents"),
        # exact integer cents (truncating div, positive operands) — a
        # double avg rounded to 2 lands on half-cent ties (x.xx5) whose
        # representation the two engines round apart
        F.expr(
            "CAST(sum(money) AS BIGINT) div count(*)"
        ).alias("avg_cents"),
    )


@q(
    "agg_gini_coefficient",
    """
    WITH rev AS (
      SELECT c_mktsegment AS segment, o_custkey AS c,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_mktsegment, o_custkey
    ),
    rk AS (
      SELECT segment, x,
             CAST(row_number() OVER (PARTITION BY segment ORDER BY x, c)
                  AS BIGINT) AS i
      FROM rev
    ),
    g AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(i * x) AS BIGINT) AS six
      FROM rk GROUP BY segment
    )
    SELECT segment, n AS n_customers,
           round(sx / 100.0, 2) AS total_revenue,
           round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                 / CAST(n * sx AS DOUBLE), 6) AS gini
    FROM g
    """,
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration per market segment — the
    inequality summary behind agg_pareto_abc's band view (ABC says "top
    20% hold X%"; Gini compresses the whole Lorenz curve to one number).
    Rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) with x
    ascending: numerator and denominator are EXACT int64 (rank x cents
    products stay well under 2^63 at any plausible segment size), the
    final division is one double op rounded to 6. Ranks are deterministic
    via the (x, custkey) tie-break.
    Scale: revenue agg is hash-partitioned with map-side partials; the
    rank window sorts WITHIN each segment partition (|customers| rows);
    the final agg is 5 rows."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rev = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("c"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    rk = rev.select(
        "segment",
        "x",
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("x", "c"))
        .cast("bigint")
        .alias("i"),
    )
    g = rk.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    return g.select(
        "segment",
        F.col("n").alias("n_customers"),
        F.round(F.col("sx") / 100.0, 2).alias("total_revenue"),
        F.round(
            (2 * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * F.col("sx")).cast("double"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Corpus-statistics laws (LLM-data health metrics)
# ---------------------------------------------------------------------------

_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"


@q(
    "ext_zipf_fit",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks
      WHERE tok <> '' GROUP BY tok
    ),
    ranked AS (
      SELECT f,
             CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS r
      FROM counts
      QUALIFY r <= 128
    )
    SELECT a.r AS rank_lo, a.f AS freq_lo, b.r AS rank_hi, b.f AS freq_hi,
           round(ln(CAST(a.f AS DOUBLE) / b.f) / ln(2.0), 6)
             AS zipf_exponent
    FROM ranked a JOIN ranked b ON b.r = 2 * a.r
    WHERE a.r IN (1, 2, 4, 8, 16, 32, 64)
    """,
)
def ext_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus vocabulary, estimated per OCTAVE:
    under freq(r) ~ r^-s, s = log2(freq(r)/freq(2r)) for any rank r, so
    the seven (r, 2r) pairs down the top-128 ranks give a distribution of
    local exponents — the corpus-health readout data curators watch (a
    natural-language corpus sits near s~1; boilerplate-heavy or deduped-
    to-death corpora drift off). Octave ratios avoid the log-log OLS whose
    double SUMS would be partition-order-dependent; here the only float
    ops are one division, one ln, one constant ln(2), per output row.
    Scale: token counting is the canonical map-side-combine word count;
    ranking touches only the top-128 frame (TakeOrderedAndProject)."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(ws_tokens(normalize_text(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("f"))
    top = counts.orderBy(F.col("f").desc(), "tok").limit(128)
    ranked = top.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), "tok"))
        .cast("bigint")
        .alias("r"),
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    return (
        a.join(b, F.col("b.r") == 2 * F.col("a.r"))
        .filter(F.col("a.r").isin(1, 2, 4, 8, 16, 32, 64))
        .select(
            F.col("a.r").alias("rank_lo"),
            F.col("a.f").alias("freq_lo"),
            F.col("b.r").alias("rank_hi"),
            F.col("b.f").alias("freq_hi"),
            F.round(
                F.log(F.col("a.f").cast("double") / F.col("b.f"))
                / F.log(F.lit(2.0)),
                6,
            ).alias("zipf_exponent"),
        )
    )


@q(
    "ext_heaps_law",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(doc_id * 10 // ((SELECT max(doc_id) FROM documents) + 1)
                  AS BIGINT) AS bucket,
             string_split({_NORM}, ' ') AS toks
      FROM documents
    ),
    tokcnt AS (
      SELECT bucket,
             CAST(sum(len(list_filter(toks, x -> x <> ''))) AS BIGINT)
               AS n_tokens
      FROM d GROUP BY bucket
    ),
    firsts AS (
      SELECT tok, CAST(min(bucket) AS BIGINT) AS first_bucket
      FROM (SELECT bucket, unnest(toks) AS tok FROM d)
      WHERE tok <> '' GROUP BY tok
    ),
    newterms AS (
      SELECT first_bucket AS bucket, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY first_bucket
    ),
    cum AS (
      SELECT t.bucket, t.n_tokens, coalesce(n.n_new, 0) AS n_new,
             CAST(sum(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT)
               AS tokens_cum,
             CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY t.bucket)
                  AS BIGINT) AS vocab_cum
      FROM tokcnt t LEFT JOIN newterms n ON n.bucket = t.bucket
    )
    SELECT bucket, n_tokens, CAST(n_new AS BIGINT) AS n_new, tokens_cum,
           vocab_cum,
           round(ln(CAST(vocab_cum AS DOUBLE)
                    / lag(vocab_cum) OVER (ORDER BY bucket))
                 / ln(CAST(tokens_cum AS DOUBLE)
                      / lag(tokens_cum) OVER (ORDER BY bucket)), 6)
             AS heaps_beta
    FROM cum
    """,
)
def ext_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: split the corpus into 10 doc-id
    buckets, count cumulative tokens T_b and cumulative DISTINCT vocabulary
    V_b (a term counts at its FIRST bucket — min(bucket) per term, the
    trick that turns 'cumulative distinct' into one aggregation instead of
    10 re-scans), and estimate the local Heaps exponent beta from
    consecutive buckets (V ~ T^beta). For LLM data work this is the
    dedup/diversity dial: beta collapsing toward 0 means new data stops
    contributing vocabulary — the saturation signal that drives corpus-mix
    decisions. All counts exact int64; beta is a fixed ln/ln tail.
    Scale: first-occurrence is a |vocab|-sized agg (map-side combined);
    the cumulative window runs over 10 rows."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    docs = t(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("mxp1"))
    d = docs.crossJoin(F.broadcast(mx)).select(
        F.expr("doc_id * 10 div mxp1").cast("bigint").alias("bucket"),
        F.filter(
            ws_tokens(normalize_text(F.col("text"))), lambda x: x != ""
        ).alias("toks"),
    )
    tokcnt = d.groupBy("bucket").agg(
        F.sum(F.size("toks")).cast("bigint").alias("n_tokens")
    )
    firsts = (
        d.select("bucket", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").cast("bigint").alias("first_bucket"))
    )
    newterms = firsts.groupBy(
        F.col("first_bucket").alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("n_new"))
    wo = Window.orderBy("bucket")
    cum = (
        tokcnt.join(newterms, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn(
            "tokens_cum", F.sum("n_tokens").over(wo).cast("bigint")
        )
        .withColumn("vocab_cum", F.sum("n_new").over(wo).cast("bigint"))
    )
    return cum.select(
        "bucket",
        "n_tokens",
        "n_new",
        "tokens_cum",
        "vocab_cum",
        F.round(
            F.log(
                F.col("vocab_cum").cast("double")
                / F.lag("vocab_cum").over(wo)
            )
            / F.log(
                F.col("tokens_cum").cast("double")
                / F.lag("tokens_cum").over(wo)
            ),
            6,
        ).alias("heaps_beta"),
    )


@q(
    "ext_winnowing_fingerprint",
    f"""
    WITH d AS (
      SELECT doc_id, {_NORM} AS t FROM documents
      WHERE length({_NORM}) >= 16
    ),
    c AS (
      SELECT doc_id, t, length(t) AS n,
             list_transform(range(1, length(t) + 1),
               i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))
               AS codes
      FROM d
    ),
    kg AS (
      SELECT doc_id, n - 7 AS m,
             list_transform(range(8, n + 1),
               i -> codes[i] + codes[i-1]*31 + codes[i-2]*961
                    + codes[i-3]*29791 + codes[i-4]*923521
                    + codes[i-5]*28629151 + codes[i-6]*887503681
                    + codes[i-7]*27512614111) AS hashes
      FROM c
    ),
    fp AS (
      SELECT doc_id, m,
             list_distinct(list_transform(range(1, m - 2),
               j -> list_aggregate(hashes[j:j+3], 'min'))) AS fps
      FROM kg
    ),
    u AS (SELECT doc_id, m, unnest(fps) AS h FROM fp),
    freq AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM u GROUP BY h)
    SELECT u.doc_id,
           CAST(min(u.m) AS BIGINT) AS n_kgrams,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           round(count(*) / CAST(min(u.m) - 3 AS DOUBLE), 6) AS density,
           CAST(sum(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           round(sum(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS shared_frac
    FROM u JOIN freq USING (h)
    GROUP BY u.doc_id
    """,
)
def ext_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS algorithm): hash every 8-char k-gram, slide a w=4 window over
    the hash sequence, keep each window's MINIMUM — the guarantee is that
    any match of length >= k+w-1 (11 chars) shares at least one selected
    fingerprint, at ~2/(w+1) the storage of full k-gram sets. Per doc:
    k-gram count, selected-fingerprint count, selection density, and how
    many fingerprints are shared with other documents (the
    plagiarism/overlap candidate signal — the same cross-doc join shape
    as ext_content_defined_chunks, at finer granularity).

    All JVM higher-order functions over a split-once code array (the same
    8-term int64 polynomial as the CDC chunker, exact — no overflow at
    code<2^21); the window minimum is slice+array_min inside one
    transform. Only the fingerprint-frequency agg and the join back
    shuffle — both on the fingerprint hash, the bucketable key. At 100 TB
    the fingerprint table IS the overlap index (MOSS stores exactly
    this)."""
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.lower(
                F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
            ).alias("t"),
        )
        .filter(F.length("t") >= 16)
        .repartition(F.col("doc_id"))
    )
    c = d.select(
        "doc_id",
        F.length("t").alias("n"),
        F.expr(
            "transform(split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))"
        ).alias("codes"),
    )
    kg = c.select(
        "doc_id",
        (F.col("n") - 7).alias("m"),
        F.expr(
            "transform(sequence(8, n), i ->"
            " element_at(codes, i) + element_at(codes, i-1)*31"
            " + element_at(codes, i-2)*961 + element_at(codes, i-3)*29791"
            " + element_at(codes, i-4)*923521"
            " + element_at(codes, i-5)*28629151"
            " + element_at(codes, i-6)*887503681"
            " + element_at(codes, i-7)*27512614111)"
        ).alias("hashes"),
    )
    # w=4 window minimum via four element_at lookups, NOT slice():
    # referencing `hashes` once lets CollapseProject inline the whole
    # k-gram transform INSIDE this lambda (re-evaluated per window =
    # O(m^2) per doc — observed hang); >=2 references block the collapse,
    # and four O(1) lookups beat allocating a 4-slice per window anyway
    fp = kg.select(
        "doc_id",
        "m",
        F.expr(
            "array_distinct(transform(sequence(1, m - 3),"
            " j -> least(element_at(hashes, j), element_at(hashes, j+1),"
            "            element_at(hashes, j+2), element_at(hashes, j+3))))"
        ).alias("fps"),
    )
    # explode_OUTER on purpose: plain explode triggers
    # InferFiltersFromGenerate, which pushes an inferred `size(fps) > 0`
    # predicate down through every projection — inlining the whole O(n)
    # k-gram chain (with the code array re-inlined per term) into a
    # Filter that re-evaluates it per row = observed multi-minute hang at
    # 500 docs. The outer variant skips that rule, and fps is never empty
    # here (length >= 16 guarantees m - 3 >= 6 windows).
    u = fp.select("doc_id", "m", F.explode_outer("fps").alias("h"))
    # cross-doc sharing via ONE window over the fingerprint hash instead
    # of a groupBy + join-back: per-doc fps are distinct (array_distinct),
    # so "shared by >= 2 docs" == min(doc_id) != max(doc_id) within the
    # hash partition — one shuffle, and the expensive HOF subtree is
    # evaluated once (the join formulation re-computed it on both sides)
    wh = Window.partitionBy("h")
    marked = u.select(
        "doc_id",
        "m",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias(
            "is_shared"
        ),
    )
    shared = F.sum(F.when(F.col("is_shared"), 1).otherwise(0))
    return (
        marked
        .groupBy("doc_id")
        .agg(
            F.min("m").cast("bigint").alias("n_kgrams"),
            F.count("*").cast("bigint").alias("n_fingerprints"),
            F.round(
                F.count("*") / (F.min("m") - 3).cast("double"), 6
            ).alias("density"),
            shared.cast("bigint").alias("n_shared"),
            F.round(shared / F.count("*").cast("double"), 6).alias(
                "shared_frac"
            ),
        )
    )


@q(
    "ext_calibration_curve",
    f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split({_NORM}, ' '),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             1000000 * (20 + abs(n_tokens - 45) + (n_tokens - 45))
               // (2 * (20 + abs(n_tokens - 45))) AS conf_e6
      FROM feat
    ),
    labeled AS (
      SELECT doc_id, conf_e6,
             least(conf_e6 // 100000, 9) AS bin,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|cal'),
                                   1, 8)) AS BIGINT) * 10000000
              < (8 * conf_e6 + 1000000) * 4294967296) AS label
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(sum(conf_e6) AS BIGINT) AS conf_e6_sum,
           round(CAST(sum(conf_e6) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS mean_conf,
           round(sum(CASE WHEN label THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS obs_rate,
           (CAST(sum(conf_e6) AS DOUBLE) / count(*) / 1000000.0
            > sum(CASE WHEN label THEN 1 ELSE 0 END)
              / CAST(count(*) AS DOUBLE)) AS overconfident
    FROM labeled GROUP BY bin
    """,
)
def ext_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration (reliability-diagram bins) — the companion
    audit to ext_auc_score: AUC measures RANKING, this measures whether
    the score is a PROBABILITY. A sigmoid length-based quality score is
    binned by predicted confidence; planted ground truth draws labels at
    0.8*conf + 0.1 (shrunk toward 1/2, i.e. the model is deliberately
    overconfident at both extremes — so the audit has a known answer:
    high bins must flag overconfident=true). Per bin: count, positives,
    mean predicted vs observed rate, and the over/under verdict — the
    table an ECE/temperature-scaling decision reads at data-curation
    scale (quality classifiers gate corpora; a miscalibrated gate biases
    the mix).

    Exactness (round-8 fix, ADVICE round-7): the round-7 form fed
    F.exp() DOUBLES into floor/round/compare, so a 1-ulp JVM-vs-libm exp
    difference could flip a bin or label. The sigmoid is now the exact
    ALGEBRAIC form 0.5 + 0.5*d/(20+|d|), d = n_tokens - 45 — same shape,
    same midpoint and slope scale — evaluated entirely in int64:
    conf_e6 = 1e6*(20+|d|+d) // (2*(20+|d|)) (positive operands, so
    Spark `div` and DuckDB `//` agree); bin = conf_e6 // 1e5; the label
    threshold u < 0.8*conf + 0.1 cross-multiplies to
    u32 * 1e7 < (8*conf_e6 + 1e6) * 2^32 (max ~4.3e16, inside int64).
    Zero doubles anywhere before the two display roundings, which both
    engines compute from identical int sums. One map stage + one
    10-group aggregation."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    feat = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(
                ws_tokens(normalize_text(F.col("text"))),
                lambda x: x != "",
            )
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|cal"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    labeled = feat.select(
        u32.alias("u32"),
        F.expr(
            "1000000 * (20 + abs(n_tokens - 45) + (n_tokens - 45))"
            " div (2 * (20 + abs(n_tokens - 45)))"
        ).alias("conf_e6"),
    ).select(
        F.least(F.expr("conf_e6 div 100000"), F.lit(9))
        .cast("bigint")
        .alias("bin"),
        "conf_e6",
        (
            F.col("u32") * F.lit(10000000)
            < (F.lit(8) * F.col("conf_e6") + F.lit(1000000))
            * F.lit(4294967296)
        ).alias("label"),
    )
    pos = F.sum(F.when(F.col("label"), 1).otherwise(0))
    mean_conf = F.sum("conf_e6").cast("double") / F.count("*") / 1000000.0
    obs = pos / F.count("*").cast("double")
    return labeled.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        pos.cast("bigint").alias("n_positive"),
        F.sum("conf_e6").cast("bigint").alias("conf_e6_sum"),
        F.round(mean_conf, 6).alias("mean_conf"),
        F.round(obs, 6).alias("obs_rate"),
        (mean_conf > obs).alias("overconfident"),
    )


_BUCKET = f"CAST(('0x' || substr(md5({_NORM}), 1, 8)) AS BIGINT) % 100"


@q(
    "ext_token_entropy",
    f"""
    WITH d AS (
      SELECT doc_id, {_NORM} AS tx, length({_NORM}) AS n FROM documents
      WHERE length({_NORM}) >= 1
    ),
    c AS (
      SELECT doc_id, n,
             list_transform(range(1, n + 1),
               i -> substr(tx, CAST(i AS INT), 1)) AS chars
      FROM d
    ),
    e AS (
      SELECT doc_id, n,
             CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct,
             CAST(list_aggregate(list_transform(list_distinct(chars),
               ch -> CAST(round(len(list_filter(chars, x -> x = ch))
                                * ln(CAST(len(list_filter(chars, x -> x = ch))
                                          AS DOUBLE)) * 1000000)
                          AS BIGINT)), 'sum') AS BIGINT) AS term_e6
      FROM c
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars, n_distinct,
           round(ln(CAST(n AS DOUBLE)) - term_e6 / 1000000.0 / n, 6)
             AS entropy_nats
    FROM e
    """,
)
def ext_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the compressibility
    quality signal (near-zero entropy = repeated boilerplate, the thing
    ext_repetition_filter catches structurally; entropy catches it
    information-theoretically, and the two disagree exactly on
    interesting documents). Computed via H = ln(n) - (sum c*ln(c))/n over
    per-character counts, ENTIRELY inside one map stage: the plan is
    map-only — scan, project, no Exchange anywhere (plan-guarded in
    test_scale_plans.py; the round-7 version opened with a gratuitous
    `.repartition(doc_id)` full shuffle of the normalized corpus, flagged
    by the round-7 verdict and removed).
    Per-row cost is ONE O(n log n) array_sort + ONE O(n) aggregate pass:
    sorted chars make equal characters adjacent, so a single fold
    accumulates run lengths and emits each run's c*ln(c) term at the run
    boundary — replacing the round-7 form's O(|alphabet| * n) re-filtering
    of the array once per distinct character (the main reason it benched
    5.8 s, #1 of its cohort).
    Determinism: each c*ln(c) term is rounded to an exact 1e-6 integer
    BEFORE the sum (sum of int64 is order-free, and identical per-run
    counts make the terms identical to the oracle's per-distinct-char
    form no matter the iteration order); the tail is a fixed
    ln/divide/subtract tree rounded to 6."""
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.lower(
                F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
            ).alias("tx"),
        )
        .filter(F.length("tx") >= 1)
    )
    c = d.select(
        "doc_id",
        F.length("tx").alias("n"),
        F.expr("array_sort(split(tx, ''))").alias("chars"),
    )
    # One fold over the SORTED array: state = (prev char, current run
    # length, term sum, distinct count); a char equal to prev extends the
    # run, a new char flushes the finished run's round(c*ln(c)*1e6) term;
    # the finish lambda flushes the final run. ln(1) = 0, so runs of
    # length 1 contribute exactly 0 — same as the oracle's c=1 terms.
    _term = (
        "CAST(round(CAST(s.run AS DOUBLE)"
        " * ln(CAST(s.run AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    e = c.select(
        "doc_id",
        "n",
        F.expr(
            "aggregate(chars,"
            " named_struct('prev', CAST(NULL AS STRING),"
            "   'run', CAST(0 AS BIGINT), 'acc', CAST(0 AS BIGINT),"
            "   'nd', CAST(0 AS BIGINT)),"
            " (s, x) -> IF(s.prev <=> x,"
            "   named_struct('prev', x, 'run', s.run + CAST(1 AS BIGINT),"
            "     'acc', s.acc, 'nd', s.nd),"
            "   named_struct('prev', x, 'run', CAST(1 AS BIGINT),"
            f"    'acc', s.acc + IF(s.run > 1, {_term}, CAST(0 AS BIGINT)),"
            "     'nd', s.nd + CAST(1 AS BIGINT))),"
            f" s -> named_struct('acc', s.acc + IF(s.run > 1, {_term},"
            "   CAST(0 AS BIGINT)), 'nd', s.nd))"
        ).alias("st"),
    ).select(
        "doc_id",
        "n",
        F.col("st.nd").alias("n_distinct"),
        F.col("st.acc").alias("term_e6"),
    )
    return e.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars"),
        "n_distinct",
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("term_e6") / 1000000.0 / F.col("n"),
            6,
        ).alias("entropy_nats"),
    )


@q(
    "ext_ngram_novelty",
    f"""
    WITH d AS (
      SELECT doc_id, source, {_NORM} AS tx, {_BUCKET} AS bucket
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, bucket >= 90 AS is_test,
             list_filter(string_split(tx, ' '), x -> x <> '') AS ws
      FROM d
    ),
    bg AS (
      SELECT doc_id, source, is_test,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> ws[i] || ' ' || ws[i+1]))) AS sg
      FROM toks WHERE len(ws) >= 2
    ),
    train_types AS (SELECT DISTINCT sg FROM bg WHERE NOT is_test),
    test_types AS (
      SELECT source, sg FROM bg WHERE is_test GROUP BY source, sg
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_test_types,
           CAST(count(CASE WHEN t.sg IS NULL THEN 1 END) AS BIGINT)
             AS n_novel_types,
           1000000 * count(CASE WHEN t.sg IS NULL THEN 1 END) // count(*)
             AS novelty_ppm
    FROM test_types tt LEFT JOIN train_types t USING (sg)
    GROUP BY source
    """,
)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram novelty of the held-out split vs the training split — the
    generalization/memorization dial: a test set whose n-gram types are
    almost all present in training measures memorization, not learning
    (and the same statistic run between corpus snapshots is the
    freshness/drift readout). Splits reuse the repo-wide content-hash
    bucket (>= 90 = held-out, the ext_dedup_incremental convention);
    bigram TYPES are per-doc distinct word 2-grams; novelty is an exact
    ppm via int64 floor division.
    Scale: bigram typing is map-side HOF; the type tables aggregate to
    |distinct bigrams|; novelty is one left join keyed on the bigram (a
    broadcastable build side once the train types fit, a shuffle join
    otherwise — Spark picks)."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import (
        word_shingles,
    )
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    # widen ahead of the normalize+shingle projection: the expensive HOF
    # work otherwise runs on the fixture's single scan split (measured
    # round 12: the 2.5 s scan stage parallelizes; no-op at real scale)
    d = widen_narrow_scan(
        t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        key=(sf_dir, "documents"),
    ).select(
        "doc_id",
        "source",
        normalize_text(F.col("text")).alias("tx"),
    )
    # tokens projected to a column: the gram lambda re-reads them per
    # element (see dedup.shingle_docs)
    d = d.select("doc_id", "source", "tx", ws_tokens(F.col("tx")).alias("w"))
    toks = d.select(
        "doc_id",
        "source",
        (content_bucket(F.col("tx")) >= 90).alias("is_test"),
        word_shingles(F.col("w"), 2).alias("bgs"),
        F.size(F.filter(F.col("w"), lambda x: x != "")).alias("nw"),
    ).filter(F.col("nw") >= 2)
    bg = toks.select(
        "source", "is_test", F.explode_outer("bgs").alias("sg")
    )
    train_types = (
        bg.filter(~F.col("is_test")).select("sg").distinct()
        .withColumn("in_train", F.lit(1))
    )
    test_types = (
        bg.filter(F.col("is_test")).select("source", "sg").distinct()
    )
    j = test_types.join(train_types, "sg", "left")
    novel = F.count(F.when(F.col("in_train").isNull(), 1))
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_test_types"),
        novel.cast("bigint").alias("n_novel_types"),
        F.expr(
            "1000000 * count(CASE WHEN in_train IS NULL THEN 1 END)"
            " div count(*)"
        ).alias("novelty_ppm"),
    )


@q(
    "agg_cohort_ltv",
    """
    WITH first_order AS (
      SELECT o_custkey AS c,
             min(date_trunc('month', o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    sized AS (
      SELECT cohort_month, CAST(count(*) AS BIGINT) AS cohort_size
      FROM first_order GROUP BY cohort_month
    ),
    monthly AS (
      SELECT f.cohort_month,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate))
             - (year(f.cohort_month) * 12 + month(f.cohort_month))
               AS month_idx,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders o JOIN first_order f ON f.c = o.o_custkey
      GROUP BY f.cohort_month,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate))
               - (year(f.cohort_month) * 12 + month(f.cohort_month))
    )
    SELECT CAST(m.cohort_month AS TIMESTAMP) AS cohort_month,
           CAST(m.month_idx AS BIGINT) AS month_idx,
           m.n_active, s.cohort_size, m.rev_cents,
           CAST(sum(m.rev_cents) OVER (PARTITION BY m.cohort_month
                  ORDER BY m.month_idx) AS BIGINT) AS cum_cents,
           CAST(sum(m.rev_cents) OVER (PARTITION BY m.cohort_month
                  ORDER BY m.month_idx) AS BIGINT) // s.cohort_size
             AS ltv_cents_per_customer
    FROM monthly m JOIN sized s USING (cohort_month)
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — retention_cohort's monetary twin: per
    acquisition cohort (month of first order) and month index, active
    customers, revenue, cumulative revenue, and cumulative LTV per
    cohort member (the curve a growth team flattens into CAC payback).
    Month index is pure integer calendar arithmetic ((y*12+m) deltas —
    Spark's months_between is FRACTIONAL and would diverge from DuckDB's
    date_diff); money is int64 cents; per-customer LTV is truncating
    int64 division.
    Scale: first-order frame is one agg keyed by customer; the join back
    is on the same key (co-partitioned); the cumulative window runs per
    cohort over |months| rows."""
    o = t(spark, sf_dir, "orders")
    first_order = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort_month")
    )
    sized = first_order.groupBy("cohort_month").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    mi = (
        F.year("o_orderdate") * 12
        + F.month("o_orderdate")
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    )
    monthly = (
        o.join(first_order, o.o_custkey == first_order.c)
        .groupBy("cohort_month", mi.alias("month_idx"))
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_active"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents"),
        )
    )
    wc = Window.partitionBy("cohort_month").orderBy("month_idx")
    cum = F.sum("rev_cents").over(wc).cast("bigint")
    return (
        monthly.join(F.broadcast(sized), "cohort_month")
        .select(
            "cohort_month",
            F.col("month_idx").cast("bigint").alias("month_idx"),
            "n_active",
            "cohort_size",
            "rev_cents",
            cum.alias("cum_cents"),
            F.expr(
                "CAST(sum(rev_cents) OVER (PARTITION BY cohort_month"
                " ORDER BY month_idx) AS BIGINT) div cohort_size"
            ).alias("ltv_cents_per_customer"),
        )
    )
