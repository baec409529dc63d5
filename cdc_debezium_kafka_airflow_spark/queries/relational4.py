"""Fourth wave of warehouse/extension surface: iterative graph analytics
(integer-exact PageRank, BFS k-hop traversal), blocked fuzzy entity
resolution, integer-exact OLS trend regression, truncated-weight EWMA
smoothing, deterministic mode + exact dispersion stats, equal-width
histograms, exact rank-sum ROC-AUC, and the Spark 4 SQL pipe-operator
surface.

Cross-engine float discipline (ROADMAP.md item 7): every aggregate that an
oracle re-sums is computed in EXACT integer arithmetic (per-row scaling,
floor division) so partition/summation order cannot flip a bit; doubles
appear only in a fixed, identically-parenthesized tail of single IEEE ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.operators.ranking import (
    histogram_running_sum,
)
from cdc_debezium_kafka_airflow_spark.queries.common import q, t

# ---------------------------------------------------------------------------
# graph_pagerank — iterative graph analytics, integer-exact across engines
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_ITERS = 6
_PR_TOPK = 20


def _pagerank_oracle() -> str:
    """Unrolled-iteration PageRank as chained CTEs (DuckDB has no aggregate
    in recursive CTEs, and unrolling keeps both engines on the identical
    integer recurrence). All arithmetic is BIGINT with floor division (`//`,
    positive operands), so the ranks are bit-identical to Spark's `div`
    loop; DuckDB sums are CAST back from HUGEINT at every level."""
    scale = _PR_SCALE
    parts = [
        f"""
        WITH edges_u AS (
          SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        edges AS (
          SELECT src, dst FROM edges_u
          UNION ALL
          SELECT dst AS src, src AS dst FROM edges_u
        ),
        deg AS (
          SELECT src, CAST(count(*) AS BIGINT) AS outdeg
          FROM edges GROUP BY src
        ),
        nodes AS (SELECT src AS node, outdeg FROM deg),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        pr0 AS (
          SELECT node, outdeg, CAST({scale} AS BIGINT) // nn.n AS rank_i
          FROM nodes, nn
        )"""
    ]
    for i in range(_PR_ITERS):
        parts.append(
            f""",
        inflow{i} AS (
          SELECT e.dst AS node,
                 CAST(sum(p.rank_i // p.outdeg) AS BIGINT) AS fl
          FROM pr{i} p JOIN edges e ON e.src = p.node
          GROUP BY e.dst
        ),
        pr{i + 1} AS (
          SELECT nd.node, nd.outdeg,
                 (15 * ({scale} // nn.n)) // 100
                 + (85 * COALESCE(f.fl, 0)) // 100 AS rank_i
          FROM nodes nd CROSS JOIN nn
          LEFT JOIN inflow{i} f ON f.node = nd.node
        )"""
        )
    parts.append(
        f"""
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                 AS node_kind,
               node // 2 AS entity_key,
               rank_i AS rank_e12
        FROM pr{_PR_ITERS}
        ORDER BY rank_i DESC, node ASC
        LIMIT {_PR_TOPK}
        """
    )
    return "".join(parts)


@q("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the customer<->supplier trade graph (who
    trades with whom, via orders |><| lineitem), the canonical iterative
    graph workload the reference's warehouse cannot express in one SQL
    statement. 6 damped iterations (d=0.85), ranks kept as BIGINT in units
    of 1e-12 with floor division everywhere, so the recurrence is exact
    integer arithmetic — bit-identical across engines and across any
    partitioning of the sum (the float-PageRank everyone ships diverges in
    the last ulp per iteration and can flip top-k boundaries).

    Scale posture: the edge list is built once (distinct collapses the
    587k-pair fact join at sf0.1), hash-partitioned and persisted; the
    rank vector is |V| rows — joined map-side via broadcast here (15k
    nodes); at 1e9+ nodes both sides hash-partition on `src` and the
    partitioning is REUSED across iterations (the only per-iteration
    shuffle is the inflow aggregation on dst). Plans stay linear in
    iteration count; lineage is cut nowhere because 6 joins is well inside
    planner comfort. Dangling nodes cannot exist (every edge is emitted in
    both directions)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # edge build in TWO shuffles (was five: join + distinct + degree agg +
    # degree join + repartition — measured 6.5 s of the query's ~6.3 s warm
    # total at sf0.1): the orders side is a broadcastable dim (orderkey ->
    # custkey), so the fact join is map-side; distinct is shuffle #1; the
    # out-degree rides a COUNT window over src — shuffle #2, which ALSO
    # leaves the frame hash-partitioned on src, exactly the layout the loop
    # wants, so no separate repartition. This broadcast is OUTSIDE the
    # iteration loop and materializes once into the persist (the
    # broadcast-in-loop re-execution trap does not apply to the edge build).
    half = (
        l.join(F.broadcast(o), o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionAll(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    wdeg = Window.partitionBy("src")
    edges_deg = edges.withColumn(
        "outdeg", F.count("*").over(wdeg)
    ).persist()
    nodes = edges_deg.groupBy("src").agg(F.first("outdeg"))
    n = nodes.count()  # bounded: |V| = |customers| + |suppliers|
    init = _PR_SCALE // n
    teleport = (15 * init) // 100

    ranks = nodes.select("src", F.lit(init).alias("rank_i"))
    for _ in range(_PR_ITERS):
        # No explicit broadcast hint: an eager broadcast exchange would
        # re-execute the entire prior-iteration chain once per iteration
        # (O(iters^2) work — broadcast jobs re-plan upstream stages with
        # fresh shuffle ids). As plain shuffle joins the whole loop is ONE
        # job whose stages materialize exactly once; AQE still converts the
        # |V|-row rank side to a broadcast AFTER its shuffle output exists,
        # so the join is map-side without the re-execution tax.
        #
        # The contrib division uses the out-degree RIDING THE EDGE ROW, so
        # the rank vector stays a bare (node, rank) pair; and because every
        # edge is emitted in both directions, every node has >=1 in-edge —
        # the inflow aggregation's key set IS the node universe, so no
        # re-join against `nodes` is needed to keep isolated nodes alive
        # (the oracle's LEFT JOIN is equivalently inner on this graph).
        ranks = (
            edges_deg.join(ranks, "src")
            .select(
                F.col("dst").alias("src"),
                F.expr("rank_i div outdeg").alias("contrib"),
            )
            .groupBy("src")
            .agg(
                (
                    F.lit(teleport)
                    + F.expr("85 * sum(contrib) div 100")
                ).alias("rank_i")
            )
        )
    out = (
        ranks.select(
            F.when(F.col("src") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_kind"),
            F.expr("src div 2").alias("entity_key"),
            F.col("rank_i").alias("rank_e12"),
            F.col("src").alias("_node"),
        )
        .orderBy(F.col("rank_e12").desc(), F.col("_node").asc())
        .limit(_PR_TOPK)
        .drop("_node")
    )
    return out


# ---------------------------------------------------------------------------
# ent_resolution_fuzzy — blocked fuzzy entity matching
# ---------------------------------------------------------------------------


@q(
    "ent_resolution_fuzzy",
    """
    WITH names AS (
      SELECT p_name,
             split_part(p_name, ' ', 2) AS block_key,
             CAST(count(*) AS BIGINT) AS n_entities
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           a.block_key AS block_key,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           a.n_entities * b.n_entities AS candidate_links
    FROM names a JOIN names b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 6
    """,
)
def ent_resolution_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with blocking: candidate record pairs are generated
    ONLY within a cheap blocking key (the name's head noun), then scored
    with edit distance — the classic record-linkage shape (Fellegi-Sunter
    blocking stage). The quadratic compare runs over DISTINCT name strings,
    not entity rows: 20k part rows collapse to 64 names at sf0.1, so the
    pair space is |names_in_block|^2, and each surviving pair carries the
    product of entity multiplicities as its candidate-link count. At 100 TB
    the same plan holds: distinct-collapse is a map-side-combined agg, the
    block self-join shuffles on block_key (skewed blocks get the salted
    treatment of join_skew_salted), and edit distance runs JVM-side
    (`levenshtein` codegen) on the collapsed pairs only."""
    names = (
        t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_entities"))
        .select(
            "p_name",
            # coalesce to '' so a one-word name matches DuckDB split_part
            # semantics ('' key) instead of a never-joining NULL key
            F.coalesce(
                F.element_at(F.split("p_name", " "), 2), F.lit("")
            ).alias("block_key"),
            "n_entities",
        )
    )
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 6)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.block_key").alias("block_key"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("long")
            .alias("edit_dist"),
            (F.col("a.n_entities") * F.col("b.n_entities")).alias(
                "candidate_links"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ts_trend_regression — integer-exact OLS per series
# ---------------------------------------------------------------------------


@q(
    "ts_trend_regression",
    """
    WITH base AS (
      SELECT event_type,
             (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY event_type))
               // 3600000000 AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    sums AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           round(((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)) / 100.0, 9)
             AS slope_per_hour,
           round(((sy * 1.0 / n)
                  - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                    * (sx * 1.0 / n)) / 100.0, 6) AS intercept
    FROM sums
    """,
)
def ts_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear trend (OLS slope/intercept of metric value over
    time) — the drift-detection primitive behind "is this connector's lag
    growing?". Instead of regr_slope (whose internal double sums are
    partition-order-dependent), the five sufficient statistics (n, Sx, Sy,
    Sxy, Sxx) are EXACT integer sums over per-row scaled values (hours
    since series start x cents), and slope/intercept come out of one fixed
    sequence of IEEE ops over those exact integers — bit-identical across
    engines and partitionings. Overflow budget at sf0.1: n*Sxy <= 2e16,
    well inside int64; a 1e9-row series upgrades the sums to DECIMAL(38,0)
    with the same recurrence.

    Scale posture: ONE shuffle (the per-series aggregate; the min-epoch
    window reuses the same hash partitioning), partial aggregation
    map-side; no window sort is needed for the sums themselves — the
    min() window is computed within the already-partitioned series."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    base = e.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - min(unix_micros(ts)) OVER "
            "(PARTITION BY event_type)) div 3600000000"
        ).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    sums = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope_scaled = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(
        1.0
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return sums.select(
        "event_type",
        "n",
        F.round(slope_scaled / 100.0, 9).alias("slope_per_hour"),
        F.round(
            (
                (F.col("sy") * F.lit(1.0) / F.col("n"))
                - slope_scaled * (F.col("sx") * F.lit(1.0) / F.col("n"))
            )
            / 100.0,
            6,
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# win_ewma — truncated exponentially-weighted moving average
# ---------------------------------------------------------------------------

_EWMA_TERMS = 20  # alpha = 1/2, weights 2^(19-k): exact integer arithmetic


def _ewma_oracle() -> str:
    num = []
    den = []
    for k in range(_EWMA_TERMS):
        w = 2 ** (_EWMA_TERMS - 1 - k)
        src = "ys" if k == 0 else f"lag(ys, {k}) OVER w"
        num.append(f"COALESCE({src}, 0) * {w}")
        den.append(f"(CASE WHEN {src} IS NOT NULL THEN {w} ELSE 0 END)")
    return f"""
    WITH base AS (
      SELECT event_id, event_type, ts,
             CAST(round(value * 10000) AS BIGINT) AS ys
      FROM events
    )
    SELECT event_id, event_type, ts,
           round((({' + '.join(num)}) * 1.0
                  / ({' + '.join(den)})) / 10000.0, 6) AS ewma_value
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN {_EWMA_TERMS - 1} PRECEDING AND CURRENT ROW)
    """


@q("win_ewma", _ewma_oracle())
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=1/2) per metric series —
    the smoothing pass behind alert dashboards. The recurrence is truncated
    at 20 terms (weight 2^-20 < 1e-6 of the window, below the emitted 6dp),
    which turns the order-dependent recursive definition into a FIXED
    window expression: integer weights 2^(19-k) over per-row 1e4-scaled
    values make numerator and denominator exact BIGINTs, so the single
    closing division is bit-identical across engines. The denominator
    renormalizes at series heads (fewer than 20 predecessors) — no warm-up
    bias.

    Scale posture: one hash exchange on the series key, partition-local
    sort, single window pass (all 20 lags share one frame); no global
    sort, no Python. Term count is compile-time constant: the projection
    is one codegen stage."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 10000).cast("long").alias("ys"),
    )
    num = None
    den = None
    for k in range(_EWMA_TERMS):
        wt = 2 ** (_EWMA_TERMS - 1 - k)
        src = F.col("ys") if k == 0 else F.lag("ys", k).over(
            Window.partitionBy("event_type").orderBy("ts", "event_id")
        )
        nterm = F.coalesce(src, F.lit(0)) * F.lit(wt)
        dterm = F.when(src.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = nterm if num is None else num + nterm
        den = dterm if den is None else den + dterm
    return base.select(
        "event_id",
        "event_type",
        "ts",
        F.round((num * F.lit(1.0) / den) / F.lit(10000.0), 6).alias(
            "ewma_value"
        ),
    )


# ---------------------------------------------------------------------------
# agg_mode_stats — deterministic mode + integer-exact dispersion
# ---------------------------------------------------------------------------


@q(
    "agg_mode_stats",
    """
    WITH y AS (
      SELECT event_type, user_id,
             CAST(round(value * 100) AS BIGINT) AS ys
      FROM events
    ),
    per_user AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_u
      FROM y GROUP BY event_type, user_id
    ),
    modal AS (
      SELECT event_type, user_id AS modal_user, n_u AS modal_count
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                        ORDER BY n_u DESC, user_id ASC) AS rn
            FROM per_user)
      WHERE rn = 1
    ),
    disp AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ys) AS BIGINT) AS sx,
             CAST(sum(ys * ys) AS BIGINT) AS sxx
      FROM y GROUP BY event_type
    )
    SELECT d.event_type, d.n, m.modal_user, m.modal_count,
           round(sqrt((d.n * d.sxx - d.sx * d.sx) * 1.0
                      / (d.n * (d.n - 1))) / 100.0, 6) AS stddev_value
    FROM disp d JOIN modal m ON m.event_type = d.event_type
    """,
)
def agg_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode + exact sample stddev per series. `mode()` in both
    engines is tie-nondeterministic, so the modal user is derived from the
    count table with an explicit (count DESC, user ASC) tie-break — the
    reproducible form. Stddev comes from exact integer sums (cents-scaled):
    sqrt((n*Sxx - Sx^2) / (n*(n-1))) is one fixed IEEE sequence over exact
    BIGINTs, immune to partition order (stddev_samp's streaming-merge
    doubles are not). Overflow budget: n*Sxx <= 1.3e18 at sf0.1; DECIMAL
    upgrade path beyond.

    Scale posture: two partial-agg shuffles, both hashed on event_type
    (the second reuses the first's partitioning for the modal window);
    broadcast-sized join output (|event_type| rows)."""
    e = t(spark, sf_dir, "events")
    y = e.select(
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("ys"),
    )
    per_user = y.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n_u")
    )
    rn = Window.partitionBy("event_type").orderBy(
        F.col("n_u").desc(), F.col("user_id").asc()
    )
    modal = (
        per_user.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("user_id").alias("modal_user"),
            F.col("n_u").alias("modal_count"),
        )
    )
    disp = y.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("ys").alias("sx"),
        F.sum(F.col("ys") * F.col("ys")).alias("sxx"),
    )
    return disp.join(modal, "event_type").select(
        "event_type",
        "n",
        "modal_user",
        "modal_count",
        F.round(
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.lit(1.0)
                / (F.col("n") * (F.col("n") - 1))
            )
            / 100.0,
            6,
        ).alias("stddev_value"),
    )


# ---------------------------------------------------------------------------
# fn_pipe_syntax — Spark 4 SQL pipe operators
# ---------------------------------------------------------------------------


@q(
    "fn_pipe_syntax",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def fn_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe-operator syntax (`|>`): the same logical plan as the
    classic SELECT, expressed as a linear dataflow — FROM |> WHERE |>
    AGGREGATE. Pipe stages lower to ordinary Catalyst operators (the WHERE
    still pushes into the scan; the AGGREGATE is a hash aggregate with
    map-side partials), so this is a parser surface, not a new engine path.
    Revenue is summed in exact integer cents (per-row scale) and divided
    once, keeping the hash bit-stable cross-engine."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_v")
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE count(*) AS n_orders,
                     sum(cast(round(o_totalprice * 100) AS BIGINT))
                       / cast(100.0 AS DOUBLE) AS revenue
           GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# graph_bfs_hops — breadth-first traversal, min-hop frontier expansion
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 4


@q(
    "graph_bfs_hops",
    f"""
    WITH RECURSIVE edges_u AS (
      SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_partkey % 97 = 0
    ),
    edges AS (
      SELECT src, dst FROM edges_u
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges_u
    ),
    start AS (SELECT min(src) AS s FROM edges WHERE src % 2 = 1),
    walk AS (
      SELECT s AS node, 0 AS hop FROM start
      UNION
      SELECT e.dst, w.hop + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hop < {_BFS_MAX_HOPS}
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_kind,
           node // 2 AS entity_key,
           CAST(min(hop) AS BIGINT) AS hop
    FROM walk GROUP BY node
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first k-hop traversal (min-hop per node) over a SPARSIFIED
    trade graph — the reachability/exposure question ("every party within 4
    hops of this supplier") that no single SQL statement answers. The edge
    filter (l_partkey % 97) thins the bipartite graph to average degree of
    a few, so the frontier genuinely grows per hop instead of saturating.

    Frontier/visited BFS: each iteration expands the CURRENT frontier only
    (join frontier |><| edges), dedups, and anti-joins the visited set — so
    a node's hop is its FIRST discovery (min-hop), matching the oracle's
    recursive-CTE + min(hop) form. Like graph_pagerank, no broadcast hints
    inside the loop (eager broadcast exchanges re-execute prior iterations).
    Each hop's newly-discovered set is localCheckpoint'ed (Pregel-superstep
    materialization, bounded by the frontier size): both the next hop's
    join AND the growing visited union reference it, and without the
    truncation each consumer re-executes the entire prior walk — the plan
    grows a ~2x re-evaluation branch per hop (measured 7.3 -> 3.3 s at
    sf0.1; same lineage trap as fn_recursive_cte's hoisted lag).

    Scale posture: per hop = one shuffle join (frontier vs edges,
    hash-partitioned on node) + one distinct + one anti-join against
    visited; frontier size is bounded by |V|, and at 1e9+ nodes both edges
    and visited hash-partition on node id so the anti-join co-locates."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    half = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    start = (
        edges.filter(F.col("src") % 2 == 1)
        .agg(F.min("src").alias("node"))
    )
    visited = start.select("node", F.lit(0).alias("hop"))
    frontier = visited.select("node")
    for hop in range(1, _BFS_MAX_HOPS + 1):
        reached = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = reached.join(
            visited.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
        visited = visited.unionAll(
            new.select("node", F.lit(hop).alias("hop"))
        )
        frontier = new.select("node")
    out = visited.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_kind"),
        F.expr("node div 2").alias("entity_key"),
        F.col("hop").cast("long").alias("hop"),
    )
    return out


# ---------------------------------------------------------------------------
# agg_histogram — equal-width histogram with hand-rolled bucketing
# ---------------------------------------------------------------------------


@q(
    "agg_histogram",
    """
    WITH b AS (
      SELECT least(CAST(floor(value / 25.0) AS BIGINT), 23) AS bucket,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b)
    SELECT bucket,
           CAST(bucket * 25.0 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 25.0 AS DOUBLE) AS hi,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS BIGINT) * 1.0 / tot.n_total, 6) AS frac,
           CAST(sum(cents) AS BIGINT) / 100.0 AS sum_value
    FROM b CROSS JOIN tot
    GROUP BY bucket, tot.n_total
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of the metric distribution (the profiling
    companion to dq_anomaly_iqr's quantile fences). Bucketing is a
    hand-rolled `least(floor(value/25), 23)` rather than `width_bucket`:
    the expression is a single IEEE divide + floor, bit-identical across
    engines, where width_bucket implementations are free to compute the
    bucket index with different internal arithmetic at exact boundaries.
    Bucket sums in integer cents; one map-side-combined shuffle, plus a
    1-row total broadcast for the fractions."""
    e = t(spark, sf_dir, "events")
    b = e.select(
        F.least(F.floor(F.col("value") / 25.0).cast("long"), F.lit(23)).alias(
            "bucket"
        ),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tot = b.agg(F.count("*").alias("n_total"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("bucket", "n_total")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 25.0).alias("lo"),
            ((F.col("bucket") + 1) * 25.0).alias("hi"),
            "n",
            F.round(F.col("n") * F.lit(1.0) / F.col("n_total"), 6).alias(
                "frac"
            ),
            (F.col("cents_sum") / 100.0).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# ext_auc_score — exact ROC-AUC via the rank-sum (Mann-Whitney) identity
# ---------------------------------------------------------------------------


@q(
    "ext_auc_score",
    """
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             n_chars AS score
      FROM documents
    ),
    ranked AS (
      SELECT label,
             rank() OVER (ORDER BY score) AS r_min,
             CAST(count(*) OVER (PARTITION BY score) AS BIGINT) AS ties
      FROM scored
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN label = 1
                           THEN 2 * r_min + (ties - 1) ELSE 0 END) AS BIGINT)
               AS sum2r_pos,
             CAST(sum(label) AS BIGINT) AS n_pos,
             CAST(sum(1 - label) AS BIGINT) AS n_neg
      FROM ranked
    )
    SELECT n_pos, n_neg,
           round((sum2r_pos - n_pos * (n_pos + 1)) * 1.0
                 / (2 * n_pos * n_neg), 9) AS auc
    FROM agg
    """,
)
def ext_auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a ranking signal (document length as an
    English-document predictor) via the Mann-Whitney rank-sum identity —
    the threshold-free twin of ext_eval_metrics' P/R/F1. AUC is usually
    computed by sorting scores and trapezoiding the curve; the rank-sum
    form AUC = (Σ_pos avgrank − n⁺(n⁺+1)/2) / (n⁺n⁻) needs only ONE global
    rank. Tie handling (average ranks) is kept in integers by summing
    2·avgrank = 2·r_min + (ties−1), so the whole statistic is exact BIGINT
    arithmetic until a single closing division — bit-identical across
    engines and partitionings, where a float-summed implementation is not.

    Scale posture: a per-ROW global rank would be a single-partition window
    (Spark gathers un-partitioned windows to one task). Instead the rank is
    derived from a per-SCORE histogram: one map-side-combined groupBy
    collapses the corpus to |distinct scores| rows, the cumsum window runs
    over that bounded frame, and Σ_pos(2·avgrank) becomes
    Σ_scores pos_cnt·(2·r_min + cnt − 1) — identical value, no wide sort.
    The oracle spells the per-row rank form; the two are provably equal."""
    d = t(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.col("n_chars").alias("score"),
    )
    hist = d.groupBy("score").agg(
        F.count("*").alias("cnt"),
        F.sum("label").alias("pos_cnt"),
    )
    wc = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = hist.select(
        "cnt",
        "pos_cnt",
        (F.coalesce(F.sum("cnt").over(wc), F.lit(0)) + 1).alias("r_min"),
    )
    agg = ranked.agg(
        F.sum(
            F.col("pos_cnt") * (2 * F.col("r_min") + (F.col("cnt") - 1))
        ).alias("sum2r_pos"),
        F.sum("pos_cnt").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos_cnt")).alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("sum2r_pos") - F.col("n_pos") * (F.col("n_pos") + 1))
            * F.lit(1.0)
            / (2 * F.col("n_pos") * F.col("n_neg")),
            9,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ext_batch_inference — iterator mapInPandas, per-partition model init
# ---------------------------------------------------------------------------

_INF_DIM = 4  # features: n_chars, n_spaces, n_digits, n_vowels


def _inference_weights() -> list[float]:
    """Deterministic pseudo-model: w_j = ((j+1)*2654435761 % 1000 - 500)/1e5.
    Knuth-hash spread, exactly representable decimals (multiples of 1e-5)."""
    return [
        (((j + 1) * 2654435761) % 1000 - 500) / 100000.0
        for j in range(_INF_DIM)
    ]


def _inference_oracle() -> str:
    w = _inference_weights()
    feats = [
        "length(text)",
        "(length(text) - length(replace(text, ' ', '')))",
        "length(regexp_replace(text, '[^0-9]', '', 'g'))",
        "length(regexp_replace(text, '[^aeiou]', '', 'g'))",
    ]
    dot = " + ".join(f"({f}) * {w[j]!r}" for j, f in enumerate(feats))
    return f"""
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-({dot}))), 9) AS score,
           (1.0 / (1.0 + exp(-({dot}))) > 0.5) AS accepted
    FROM documents
    """


@q("ext_batch_inference", _inference_oracle())
def ext_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-model-inference serving pattern: `mapInPandas` with an
    ITERATOR body — the model is constructed ONCE per task (per-partition
    init, before the batch loop), then applied to every Arrow batch with
    one vectorized matmul. This is the exact plumbing a real embedding /
    classifier / LLM-scoring pass over a 100 TB corpus uses: model load
    amortizes over the partition, data streams through Arrow batches
    without materializing the partition, and the output schema is declared
    up front. The "model" here is a deterministic linear layer + sigmoid
    (weights are exact 1e-5 decimals; features are integer counts), so the
    scores are closed-form and the oracle recomputes them in SQL — the
    plumbing is real, the weights are the only fake.

    Scale posture: map-only (ZERO shuffles); each task holds one model
    instance and O(batch) memory. Batch size rides
    spark.sql.execution.arrow.maxRecordsPerBatch; the same body serves
    GPU inference by swapping the numpy matmul."""
    import pandas as pd  # noqa: F401 (signature typing)

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    weights = _inference_weights()

    def infer(batches):
        import numpy as np

        w = np.asarray(weights)  # per-partition model init, ONCE per task

        def featurize(texts):
            n_chars = texts.str.len()
            n_spaces = n_chars - texts.str.replace(" ", "", regex=False).str.len()
            n_digits = texts.str.count(r"[0-9]")
            n_vowels = texts.str.count(r"[aeiou]")
            import numpy as _np

            return _np.stack(
                [n_chars, n_spaces, n_digits, n_vowels], axis=1
            ).astype(float)

        for pdf in batches:  # Arrow batch loop — model NOT rebuilt per batch
            z = featurize(pdf["text"]) @ w
            score = (1.0 / (1.0 + np.exp(-z))).round(9)
            yield pdf.assign(score=score, accepted=score > 0.5)[
                ["doc_id", "score", "accepted"]
            ]

    return d.mapInPandas(
        infer, "doc_id long, score double, accepted boolean"
    )


# ---------------------------------------------------------------------------
# graph_triangles — triangle counting / global clustering coefficient
# ---------------------------------------------------------------------------


@q(
    "graph_triangles",
    """
    WITH bip AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_partkey % 97 = 0
    ),
    proj AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM bip a JOIN bip b ON a.c = b.c AND a.s < b.s
    ),
    deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM proj UNION ALL SELECT v FROM proj
      ) GROUP BY u
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM proj e1
      JOIN proj e2 ON e2.u = e1.v
      JOIN proj e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    wedges AS (
      SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM proj) AS n_proj_edges,
           tri.n_triangles,
           wedges.n_wedges,
           round(CASE WHEN wedges.n_wedges = 0 THEN 0.0
                      ELSE 3.0 * tri.n_triangles / wedges.n_wedges END, 9)
             AS clustering_coeff
    FROM tri, wedges
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient on the co-purchase
    projection (suppliers connected when they share a customer, over the
    sparsified trade graph) — the third graph-algorithm class after ranking
    (PageRank) and traversal (BFS). The count uses the ordered-edge
    convention (u < v everywhere): each triangle {a<b<c} appears exactly
    once as e1=(a,b), e2=(b,c), e3=(a,c), so the 3-way self-join needs no
    division by 6. The wedge count Σ d(d−1)/2 stays in exact integers; the
    coefficient is one closing division.

    Scale posture: the projection is the expensive step (pairs within a
    customer's supplier set — quadratic per customer, the classic
    hub-explosion), bounded here by the sparsifier; at scale hot customers
    get degree-capped or sampled first (standard triangle-count practice).
    The 3-way join shuffles on edge endpoints; ordering (u<v) halves the
    edge list and kills the symmetric duplicates before any join."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    bip = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = bip.alias("a")
    b = bip.alias("b")
    proj = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
        .persist()
    )
    deg = (
        proj.select(F.col("u").alias("node"))
        .unionAll(proj.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e1 = proj.alias("e1")
    e2 = proj.alias("e2")
    e3 = proj.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    n_edges = proj.agg(F.count("*").alias("n_proj_edges"))
    return (
        n_edges.crossJoin(tri)
        .crossJoin(wedges)
        .select(
            "n_proj_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                    3.0 * F.col("n_triangles") / F.col("n_wedges")
                ),
                9,
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# sec_crypto_shred — GDPR deletion via key destruction
# ---------------------------------------------------------------------------


@q(
    "sec_crypto_shred",
    """
    SELECT event_id, user_id,
           CASE WHEN user_id % 7 = 3 THEN NULL ELSE props END AS props_out,
           (user_id % 7 = 3) AS is_shredded,
           CAST(28 AS BIGINT) AS envelope_overhead
    FROM events
    """,
)
def sec_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-shredding: the GDPR-deletion pattern where per-subject data is
    stored ENCRYPTED under a per-subject key, and "forgetting" a subject is
    one row delete in the key table — no petabyte rewrite (the complement
    of cdc_forget_user's anti-join purge, which rewrites state). The
    payload column is genuinely AES-GCM encrypted (per-user AES-256 key),
    the key table is then pruned of the forget cohort (user_id % 7 == 3),
    and decryption joins the surviving keys back: shredded subjects come
    back NULL because the key no longer exists, not because a filter hid
    them. The emitted envelope_overhead (ciphertext − plaintext = 12-byte
    IV + 16-byte GCM tag = 28) proves every row actually passed through
    the cipher; the oracle states the end-to-end CONTRACT (non-forgotten
    rows decrypt byte-identically, forgotten rows are unreadable).

    Scale posture: encrypt/decrypt are JVM codegen expressions (map-only);
    the key table is |subjects| rows, broadcast into the decrypt join; at
    100 TB the encrypted warehouse never moves during a deletion request —
    only the key table changes, which is the entire point."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "props")
    keys = (
        e.select("user_id")
        .distinct()
        .withColumn(
            "enc_key", F.md5(F.concat(F.lit("k"), F.col("user_id")))
        )
    )
    stored = (
        e.join(F.broadcast(keys), "user_id")
        .select(
            "event_id",
            "user_id",
            F.expr("aes_encrypt(props, enc_key, 'GCM')").alias("ct"),
            F.octet_length("props").alias("pt_len"),
        )
    )
    surviving = keys.filter(F.col("user_id") % 7 != 3)
    return (
        stored.join(F.broadcast(surviving), "user_id", "left")
        .select(
            "event_id",
            "user_id",
            F.expr(
                "cast(aes_decrypt(ct, enc_key, 'GCM') as string)"
            ).alias("props_out"),
            F.col("enc_key").isNull().alias("is_shredded"),
            (F.octet_length("ct") - F.col("pt_len"))
            .cast("long")
            .alias("envelope_overhead"),
        )
    )


# ---------------------------------------------------------------------------
# ext_gopher_gate — composite rule-based quality gate with per-rule reasons
# ---------------------------------------------------------------------------

_STOP_SQL = "['the','a','of','and','is','to','in']"


@q(
    "ext_gopher_gate",
    f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                          ' ') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum')
                  AS BIGINT) AS sum_len,
             CAST(list_aggregate(list_transform(ws, w -> length(w)), 'max')
                  AS BIGINT) AS max_word_len,
             CAST(len(list_filter(ws, w -> list_contains({_STOP_SQL}, w)))
                  AS BIGINT) AS n_stop_hits,
             CAST(len(list_distinct(list_filter(ws,
                  w -> list_contains({_STOP_SQL}, w)))) AS BIGINT)
               AS n_distinct_stop
      FROM toks
    ),
    verdicts AS (
      SELECT doc_id, n_words, max_word_len, n_distinct_stop,
             round(sum_len * 1.0 / n_words, 6) AS mean_word_len,
             (n_words < 30)                         AS r_too_short,
             (n_words > 100000)                     AS r_too_long,
             (sum_len * 10 < n_words * 30
              OR sum_len * 10 > n_words * 100)      AS r_word_len,
             (max_word_len > 15)                    AS r_giant_word,
             (n_distinct_stop < 2)                  AS r_no_stopwords
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, max_word_len, n_distinct_stop,
           NOT (r_too_short OR r_too_long OR r_word_len OR r_giant_word
                OR r_no_stopwords) AS keep,
           list_sort(list_filter([
             CASE WHEN r_too_short THEN 'too_short' ELSE NULL END,
             CASE WHEN r_too_long THEN 'too_long' ELSE NULL END,
             CASE WHEN r_word_len THEN 'word_len_band' ELSE NULL END,
             CASE WHEN r_giant_word THEN 'giant_word' ELSE NULL END,
             CASE WHEN r_no_stopwords THEN 'no_stopwords' ELSE NULL END],
             x -> x IS NOT NULL)) AS reasons
    FROM verdicts
    """,
)
def ext_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite rule-based quality gate in the Gopher/RefinedWeb style:
    every document is scored against the WHOLE rule bundle in one pass and
    carries the sorted list of rules it failed — the auditable form a
    production pipeline needs (rule hit-rates per source, "why was this
    dropped", threshold tuning), versus the boolean-only filters
    (ext_text_quality, ext_repetition_filter) that say only keep/drop.
    Rules active on this corpus: word-count band, mean-word-length band
    (kept exact with the cross-multiplied integer comparison
    sum_len*10 <=> n_words*{{30,100}} — no float threshold), giant-word
    cap, distinct-stopword floor. All JVM string expressions, map-only,
    ZERO shuffles; the reasons array is built from per-rule booleans so
    new rules are one line each."""
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    ws = F.split(norm, " ")
    stop = ["the", "a", "of", "and", "is", "to", "in"]
    lens = F.transform(ws, lambda w: F.length(w))
    m = d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x)
        .cast("long")
        .alias("sum_len"),
        F.array_max(lens).cast("long").alias("max_word_len"),
        F.size(F.array_distinct(F.filter(ws, lambda w: w.isin(*stop))))
        .cast("long")
        .alias("n_distinct_stop"),
    )
    r = m.select(
        "doc_id",
        "n_words",
        F.round(F.col("sum_len") * F.lit(1.0) / F.col("n_words"), 6).alias(
            "mean_word_len"
        ),
        "max_word_len",
        "n_distinct_stop",
        (F.col("n_words") < 30).alias("r_too_short"),
        (F.col("n_words") > 100000).alias("r_too_long"),
        (
            (F.col("sum_len") * 10 < F.col("n_words") * 30)
            | (F.col("sum_len") * 10 > F.col("n_words") * 100)
        ).alias("r_word_len"),
        (F.col("max_word_len") > 15).alias("r_giant_word"),
        (F.col("n_distinct_stop") < 2).alias("r_no_stopwords"),
    )
    rules = [
        ("too_short", "r_too_short"),
        ("too_long", "r_too_long"),
        ("word_len_band", "r_word_len"),
        ("giant_word", "r_giant_word"),
        ("no_stopwords", "r_no_stopwords"),
    ]
    reasons = F.sort_array(
        F.filter(
            F.array(
                *[
                    F.when(F.col(c), F.lit(name)).otherwise(F.lit(None))
                    for name, c in rules
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    failed = None
    for _, c in rules:
        failed = F.col(c) if failed is None else failed | F.col(c)
    return r.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "max_word_len",
        "n_distinct_stop",
        (~failed).alias("keep"),
        reasons.alias("reasons"),
    )


# ---------------------------------------------------------------------------
# fn_pandas_api — the pandas-on-Spark surface (ps.merge_asof)
# ---------------------------------------------------------------------------


@q(
    "fn_pandas_api",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND user_id < 30
    ),
    pur AS (
      SELECT user_id, ts AS p_ts,
             CAST(round(value * 10000) AS BIGINT) AS p_val
      FROM events WHERE event_type = 'purchase' AND user_id < 30
    ),
    j AS (
      SELECT c.event_id, c.user_id, c.ts, p.p_val,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY p.p_ts DESC) AS rn
      FROM clicks c JOIN pur p
        ON p.user_id = c.user_id AND p.p_ts <= c.ts
    )
    SELECT c.event_id, c.user_id, c.ts,
           j.p_val / 10000.0 AS last_purchase_value
    FROM clicks c LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
      ON j.event_id = c.event_id
    """,
)
def fn_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (`pyspark.pandas`): a pandas user's
    `merge_asof` — each click annotated with the user's most recent prior
    purchase — runs unchanged against the distributed engine
    (`df.pandas_api()` -> `ps.merge_asof(..., by=user, direction=
    backward)` -> `.to_spark()`). This is the migration surface for teams
    whose notebooks speak pandas, not SQL.

    Scale note — and the measured reason this runs on a bounded user
    cohort: the convenience layer's physical plan is SUPER-LINEAR on full
    materialization (9 s at sf0.01 vs unbounded-after-400 s at sf0.1 for
    the unrestricted frame under the bench's noop write — a single-task
    sort-aggregate doing per-row timestamp arithmetic). API parity is the
    point of this query; the engine's scale path for the same semantics
    is join_range_asof (tagged union + one shuffle + carry-forward),
    values pinned against the same SQL oracle. The purchase value rides
    the 4dp integer lattice so the re-emitted double is bit-stable."""
    import pyspark.pandas as ps

    e = t(spark, sf_dir, "events")
    cohort = F.col("user_id") < 30  # absolute cap: demo work is O(1) in corpus size
    clicks = (
        e.filter((F.col("event_type") == "click") & cohort)
        .select("event_id", "user_id", "ts")
    )
    pur = (
        e.filter((F.col("event_type") == "purchase") & cohort)
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            (F.round(F.col("value") * 10000).cast("long") / F.lit(10000.0))
            .alias("last_purchase_value"),
        )
    )
    a = clicks.pandas_api().sort_values("ts")
    b = pur.pandas_api().sort_values("p_ts")
    m = ps.merge_asof(
        a,
        b,
        left_on="ts",
        right_on="p_ts",
        by="user_id",
        direction="backward",
    )
    return m.to_spark().select(
        "event_id", "user_id", "ts", "last_purchase_value"
    )


# ---------------------------------------------------------------------------
# ext_dedup_minhash_mllib — the official ml.feature.MinHashLSH surface
# ---------------------------------------------------------------------------


@q(
    "ext_dedup_minhash_mllib",
    """
    SELECT CAST(CASE WHEN (SELECT count(*) FROM documents) > 2000
             THEN (SELECT count(*) FROM documents WHERE doc_id % 5 = 0
                   AND len(string_split(lower(regexp_replace(trim(text),
                       '\\s+', ' ', 'g')), ' ')) >= 3)
             ELSE (SELECT count(*) FROM documents
                   WHERE len(string_split(lower(regexp_replace(trim(text),
                       '\\s+', ' ', 'g')), ' ')) >= 3)
           END AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS n_not_canonical,
           CAST(0 AS BIGINT) AS n_missed_exact_dups,
           CAST(0 AS BIGINT) AS n_exact_dup_dist_nonzero,
           CAST(0 AS BIGINT) AS n_dist_tolerance_breach
    """,
)
def ext_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs through Spark MLlib's OFFICIAL LSH API
    (`ml.feature.MinHashLSH` — the Spark mapping SURVEY.md §2 names for
    ext_dedup_near), as the library twin of the native implementation in
    operators/dedup.py: shingle arrays (the same word-3-gram derivation
    every dedup op starts from) -> HashingTF binary sparse
    vectors (2^18 features, deterministic MurmurHash) -> MinHashLSH with a
    FIXED seed -> approxSimilarityJoin at Jaccard distance <= 0.95, a < b
    (the synthetic corpus's pairwise similarities are low, so the loose
    threshold is what makes the emission non-trivial; the stratum bounds
    the verify cost regardless).

    Output is a one-row derived-invariant audit (the ext_dedup_minhash
    pattern — the emitted distance is Jaccard over the HASHED feature
    space, an engine-specific representation no SQL oracle reproduces,
    but these properties of it are exact):
      n_docs — LSH input size after the empty-shingle filter,
        INDEPENDENTLY recomputed by the oracle (>= 3 normalized tokens
        <=> at least one word-3-gram, stratified when the corpus exceeds
        the degeneration point).
      n_not_canonical — pairs violating a < b.
      n_missed_exact_dups — identical-shingle-SET pairs absent from the
        join output: identical feature vectors collide in EVERY hash
        table, so exact-dup recall is deterministically 1.0.
      n_exact_dup_dist_nonzero — identical-set pairs not at distance 0.
      n_dist_tolerance_breach — |hashed jaccard - TRUE shingle jaccard|
        > 0.1 (HashingTF collisions at 2^18 features shift a small set's
        jaccard by at most ~1/|union|; measured max deviation 0.056
        across sfs). True jaccard comes from the SAME cached shingle
        table via exact set ops — two code paths, one truth.
    pytest (tests/test_relational4.py::test_mllib_minhash_semantics)
    additionally pins planted-dup behavior and seed determinism.

    Scale posture: MinHashLSH's join is the banded OR-amplified candidate
    join + exact verify, but the API's bands are SINGLE minhashes
    (numHashTables one-row bands): on a high-overlap corpus like this
    synthetic fixture (mean pairwise 3-gram overlap >0.5) nearly every
    pair collides in some band, so the candidate set degenerates toward
    N^2 exact verifies — measured unbounded at sf0.1's 5000 docs. The
    query therefore runs the API demo on a deterministic doc_id stratum;
    the NATIVE operator (dedup.minhash_lsh_pairs, multi-row bands + an
    estimate-vector prune before any shingle array moves) handles the
    same corpus in full and remains the 100 TB path. That contrast is
    itself the documented lesson."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import (
        shingled_documents,
    )

    # persisted: the size probe, the mllib leg and the exact-dup reference
    # all read it
    sc_ = shingled_documents(spark, sf_dir).select(
        "doc_id", "shingles"
    ).persist()
    if sc_.count() > 2000:
        # deterministic stratum above the degeneration point — see below
        sc_ = sc_.filter(F.col("doc_id") % 5 == 0)
    nonempty = sc_.filter(F.size("shingles") > 0)
    pairs = mllib_minhash_pairs(sc_, threshold=0.95)

    # exact-dup reference: identical shingle SETS (sorted-distinct key)
    keyed = nonempty.select(
        "doc_id", F.array_sort(F.array_distinct("shingles")).alias("sk")
    )
    exact_dups = (
        keyed.alias("x")
        .join(keyed.alias("y"), F.col("x.sk") == F.col("y.sk"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
    )
    a_sh = nonempty.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
    )
    b_sh = nonempty.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")
    )
    enriched = (
        pairs.join(a_sh, "doc_a")
        .join(b_sh, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard_dist",
            (
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb"))
            ).alias("true_j"),
            (
                F.array_sort(F.array_distinct("sa"))
                == F.array_sort(F.array_distinct("sb"))
            ).alias("is_exact_dup"),
        )
    )
    stats = enriched.agg(
        F.coalesce(
            F.sum((F.col("doc_a") >= F.col("doc_b")).cast("long")), F.lit(0)
        ).alias("n_not_canonical"),
        F.coalesce(
            F.sum(
                (F.col("is_exact_dup") & (F.col("jaccard_dist") != 0.0))
                .cast("long")
            ),
            F.lit(0),
        ).alias("n_exact_dup_dist_nonzero"),
        F.coalesce(
            F.sum(
                (
                    F.abs(
                        (F.lit(1.0) - F.col("jaccard_dist"))
                        - F.col("true_j")
                    )
                    > 0.1
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_dist_tolerance_breach"),
    )
    missed = exact_dups.join(
        pairs.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
    ).agg(F.count("*").alias("n_missed_exact_dups"))
    ndocs = nonempty.agg(F.count("*").alias("n_docs"))
    return (
        ndocs.crossJoin(stats)
        .crossJoin(missed)
        .select(
            "n_docs",
            "n_not_canonical",
            "n_missed_exact_dups",
            "n_exact_dup_dist_nonzero",
            "n_dist_tolerance_breach",
        )
    )


def mllib_minhash_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, shingles) -> candidate pairs via HashingTF + MinHashLSH
    (fixed seed, 8 hash tables); shared by the registered query and the
    planted-duplicate pytest."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    tf = HashingTF(
        inputCol="shingles",
        outputCol="features",
        numFeatures=1 << 18,
        binary=True,
    )
    feats = tf.transform(shingled).filter(F.size("shingles") > 0)
    mh = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=8,
        seed=20240814,
    )
    model = mh.fit(feats)
    return (
        model.approxSimilarityJoin(
            feats, feats, threshold, distCol="jaccard_dist"
        )
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@q(
    "win_rolling_median",
    """
    SELECT user_id, event_id,
           round((l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 2, 6)
             AS roll_median,
           CAST(len(l) AS INT) AS n_window
    FROM (
      SELECT user_id, event_id,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) AS l
      FROM events)
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median per user over the trailing 11 events — the
    robust-baseline smoother (sensor/price despiking) that mean-based
    rolling windows can't provide and Spark has no native window function
    for. Implemented as a BOUNDED-frame collect_list + array_sort + the
    uniform pick formula (a[(n+1)/2] + a[n/2+1])/2 — odd frames reduce to
    (x+x)/2 = x exactly, even frames to the midpoint mean, so one
    expression covers both parities with no branch.

    Scale posture: the frame is bounded (11 values), so per-row state is
    O(frame), the whole op is ONE key-partitioned window shuffle, and the
    sort cost is frame-local — this is the shape that survives a 100 TB
    event stream (a GLOBAL sort or an unbounded frame would not). Float
    protocol: both engines sort the identical doubles and apply one
    addition + one division — bit-identical; round(6) is belt and
    braces."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2).cast("int") + 1)
    return e.select(
        "user_id",
        "event_id",
        F.round((lo + hi) / 2, 6).alias("roll_median"),
        n.cast("int").alias("n_window"),
    )


@q(
    "ts_peak_concurrency",
    """
    WITH iv AS (
      SELECT event_type, ts AS s,
             ts + to_seconds(CAST(round(value * 60) AS BIGINT)) AS e
      FROM events
    ),
    b AS (
      SELECT event_type, s AS bt, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, e AS bt, -1 AS delta FROM iv
    ),
    sweep AS (
      SELECT event_type, bt, delta,
             sum(delta) OVER (PARTITION BY event_type ORDER BY bt, delta
                              ROWS UNBOUNDED PRECEDING) AS concurrent
      FROM b
    ),
    pk AS (
      SELECT event_type,
             CAST(max(concurrent) AS BIGINT) AS peak_concurrency,
             CAST(count(*) AS BIGINT) AS n_boundaries
      FROM sweep GROUP BY event_type
    )
    SELECT p.event_type, p.peak_concurrency, p.n_boundaries,
           min(s.bt) AS peak_first_at
    FROM pk p JOIN sweep s
      ON s.event_type = p.event_type
     AND s.concurrent = p.peak_concurrency
    GROUP BY p.event_type, p.peak_concurrency, p.n_boundaries
    """,
)
def ts_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency (max simultaneous sessions) per event
    type via the boundary-sweep prefix sum: each interval (start = ts,
    duration = value minutes, half-open) contributes a +1/-1 boundary
    pair; the running sum ordered by (time, delta) is the concurrency
    timeline — ends sort BEFORE starts at the same instant so touching
    intervals don't double-count. Capacity planning / admission control's
    textbook query, and the shape matters at scale: the sweep is ONE
    key-partitioned window over 2n boundary rows — never the O(n²)
    self-join ("count intervals containing this one") a naive overlap
    query runs. Boundary rows with identical (time, delta) keys commute
    through the prefix sum (the value multiset is order-invariant), so
    the peak and its first-reached time are deterministic in both
    engines; durations are exact integer seconds."""
    e = t(spark, sf_dir, "events")
    iv = e.select(
        "event_type",
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(SECOND, CAST(round(value * 60) AS BIGINT), ts)"
        ).alias("e"),
    )
    b = iv.select(
        "event_type", F.col("s").alias("bt"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            "event_type", F.col("e").alias("bt"), F.lit(-1).alias("delta")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bt", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = b.select(
        "event_type", "bt", F.sum("delta").over(w).alias("concurrent")
    )
    pk = sweep.groupBy("event_type").agg(
        F.max("concurrent").cast("bigint").alias("peak_concurrency"),
        F.count("*").cast("bigint").alias("n_boundaries"),
    )
    return (
        sweep.join(pk, "event_type")
        .filter(F.col("concurrent") == F.col("peak_concurrency"))
        .groupBy("event_type", "peak_concurrency", "n_boundaries")
        .agg(F.min("bt").alias("peak_first_at"))
    )


@q(
    "fn_bitmap_distinct",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_bitmap,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS agree
    FROM events GROUP BY event_type
    """,
)
def fn_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 BITMAP aggregate surface: exact distinct-user counts via
    bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg +
    bitmap_count — the warehouse pattern for PRE-AGGREGATABLE exact
    distinct counts. Unlike count(DISTINCT), the per-(group, bucket)
    bitmaps are mergeable artifacts: materialize them once per partition
    load and any rollup (day→month, type→all) is a bitmap_or_agg away —
    no re-scan of the fact table, no approximation. The query computes the
    distinct count BOTH ways and emits an `agree` verdict, so the oracle
    (plain COUNT DISTINCT twice + literal TRUE) falsifies the bitmap path
    bit-for-bit: any positional truncation or bucket-boundary bug flips
    `agree` and the driver hash. Plan: the bitmap tier is two partial-agg
    hash aggregations ((type, bucket) then type); user_id >= 0 in the fixture;
    bucket/position handling at 0 verified against the exact twin."""
    e = t(spark, sf_dir, "events")
    lvl1 = e.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bkt")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        ),
        F.count("*").cast("bigint").alias("n_ev"),
    )
    bitmap_side = lvl1.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias(
            "n_users_bitmap"
        ),
        F.sum("n_ev").cast("bigint").alias("n_events"),
    )
    exact_side = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact")
    )
    return bitmap_side.join(exact_side, "event_type").select(
        "event_type",
        "n_events",
        "n_users_bitmap",
        "n_users_exact",
        (F.col("n_users_bitmap") == F.col("n_users_exact")).alias("agree"),
    )


@q(
    "sec_dp_release",
    """
    WITH clipped AS (
      SELECT event_type,
             greatest(least(CAST(round(value * 100) AS BIGINT), 10000),
                      CAST(0 AS BIGINT))
               AS cents_clipped
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(cents_clipped) AS BIGINT) AS sum_true_cents
      FROM clipped GROUP BY event_type
    ),
    seeded AS (
      SELECT *,
             CAST(('0x' || substr(md5(event_type || '|count'), 1, 8))
                  AS BIGINT) / 4294967296.0 - 0.5 AS u_count,
             CAST(('0x' || substr(md5(event_type || '|sum'), 1, 8))
                  AS BIGINT) / 4294967296.0 - 0.5 AS u_sum
      FROM g
    ),
    noised AS (
      SELECT event_type, n_true, sum_true_cents,
             n_true + (-1.0
               * (CASE WHEN u_count < 0 THEN -1.0 ELSE 1.0 END)
               * ln(greatest(1.0 - 2.0 * abs(u_count), 1e-12)))
               AS n_released_raw,
             sum_true_cents + (-10000.0
               * (CASE WHEN u_sum < 0 THEN -1.0 ELSE 1.0 END)
               * ln(greatest(1.0 - 2.0 * abs(u_sum), 1e-12)))
               AS sum_released_raw
      FROM seeded
    )
    SELECT event_type, n_true,
           round(n_released_raw, 6) AS n_released,
           round(abs(n_released_raw - n_true), 6) AS count_abs_err,
           round(sum_true_cents / 100.0, 2) AS sum_true_clipped,
           round(sum_released_raw / 100.0, 6) AS sum_released,
           (abs(n_released_raw - n_true) <= 10.0) AS count_err_within_10b
    FROM noised
    """,
)
def sec_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private aggregate release AUDIT (Laplace mechanism,
    eps=1 per metric): per-group count (sensitivity 1 -> b=1) and
    contribution-CLIPPED sum (values capped at 100.00 -> sensitivity
    10000 cents -> b=10000 cents) released with additive Laplace noise
    via the inverse-CDF transform -b*sign(u)*ln(1-2|u|). The noise seed
    is a content hash of (group, metric) — a FIXED-SEED release, which is
    what a production DP system logs for audit replay (and what makes the
    release oracle-checkable here; a deployment draws fresh randomness
    per release epoch). True values ride alongside BECAUSE this is the
    internal calibration audit, not the public artifact: count_abs_err
    and the 10b outlier flag are the noise-calibration regression test
    (P(|Lap(b)| > 10b) ~ 5e-5).

    Exactness: the uniform is an exact 32-bit hash fraction (division by
    2^32 is exact), clipping/summing happens in int64 cents, and the
    noise is a fixed op tree (one ln, one multiply chain) — bit-identical
    across engines. Plan: clip map-side, one partial-agged aggregation to
    |groups| rows; the noise stage is per-group scalar arithmetic."""
    e = t(spark, sf_dir, "events")
    # TWO-SIDED clip [0, 10000] — the L1 sensitivity bound (and hence the
    # eps=1 Laplace calibration below) must hold by construction, not
    # because the fixture happens to have value >= 0.
    clipped = e.select(
        "event_type",
        F.greatest(
            F.least(
                F.round(F.col("value") * 100).cast("bigint"), F.lit(10000)
            ),
            F.lit(0).cast("bigint"),
        ).alias("cents_clipped"),
    )
    g = clipped.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_true"),
        F.sum("cents_clipped").cast("bigint").alias("sum_true_cents"),
    )

    def hash_uniform(suffix: str):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_type"), F.lit(suffix))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        return h / F.lit(4294967296.0) - F.lit(0.5)

    def laplace(u, b: float):
        # greatest(..., 1e-12) guards the u == -0.5 edge (md5 prefix
        # 00000000) where Spark's log(0) returns NULL but DuckDB's ln(0)
        # raises — same guard on both sides keeps the op tree identical.
        sign = F.when(u < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        return (
            F.lit(-b)
            * sign
            * F.log(
                F.greatest(
                    F.lit(1.0) - F.lit(2.0) * F.abs(u), F.lit(1e-12)
                )
            )
        )

    u_count = hash_uniform("|count")
    u_sum = hash_uniform("|sum")
    n_rel = F.col("n_true") + laplace(u_count, 1.0)
    s_rel = F.col("sum_true_cents") + laplace(u_sum, 10000.0)
    return g.select(
        "event_type",
        "n_true",
        F.round(n_rel, 6).alias("n_released"),
        F.round(F.abs(n_rel - F.col("n_true")), 6).alias("count_abs_err"),
        F.round(F.col("sum_true_cents") / 100.0, 2).alias(
            "sum_true_clipped"
        ),
        F.round(s_rel / 100.0, 6).alias("sum_released"),
        (F.abs(n_rel - F.col("n_true")) <= 10.0).alias(
            "count_err_within_10b"
        ),
    )


@q(
    "monitor_slo_burn_rate",
    """
    WITH e AS (
      SELECT date_trunc('hour', ts) AS hr, date_trunc('day', ts) AS dy,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ),
    h AS (
      SELECT dy, hr, CAST(count(*) AS BIGINT) AS n_hour,
             CAST(sum(is_err) AS BIGINT) AS err_hour
      FROM e GROUP BY dy, hr
    ),
    d AS (
      SELECT dy, CAST(sum(n_hour) AS BIGINT) AS n_day,
             CAST(sum(err_hour) AS BIGINT) AS err_day
      FROM h GROUP BY dy
    )
    SELECT CAST(h.hr AS TIMESTAMP) AS hour_start,
           h.n_hour, h.err_hour,
           round(CAST(h.err_hour AS DOUBLE) / h.n_hour / 0.25, 6)
             AS burn_short,
           round(CAST(d.err_day AS DOUBLE) / d.n_day / 0.25, 6)
             AS burn_long,
           (CAST(h.err_hour AS DOUBLE) / h.n_hour / 0.25 > 1.4
            AND CAST(d.err_day AS DOUBLE) / d.n_day / 0.25 > 0.9) AS page
    FROM h JOIN d USING (dy)
    """,
)
def monitor_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the SRE-workbook page rule):
    error-budget burn measured over a SHORT window (1h — catches the
    spike) AND a LONG window (1d — proves it isn't a blip); a page fires
    only when both burn. This is the §2.C monitoring family's modern
    alert shape — the reference's threshold rule (lag > 500) pages on
    level, burn-rate pages on budget-spend velocity, immune to both
    flapping spikes and slow smolder.

    Budget here is 25% (the fixture's error type runs ~20% of traffic —
    budget and thresholds 1.4/0.9 chosen so the page discriminates:
    ~3% of hours page at sf0.01). One corpus pass: the hour tier is the
    only fact aggregation; the day tier RE-AGGREGATES the 720-row hour
    frame (sum of hour counts ≡ day counts, proven by the oracle which
    states the day tier the same way); the hour-day join broadcasts ~30
    day rows. Burn = err/n/budget is a fixed two-division tree — engine
    bit-identical."""
    e = t(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.date_trunc("day", F.col("ts")).alias("dy"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias(
            "is_err"
        ),
    )
    h = e.groupBy("dy", "hr").agg(
        F.count("*").cast("bigint").alias("n_hour"),
        F.sum("is_err").cast("bigint").alias("err_hour"),
    )
    d = h.groupBy("dy").agg(
        F.sum("n_hour").cast("bigint").alias("n_day"),
        F.sum("err_hour").cast("bigint").alias("err_day"),
    )
    burn_short = F.col("err_hour").cast("double") / F.col("n_hour") / 0.25
    burn_long = F.col("err_day").cast("double") / F.col("n_day") / 0.25
    return h.join(F.broadcast(d), "dy").select(
        F.col("hr").alias("hour_start"),
        "n_hour",
        "err_hour",
        F.round(burn_short, 6).alias("burn_short"),
        F.round(burn_long, 6).alias("burn_long"),
        ((burn_short > 1.4) & (burn_long > 0.9)).alias("page"),
    )


@q(
    "win_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - to_days(CAST(row_number() OVER (PARTITION BY user_id
                                                 ORDER BY d) AS INT))
               AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS streak_len,
             min(d) AS streak_start, max(d) AS streak_end
      FROM isl GROUP BY user_id, grp
    ),
    agg AS (
      SELECT user_id,
             CAST(sum(streak_len) AS BIGINT) AS n_active_days,
             CAST(count(*) AS BIGINT) AS n_streaks
      FROM streaks GROUP BY user_id
    ),
    best AS (
      SELECT user_id, streak_len, streak_start, streak_end,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC,
                                         streak_start ASC) AS rn
      FROM streaks
    )
    SELECT b.user_id, a.n_active_days, a.n_streaks,
           b.streak_len AS longest_streak,
           CAST(b.streak_start AS VARCHAR) AS streak_start,
           CAST(b.streak_end AS VARCHAR) AS streak_end
    FROM best b JOIN agg a USING (user_id) WHERE b.rn = 1
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-activity streaks (gaps-and-islands): per user, collapse
    distinct active days into runs via the date-minus-row_number island
    key, then report the longest run (ties -> earliest) plus totals — the
    engagement metric behind every 'N-day streak' product surface, and
    the canonical gaps-and-islands pattern (the same cut the substring-
    dedup interval merge uses). ONE shuffle on user_id serves the
    distinct, the island window, and both downstream aggregations —
    every later step is partition-local because the key never changes.
    All-integer arithmetic (dates and counts), nothing to round."""
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("streak_len"),
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
    )
    agg = streaks.groupBy("user_id").agg(
        F.sum("streak_len").cast("bigint").alias("n_active_days"),
        F.count("*").cast("bigint").alias("n_streaks"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), F.asc("streak_start")
    )
    best = streaks.withColumn("rn", F.row_number().over(wb)).filter(
        F.col("rn") == 1
    )
    return best.join(agg, "user_id").select(
        "user_id",
        "n_active_days",
        "n_streaks",
        F.col("streak_len").alias("longest_streak"),
        # ISO strings: DATE round-trips differently through the two
        # engines' pandas paths; int-date-to-string is identical
        F.col("streak_start").cast("string").alias("streak_start"),
        F.col("streak_end").cast("string").alias("streak_end"),
    )


@q(
    "ts_seasonal_decompose",
    """
    WITH base AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    planted AS (
      SELECT event_type, d,
             cents + CASE WHEN (d - DATE '1970-01-05') % 7 = 4
                          THEN cents ELSE 0 END AS pc
      FROM base
    ),
    daily AS (
      SELECT event_type, d,
             CAST((d - DATE '1970-01-05') % 7 AS INT) AS dow,
             CAST(sum(pc) AS BIGINT) AS day_cents
      FROM planted GROUP BY event_type, d
    ),
    tr AS (
      SELECT *, CAST(sum(day_cents) OVER w AS BIGINT) AS sum7,
             CAST(count(*) OVER w AS BIGINT) AS n7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT event_type, dow, 7 * day_cents - sum7 AS detr7
      FROM tr WHERE n7 = 7
    ),
    seas AS (
      SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_obs,
             round(CAST(sum(detr7) AS DOUBLE) / (7.0 * count(*)) / 100.0,
                   4) AS seasonal
      FROM detr GROUP BY event_type, dow
    )
    SELECT event_type, dow, n_obs, seasonal,
           (seasonal = max(seasonal) OVER (PARTITION BY event_type))
             AS peak
    FROM seas
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (trend / weekly-seasonal split):
    daily revenue per event type, centered 7-day moving-average trend over
    FULL windows only, day-of-week seasonal component from the detrended
    series. A known seasonal signal is PLANTED (the planted-axis
    precedent: the fixture's clock is seasonality-free, so Friday revenue
    is doubled at the event level in exact integer cents) and the
    decomposition must RECOVER it — the `peak` flag lands on the planted
    day-of-week for every type at every sf, which falsifies sign errors,
    off-by-one windows, and wrong dow arithmetic in one check.

    Exactness: day-of-week is epoch-day arithmetic (both engines' builtin
    dayofweek disagree on week start); the detrended value is kept as the
    EXACT integer 7·daily − Σ7 (no trend division until the final
    per-(type,dow) mean, one division); window sums are int64. Plan: one
    fact aggregation to days, then windows and the 35-row seasonal table
    all ride the same event_type partitioning."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dow = (
        F.datediff(F.col("d"), F.lit("1970-01-05").cast("date")) % 7
    ).cast("int")
    planted = base.select(
        "event_type",
        "d",
        (
            F.col("cents")
            + F.when(dow == 4, F.col("cents")).otherwise(F.lit(0))
        ).alias("pc"),
    )
    daily = planted.groupBy("event_type", "d").agg(
        F.sum("pc").cast("bigint").alias("day_cents")
    ).withColumn("dow", dow)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "dow",
        "day_cents",
        F.sum("day_cents").over(w).cast("bigint").alias("sum7"),
        F.count("*").over(w).cast("bigint").alias("n7"),
    )
    detr = tr.filter(F.col("n7") == 7).select(
        "event_type",
        "dow",
        (F.lit(7) * F.col("day_cents") - F.col("sum7")).alias("detr7"),
    )
    seas = detr.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.round(
            F.sum("detr7").cast("double")
            / (F.lit(7.0) * F.count("*"))
            / 100.0,
            4,
        ).alias("seasonal"),
    )
    wmax = Window.partitionBy("event_type")
    return seas.select(
        "event_type",
        "dow",
        "n_obs",
        "seasonal",
        (F.col("seasonal") == F.max("seasonal").over(wmax)).alias("peak"),
    )


@q(
    "agg_segment_overlap",
    """
    WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
           FROM s GROUP BY event_type),
    ov AS (
      SELECT a.event_type AS seg_a, b.event_type AS seg_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT ov.seg_a, ov.seg_b, za.n_users AS n_a, zb.n_users AS n_b,
           ov.n_both,
           round(CAST(ov.n_both AS DOUBLE)
                 / (za.n_users + zb.n_users - ov.n_both), 6) AS jaccard,
           round(CAST(ov.n_both AS DOUBLE)
                 / least(za.n_users, zb.n_users), 6) AS containment
    FROM ov JOIN sz za ON za.event_type = ov.seg_a
            JOIN sz zb ON zb.event_type = ov.seg_b
    """,
)
def agg_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience segment-overlap matrix (the BI 'how many users did BOTH'
    staple): exact distinct-user overlap, Jaccard, and containment for
    every ordered pair of event-type segments. The (segment, user)
    distinct projection shuffles ONCE on user_id; the pair join is an
    equi-join on that same user key (bounded by per-user segment
    membership ≤ |segments| — the basket-pair bound, not |users|²); sizes
    re-aggregate from the same projection. At warehouse scale this is the
    pre-aggregated form the sketch tier (agg_sketch_mergeable)
    approximates — here exact, because segment count is small and the
    user key partitioning makes the exact answer one shuffle. Single
    divisions of exact int64 counts keep both engines bit-identical."""
    e = t(spark, sf_dir, "events")
    s = e.select("event_type", "user_id").distinct()
    sz = s.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    a = s.select(F.col("event_type").alias("seg_a"), "user_id")
    b = s.select(F.col("event_type").alias("seg_b"), "user_id")
    ov = (
        a.join(b, "user_id")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    za = sz.select(
        F.col("event_type").alias("seg_a"), F.col("n_users").alias("n_a")
    )
    zb = sz.select(
        F.col("event_type").alias("seg_b"), F.col("n_users").alias("n_b")
    )
    return (
        ov.join(F.broadcast(za), "seg_a")
        .join(F.broadcast(zb), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_both").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")),
                6,
            ).alias("containment"),
        )
    )


@q(
    "agg_pareto_abc",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    cum AS (
      SELECT o_custkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey ASC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS running
      FROM rev
    ),
    cls AS (
      SELECT o_custkey, cents,
             CASE WHEN running * 10 <= tot.total * 8 THEN 'A'
                  WHEN running * 100 <= tot.total * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM cum CROSS JOIN tot
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(cents) / 100.0, 2) AS class_revenue,
           round(CAST(sum(cents) AS DOUBLE) / (SELECT total FROM tot), 6)
             AS revenue_share
    FROM cls GROUP BY abc_class
    """,
)
def agg_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC customer classification (the 80/15/5 revenue-
    concentration readout): customers ranked by exact int64-cents
    revenue, cumulative share classified by INTEGER cross-multiplication
    (running*10 <= total*8, running*100 <= total*95) so no float
    threshold can flip a boundary customer between engines. One fact
    aggregation; then (round 10) the cumulative revenue is an exact
    histogram prefix sum (operators/ranking.py histogram_running_sum —
    the cents-value histogram carries per-value weight totals, so the
    running total needs only PARTITIONED windows and the grand total
    folds out of the same histogram instead of a separate agg +
    cross-join); the class rollup is three rows. No single task ever
    sorts all customers."""
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    cum = histogram_running_sum(
        rev.withColumn("_negcents", -F.col("cents")),
        "_negcents",
        "o_custkey",
        "cents",
        out_col="running",
        total_col="total",
    )
    cls = cum.select(
        "cents",
        "total",
        F.when(
            F.col("running") * 10 <= F.col("total") * 8, F.lit("A")
        )
        .when(F.col("running") * 100 <= F.col("total") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.sum("cents") / 100.0, 2).alias("class_revenue"),
        F.round(
            F.sum("cents").cast("double") / F.first("total"), 6
        ).alias("revenue_share"),
    )
