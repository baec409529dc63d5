"""Deduplication operators for training-data pipelines (BASELINE.json:6):
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine (the last via
operators.similarity.embedding_near_dups).

Scale shapes:
  shingle_docs         the one shingler every set-similarity operator reads:
                       map-only distinct k-gram arrays per document.
  exact_dedup          one hash-aggregate shuffle on the fingerprint; at
                       100 TB the md5 collapses arbitrarily long text to 32
                       bytes *before* the shuffle.
  ngram_jaccard_pairs  prefix-filtered self-equi-join on (block, shingle) ->
                       exact verify — the block key bounds the candidate
                       blowup.
  minhash_lsh_pairs    xxhash64 band signatures -> equi-join on band hash ->
                       estimate prune -> exact verify, the canonical
                       sub-quadratic near-dup plan.
  simhash              per-token xxhash64 -> 64 signed bit-sums in ONE hash
                       aggregation -> 16-bit band blocking -> hamming<=3 via
                       bit_count(xor). No Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.operators.text import (
    normalize_text,
    word_grams,
    ws_tokens,
)


#: verify-stage broadcast gate: a side carrying FULL shingle arrays may be
#: broadcast only while its optimizer size estimate stays executor-safe;
#: beyond this the join must shuffle (ADVICE r08 #2 — at the 100 TB target
#: an unconditional broadcast of per-document arrays is a driver/executor
#: OOM, while at test scale the broadcast is 2x faster than SMJ).
_BROADCAST_CAP_BYTES = 256 << 20


def _broadcast_if_small(df: DataFrame, cap_bytes: int = _BROADCAST_CAP_BYTES):
    """Broadcast hint gated on the optimizer's size ESTIMATE (a driver-side
    plan-stats read, no job): small frames keep the map-side join, large
    frames fall back to a shuffled equi-join where the candidate set — the
    genuinely small side — is what AQE may choose to broadcast instead.

    ADVICE r09 caveats, both deliberate: (1) ``_jdf.queryExecution()`` is
    a private PySpark/JVM surface that can drift across Spark versions —
    the ``except`` arm makes any drift fail CLOSED to the scale-safe
    shuffled join (pinned by tests/test_scale_plans.py
    ``test_minhash_verify_survives_no_broadcast``); (2) Catalyst can
    underestimate derived ARRAY columns (shingle arrays built by
    ``transform``/``split`` inherit the source column's stats), so on
    top of the byte cap, when the optimizer knows a row count (CBO
    stats) the row count is ALSO bounded at cap_bytes / 64 — even a
    64x per-row underestimate then stays executor-safe. Without a known
    row count the byte cap stands alone, which is why the cap is set an
    order of magnitude under executor memory rather than near it."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(stats.sizeInBytes())
        rc = stats.rowCount()  # py4j converts the Scala BigInt to int
        rows_ok = rc.isEmpty() or int(rc.get()) <= cap_bytes // 64
        if 0 <= size <= cap_bytes and rows_ok:
            return F.broadcast(df)
    except Exception:
        pass  # unknown stats: choose the scale-safe shuffled join
    return df


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate removal on md5(normalized text): keeps the lowest id
    per fingerprint, reports group size. One shuffle."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col).alias("doc_id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups"))
        .select("doc_id", "fp", "n_dups")
    )


def char_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-char shingles of normalized text (JVM higher-order fns)."""
    n = F.greatest(F.length(col) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(col, i, k))
    )


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array (``ws_tokens`` of
    normalized text). ~5x fewer set elements than char-10 shingles on prose
    (one per word vs one per char), so the set-similarity join moves ~5x
    less data for the same exactness; and word shingles stay distinctive
    where char-3 sets saturate (every doc holding most 3-char sequences
    makes any LSH candidate join quadratic)."""
    return F.array_distinct(word_grams(toks, k))


def shingle_docs(docs: DataFrame, unit: str = "word", k: int = 3) -> DataFrame:
    """The one frame-level shingler: ``docs`` (any frame with a ``text``
    column) with ``text`` replaced by ``bucket``, the content-hash percent
    bucket (``sampling.content_bucket``), and ``shingles``, the distinct
    k-word (``unit="word"``) or k-char shingles of the normalized text.

    Map-only. Normalized text and its tokens are projected to columns
    BEFORE shingling: an expression referenced inside a HOF lambda
    re-evaluates per array element (measured: an un-projected normalize
    25x slower, an un-projected split 3.5x at sf0.1).

    Lazy: a query that reads the frame more than once persists it."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
    )

    keep = [c for c in docs.columns if c != "text"]
    normed = docs.select(*keep, normalize_text(F.col("text")).alias("_t"))
    if unit == "word":
        normed = normed.select(*keep, "_t", ws_tokens(F.col("_t")).alias("_w"))
        shingles = word_shingles(F.col("_w"), k)
    else:
        shingles = char_shingles(F.col("_t"), k)
    return normed.select(
        *keep,
        content_bucket(F.col("_t")).alias("bucket"),
        shingles.alias("shingles"),
    )


def shingled_documents(
    spark: SparkSession, sf_dir: str, unit: str = "word", k: int = 3
) -> DataFrame:
    """``shingle_docs`` over the documents fixture:
    (doc_id, source, bucket, shingles), computed in the calling run.

    The fixture is one parquet file, one input partition, and the
    interpreted HOF shingling is the cost, so the rows are spread across
    the cluster first (a 100 TB corpus arrives pre-partitioned and the
    round-robin is a cheap rebalance)."""
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    par = spark.sparkContext.defaultParallelism
    return shingle_docs(docs.repartition(par), unit, k)


def ngram_jaccard_pairs(shingled: DataFrame, threshold: float = 0.5) -> DataFrame:
    """n-gram Jaccard near-dup pairs (id_a < id_b) within a blocking key,
    over a (doc_id, block, shingles) frame (``shingle_docs``; the caller
    persists it, the join reads it four times).

    jaccard = |A∩B| / |A∪B| over the distinct shingles — EXACT result
    for the given threshold, computed with **prefix filtering** (the
    standard exact set-similarity join):

      1. order each doc's shingles by ascending global frequency;
      2. index only the first floor((1-t)*|S|)+1 of them — two sets with
         jaccard >= t MUST share one of these rare 'prefix' shingles;
      3. candidate pairs = prefix-postings self-join (+ length-ratio prune
         |A|/|B| >= t, a jaccard upper bound);
      4. exact intersection counted only for candidates.

    Why: on shared-vocabulary corpora every pair shares most *frequent*
    shingles, so a naive shared-shingle join materializes ~|block|^2 * |S|
    rows (measured 84 s at 5k docs); the prefix postings are rare by
    construction, so candidate generation stays near-linear while returning
    the identical pair set.
    """
    shingled = shingled.select("doc_id", "block", "shingles")
    exploded = shingled.select(
        "doc_id", "block", F.size("shingles").alias("set_size"),
        F.explode("shingles").alias("shingle"),
    )
    # global shingle document-frequency (tiny: one row per distinct shingle)
    freq = exploded.groupBy("shingle").agg(F.count("*").alias("df_count"))
    # rank each doc's shingles rarest-first; keep the prefix
    # (a collect_list+array_sort+slice variant was measured 2x SLOWER than
    # this window: shuffling packed structs costs more than the sort saves)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df_count").asc(), F.col("shingle").asc()
    )
    prefix_len = F.floor(F.lit(1.0 - threshold) * F.col("set_size")).cast("int") + 1
    prefix = (
        exploded.join(F.broadcast(freq), "shingle")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "block", "set_size", "shingle", "pos")
    )
    # PPJoin positional filter (Xiao et al.): for a shared prefix shingle at
    # frequency-order positions (px, py), EVERY common element sorts either
    # before it in BOTH lists (<= min(px,py)-1 of those) or at/after it in
    # both (<= 1 + min(|A|-px, |B|-py)), so
    #   |A ∩ B| <= least(px, py) + least(|A|-px, |B|-py)
    # holds for every shared occurrence — a pair whose bound cannot reach
    # the required overlap t/(1+t)*(|A|+|B|) is pruned BEFORE the exact
    # array_intersect verify. Honest measurement: on THIS fixture it prunes
    # almost nothing (uniform doc sizes -> symmetric prefix ranks, 171832
    # -> 171827 candidates at sf0.1) and costs two integer comparisons in
    # the join condition; on size/rank-skewed real corpora (boilerplate
    # shingles ranking early in small docs, late in large ones) it is the
    # standard candidate-bound. The 1e-6 threshold slack keeps pairs that
    # pass only via the final round(jaccard, 6) >= t comparison.
    t_eff = threshold - 1e-6
    sx, sy = F.col("x.set_size"), F.col("y.set_size")
    px, py = F.col("x.pos"), F.col("y.pos")
    required = F.ceil(F.lit(t_eff / (1.0 + t_eff)) * (sx + sy))
    overlap_ub = F.least(px, py) + F.least(sx - px, sy - py)
    candidates = (
        prefix.alias("x")
        .join(
            prefix.alias("y"),
            on=[
                F.col("x.block") == F.col("y.block"),
                F.col("x.shingle") == F.col("y.shingle"),
                F.col("x.doc_id") < F.col("y.doc_id"),
                # length-ratio prune: jaccard <= min/max of set sizes
                F.least(sx, sy) >= F.lit(threshold) * F.greatest(sx, sy),
                overlap_ub >= required,
            ],
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("x.set_size").alias("size_a"),
            F.col("y.set_size").alias("size_b"),
        )
        .distinct()
    )
    # exact verification only for candidates: join the packed shingle arrays
    # (one row per candidate pair) and intersect in place — no re-explosion
    # of candidate x shingle rows
    sa = shingled.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("shingles_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("shingles_b")
    )
    n_inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    # size-GATED broadcast (ADVICE r08 #2): sa/sb carry every document's
    # full shingle array, an executor OOM if broadcast unconditionally at
    # the 100 TB target; under the cap the map-side join is ~2x faster
    # than SMJ (measured sf0.1), over it the join shuffles and the
    # candidate set — the genuinely small side — is what AQE broadcasts.
    return (
        candidates.join(_broadcast_if_small(sa), "id_a")
        .join(_broadcast_if_small(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                n_inter / (F.col("size_a") + F.col("size_b") - n_inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    shingled: DataFrame,
    num_hash_tables: int = 5,
    max_jaccard_distance: float = 0.4,
    seed: int = 42,
    est_hashes: int = 12,
    est_margin: float = 0.3,
) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle -> minhash -> band -> bucket-join
    -> estimate-prune -> exact verify), entirely in JVM expressions (no ML
    sparse vectors, no Python): per band b, signature = min(xxhash64(b, seed,
    shingle)) over the doc's word-3-shingles; docs colliding on any band
    signature become candidates; candidates are verified with the EXACT
    jaccard via array_intersect, so the cutoff is exact and only recall is
    approximate (P[collision] = 1-(1-j)^bands for true jaccard j; identical
    docs always collide).

    Scale shape: signatures are a map-only stage; the band join is an
    equi-join on (band, min_hash) whose bucket sizes are bounded by shingle
    distinctiveness (word-level shingles keep them small — char-3 shingles
    on a shared-vocabulary corpus saturate and go quadratic).

    The verify stage has NO broadcast ceiling: each doc carries an
    ``est_hashes``-wide minhash vector (~8B each) through the band join, and
    a candidate pair survives only if its estimated jaccard (fraction of
    matching vector components, an unbiased estimator) is within
    ``est_margin`` of the cutoff — for the defaults (k=12, margin=0.3) a
    doc pair AT the jaccard cutoff is wrongly pruned with probability ~2%
    (binomial tail), true near-dups well above it essentially never, while
    saturated non-dup pairs are dropped BEFORE any shingle array moves. The surviving ~output-sized candidate set then
    joins the packed shingle arrays as ordinary shuffle equi-joins (AQE
    broadcasts them when small), so the plan stays hash-partitioned at any
    corpus size.

    Input: a (doc_id, shingles) word-3 frame (``shingle_docs``); the caller
    persists it (read three times).
    """
    shingled = shingled.select("doc_id", "shingles")

    def band_sig(b: int) -> Column:
        return F.array_min(
            F.transform(
                F.col("shingles"),
                lambda s: F.xxhash64(F.lit(b), F.lit(seed), s),
            )
        )

    # k minhashes for the jaccard ESTIMATE vector, from the standard
    # two-base-hash linear family h_i = h1 + i*h2 (pairwise independent,
    # seed-space disjoint from the band hashes via the "est" salts): 2
    # xxhash64 passes over the shingles instead of k. Bases are masked to
    # 31 bits so h1 + i*h2 can never overflow a long under ANSI arithmetic;
    # a 31-bit minhash only perturbs the match probability by ~2^-31.
    # hp is projected to a COLUMN first: Catalyst re-inlines expressions
    # referenced inside HOF lambdas per element, and CollapseProject leaves
    # non-cheap multiply-referenced aliases in their own Project.
    based = shingled.select(
        "doc_id",
        F.size("shingles").alias("set_size"),
        "shingles",
        F.transform(
            F.col("shingles"),
            lambda s: F.struct(
                F.xxhash64(F.lit("est1"), F.lit(seed), s)
                .bitwiseAND(F.lit(0x7FFFFFFF))
                .alias("h1"),
                F.xxhash64(F.lit("est2"), F.lit(seed), s)
                .bitwiseAND(F.lit(0x7FFFFFFF))
                .alias("h2"),
            ),
        ).alias("hp"),
    )
    est_vec = F.transform(
        F.sequence(F.lit(0), F.lit(est_hashes - 1)),
        lambda i: F.array_min(
            F.transform(F.col("hp"), lambda p: p["h1"] + i * p["h2"])
        ),
    )

    sigs = based.select(
        "doc_id",
        "set_size",
        est_vec.alias("vec"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_sig(b).alias("sig")
                    )
                    for b in range(num_hash_tables)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "set_size", "vec", "bs.band", "bs.sig")
    # the signature map stage (HOFs are interpreted, the expensive part of
    # this plan) feeds BOTH sides of the self-join: persist so it runs once
    sigs = sigs.persist()

    est_matches = F.size(
        F.filter(
            F.zip_with(F.col("x.vec"), F.col("y.vec"), lambda a, b: a == b),
            lambda m: m,
        )
    )
    candidates = (
        sigs.alias("x")
        .join(
            sigs.alias("y"),
            on=[
                F.col("x.band") == F.col("y.band"),
                F.col("x.sig") == F.col("y.sig"),
                F.col("x.doc_id") < F.col("y.doc_id"),
                # length prune: jaccard <= min/max set size
                F.least(F.col("x.set_size"), F.col("y.set_size"))
                >= F.lit(1.0 - max_jaccard_distance)
                * F.greatest(F.col("x.set_size"), F.col("y.set_size")),
                # estimate prune: drop pairs whose estimated jaccard is
                # margin-below the cutoff (evaluated inside the band join —
                # no extra shuffle, no shingle bytes moved)
                est_matches
                >= (F.lit(1.0 - max_jaccard_distance - est_margin))
                * F.lit(est_hashes),
            ],
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("x.set_size").alias("size_a"),
            F.col("y.set_size").alias("size_b"),
        )
        .distinct()
    )
    # exact verify over the pruned (~output-sized) candidate set: ordinary
    # shuffle equi-joins on doc id — AQE turns them into broadcasts when the
    # corpus is small, and they stay hash-partitioned (linear) when it isn't
    sa = shingled.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("shingles_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("shingles_b")
    )
    n_inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    jd = F.lit(1.0) - n_inter / (
        F.col("size_a") + F.col("size_b") - n_inter
    )
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jd, 6).alias("jaccard_distance"))
        .filter(F.col("jaccard_distance") <= max_jaccard_distance)
    )


def dup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
    driver_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id).

    cluster_id = min doc_id reachable through the pair graph.

    Hybrid by graph size, because the pair graph is the OUTPUT of a
    sub-quadratic near-dup join — typically a fraction of a percent of the
    corpus, not corpus-sized:

    - ``<= driver_edge_threshold`` edges: union-find on the driver. Each
      distributed round costs a join + agg + checkpoint + count action
      (~1 s of fixed overhead on an empty cluster); path-compressed
      union-find on 2M edges is milliseconds, so below the threshold the
      driver is strictly faster AND exact. ~32 MB at the default cap.
    - larger graphs: iterative label propagation — each round every node
      adopts the smallest label among itself and its neighbors; converges
      in O(graph diameter) rounds (near-dup clusters are tiny, so 2-3
      rounds in practice; hard cap ``max_iters``), one join + one
      aggregation per round, checkpointed to keep the plan from growing
      unboundedly. Both paths produce identical labels (pytest-asserted).
    """
    # the pair graph feeds two actions (count, then collect or edge build) —
    # persist so the sub-quadratic join underneath runs ONCE, not per action
    pairs = pairs.persist()
    n_edges = pairs.count()
    if n_edges <= driver_edge_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in pairs.select("id_a", "id_b").collect():
            a, b = int(row.id_a), int(row.id_b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the representative is the min doc_id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        pairs.unpersist()
        return pairs.sparkSession.createDataFrame(
            rows, "doc_id long, cluster_id long"
        )
    # undirected edge list + a self-loop per node: min over the self-loop's
    # neighborhood IS least(own label, neighbor minimum), folding the
    # propagate-and-keep-own step into ONE join + ONE aggregation per round
    half = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        half.unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .unionByName(half.select(F.col("src"), F.col("src").alias("dst")))
        .unionByName(half.select(F.col("dst").alias("src"), F.col("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()  # edges materialized; the pair join is done
    labels = (
        edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
    )
    for _ in range(max_iters):
        new_labels = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("src", "node")
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document from xxhash64(token) bit votes."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(normalize_text(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(1) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(0)
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, candidate-blocked
    on 16-bit bands (a pair within hamming<=3 shares at least one of 4 bands
    untouched — pigeonhole)."""
    sh = simhash(df, id_col, text_col)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * j)
                        .bitwiseAND(0xFFFF)
                        .alias("band_key"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    cell_col: str = "label",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    max_cell_size: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each cluster cell, a
    document is a semantic duplicate if some LOWER-id cell-mate's embedding
    has cosine similarity >= ``threshold``; ``dup_of`` names the lowest such
    id. Emits every row with (vec_id, cell, kept, dup_of).

    ``cell_col`` is the upstream cluster assignment — in this corpus the
    fixture's ``label``; at 100 TB it is the IVF cell id the index pipeline
    already computes (streaming/jobs.streaming_index_append assigns it and
    partitions the store by it), which is exactly the SemDeDup recipe:
    k-means first, exact pairwise only WITHIN a cell. The pairwise step runs
    as one BLAS matmul per cell inside applyInPandas (Arrow-batched), so
    the shuffle moves each vector once, keyed by cell, and nothing
    quadratic crosses the wire. Cosines are rounded to 6 decimals before
    the threshold compare (the repo's cross-engine float convention —
    ext_embedding_near_dup does the same).

    Skew bound: a cell the upstream assignment leaves over
    ``max_cell_size`` is recursively sub-clustered in-task
    (similarity._split_over_cap, deterministic local spherical k-means in
    the cell's vec_id order), the lowest-id rule then applies PER FINAL
    BLOCK, and the emitted ``cell`` is the final block id (upstream cell
    id when unsplit; negative path encoding when split) — the same
    worst-cell bound, id scheme, and accepted cross-block approximation
    as similarity.semdedup. The matmul runs per final block (block x
    block, never c x c), so per-cell compute and peak memory are
    O(c * cap) and O(cap^2)."""
    import numpy as np
    import pandas as pd

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        _split_over_cap,
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        v = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["vec"]],
        )
        v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        n = len(pdf)
        ids = pdf["vec_id"].to_numpy()
        block = np.empty(n, dtype=np.int64)
        if max_cell_size and n > max_cell_size:
            _split_over_cap(
                v,
                np.arange(n),
                max_cell_size,
                int(pdf["cell"].iloc[0]) + 1,
                0,
                block,
            )
        else:
            block[:] = int(pdf["cell"].iloc[0]) if n else 0
        dup_of = np.full(n, -1, dtype=np.int64)
        for b in np.unique(block):
            idx = np.nonzero(block == b)[0]  # ascending -> vec_id order
            vb = v[idx]
            sims = np.round(vb @ vb.T, 6)
            for i in range(1, len(idx)):
                hits = np.nonzero(sims[i, :i] >= threshold)[0]
                if hits.size:
                    # lowest id: rows sorted by vec_id
                    dup_of[idx[i]] = ids[idx[hits[0]]]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": block,
                "kept": dup_of < 0,
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup_of],
                    dtype="Int64",
                ),
            }
        )

    prepped = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(cell_col).cast("int").alias("cell"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return prepped.groupBy("cell").applyInPandas(
        dedup_cell, "vec_id long, cell long, kept boolean, dup_of long"
    )


def duplicated_span_metrics(
    documents: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """Cross-document duplicated-span detection — the exact-substring dedup
    family (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): a span (word k-gram) that appears verbatim in two or
    more documents is boilerplate/template/copied text that the training
    pipeline trims or down-weights even when the DOCUMENTS are not
    near-duplicates of each other (licence headers, navigation chrome,
    quoted passages). The suffix-array formulation finds character-level
    repeats; the production-scale equivalent over a distributed store is
    span-hash counting, which this implements:

      1. per doc: distinct word-k-gram spans, each collapsed to md5 —
         map-only (tokenize once, gram lambda over one materialized array);
      2. span frequency: count docs per span hash — ONE shuffle keyed on
         the span hash, with map-side partial aggregation (the skew story:
         ultra-common boilerplate spans are hot keys, and partial agg
         collapses them to one row per map task BEFORE the exchange);
      3. join the per-doc span list back to the frequency table on the same
         hash key (exchange reuse — no second shuffle layout) and fold to
         per-doc totals: span count, spans shared with >=1 other doc,
         duplicated-span fraction, and the keep/trim verdict.

    At 100 TB the span-hash domain is what shuffles, bounded by total
    corpus tokens, not doc pairs; fixed-width 128-bit keys keep exchange
    rows narrow, and no doc pair is ever enumerated (contrast minhash LSH,
    which emits candidate PAIRS — this is the cheaper operator when the
    question is "which text is duplicated", not "which docs match").
    """
    tokd = documents.select(
        "doc_id", ws_tokens(normalize_text(F.col(text_col))).alias("toks")
    )
    grams = word_grams(F.col("toks"), k, F.md5)
    exploded = tokd.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("h")
    )
    freq = exploded.groupBy("h").agg(F.count("*").alias("n_docs"))
    return (
        exploded.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.sum((F.col("n_docs") >= 2).cast("int"))
            .cast("int")
            .alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_fraction",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
        .withColumn("keep", F.col("dup_span_fraction") <= 0.5)
    )


def containment_pairs(
    shingled: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(A,B) = |A∩B| / |A| >=
    t_num/t_den, A != B, within a blocking key. Containment catches what
    symmetric Jaccard cannot: truncated re-crawls, quoted excerpts, and
    boilerplate-wrapped copies, where the smaller document sits INSIDE the
    larger one but the union is dominated by the larger (Broder's
    resemblance-vs-containment distinction).

    Prefix filtering, containment flavor: if B misses fewer than
    (1 - t)*|A| of A's shingles, B must contain at least one of A's
    floor((1-t)*|A|) + 1 RAREST shingles — so only A's rare prefix is
    indexed on the probe side, but the build side must carry B's FULL
    postings (asymmetric thresholds admit no symmetric prune; this is the
    standard containment-join trade). Prefix shingles are rare by
    construction, so candidate fan-out is Σ_{s ∈ prefix(A)} df(s), not
    |block|².

    Threshold is an exact RATIONAL (t_num/t_den): candidate keep and the
    final cut are pure integer comparisons (t_den*|A∩B| >= t_num*|A|), so
    engine and oracle can never disagree by a rounding ulp. Input:
    (doc_id, block, shingles) as ngram_jaccard_pairs; the caller persists
    it (read three times)."""
    shingled = shingled.select("doc_id", "block", "shingles")
    exploded = shingled.select(
        "doc_id",
        "block",
        F.size("shingles").alias("set_size"),
        F.explode("shingles").alias("shingle"),
    )
    freq = exploded.groupBy("shingle").agg(F.count("*").alias("df_count"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df_count").asc(), F.col("shingle").asc()
    )
    # floor((1 - t)|A|) + 1 == |A| - ceil(t|A|) + 1, all-integer
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(t_num) * F.col("set_size") / F.lit(t_den)).cast("int")
        + 1
    )
    prefix = (
        exploded.join(F.broadcast(freq), "shingle")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "block", "shingle")
    )
    candidates = (
        prefix.alias("x")
        .join(
            exploded.alias("y"),
            on=[
                F.col("x.block") == F.col("y.block"),
                F.col("x.shingle") == F.col("y.shingle"),
                F.col("x.doc_id") != F.col("y.doc_id"),
            ],
        )
        .select(
            F.col("x.doc_id").alias("id_contained"),
            F.col("y.doc_id").alias("id_container"),
        )
        .distinct()
    )
    sa = shingled.select(
        F.col("doc_id").alias("id_contained"),
        F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("size_a"),
    )
    sb = shingled.select(
        F.col("doc_id").alias("id_container"),
        F.col("shingles").alias("sh_b"),
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # size-GATED broadcast (ADVICE r08 #2): sa/sb carry every document's
    # FULL shingle array — an unconditional broadcast is a driver/executor
    # OOM at the 100 TB target even though candidate generation above is
    # properly prefix-pruned. Under the cap the map-side join wins; over
    # it the join shuffles and the candidate set — the genuinely small
    # side — is what Spark/AQE may broadcast instead.
    return (
        candidates.join(_broadcast_if_small(sa), "id_contained")
        .join(_broadcast_if_small(sb), "id_container")
        .select(
            "id_contained",
            "id_container",
            n_inter.cast("bigint").alias("n_inter"),
            F.col("size_a").cast("bigint").alias("size_a"),
        )
        .filter(
            F.lit(t_den) * F.col("n_inter") >= F.lit(t_num) * F.col("size_a")
        )
        .withColumn(
            "containment_e6",
            F.expr("1000000 * n_inter div size_a").cast("bigint"),
        )
    )
