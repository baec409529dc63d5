"""Vector similarity search over an embedding column (``array<float>``).

Two tiers (BASELINE.json:6 extension surface):
  brute_force_topk  exact cosine top-k — the correctness baseline. The small
                    query set is broadcast; the corpus streams through a
                    map-side join, so the only shuffle is the final per-query
                    top-k aggregation over n_queries*k candidate rows.
  bucketed_ann_topk IVF/LSH-style scale path: deterministic sign-bit bucketing
                    of the first B dimensions prunes the corpus ~2^B-fold;
                    same join shape but the equi-join on bucket id lets Spark
                    hash-partition instead of broadcasting a full cross
                    product. At 100 TB the bucket id becomes the partition /
                    cluster key of the stored corpus, so a query touches only
                    its bucket's files (partition pruning).

All arithmetic is JVM-side (`zip_with`/`aggregate` higher-order functions —
no Python UDF). Floats are cast to double *element-wise before* any product
so Spark and the DuckDB oracle accumulate identically; results round to 6
decimals for hash-stable comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance, the same sequential fold as ``dot``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(vec: Column) -> Column:
    return F.sqrt(dot(vec, vec))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sign_bucket(vec: Column, bits: int = 4) -> Column:
    """Deterministic LSH bucket: bit j set iff vec[j] > 0 (first `bits` dims).

    A fixed-hyperplane random-projection hash (hyperplanes = axis planes).
    """
    acc = F.lit(0)
    for j in range(bits):
        acc = acc + F.when(F.element_at(vec, j + 1) > 0, F.lit(1 << j)).otherwise(0)
    return acc


def auto_bits(
    n_rows: int, dim: int, target_bucket: int = 64, min_bits: int = 2
) -> int:
    """Bucket width scaled to corpus size: smallest ``bits`` whose expected
    bucket holds ~``target_bucket`` vectors (2^bits grows linearly with the
    corpus, so within-bucket all-pairs work stays ~linear in n — a FIXED
    bits goes quadratic at 2^bits times the corpus the default was tuned
    for). Capped at the embedding dim: past that, sign-bucket blocking is
    exhausted and blocking must move to trained IVF cells (``ivf_topk``).

    The DuckDB oracles mirror this formula in SQL — keep them identical:
    least(dim, greatest(2, ceil(log2(n/64.0)))).
    """
    import math

    if n_rows <= target_bucket:
        bits = min_bits
    else:
        bits = math.ceil(math.log2(n_rows / target_bucket))
    return max(min_bits, min(bits, dim))


def _corpus_bits(corpus: DataFrame, vec_col: str) -> int:
    n = corpus.count()
    dim = corpus.select(F.size(vec_col).alias("d")).first()["d"]
    return auto_bits(n, dim)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """rank candidates per query: cosine desc, vec_id asc tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            "rank",
        )
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    queries: (query_id long, qvec array<float>); corpus: (neighbor_id, cvec).
    """
    q = queries.select("query_id", as_double("qvec").alias("qvec"))
    c = corpus.select("neighbor_id", as_double("cvec").alias("cvec"))
    scored = (
        c.join(F.broadcast(q))  # map-side: corpus streams, queries broadcast
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cosine_sim"),
        )
    )
    return _topk_per_query(scored, k)


def bucketed_ann_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10, bits: int | None = None
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    ``bits=None`` derives the bucket width from the corpus size
    (see ``auto_bits``) so candidate volume stays ~linear as the corpus
    grows instead of quadratic past a fixed 2^bits."""
    if bits is None:
        bits = _corpus_bits(corpus, "cvec")
    q = queries.select(
        "query_id",
        as_double("qvec").alias("qvec"),
        sign_bucket(F.col("qvec"), bits).alias("bucket"),
    )
    c = corpus.select(
        "neighbor_id",
        as_double("cvec").alias("cvec"),
        sign_bucket(F.col("cvec"), bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cosine_sim"),
        )
    )
    return _topk_per_query(scored, k)


def normalized(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Unit-normalize an array<double> column. No lambda captures the norm:
    an expression inside a HOF lambda is re-evaluated per element, and
    Catalyst's CollapseProject inlines a column referenced once into the
    lambda that reads it, even when it was projected first — dividing by a
    captured sqrt(aggregate(...)) recomputed the norm dim times per row.
    The norm is repeated into an array OUTSIDE the lambda instead, so it is
    evaluated once per row wherever the optimizer places it."""
    v = F.col(vec_col)
    nrm = F.greatest(l2_norm(v), F.lit(1e-12))
    return df.withColumn(
        out_col,
        F.zip_with(v, F.array_repeat(nrm, F.size(v)), lambda x, n: x / n),
    )


#: rows in the bounded training sample every trained model is fit on
SAMPLE_ROWS = 2048
#: rows per centroid in the pool the farthest-point init seeds from
SEED_ROWS_PER_CENTROID = 16
#: Lloyd iterations of the spherical models (IVF cells, over-cap splits)
KMEANS_ITERS = 3
#: Lloyd iterations of each PQ subspace codebook
PQ_ITERS = 5


def _nearest(x, c):
    """Row-wise index of the nearest centroid by squared euclidean
    distance, ties -> lowest index. One BLAS matmul: ||x - c||^2 ranks as
    ||c||^2 - 2 x.c (||x||^2 is constant per row), so the only temporary
    is the (n, k) score matrix."""
    import numpy as np

    score = x @ c.T
    score *= -2.0
    score += (c * c).sum(axis=1)
    return np.argmin(score, axis=1)


def _kmeans(x, k: int, iters: int, spherical: bool):
    """The one k-means behind every trained model (IVF cells, PQ
    codebooks, over-cap cell splits): numpy Lloyd on a driver-side matrix.

    - Init: farthest-point traversal from row 0 (the deterministic analog
      of kmeans++ D² sampling; ``np.argmax`` takes the first row on ties)
      over the seed pool, the first ``SEED_ROWS_PER_CENTROID * k`` rows of
      ``x``. Farthest-point picks the most isolated rows, so a bounded
      pool keeps the seeds from being the corpus's most extreme outliers
      as ``x`` grows, and bounds the init's cost. It stops early once
      every pool row coincides with a seed, so a pool with fewer than
      ``k`` distinct rows yields that many distinct centroids.
    - Each iteration assigns every row of ``x`` to its nearest centroid
      and moves each centroid to its members' mean; a centroid with no
      members keeps its previous position. ``spherical`` re-normalizes
      the means, so cells partition the unit sphere by angle (the metric
      cosine ranks by).
    - Centroids are rounded to 6 decimals after every iteration, so float
      summation order cannot make later assignments flicker.

    Returns a (k', dim) array, k' = min(k, distinct rows of the pool)."""
    import numpy as np

    pool = x[: SEED_ROWS_PER_CENTROID * k]
    chosen = [0]
    d2 = ((pool - pool[0]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int(np.argmax(d2))
        if d2[nxt] == 0.0:
            break
        chosen.append(nxt)
        d2 = np.minimum(d2, ((pool - pool[nxt]) ** 2).sum(axis=1))
    c = pool[chosen].copy()
    for _ in range(iters):
        assign = _nearest(x, c)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                mean = members.mean(axis=0)
                if spherical:
                    mean = mean / max(float(np.linalg.norm(mean)), 1e-12)
                c[j] = mean
        c = np.round(c, 6)
    return c


def _training_sample(df: DataFrame, id_col: str, vec_col: str, who: str):
    """The bounded training sample as a (rows, dim) float64 matrix, in ONE
    Spark job: the ``SAMPLE_ROWS`` rows first in (xxhash64(id), id) order.
    That order is a pure function of the ids — the sample does not depend
    on partitioning or input row order — and, unlike id order, it is not
    biased toward whatever the low ids hold. Raises a named ``ValueError``
    on an empty corpus."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .orderBy(F.xxhash64("_id"), "_id")
        .limit(SAMPLE_ROWS)
        .collect()
    )
    if not rows:
        raise ValueError(f"{who}: empty corpus")
    return np.asarray([r["_vec"] for r in rows], dtype=np.float64)


def _unit_rows(x):
    import numpy as np

    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


# Trained models memoized per (kind, corpus identity, hyperparams) WITHIN
# one query run: a single ANN/semdedup query trains once and then encodes,
# probes and audits against the same frozen model, however many consumer
# subtrees re-enter the trainer. Driver-side and tiny (the model rows).
# bench.py, perfbench and the oracle gate call clear_model_memos() between
# runs, so every timed run trains cold; training is deterministic, so a
# retrain yields identical rows.
_MODEL_MEMO: dict[tuple, list[tuple]] = {}


def clear_model_memos() -> None:
    """Drop all in-process trained-model memos (IVF centroids, PQ
    codebooks). Called by measurement harnesses between queries so each
    timed run trains from the parquet inputs instead of inheriting a
    previous query's model."""
    _MODEL_MEMO.clear()


def _memoized(cache_key: str | None, key: tuple, train) -> list[tuple]:
    """``train()``'s rows, memoized under (``cache_key``, ``key``) for the
    rest of the run; ``cache_key=None`` (no corpus identity) trains every
    call."""
    if cache_key is None:
        return train()
    memo_key = (cache_key, *key)
    if memo_key not in _MODEL_MEMO:
        _MODEL_MEMO[memo_key] = train()
    return _MODEL_MEMO[memo_key]


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "neighbor_id",
    vec_col: str = "cvec",
    k: int = 8,
    cache_key: str | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic SPHERICAL k-means cells -> the model rows
    ``[(centroid_id, unit centroid)]``, ids 0..k'-1 with k' = min(k,
    distinct directions in ``_kmeans``'s seed pool, the first
    ``SEED_ROWS_PER_CENTROID * k`` sample rows).

    Spherical: vectors are unit-normalized before training and centroid
    means are re-normalized each iteration, so cell assignment minimizes
    ANGULAR distance — the same metric the cosine retrieval ranks by
    (euclidean cells on unnormalized vectors split by magnitude, which
    cosine ignores: that mismatch is what kills recall).

    Training is ``_kmeans`` on the bounded sample of ``_training_sample``
    (one Spark job, independent of partitioning); the corpus is then only
    ever assigned against the model (``nearest_cell_assigner``).

    ``cache_key``: opaque corpus identity (e.g. source fingerprint). When
    given, the rows are memoized for the rest of the run (see
    ``clear_model_memos``).
    """

    def train():
        x = _unit_rows(
            _training_sample(corpus, id_col, vec_col, "train_ivf_centroids")
        )
        c = _kmeans(x, k, KMEANS_ITERS, spherical=True)
        return [(i, [float(v) for v in row]) for i, row in enumerate(c)]

    return _memoized(cache_key, ("ivf", k), train)


def nearest_cell_expr(
    centroid_rows: list[tuple[int, list[float]]], vec_col: str = "nvec"
) -> Column:
    """MAP-ONLY nearest-centroid assignment: the (small) trained centroid
    set is inlined as array literals and the argmin runs as one row-local
    expression — no broadcast exchange, no groupBy shuffle. For the k <=
    a-few-hundred regime (a streaming micro-batch assigning against a
    once-trained index) this collapses the broadcast-join+min_by two-stage
    shape into zero extra stages: the cell id is just
    another projected column, so a foreachBatch append's ONLY shuffle is
    the storage-partition co-location. Ties break toward the lowest
    centroid id (same contract as the broadcast-join+min_by path).

    ``vec_col`` must already be unit-normalized (assignment in normalized
    space — see train_ivf_centroids).

    Returns the winning ``struct(d2, cid)`` — project ``["cid"]`` for the
    bare cell id, or derive the centroid similarity as ``1 - d2/2`` (exact
    for unit vectors up to summation rounding).
    """
    return F.array_min(_cell_candidates(centroid_rows, vec_col))


def _vec_literal(vecs: list[list[float]]) -> Column:
    """Model vectors as ONE nested array<array<double>> literal, in list
    order. np-backed 1-D literals convert ~3x faster than Python lists
    (py4j walks list elements one call each)."""
    import numpy as np

    return F.array(
        *[F.lit(np.asarray(v, dtype=np.float64)) for v in vecs]
    )


def _cell_candidates(
    centroid_rows: list[tuple[int, list[float]]],
    vec_col: str,
    with_dot: bool = False,
) -> Column:
    """Per row, one ``struct(d2, cid[, cell_dot])`` per centroid, in row
    order: the squared distance from ``vec_col`` and, with ``with_dot``,
    the dot product with it.

    ONE nested-array literal + ONE indexed transform lambda (r13): the
    older shape unrolled a subtree PER centroid, so driver-side
    construction + Catalyst analysis grew linearly in k x dim (~1-2 s per
    plan at k=8, dim=64). The input vector enters through array_repeat,
    OUTSIDE the lambda: a lambda that captured it would re-evaluate it per
    centroid once CollapseProject inlines its producer (e.g.
    ``normalized``'s output)."""
    vecs = _vec_literal([cvec for _, cvec in centroid_rows])
    ids = F.lit([int(cid) for cid, _ in centroid_rows])

    def cand(v: Column, i: Column) -> Column:
        c = F.element_at(vecs, i + 1)
        fields = [
            _sq_dist(v, c).alias("d2"),
            F.element_at(ids, i + 1).alias("cid"),
        ]
        if with_dot:
            fields.append(dot(v, c).alias("cell_dot"))
        return F.struct(*fields)

    return F.transform(
        F.array_repeat(F.col(vec_col), len(centroid_rows)), cand
    )


#: dispatch threshold for nearest-cell assignment: below this the trained
#: centroids are inlined as expression literals (map-only argmin, no
#: exchange — measured fastest for micro-batch assignment against a small
#: index); above it the literal expression tree itself becomes the
#: bottleneck (it grows linearly in k, and Catalyst re-analyzes it per
#: plan), so a broadcast join + min_by takes over.
NEAREST_CELL_LITERAL_MAX = 256


def nearest_cell_assigner(
    centroid_rows: list[tuple[int, list[float]]],
    vec_col: str = "nvec",
    id_col: str = "vid",
    cid_col: str = "cid",
    d2_col: str = "d2",
    literal_max: int | None = None,
):
    """ONE entry point for nearest-centroid assignment with k-threshold
    dispatch (round-4 advisory: callers must not be able to pick the wrong
    shape by hand). Returns ``assign(df) -> df`` that appends ``cid_col``
    (winning centroid id, ties -> lowest id) and ``d2_col`` (its squared
    euclidean distance; for unit vectors cosine = 1 - d2/2), preserving
    every input column.

    - k <= ``NEAREST_CELL_LITERAL_MAX``: the centroids are inlined as
      array literals and the argmin is a row-local expression
      (``nearest_cell_expr``) — MAP-ONLY, built once here and reused as a
      plan fragment across every DataFrame the closure is applied to
      (e.g. each streaming micro-batch).
    - k above the threshold: broadcast join against a centroid DataFrame
      + ``min_by`` keyed on ``id_col`` — ONE shuffle, payload packed
      inside the min_by struct so no second join re-attaches the input
      columns. The two shapes are equivalence-pinned
      (tests/test_dedup_similarity.py) including the tie-break.

    ``vec_col`` must be unit-normalized (assignment in normalized space,
    see ``train_ivf_centroids``); ``id_col`` must be row-unique (it is the
    min_by group key on the join path).
    """
    lmax = NEAREST_CELL_LITERAL_MAX if literal_max is None else literal_max
    if len(centroid_rows) <= lmax:
        best = nearest_cell_expr(centroid_rows, vec_col)

        def assign(df: DataFrame) -> DataFrame:
            return df.select(
                "*",
                best["cid"].alias(cid_col),
                best["d2"].alias(d2_col),
            )

        return assign

    rows = [
        (int(cid), [float(x) for x in cvec]) for cid, cvec in centroid_rows
    ]

    def assign(df: DataFrame) -> DataFrame:
        cdf = df.sparkSession.createDataFrame(
            rows, "__nc_cid int, __nc_vec array<double>"
        )
        j = df.join(F.broadcast(cdf)).withColumn(
            "__nc_d2", _sq_dist(F.col(vec_col), F.col("__nc_vec"))
        )
        payload = F.struct(
            *[F.col(c) for c in df.columns],
            F.col("__nc_cid").alias(cid_col),
            F.col("__nc_d2").alias(d2_col),
        )
        return (
            j.groupBy(F.col(id_col).alias("__nc_gid"))
            .agg(
                F.min_by(
                    payload, F.struct(F.col("__nc_d2"), F.col("__nc_cid"))
                ).alias("__nc_b")
            )
            .select("__nc_b.*")
        )

    return assign


def _probe_cells(
    q: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    n_probe: int,
    vec_col: str,
) -> DataFrame:
    """Each query's ``n_probe`` nearest cells, one row per probe: ``q``'s
    columns plus ``cell`` and ``cell_dot`` = dot(query, centroid). Nearest
    by squared distance in normalized space (``vec_col`` is unit), ties to
    the lowest cell id. MAP-ONLY: the candidates are sorted per row
    (array_sort orders the structs by d2, then cid) and the first
    ``n_probe`` exploded — no centroid frame, join or window."""
    probes = F.slice(
        F.array_sort(_cell_candidates(cent_rows, vec_col, with_dot=True)),
        1,
        n_probe,
    )
    return q.select("*", F.explode(probes).alias("_p")).select(
        *q.columns, F.col("_p.cid").alias("cell"), "_p.cell_dot"
    )


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10, n_centroids: int = 8,
    n_probe: int = 2, cache_key: str | None = None,
) -> DataFrame:
    """Trained-IVF ANN: assign corpus to SPHERICAL k-means cells; each query
    probes its `n_probe` nearest cells only. Assignment and probing both run
    in unit-normalized space — the centroids live on the unit sphere, so
    euclidean-to-centroid ordering there equals angular ordering, the same
    metric the cosine ranking uses. The production shape: cells are the
    corpus's storage partition key, probes prune the scan ~(k/n_probe)-fold.
    """
    cent_rows = train_ivf_centroids(
        corpus, k=n_centroids, cache_key=cache_key
    )
    c = normalized(
        corpus.select("neighbor_id", as_double(F.col("cvec")).alias("cvec")),
        "cvec",
        "ncvec",
    )
    corpus_cells = nearest_cell_assigner(
        cent_rows, vec_col="ncvec", id_col="neighbor_id", cid_col="cell",
        d2_col="_d2",
    )(c).select("neighbor_id", "cell", "cvec")
    q = normalized(
        queries.select("query_id", as_double(F.col("qvec")).alias("qvec")),
        "qvec",
        "nqvec",
    )
    probes = _probe_cells(q, cent_rows, n_probe, "nqvec").select(
        "query_id", "qvec", "cell"
    )
    scored = (
        corpus_cells.join(F.broadcast(probes), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cosine_sim"),
        )
    )
    return _topk_per_query(scored, k)


def embedding_near_dups(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) within sign
    buckets — the blocked/pruned shape that survives large corpora.

    ``bits=None`` derives the bucket width from the corpus size
    (see ``auto_bits``): within-bucket all-pairs is O(n²/2^bits), so 2^bits
    must track n to keep total candidate work ~linear."""
    if bits is None:
        bits = _corpus_bits(vectors, vec_col)
    v = vectors.select(
        F.col(id_col).alias("vid"),
        as_double(F.col(vec_col)).alias("vec"),
        sign_bucket(as_double(F.col(vec_col)), bits).alias("bucket"),
    )
    a = v.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"), "bucket"
    )
    b = v.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"), "bucket"
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def train_pq_codebooks(
    vectors: DataFrame,
    id_col: str = "vid",
    vec_col: str = "vec",
    m: int = 16,
    ksub: int = 16,
    cache_key: str | None = None,
    normalize: bool = True,
) -> list[tuple[int, int, list[float]]]:
    """Product-quantization codebooks: the vector space splits into ``m``
    subspaces of dim/m dims; each gets a ``ksub``-way ``_kmeans`` codebook
    (euclidean) on the same bounded sample IVF trains on
    (``_training_sample``). Returns the model rows ``[(sub, code,
    centroid)]`` in (sub, code) order, codes 0..k'-1 per subspace with
    k' = min(ksub, distinct seed-pool rows in that subspace); memoized per
    ``cache_key`` like the IVF centroids.

    ``normalize=False`` trains on raw input vectors — used for RESIDUAL
    codebooks in IVF-PQ, where the input is already (vector - centroid).
    """

    def train():
        x = _training_sample(vectors, id_col, vec_col, "train_pq_codebooks")
        if normalize:
            x = _unit_rows(x)
        dsub = x.shape[1] // m
        return [
            (sub, code, [float(v) for v in row])
            for sub in range(m)
            for code, row in enumerate(
                _kmeans(
                    x[:, sub * dsub : (sub + 1) * dsub], ksub, PQ_ITERS,
                    spherical=False,
                )
            )
        ]

    return _memoized(cache_key, ("pq", m, ksub, normalize), train)


def _pq_frame(
    spark, cb_rows: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """Codebook rows as a broadcastable (sub, code, centroid) frame whose
    ``code`` is the row's position in (sub, code) order: a vector's codes
    then index the flattened per-query ADC table directly, whatever the
    codebook size of each subspace. Built JVM-side from literals over a
    one-partition range: ``createDataFrame`` of a Python list would run a
    Python-worker job per partition."""
    subs = F.lit([sub for sub, _, _ in cb_rows])
    cents = _vec_literal([cvec for _, _, cvec in cb_rows])
    pos = F.col("id").cast("int")
    return spark.range(0, len(cb_rows), 1, 1).select(
        F.element_at(subs, pos + 1).alias("sub"),
        pos.alias("code"),
        F.element_at(cents, pos + 1).alias("centroid"),
    )


def _subvectors(
    df: DataFrame, id_cols: list[str], vec_col: str, m: int
) -> DataFrame:
    """Explode a vector column into (``id_cols``..., sub, subvec) rows."""
    dsub = F.floor(F.size(vec_col) / F.lit(m)).cast("int")
    return df.withColumn("_dsub", dsub).select(
        *id_cols,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.slice(
                    F.col(vec_col), i * F.col("_dsub") + 1, F.col("_dsub")
                ),
            )
        ).alias("sub", "subvec"),
    )


def _pq_encode(
    df: DataFrame, cb: DataFrame, id_cols: list[str], vec_col: str, m: int
) -> DataFrame:
    """Encode vectors to (``id_cols``..., codes array<int>): per subspace,
    the nearest codebook centroid (broadcast join, min_by — ties to the
    lowest code)."""
    sub = _subvectors(df, id_cols, vec_col, m)
    d2 = _sq_dist(F.col("subvec"), F.col("centroid"))
    return (
        sub.join(F.broadcast(cb), on="sub")
        .select(*id_cols, "sub", "code", d2.alias("d2"))
        .groupBy(*id_cols, "sub")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
        .groupBy(*id_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def _pq_query_table(
    df: DataFrame, cb: DataFrame, id_cols: list[str], vec_col: str, m: int
) -> DataFrame:
    """Per-query ADC lookup table (``id_cols``..., qtab array<double>):
    qtab[code] = dot(query subvector, codebook centroid), ``code`` being
    the flattened position ``_pq_frame`` assigns."""
    sub = _subvectors(df, id_cols, vec_col, m)
    partial = F.aggregate(
        F.zip_with("subvec", "centroid", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        sub.join(F.broadcast(cb), on="sub")
        .select(*id_cols, "sub", "code", partial.alias("p"))
        .groupBy(*id_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code", "p"))),
                lambda s: s["p"],
            ).alias("qtab")
        )
    )


def _adc_score() -> Column:
    """ADC sum: one lookup per subspace code into the flattened query
    table."""
    return F.aggregate(
        F.col("codes"),
        F.lit(0.0),
        lambda acc, code: acc + F.element_at(F.col("qtab"), code + 1),
    )


def _topk_by_adc(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _exact_rerank(
    shortlist: DataFrame, q: DataFrame, c: DataFrame, k: int
) -> DataFrame:
    """Refine stage: exact cosine over the ADC shortlist only. ADC ranks
    coarsely (quantization error ~1e-2 dwarfs the ~1e-3 cosine gaps inside
    a tight cluster); re-ranking the top-R shortlist with true vectors
    restores exact-tier precision while touching R vectors per query
    instead of the corpus — the FAISS ``refine`` pattern. Inputs: shortlist
    (query_id, neighbor_id), q (query_id, nvec), c (neighbor_id, nvec)."""
    joined = (
        shortlist.select("query_id", "neighbor_id")
        .join(c.select("neighbor_id", F.col("nvec").alias("cv")), "neighbor_id")
        .join(F.broadcast(q.select("query_id", F.col("nvec").alias("qv"))),
              "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 16,
    ksub: int = 16,
    cache_key: str | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ + ADC top-k (flat, no cells): corpus vectors compress to ``m``
    small codes; queries score candidates with asymmetric distance
    computation — m table lookups per pair instead of a dim-wide dot
    product, and the corpus moves as codes (16 bytes vs 256 at 64-dim),
    the memory tier that keeps a trillion-vector index addressable.

    ``rerank=R`` (default 4k) re-scores the top-R ADC shortlist with exact
    cosine (see _exact_rerank) — quantization error bounds ADC's final
    ordering, so production PQ always refines. ``rerank=0`` disables (raw
    ADC ranking, for tests and ablation).

    ``ivf_pq_topk`` composes this kernel with cells + residual encoding.
    """
    if rerank is None:
        rerank = 4 * k
    cb = _pq_frame(corpus.sparkSession, train_pq_codebooks(
        corpus, id_col="neighbor_id", vec_col="cvec",
        m=m, ksub=ksub, cache_key=cache_key,
    ))
    c = normalized(
        corpus.select("neighbor_id", as_double(F.col("cvec")).alias("vec")),
        "vec",
        "nvec",
    ).select("neighbor_id", "nvec")
    codes = _pq_encode(c, cb, ["neighbor_id"], "nvec", m)
    q = normalized(
        queries.select("query_id", as_double(F.col("qvec")).alias("vec")),
        "vec",
        "nvec",
    ).select("query_id", "nvec")
    qtab = _pq_query_table(q, cb, ["query_id"], "nvec", m)
    scored = (
        codes.join(F.broadcast(qtab))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_adc_score(), 6).alias("adc_score"),
        )
    )
    if not rerank:
        return _topk_by_adc(scored, k)
    return _exact_rerank(_topk_by_adc(scored, rerank), q, c, k)


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 16,
    ksub: int = 16,
    cache_key: str | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ with residual encoding — the full production ANN layout:
    spherical k-means cells prune the scan to ``n_probe`` probed cells per
    query, and within cells vectors are stored as PQ codes of their
    RESIDUAL (vector - cell centroid). Residuals carry the within-cluster
    detail that global codebooks blur (measured: flat PQ recall ~0.5 on a
    clustered corpus; residual encoding recovers it), and

        dot(q, x) = dot(q, centroid_cell) + dot(q, residual)
                  ~ dot(q, centroid_cell) + ADC-lookup-sum

    so scoring stays m table lookups + one precomputed cell dot per
    candidate. ``rerank=R`` (default 4k) refines the ADC shortlist with
    exact cosine — the three-tier scan (cells -> codes -> R true vectors)
    that production ANN serves. Scale shape: cell id is the storage
    partition key, codes are the in-memory tier, probes bound the scan —
    candidate volume is ~n_probe/n_centroids of the corpus, moved as
    bytes, not floats; exact vectors are touched for R rows per query.
    """
    if rerank is None:
        rerank = 4 * k
    cent_rows = train_ivf_centroids(
        corpus, k=n_centroids, cache_key=cache_key
    )
    # corpus: assign cells in normalized space, compute residuals
    c = normalized(
        corpus.select("neighbor_id", as_double(F.col("cvec")).alias("vec")),
        "vec",
        "nvec",
    ).select("neighbor_id", "nvec")
    # trained cell ids are the rows' positions, so the cell's centroid is
    # an element_at into the centroid literal
    cellvec = F.element_at(
        _vec_literal([cvec for _, cvec in cent_rows]), F.col("cell") + 1
    )
    assigned = nearest_cell_assigner(
        cent_rows, vec_col="nvec", id_col="neighbor_id", cid_col="cell",
        d2_col="_d2",
    )(c).select(
        "neighbor_id",
        "cell",
        F.zip_with("nvec", cellvec, lambda x, y: x - y).alias("rvec"),
    )
    # residual codebooks: trained on the residuals themselves (no renorm).
    # Residuals depend on the IVF centroid layout, so the memo key carries
    # n_centroids — same corpus fingerprint with a different cell count must
    # not silently reuse codebooks trained against the other layout.
    rcb = _pq_frame(corpus.sparkSession, train_pq_codebooks(
        assigned, id_col="neighbor_id", vec_col="rvec",
        m=m, ksub=ksub,
        cache_key=(
            f"{cache_key}:ivf{n_centroids}" if cache_key is not None else None
        ),
        normalize=False,
    ))
    codes = _pq_encode(assigned, rcb, ["neighbor_id", "cell"], "rvec", m)
    # queries: probe n_probe nearest cells; the ADC table comes from the
    # query vector against the residual codebooks (one table per query,
    # shared across its probed cells) + a precomputed cell-dot per probe
    q = normalized(
        queries.select("query_id", as_double(F.col("qvec")).alias("vec")),
        "vec",
        "nvec",
    ).select("query_id", "nvec")
    probes = _probe_cells(q, cent_rows, n_probe, "nvec").select(
        "query_id", "cell", "cell_dot"
    )
    qtab = _pq_query_table(q, rcb, ["query_id"], "nvec", m)
    scored = (
        codes.join(F.broadcast(probes), on="cell")
        .join(F.broadcast(qtab), on="query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cell_dot") + _adc_score(), 6).alias(
                "adc_score"
            ),
        )
    )
    if not rerank:
        return _topk_by_adc(scored, k)
    return _exact_rerank(_topk_by_adc(scored, rerank), q, c, k)


#: sub-block id encoding base for over-cap cell splits: each recursion
#: level multiplies the parent block id by _SUB_BASE, so ids stay unique
#: and deterministic without any cross-task coordination. With int64 ids,
#: depth 5 x 127-way splits supports ~2.7e8 top-level clusters.
_SUB_BASE = 128
_SUB_MAX_DEPTH = 5


def _split_over_cap(mat, order_idx, cap: int, path: int, depth: int, out):
    """Recursively sub-cluster an over-cap cell (numpy-local, deterministic).

    ``mat`` is the cell's (c, dim) unit-row matrix; ``order_idx`` the row
    indices of this block in the cell's canonical (centroid_sim, vid) visit
    order. Splits are spherical ``_kmeans``, whose farthest-point init
    seeds from the first rows IN THAT ORDER — a pure function of the
    cell's contents, independent of physical partitioning. Recursion
    continues until every final block holds <= cap rows; at _SUB_MAX_DEPTH the
    remainder is chunked in visit order (a guaranteed-cap terminal the
    k-means objective can't defeat).

    Block ids: ``path`` starts at cid+1 and appends one base-128 digit in
    [1, 127] per level; a LEAF writes ``-path`` into ``out``. Negation
    keeps split ids disjoint from unsplit cells (which keep their
    non-negative centroid id), and all-nonzero digits make variable-depth
    paths injective — no two leaves, in any cells, can collide.
    """
    c = len(order_idx)
    if c <= cap:
        out[order_idx] = -path
        return
    if depth >= _SUB_MAX_DEPTH:
        n_chunks = -(-c // cap)
        if n_chunks >= _SUB_BASE:
            raise ValueError(
                f"cell of {c} rows cannot be cap-chunked at depth "
                f"{depth} (would need {n_chunks} >= {_SUB_BASE} chunks)"
            )
        for j in range(c):
            out[order_idx[j]] = -(path * _SUB_BASE + 1 + j // cap)
        return
    sub = mat[order_idx]
    cent = _kmeans(
        sub, min(-(-c // cap), _SUB_BASE - 1), KMEANS_ITERS, spherical=True
    )
    assign = _nearest(sub, cent)  # ties -> lowest sub id
    for s in range(len(cent)):
        mask = assign == s
        if mask.any():
            _split_over_cap(
                mat,
                order_idx[mask],
                cap,
                path * _SUB_BASE + 1 + s,
                depth + 1,
                out,
            )


def semdedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.95,
    cache_key: str | None = None,
    max_cell_size: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding — cluster the corpus with spherical k-means,
    then WITHIN each cluster greedily drop any vector whose cosine
    similarity to an already-kept vector reaches ``threshold``. Within a
    duplicate group the survivor is the member FARTHEST from its centroid
    (the paper's keep-low-centroid-similarity rule, maximizing diversity
    of the retained set): the greedy visits cluster members in ascending
    centroid-similarity order, so the far-from-centroid member is examined
    (and kept) first.

    Scale shape: the pairwise work is confined to clusters — O(sum c_i^2)
    instead of O(n^2) — so ``n_clusters`` must track corpus size (the paper
    uses 50k clusters for LAION-440M; rule of thumb k ~ n/512 keeps the
    expected cluster in the thousands). The plan is: driver-trained
    centroids inlined as expression literals (map-only cell assignment +
    centroid similarity, no broadcast exchange — nearest_cell_expr), then
    ONE shuffle on cluster id into an Arrow-batched ``applyInPandas``
    greedy prune whose per-group cost is a numpy matvec per member.

    Skew bound (the worst cell, not the average): ``max_cell_size`` is a
    HARD cap on the greedy's compare set. A cell k-means leaves over the
    cap — real web-scale embeddings produce skewed clusters — is
    recursively sub-clustered in-task by deterministic local spherical
    k-means (``_split_over_cap``) until every final block holds <= cap
    rows, so per-member work is O(cap) matvec and the cell's total
    quadratic term is O(c * cap), never O(c^2). The emitted ``cid`` is
    the FINAL block id (original centroid id when unsplit; NEGATIVE
    path-encoded base-128 sub-block id when split — sign-disjoint from
    unsplit cells, injective across depths), which keeps every per-cell
    invariant — witness in same cid, no kept near-pair within cid —
    exact by construction. Near-pairs that straddle sub-blocks can
    survive; that is the SemDeDup paper's own accepted approximation for
    bounding cluster cost (arXiv:2303.09540 uses fixed k for the same
    reason), and the trade is auditable in the log (block ids reveal the
    split).

    Determinism: centroids are the 6dp-rounded output of
    ``train_ivf_centroids`` (bit-stable across runs/partitionings),
    assignment ties break toward the lowest centroid id, and the greedy
    visit order is (rounded centroid_sim, vid) — total, so the kept set is
    a pure function of the corpus regardless of physical layout.

    Returns one row PER INPUT VECTOR: (vid, cid, cell, centroid_sim,
    kept boolean, witness_id) — ``cid`` is the final greedy block (the
    invariant key), ``cell`` the ASSIGNMENT cell (the trained centroid id,
    i.e. the storage-partition key the index pipeline shares — equal to
    ``cid`` unless the cap split the cell), and ``witness_id`` the kept
    vector that shadowed a dropped one (NULL for kept rows), making the
    output an auditable dedup decision log rather than a bare survivor
    list.

    Reference parity: the reference pipeline has no embedding stage (its
    data plane is CDC transport, jony96-lab/cdc-debezium-kafka-airflow
    dags/); this extends the documents/embeddings extension surface
    (SURVEY.md §2 ext_dedup_near family) with the semantic tier.

    Twin: ``operators/dedup.semantic_dedup`` is the assignment-as-INPUT
    half (given cells, lowest-id keep rule, exact relational oracle);
    this is the full recipe including cluster training, checked by
    derived invariants (see ext_dedup_semantic).
    """
    import pandas as pd

    cent_rows = train_ivf_centroids(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        k=n_clusters,
        cache_key=cache_key,
    )
    # assignment + centroid_sim are MAP-ONLY (centroids inlined as
    # literals, see nearest_cell_expr): for unit vectors cos = 1 - d2/2,
    # so the winning struct's d2 doubles as the similarity — the cogroup
    # co-location below is the operator's ONLY shuffle.
    v = normalized(
        vectors.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("vec")
        ),
        "vec",
        "nvec",
    ).select("vid", F.col("nvec").alias("vec"))
    assign = nearest_cell_assigner(
        cent_rows, vec_col="vec", id_col="vid", cid_col="cid", d2_col="__d2"
    )
    withsim = assign(v).select(
        "vid",
        "cid",
        "vec",
        F.round(F.lit(1.0) - F.col("__d2") / F.lit(2.0), 6).alias(
            "centroid_sim"
        ),
    )

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(
            ["centroid_sim", "vid"], ascending=[True, True]
        ).reset_index(drop=True)
        n = len(pdf)
        mat = np.stack(pdf["vec"].to_numpy())  # (c, dim) unit rows
        block = np.empty(n, dtype=np.int64)
        if max_cell_size and n > max_cell_size:
            _split_over_cap(
                mat,
                np.arange(n),
                max_cell_size,
                int(pdf["cid"].iloc[0]) + 1,
                0,
                block,
            )
        else:
            block[:] = int(pdf["cid"].iloc[0]) if n else 0
        kept_by_block: dict[int, list[int]] = {}
        kept_flags = np.zeros(n, dtype=bool)
        witness = np.full(n, -1, dtype=np.int64)
        for i in range(n):
            kept_rows = kept_by_block.setdefault(int(block[i]), [])
            if kept_rows:
                sims = np.asarray(mat[kept_rows] @ mat[i])
                j = int(np.argmax(sims))
                if float(sims[j]) >= threshold:
                    witness[i] = int(pdf["vid"].iloc[kept_rows[j]])
                    continue
            kept_flags[i] = True
            kept_rows.append(i)
        wit = pd.array(witness, dtype="Int64")
        wit[kept_flags] = pd.NA
        return pd.DataFrame(
            {
                "vid": pdf["vid"].astype("int64"),
                "cid": block,
                "cell": pdf["cid"].astype("int64"),
                "centroid_sim": pdf["centroid_sim"].astype("float64"),
                "kept": kept_flags,
                "witness_id": wit,
            }
        )

    return withsim.groupBy("cid").applyInPandas(
        prune,
        "vid long, cid long, cell long, centroid_sim double, kept boolean, "
        "witness_id long",
    )


def semdedup_verdict_audit(
    out: DataFrame,
    batch_vecs: DataFrame,
    corpus_kept: DataFrame,
    n_batch_total: DataFrame,
    threshold: float,
) -> DataFrame:
    """Derived-invariant audit of an incremental-SemDeDup verdict log —
    shared by the batch query (ext_dedup_semantic_incremental) and the
    streaming ingestion job (stream_semdedup_ingest), which differ in
    arrival order but guarantee the SAME per-verdict invariants:

      - n_unaccounted: every batch vector verdicted exactly once;
      - n_bad_corpus_dup: 'dup_of_corpus' witness must be a corpus-KEPT
        cell-mate at cosine >= threshold - 1e-6;
      - n_bad_batch_dup: 'dup_in_batch' witness must be an accepted
        ('new') batch cell-mate at cosine >= threshold - 1e-6;
      - n_bad_new: a 'new' vector must not be shadowed by a corpus-KEPT
        cell-mate at cosine >= threshold + 1e-6.

    Inputs: ``out`` (vid, cid, verdict, witness_id) — one row per batch
    vector; ``batch_vecs`` (vid, vec) unit-normalized; ``corpus_kept``
    (kvid, kcid, kvec); ``n_batch_total`` a 1-row frame with ``n_batch``.
    """
    th = threshold
    acct = n_batch_total.crossJoin(
        out.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count_distinct("vid").cast("long").alias("n_vids"),
        )
    ).select(
        "n_batch",
        (
            F.abs(F.col("n_batch") - F.col("n_rows"))
            + (F.col("n_rows") - F.col("n_vids"))
        ).alias("n_unaccounted"),
    )
    ov = out.join(batch_vecs, on="vid")
    bad_corpus = (
        ov.filter(F.col("verdict") == "dup_of_corpus")
        .join(
            corpus_kept,
            on=[F.col("witness_id") == F.col("kvid")],
            how="left",
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("kvid").isNull()
                        | (F.col("kcid") != F.col("cid"))
                        | (
                            dot(F.col("vec"), F.col("kvec"))
                            < F.lit(th) - F.lit(1e-6)
                        ),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_bad_corpus_dup")
        )
    )
    accepted = (
        out.filter(F.col("verdict") == "new")
        .select(F.col("vid").alias("avid"), F.col("cid").alias("acid"))
        .join(
            batch_vecs.select(
                F.col("vid").alias("avid"), F.col("vec").alias("avec")
            ),
            on="avid",
        )
    )
    bad_batch = (
        ov.filter(F.col("verdict") == "dup_in_batch")
        .join(accepted, on=[F.col("witness_id") == F.col("avid")], how="left")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("avid").isNull()
                        | (F.col("acid") != F.col("cid"))
                        | (
                            dot(F.col("vec"), F.col("avec"))
                            < F.lit(th) - F.lit(1e-6)
                        ),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_bad_batch_dup")
        )
    )
    bad_new = (
        ov.filter(F.col("verdict") == "new")
        .join(corpus_kept, on=[F.col("cid") == F.col("kcid")])
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        dot(F.col("vec"), F.col("kvec"))
                        >= F.lit(th) + F.lit(1e-6),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_bad_new")
        )
    )
    return acct.crossJoin(bad_corpus).crossJoin(bad_batch).crossJoin(bad_new)


def semdedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.95,
    cache_key: str | None = None,
    corpus_decisions: DataFrame | None = None,
    corpus_kept: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup — the ingestion path of the semantic-dedup
    lifecycle (the embedding analog of the fingerprint-index incremental
    dedup, ext_dedup_incremental): an incoming BATCH is assessed against
    the EXISTING corpus without ever re-deduping corpus members against
    each other.

    Protocol (cost ∝ batch, never corpus):
      1. centroids are trained on (and memoized for) the CORPUS ONLY — the
         frozen index; new data is assigned against it, never shifts it;
      2. the corpus's own kept set comes from the standard ``semdedup``
         pass (memoized centroids make it one prune);
      3. each batch vector, visited in (centroid_sim asc, vid asc) order
         within its cell, is verdicted:
           'dup_of_corpus'  cosine >= threshold with a corpus-KEPT
                            cell-mate (witness recorded);
           'dup_in_batch'   cosine >= threshold with an earlier-accepted
                            batch vector in the cell;
           'new'            otherwise — it joins the kept set.
    At 100 TB the corpus kept-set is stored partitioned by cell id, so the
    daily batch co-locates against exactly its cells' partitions; the only
    batch-sized shuffle is the cell co-location, and the per-cell work is
    one numpy matvec per batch member against (corpus-kept + accepted)
    rows of that cell. That stored artifact is ``corpus_kept_set``
    (below) — pass it as
    ``corpus_kept`` (columns vid, cell, centroid_sim, vec) and the corpus
    side is read straight from its cell partitions: no corpus re-prune,
    no corpus re-assignment, no decision-log join. ``corpus_decisions``
    remains for callers holding only the raw log.

    Returns one row per BATCH vector: (vid, cid, verdict, witness_id).
    """
    import pandas as pd

    cent_rows = train_ivf_centroids(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        k=n_clusters,
        cache_key=cache_key,
    )

    assign = nearest_cell_assigner(
        cent_rows, vec_col="vec", id_col="vid", cid_col="cid", d2_col="__d2"
    )

    def prep(df: DataFrame, is_batch: bool) -> DataFrame:
        v = normalized(
            df.select(
                F.col(id_col).alias("vid"),
                as_double(F.col(vec_col)).alias("vec"),
            ),
            "vec",
            "nvec",
        ).select("vid", F.col("nvec").alias("vec"))
        return assign(v).select(
            "vid",
            "cid",
            "vec",
            F.round(F.lit(1.0) - F.col("__d2") / F.lit(2.0), 6).alias(
                "centroid_sim"
            ),
            F.lit(is_batch).alias("is_batch"),
        )

    if corpus_kept is not None:
        # the materialized per-cell kept-set artifact: already normalized,
        # already cell-assigned — the corpus side is a straight read
        kept_side = corpus_kept.select(
            "vid",
            F.col("cell").cast("int").alias("cid"),
            "vec",
            "centroid_sim",
            F.lit(False).alias("is_batch"),
        )
    else:
        # callers that already hold the corpus decision log (e.g. to audit
        # it) pass it in, so the corpus prune runs once per job, not per
        # consumer
        corpus_dec = (
            corpus_decisions
            if corpus_decisions is not None
            else semdedup(
                corpus,
                id_col=id_col,
                vec_col=vec_col,
                n_clusters=n_clusters,
                threshold=threshold,
                cache_key=cache_key,
            )
        )
        kept_side = prep(corpus, False).join(
            corpus_dec.filter(F.col("kept")).select("vid"), on="vid"
        )
    both = kept_side.unionByName(prep(batch, True))

    def verdict_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        base = pdf[~pdf["is_batch"]]
        inc = pdf[pdf["is_batch"]].sort_values(
            ["centroid_sim", "vid"], ascending=[True, True]
        )
        if inc.empty:
            return pd.DataFrame(
                {
                    "vid": pd.array([], dtype="int64"),
                    "cid": pd.array([], dtype="int32"),
                    "verdict": pd.array([], dtype=str),
                    "witness_id": pd.array([], dtype="Int64"),
                }
            )
        kept_ids = [int(x) for x in base["vid"]]
        n_corpus = len(kept_ids)
        dim = len(inc["vec"].iloc[0])
        # one growing (capacity-doubled) matrix: corpus-kept rows first,
        # then accepted batch rows — each batch member costs exactly ONE
        # matvec over the live prefix, never a restack of the whole cell
        cap = max(16, n_corpus + len(inc))
        mat = np.empty((cap, dim), dtype=np.float64)
        for i, x in enumerate(base["vec"]):
            mat[i] = x
        size = n_corpus
        verdicts, witnesses = [], []
        for _, row in inc.iterrows():
            v = np.asarray(row["vec"], dtype=np.float64)
            verdict, wit = "new", None
            if size:
                sims = mat[:size] @ v
                # corpus precedence (same contract as the fingerprint
                # incremental dedup): an in-corpus witness wins even when
                # an accepted batch member is more similar
                cj = int(np.argmax(sims[:n_corpus])) if n_corpus else -1
                if cj >= 0 and float(sims[cj]) >= threshold:
                    verdict, wit = "dup_of_corpus", kept_ids[cj]
                elif size > n_corpus:
                    bj = n_corpus + int(np.argmax(sims[n_corpus:]))
                    if float(sims[bj]) >= threshold:
                        verdict, wit = "dup_in_batch", kept_ids[bj]
            if verdict == "new":
                if size == len(mat):
                    mat = np.concatenate([mat, np.empty_like(mat)])
                mat[size] = v
                size += 1
                kept_ids.append(int(row["vid"]))
            verdicts.append(verdict)
            witnesses.append(wit)
        return pd.DataFrame(
            {
                "vid": inc["vid"].astype("int64").to_numpy(),
                "cid": inc["cid"].astype("int32").to_numpy(),
                "verdict": verdicts,
                "witness_id": pd.array(witnesses, dtype="Int64"),
            }
        )

    return both.groupBy("cid").applyInPandas(
        verdict_cell, "vid long, cid int, verdict string, witness_id long"
    )


#: SemDeDup's incremental protocol over the embeddings fixture: the frozen
#: corpus is every vector with ``vec_id % 10 != 9``, the ~10% rest is the
#: incoming batch. The corpus kept-set, every verdict against it and the
#: index built from it share these parameters and one centroid memo key.
INC_CLUSTERS = 8
INC_THRESHOLD = 0.35


def incremental_split(
    e: DataFrame, sf_dir: str
) -> tuple[DataFrame, DataFrame, str]:
    """(corpus, batch, cache_key) of the embeddings fixture frame ``e``
    under the incremental protocol; ``cache_key`` is the corpus centroid
    memo key, so every stage of one run trains the corpus cells once."""
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        source_fingerprint,
    )

    return (
        e.filter(F.col("vec_id") % 10 != 9),
        e.filter(F.col("vec_id") % 10 == 9),
        source_fingerprint(sf_dir, "embeddings") + ":inc90",
    )


def corpus_kept_set(
    e: DataFrame, sf_dir: str, materialize: bool = True
) -> tuple[str | None, DataFrame]:
    """The SemDeDup kept-set of the incremental corpus (``incremental_split``
    of the embeddings frame ``e``) materialized PARTITIONED BY the
    assignment cell id: ONE per-cell survivor store that the incremental
    verdict (``ext_dedup_semantic_incremental``), the streaming ANN index
    job (its seed clone) and the streaming ingest loop all consume.

    Columns: ``vid``, ``block_id`` (the decision log's final greedy
    block), ``centroid_sim``, ``vec`` (unit-normalized); directory
    partition column ``cell`` (assignment cell = trained centroid id).

    Returns ``(store_dir, DataFrame)``, rebuilt on every call into
    per-process scratch (``cache_util.process_scoped_scratch``): the build
    is part of the calling query's run. ``materialize=False`` skips the
    disk store and returns ``(None, persisted_frame)``, for consumers that
    read the kept-set only as a DataFrame (no directory clone, no per-cell
    partition reads)."""
    import os

    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        process_scoped_scratch,
    )

    corpus, _, cache_key = incremental_split(e, sf_dir)
    dec = semdedup(
        corpus,
        n_clusters=INC_CLUSTERS,
        threshold=INC_THRESHOLD,
        cache_key=cache_key,
    )
    v = normalized(
        corpus.select(
            F.col("vec_id").alias("vid"),
            as_double(F.col("embedding")).alias("vec"),
        ),
        "vec",
        "nvec",
    ).select("vid", F.col("nvec").alias("vec"))
    kept = (
        dec.filter(F.col("kept"))
        .select(
            "vid",
            F.col("cid").alias("block_id"),
            "cell",
            "centroid_sim",
        )
        .join(v, on="vid")
    )
    if not materialize:
        return None, kept.persist()
    tag = os.path.basename(os.path.normpath(sf_dir))
    store_dir = process_scoped_scratch(f"semdedup_kept_inc90_{tag}")
    kept.write.partitionBy("cell").mode("overwrite").parquet(store_dir)
    return store_dir, e.sparkSession.read.parquet(store_dir)
