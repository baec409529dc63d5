"""Invariant tests for the hash-family dedup ops (no SQL oracle) and the
similarity search tiers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.sources.tables import load_table
from cdc_debezium_kafka_airflow_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_docs,
    simhash,
    simhash_near_pairs,
)
from cdc_debezium_kafka_airflow_spark.operators.similarity import (
    brute_force_topk,
    bucketed_ann_topk,
)


def _docs_with_planted_dups(spark, sf_dir, n=20):
    """documents ∪ exact copies with doc_id shifted by +1_000_000."""
    d = load_table(spark, sf_dir, "documents")
    dups = d.limit(n).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    return d.unionByName(dups)


def _blocked(docs, unit, k):
    """(doc_id, block = source, shingles) through the one shingler,
    persisted like the queries do (the pair joins re-read it)."""
    return shingle_docs(docs, unit, k).select(
        "doc_id", F.col("source").alias("block"), "shingles"
    ).persist()


def test_exact_dedup_finds_planted_dups(spark, sf_dir):
    docs = _docs_with_planted_dups(spark, sf_dir)
    out = exact_dedup(docs)
    assert out.filter(F.col("n_dups") == 2).count() == 20
    # survivor is always the lowest doc_id (the original)
    assert out.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_lsh_finds_planted_dups(spark, sf_dir):
    docs = _docs_with_planted_dups(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        shingle_docs(docs, "word", 3).persist(), max_jaccard_distance=0.2
    )
    found = {
        (r.id_a, r.id_b)
        for r in pairs.collect()
        if r.id_b == r.id_a + 1_000_000
    }
    # identical docs have jaccard distance 0 -> LSH must surface them all
    assert len(found) == 20


def test_simhash_identical_docs_hamming_zero(spark, sf_dir):
    docs = _docs_with_planted_dups(spark, sf_dir)
    pairs = simhash_near_pairs(docs).filter(
        F.col("id_b") == F.col("id_a") + 1_000_000
    )
    got = pairs.collect()
    assert len(got) == 20
    assert all(r.hamming == 0 for r in got)


def test_simhash_is_64bit_stable(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(50)
    a = {r.doc_id: r.simhash for r in simhash(d).collect()}
    b = {r.doc_id: r.simhash for r in simhash(d).collect()}
    assert a == b


def test_ngram_jaccard_planted_dups_score_one(spark, sf_dir):
    docs = _docs_with_planted_dups(spark, sf_dir, n=5)
    pairs = ngram_jaccard_pairs(_blocked(docs, "char", 3), threshold=0.99)
    planted = pairs.filter(F.col("id_b") == F.col("id_a") + 1_000_000)
    assert planted.count() == 5
    assert all(r.jaccard == 1.0 for r in planted.collect())


def test_dup_clusters_label_propagation(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.operators.dedup import dup_clusters

    d = load_table(spark, sf_dir, "documents")
    # plant clusters of size 3: doc, doc+1M, doc+2M (identical text)
    first5 = d.filter(F.col("doc_id") < 5)
    docs = (
        d.unionByName(first5.withColumn("doc_id", F.col("doc_id") + 1_000_000))
        .unionByName(first5.withColumn("doc_id", F.col("doc_id") + 2_000_000))
    )
    pairs = ngram_jaccard_pairs(_blocked(docs, "char", 10), threshold=0.9)
    clusters = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    for base in range(5):
        assert clusters.get(base + 1_000_000) == clusters.get(base + 2_000_000)
        # cluster label is the minimum member id (the original doc)
        assert clusters.get(base + 1_000_000) == base


def test_brute_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    got = brute_force_topk(queries, corpus, k=5).collect()

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    for qid in {r.query_id for r in got}:
        q = vecs[qid]
        sims = {
            vid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            for vid, v in vecs.items()
            if vid != qid
        }
        expect = sorted(sims, key=lambda v: (-sims[v], v))[:5]
        mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert mine == expect


def test_ivf_topk_recall_against_exact(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    exact = brute_force_topk(queries, corpus, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(n_probe: int) -> tuple[float, list]:
        approx = ivf_topk(
            queries, corpus, k=10, n_centroids=8, n_probe=n_probe
        ).collect()
        approx_sets = {}
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert set(approx_sets) == set(exact_sets)
        hits = sum(len(exact_sets[q] & approx_sets[q]) for q in exact_sets)
        total = sum(len(exact_sets[q]) for q in exact_sets)
        return hits / total, approx

    # the fixture embeddings are near-random (no cluster structure), which
    # caps IVF recall at roughly the probed-cell fraction plus the angular
    # correlation the spherical cells capture — measured on this query set
    # (every 100th vector) 0.58 / 0.40 / 0.515 at n_probe=2 and
    # 0.86 / 0.74 / 0.755 at n_probe=4 on sf0.001 / sf0.01 / sf0.1. With
    # every vector as a query it is 0.48-0.50 at n_probe=2 and 0.74-0.75
    # at n_probe=4 on all three; the 5-20 queries here swing by ±0.1
    # with the seeds. The ≥0.9 regime on genuinely clustered data is
    # proven by test_ivf_recall_on_clustered_corpus below.
    r2, approx2 = recall(2)
    assert r2 >= 0.35, r2
    r4, _ = recall(4)
    assert r4 >= 0.55, r4
    assert r4 >= r2  # more probes can only widen the candidate set
    # deterministic across runs
    again = ivf_topk(queries, corpus, k=10, n_centroids=8, n_probe=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, approx2))


def test_ivf_recall_on_clustered_corpus(spark):
    """On data with real cluster structure (the regime IVF exists for),
    spherical k-means cells + greedy farthest-point seeding must recover
    near-perfect recall at n_probe=2."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(7)
    dim, n_clusters, per_cluster = 64, 8, 100
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        pts = centers[ci] + 0.15 * rng.normal(size=(per_cluster, dim))
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    exact_sets, approx_sets = {}, {}
    for r in brute_force_topk(queries, corpus, k=10).collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ivf_topk(
        queries, corpus, k=10, n_centroids=n_clusters, n_probe=2
    ).collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(exact_sets[q]) for q in exact_sets)
    assert hits / total >= 0.9, (hits, total)


def test_bucketed_ann_subset_of_bucket(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    ann = bucketed_ann_topk(queries, corpus, k=5).collect()
    assert len(ann) > 0
    # every ANN hit must also be a real vector with rank<=5 within its bucket
    assert all(1 <= r.rank <= 5 for r in ann)
    assert all(-1.0 <= r.cosine_sim <= 1.0 for r in ann)


def test_auto_bits_keeps_candidates_linear(spark):
    """The sign-bucket width must track corpus size: within-bucket all-pairs
    candidate volume at sf0.1 may grow at most ~linearly over sf0.001 (a
    fixed bits would grow it quadratically)."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        auto_bits,
        sign_bucket,
        as_double,
    )

    def candidate_pairs(sf_dir: str) -> tuple[int, int]:
        e = load_table(spark, sf_dir, "embeddings")
        n = e.count()
        dim = e.select(F.size("embedding").alias("d")).first()["d"]
        bits = auto_bits(n, dim)
        per_bucket = (
            e.select(
                sign_bucket(as_double(F.col("embedding")), bits).alias("b")
            )
            .groupBy("b")
            .count()
            .collect()
        )
        return n, sum(r["count"] * (r["count"] - 1) // 2 for r in per_bucket)

    n_small, cand_small = candidate_pairs("/root/testdata/sf0.001")
    n_big, cand_big = candidate_pairs("/root/testdata/sf0.1")
    assert n_big > n_small
    growth = cand_big / max(cand_small, 1)
    scale = n_big / n_small
    # linear-with-slack: 2x covers sign-skew unevenness across buckets;
    # a fixed 2^4 bucketing would give growth ≈ scale² ≈ 16 here
    assert growth <= 2.0 * scale, (cand_small, cand_big, growth, scale)


def test_auto_bits_formula_bounds():
    from cdc_debezium_kafka_airflow_spark.operators.similarity import auto_bits

    assert auto_bits(10, 64) == 2          # tiny corpus -> floor
    assert auto_bits(64, 64) == 2
    assert auto_bits(500, 64) == 3
    assert auto_bits(2000, 64) == 5
    assert auto_bits(10**9, 64) == 24      # 1B vectors -> ~64-vector buckets
    assert auto_bits(10**30, 64) == 64     # capped at the embedding dim


def test_dup_clusters_driver_and_distributed_paths_agree(spark, sf_dir):
    """The hybrid's two execution paths (driver union-find vs iterative
    label propagation) must produce identical labelings."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import dup_clusters
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(_blocked(docs, "word", 3), threshold=0.5)
    fast = {tuple(r) for r in dup_clusters(pairs).collect()}
    dist = {tuple(r) for r in dup_clusters(pairs, driver_edge_threshold=0).collect()}
    assert fast == dist and len(fast) > 0


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """Flat PQ + exact re-rank: recall floor on the near-random fixture,
    and bit-identical output across invocations (deterministic codebooks)."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import pq_topk
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    exact_sets: dict = {}
    for r in brute_force_topk(queries, corpus, k=10).collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    out1 = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in pq_topk(queries, corpus, k=10).collect()
    )
    out2 = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in pq_topk(queries, corpus, k=10).collect()
    )
    assert out1 == out2  # deterministic training + encode + rerank
    approx_sets: dict = {}
    for qid, nid, _ in out1:
        approx_sets.setdefault(qid, set()).add(nid)
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(exact_sets[q]) for q in exact_sets)
    assert hits / total >= 0.6, (hits, total)


def test_ivfpq_recall_on_clustered_corpus(spark):
    """Residual IVF-PQ + refine on clustered data (the regime it exists
    for): cells prune, codes rank coarsely, exact re-rank restores
    near-exact top-k."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        ivf_pq_topk,
    )

    rng = np.random.RandomState(7)
    dim, n_clusters, per_cluster = 64, 8, 100
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for p in centers[ci] + 0.15 * rng.normal(size=(per_cluster, dim)):
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    exact_sets, approx_sets = {}, {}
    for r in brute_force_topk(queries, corpus, k=10).collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ivf_pq_topk(
        queries, corpus, k=10, n_centroids=n_clusters, n_probe=2
    ).collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(exact_sets[q]) for q in exact_sets)
    assert hits / total >= 0.85, (hits, total)


def _corpus(df):
    return df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )


def _train_both(corpus, cache_key=None):
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        train_ivf_centroids,
        train_pq_codebooks,
    )

    return (
        train_ivf_centroids(corpus, k=4, cache_key=cache_key),
        train_pq_codebooks(
            corpus, id_col="neighbor_id", vec_col="cvec", m=4, ksub=4,
            cache_key=cache_key,
        ),
    )


def test_model_retrain_after_clear_is_bit_identical(spark, sf_dir):
    """Centroids and codebooks retrained after clear_model_memos() are
    bit-identical to the first training — a retrain that differed would
    silently change every cell assignment behind an already-built index —
    and a memoized model is served without a Spark job."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        clear_model_memos,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        source_fingerprint,
    )

    fp = source_fingerprint(sf_dir, "embeddings") + ":retrain-test"
    corpus = _corpus(load_table(spark, sf_dir, "embeddings"))
    clear_model_memos()
    trained = _train_both(corpus, fp)
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        sc.setJobGroup("model_memo_hit", "memoized models")
        assert _train_both(corpus, fp) == trained
        assert not sc.statusTracker().getJobIdsForGroup("model_memo_hit")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    clear_model_memos()
    assert _train_both(corpus, fp) == trained


def test_memoized_trains_once_per_cache_key():
    """_memoized trains once per (cache_key, key) until clear_model_memos;
    cache_key=None (no corpus identity) trains on every call."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        _memoized,
        clear_model_memos,
    )

    calls = []

    def train():
        calls.append(1)
        return [(len(calls), [0.0])]

    clear_model_memos()
    assert _memoized(None, ("ivf", 8), train) == [(1, [0.0])]
    assert _memoized(None, ("ivf", 8), train) == [(2, [0.0])]
    assert _memoized("corpus-a", ("ivf", 8), train) == [(3, [0.0])]
    assert _memoized("corpus-a", ("ivf", 8), train) == [(3, [0.0])]
    assert _memoized("corpus-a", ("ivf", 4), train) == [(4, [0.0])]
    assert _memoized("corpus-b", ("ivf", 8), train) == [(5, [0.0])]
    clear_model_memos()
    assert _memoized("corpus-a", ("ivf", 8), train) == [(6, [0.0])]
    clear_model_memos()


def test_kmeans_nearest_matches_explicit_distances():
    """_nearest (one matmul) picks the same centroid as explicit squared
    distances, ties to the lowest index; _kmeans returns distinct
    centroids and stops at the distinct rows of its seed pool."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        _kmeans,
        _nearest,
    )

    rng = np.random.default_rng(7)
    x = rng.standard_normal((300, 8))
    c = rng.standard_normal((6, 8))
    c[4] = c[1]  # duplicated centroid: rows nearest to it go to index 1
    explicit = np.argmin(((x[:, None, :] - c[None]) ** 2).sum(axis=2), axis=1)
    got = _nearest(x, c)
    assert (got == explicit).all()
    assert not (got == 4).any()
    for spherical in (True, False):
        cent = _kmeans(x, 5, 3, spherical=spherical)
        assert cent.shape == (5, 8)
        assert len({tuple(r) for r in cent}) == 5
    assert _kmeans(np.repeat(x[:3], 4, axis=0), 8, 3, False).shape == (3, 8)


def test_trained_models_independent_of_layout(spark):
    """The training sample is a pure function of the ids: IVF centroids
    and PQ codebooks trained on one partition, on 13 partitions and on the
    row-reversed corpus are identical. The corpus is larger than the
    sample, so the bounded sample's row choice is exercised."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        SAMPLE_ROWS,
    )

    n = SAMPLE_ROWS + 1000
    corpus = spark.range(n).select(
        F.col("id").alias("neighbor_id"),
        F.array(
            *[F.sin(F.col("id") * (j + 1) + j) for j in range(8)]
        ).alias("cvec"),
    )
    base = _train_both(corpus.repartition(1))
    assert len(base[0]) == 4 and len(base[1]) == 4 * 4
    assert _train_both(corpus.repartition(13)) == base
    assert _train_both(corpus.orderBy(F.col("neighbor_id").desc())) == base


def test_cold_ivf_training_is_one_spark_job(spark, sf_dir):
    """A cold train_ivf_centroids collects its bounded sample in ONE Spark
    job; k-means itself runs on the driver."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        train_ivf_centroids,
    )

    corpus = _corpus(load_table(spark, sf_dir, "embeddings"))
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        sc.setJobGroup("ivf_cold_train", "cold IVF training")
        rows = train_ivf_centroids(corpus, k=8)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("ivf_cold_train"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert len(rows) == 8
    assert n_jobs == 1, n_jobs


def test_trainers_reject_empty_corpus(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        train_ivf_centroids,
        train_pq_codebooks,
    )

    empty = _corpus(load_table(spark, sf_dir, "embeddings")).limit(0)
    with pytest.raises(ValueError, match="train_ivf_centroids: empty corpus"):
        train_ivf_centroids(empty, k=8)
    with pytest.raises(ValueError, match="train_pq_codebooks: empty corpus"):
        train_pq_codebooks(empty, id_col="neighbor_id", vec_col="cvec")


def test_trainers_on_corpus_smaller_than_k(spark):
    """Fewer rows than k: min(k, n) DISTINCT centroids per model (no padded
    repeats), and flat PQ still scores correctly against codebooks smaller
    than ksub — every vector is its own code, so ADC equals the exact
    cosine up to the 6-decimal rounding."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        pq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(5)
    n = 5
    vecs = rng.normal(size=(n, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "neighbor_id long, cvec array<double>",
    )
    cents = train_ivf_centroids(corpus, k=8)
    assert [cid for cid, _ in cents] == list(range(n))
    assert len({tuple(v) for _, v in cents}) == n
    cb = train_pq_codebooks(
        corpus, id_col="neighbor_id", vec_col="cvec", m=4, ksub=16
    )
    for sub in range(4):
        codes = [(code, tuple(v)) for s, code, v in cb if s == sub]
        assert [code for code, _ in codes] == list(range(n))
        assert len({v for _, v in codes}) == n
    queries = corpus.select(
        F.col("neighbor_id").alias("query_id"), F.col("cvec").alias("qvec")
    )
    exact = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in brute_force_topk(queries, corpus, k=n).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id): r.adc_score
        for r in pq_topk(
            queries, corpus, k=n, m=4, ksub=16, rerank=0
        ).collect()
    }
    assert set(adc) == set(exact)
    assert all(abs(adc[p] - exact[p]) < 1e-4 for p in exact), (adc, exact)


def test_pca_components_orthonormal_and_ordered(spark, sf_dir):
    """Fitted PCA invariants: components orthonormal, eigenvalues
    descending and non-negative, explained ratios normalize to 1."""
    import numpy as np

    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.pca import fit_pca
    from cdc_debezium_kafka_airflow_spark.queries.common import t as load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    mean, comps, vals = fit_pca(emb)
    d = comps.shape[1]
    assert comps.shape[0] == d and mean.shape == (d,)
    assert np.allclose(comps @ comps.T, np.eye(d), atol=1e-8)
    assert np.all(np.diff(vals) <= 1e-12)  # descending
    assert np.all(vals >= 0)
    assert abs(vals.sum() / vals.sum() - 1.0) < 1e-12


def test_pca_projected_variance_equals_eigenvalue(spark, sf_dir):
    """The query's core claims, asserted end-to-end via its audit row:
    projected variance == eigenvalue per component, spectrum ordered,
    total variance conserved (all computed distributed)."""
    from cdc_debezium_kafka_airflow_spark.queries.ext_queries import (
        ext_pca_spectrum,
    )

    rows = ext_pca_spectrum(spark, sf_dir).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.n_vectors > 0
    assert row.n_components == 8
    assert row.n_var_mismatch == 0
    assert row.n_order_violations == 0
    assert row.trace_breach == 0


def test_pca_stable_across_partitioning(spark, sf_dir):
    """Same spectrum (rounded) regardless of input partition layout — the
    partial-Gram combination must be order-insensitive."""
    import numpy as np

    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.pca import fit_pca
    from cdc_debezium_kafka_airflow_spark.queries.common import t as load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    _, _, v1 = fit_pca(emb)
    _, _, v2 = fit_pca(emb.repartition(13))
    assert np.allclose(v1, v2, atol=1e-9)


def test_span_dedup_cross_doc_spans_exist(spark, sf_dir):
    """ext_span_dedup is non-vacuous on the fixture: some spans ARE shared
    across documents (else the oracle match proves nothing), no doc counts
    more dup spans than spans, and the fraction is consistent."""
    from pyspark.sql import functions as F
    from cdc_debezium_kafka_airflow_spark.operators.dedup import (
        duplicated_span_metrics,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    m = duplicated_span_metrics(load_table(spark, sf_dir, "documents"))
    agg = m.agg(
        F.sum("n_dup_spans").alias("dups"),
        F.sum((F.col("n_dup_spans") > F.col("n_spans")).cast("int")).alias(
            "bad"
        ),
        F.sum(
            (
                F.abs(
                    F.col("dup_span_fraction")
                    - F.round(F.col("n_dup_spans") / F.col("n_spans"), 6)
                )
                > 1e-9
            ).cast("int")
        ).alias("frac_bad"),
    ).collect()[0]
    assert agg.dups > 0
    assert agg.bad == 0
    assert agg.frac_bad == 0


def test_semdedup_planted_duplicates_collapse(spark):
    """Identical (and near-identical) embeddings land in one cluster and the
    greedy keeps exactly one of each planted group."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import semdedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # planted: ids 100/101 identical to id 0; 102 a tiny perturbation of id 1
    rows.append((100, [float(x) for x in base[0]]))
    rows.append((101, [float(x) for x in base[0]]))
    pert = base[1] + 1e-4 * rng.normal(size=16)
    rows.append((102, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dec = semdedup(df, n_clusters=4, threshold=0.95).collect()
    by_vid = {r["vid"]: r for r in dec}
    assert len(by_vid) == len(rows)  # every vector accounted once
    g0 = [by_vid[i] for i in (0, 100, 101)]
    assert sum(r["kept"] for r in g0) == 1
    g1 = [by_vid[i] for i in (1, 102)]
    assert sum(r["kept"] for r in g1) == 1
    # dropped members carry a kept same-cluster witness
    for r in dec:
        if not r["kept"]:
            w = by_vid[r["witness_id"]]
            assert w["kept"] and w["cid"] == r["cid"]


def test_semdedup_keeps_far_from_centroid_member(spark):
    """The SemDeDup keep rule: within a duplicate group the survivor is the
    member with the LOWEST centroid similarity (ties -> lowest vid)."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import semdedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows.append((200, [float(x) for x in base[2]]))  # exact dup of id 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dec = {r["vid"]: r for r in semdedup(df, n_clusters=4, threshold=0.95).collect()}
    a, b = dec[2], dec[200]
    assert a["centroid_sim"] == b["centroid_sim"]  # identical vectors
    # equal centroid_sim -> lowest vid visited first -> id 2 survives
    assert a["kept"] and not b["kept"] and b["witness_id"] == 2


def test_semdedup_mega_cell_cap_bounds_block_size(spark):
    """Planted mega-cluster: one tight direction swallows (almost) the whole
    corpus, so k-means produces a cell far over ``max_cell_size``. The cap
    must (a) bound every FINAL block (the emitted cid) to <= cap rows — the
    per-task quadratic term becomes O(c*cap), no straggler — while (b) all
    decision-log invariants stay exact per final block: accounting, witness
    kept+same-cid+over-threshold, no kept near-pair within a cid, planted
    exact dups still collapse (identical vectors share every sub-split
    path), and (c) the outcome is deterministic across physical layout."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import semdedup

    rng = np.random.default_rng(23)
    hub = rng.normal(size=16)
    hub /= np.linalg.norm(hub)
    rows = []
    for i in range(400):  # one mega-cluster: hub + small noise
        v = hub + 0.05 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    # planted exact dups inside the mega-cluster
    for j, src in ((1000, 3), (1001, 3), (1002, 7)):
        rows.append((j, rows[src][1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cap = 32
    dec = semdedup(
        df, n_clusters=4, threshold=0.999, max_cell_size=cap
    ).collect()
    by_vid = {r["vid"]: r for r in dec}
    assert len(by_vid) == len(rows)  # accounting
    sizes: dict[int, int] = {}
    for r in dec:
        sizes[r["cid"]] = sizes.get(r["cid"], 0) + 1
    assert max(sizes.values()) <= cap  # the hard bound
    assert len(sizes) > len(rows) // cap - 1  # the split really happened
    # split block ids are NEGATIVE path encodings, sign-disjoint from the
    # unsplit centroid-id range
    assert min(sizes) < 0
    for r in dec:  # witness validity per final block
        if not r["kept"]:
            w = by_vid[r["witness_id"]]
            assert w["kept"] and w["cid"] == r["cid"]
    # planted exact dups: identical vectors follow the same split path, so
    # each planted group still collapses to one survivor
    for pair in ((3, 1000, 1001), (7, 1002)):
        grp = [by_vid[i] for i in pair]
        assert len({r["cid"] for r in grp}) == 1
        assert sum(r["kept"] for r in grp) == 1
    # no kept near-pair within any final block (the greedy's guarantee)
    vecs = {i: np.array(v) / np.linalg.norm(v) for i, v in rows}
    kept_by_cid: dict[int, list[int]] = {}
    for r in dec:
        if r["kept"]:
            kept_by_cid.setdefault(r["cid"], []).append(r["vid"])
    for members in kept_by_cid.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                assert (
                    float(vecs[members[x]] @ vecs[members[y]])
                    < 0.999 + 1e-9
                )
    # determinism across partitioning
    again = sorted(
        (r["vid"], r["cid"], r["kept"], r["witness_id"])
        for r in semdedup(
            df.repartition(7), n_clusters=4, threshold=0.999,
            max_cell_size=cap,
        ).collect()
    )
    assert again == sorted(
        (r["vid"], r["cid"], r["kept"], r["witness_id"]) for r in dec
    )


def test_semdedup_deterministic_across_partitioning(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.operators.similarity import semdedup
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a = sorted(
        (r["vid"], r["kept"], r["witness_id"])
        for r in semdedup(e, n_clusters=8, threshold=0.35).collect()
    )
    b = sorted(
        (r["vid"], r["kept"], r["witness_id"])
        for r in semdedup(
            e.repartition(13), n_clusters=8, threshold=0.35
        ).collect()
    )
    assert a == b
    assert any(not kept for _, kept, _w in a)  # the prune does real work


def test_corpus_kept_set_artifact_two_consumers(spark, sf_dir):
    """The materialized kept-set is ONE artifact with the claimed layout
    (directory-partitioned by assignment cell) and consuming it as
    semdedup_incremental's corpus side yields verdicts IDENTICAL to the
    derive-per-run path — so the incremental job and the index seed read
    the same store without a semantics change."""
    import os

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        INC_CLUSTERS,
        INC_THRESHOLD,
        corpus_kept_set,
        incremental_split,
        semdedup_incremental,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    corpus, batch, ck = incremental_split(e, sf_dir)
    kept_dir, kept_art = corpus_kept_set(e, sf_dir)
    # layout: hive-partitioned by assignment cell
    cells = [d for d in os.listdir(kept_dir) if d.startswith("cell=")]
    assert len(cells) >= 2
    via_artifact = sorted(
        (r["vid"], r["cid"], r["verdict"], r["witness_id"])
        for r in semdedup_incremental(
            corpus, batch, n_clusters=INC_CLUSTERS, threshold=INC_THRESHOLD,
            cache_key=ck,
            corpus_kept=kept_art,
        ).collect()
    )
    via_derive = sorted(
        (r["vid"], r["cid"], r["verdict"], r["witness_id"])
        for r in semdedup_incremental(
            corpus, batch, n_clusters=INC_CLUSTERS, threshold=INC_THRESHOLD,
            cache_key=ck,
        ).collect()
    )
    assert via_artifact == via_derive and len(via_artifact) == batch.count()


def test_nearest_cell_assigner_dispatch_both_regimes(spark, sf_dir):
    """The single assignment entry point dispatches by k: literal argmin
    at/below the threshold (no join in the plan), broadcast join + min_by
    above it (join present, exactly one grouping shuffle) — and the two
    regimes agree row-for-row on (cid, d2), including the lowest-cid
    tie-break, with every input column preserved in both."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        as_double,
        nearest_cell_assigner,
        normalized,
        train_ivf_centroids,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = train_ivf_centroids(
        e, id_col="vec_id", vec_col="embedding", k=8
    )
    v = normalized(
        e.select(
            F.col("vec_id").alias("vid"),
            as_double(F.col("embedding")).alias("vec"),
            F.col("label").alias("extra"),  # a carried passenger column
        ),
        "vec",
        "nvec",
    ).select("vid", F.col("nvec").alias("vec"), "extra")

    lit_df = nearest_cell_assigner(cent_rows, vec_col="vec")(v)
    join_df = nearest_cell_assigner(cent_rows, vec_col="vec", literal_max=0)(v)
    assert lit_df.columns == join_df.columns == [
        "vid", "vec", "extra", "cid", "d2"
    ]
    lit_plan = lit_df._jdf.queryExecution().executedPlan().toString()
    join_plan = join_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in lit_plan  # map-only regime
    assert "Join" in join_plan  # broadcast regime engaged
    got_lit = {
        r["vid"]: (r["cid"], round(r["d2"], 9), r["extra"])
        for r in lit_df.collect()
    }
    got_join = {
        r["vid"]: (r["cid"], round(r["d2"], 9), r["extra"])
        for r in join_df.collect()
    }
    assert got_lit == got_join


def test_nearest_cell_expr_matches_join_assignment(spark, sf_dir):
    """The map-only literal-argmin assignment (nearest_cell_expr) and the
    broadcast-join+min_by shape (nearest_cell_assigner's literal_max=0
    path — the private _assign_to_centroids helper was folded into it in
    r13) implement one contract — nearest centroid, ties to the lowest id
    — and must agree cell-for-cell on the fixture corpus, on REAL trained
    centroids (the cap-forced synthetic test above covers the dispatch)."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        as_double,
        nearest_cell_assigner,
        nearest_cell_expr,
        normalized,
        train_ivf_centroids,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = train_ivf_centroids(
        e, id_col="vec_id", vec_col="embedding", k=8
    )
    v = normalized(
        e.select(
            F.col("vec_id").alias("vid"),
            as_double(F.col("embedding")).alias("vec"),
        ),
        "vec",
        "nvec",
    ).select("vid", F.col("nvec").alias("vec"))
    via_expr = {
        r["vid"]: r["cid"]
        for r in v.select(
            "vid", nearest_cell_expr(cent_rows, "vec")["cid"].alias("cid")
        ).collect()
    }
    join_df = nearest_cell_assigner(
        cent_rows, vec_col="vec", id_col="vid", cid_col="cid",
        d2_col="d2", literal_max=0,
    )(v)
    assert "Join" in join_df._jdf.queryExecution().executedPlan().toString()
    via_join = {r["vid"]: r["cid"] for r in join_df.collect()}
    assert via_expr == via_join


def test_probe_cells_match_numpy_reference(spark):
    """The map-only probe helper picks each query's n_probe nearest cells
    by squared distance with ties to the LOWEST cell id (a duplicated
    centroid plants exact ties), and carries dot(query, centroid)."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        _probe_cells,
    )

    rng = np.random.default_rng(3)
    cents = rng.normal(size=(5, 8))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cents = np.vstack([cents, cents[2]])  # cell 5 ties cell 2 everywhere
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    qs = rng.normal(size=(20, 8))
    qs /= np.linalg.norm(qs, axis=1, keepdims=True)
    q = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(qs)],
        "query_id long, nvec array<double>",
    )
    got: dict[int, list] = {}
    for r in _probe_cells(q, cent_rows, 3, "nvec").collect():
        got.setdefault(r["query_id"], []).append((r["cell"], r["cell_dot"]))
    for i, v in enumerate(qs):
        d2 = [float(((v - c) ** 2).sum()) for c in cents]
        want = sorted(range(len(cents)), key=lambda j: (d2[j], j))[:3]
        assert sorted(c for c, _ in got[i]) == sorted(want)
        for c, cdot in got[i]:
            assert abs(cdot - float(v @ cents[c])) < 1e-12


def test_d4_prune_drops_most_prototypical(spark, sf_dir):
    """The D4 composite prunes exactly floor(10%) of each cluster's dedup
    survivors, and every pruned vector is at least as centroid-similar as
    every retained one (ties broken by vid)."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.queries.ext_queries import (
        ext_corpus_prune_d4,
    )
    from cdc_debezium_kafka_airflow_spark.operators.similarity import semdedup
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    row = ext_corpus_prune_d4(spark, sf_dir).collect()[0]
    assert row["n_unaccounted"] == 0
    assert row["n_quota_violation"] == 0
    assert row["n_rank_violation"] == 0
    # cross-check one cluster end-to-end in python
    e = load_table(spark, sf_dir, "embeddings")
    dec = semdedup(e, n_clusters=8, threshold=0.35).collect()
    surv = [r for r in dec if r["kept"] and r["cid"] == dec[0]["cid"]]
    surv.sort(key=lambda r: (-r["centroid_sim"], r["vid"]))
    q = int(0.10 * len(surv))
    assert q >= 0 and len(surv) > 0


def test_semdedup_incremental_verdicts(spark):
    """Planted scenarios: a batch copy of a corpus-kept vector verdicts
    dup_of_corpus; two identical batch newcomers split new/dup_in_batch;
    an orthogonal newcomer is new. Corpus witnesses take precedence."""
    import numpy as np

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        semdedup_incremental,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(40, 16))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    fresh = rng.normal(size=16)  # far from everything w.h.p.
    batch_rows = [
        (200, [float(x) for x in base[3]]),   # copy of corpus id 3
        (201, [float(x) for x in fresh]),     # genuinely new
        (202, [float(x) for x in fresh]),     # dup of 201 within batch
    ]
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    out = {
        r["vid"]: r
        for r in semdedup_incremental(
            corpus, batch, n_clusters=4, threshold=0.95
        ).collect()
    }
    assert len(out) == 3
    assert out[200]["verdict"] == "dup_of_corpus" and out[200]["witness_id"] == 3
    assert out[201]["verdict"] == "new" and out[201]["witness_id"] is None
    assert out[202]["verdict"] == "dup_in_batch" and out[202]["witness_id"] == 201


def test_semdedup_incremental_deterministic(spark, sf_dir):
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        semdedup_incremental,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 10 != 9)
    batch = e.filter(F.col("vec_id") % 10 == 9)
    a = sorted(
        (r["vid"], r["verdict"], r["witness_id"])
        for r in semdedup_incremental(
            corpus, batch, n_clusters=8, threshold=0.35
        ).collect()
    )
    b = sorted(
        (r["vid"], r["verdict"], r["witness_id"])
        for r in semdedup_incremental(
            corpus.repartition(7), batch.repartition(3),
            n_clusters=8, threshold=0.35,
        ).collect()
    )
    assert a == b
    verdicts = {v for _, v, _ in a}
    assert "new" in verdicts and len(verdicts) >= 2  # does real work


def test_ann_audit_frame_detects_planted_violations(spark):
    """The audit oracle's zeros must be FALSIFIABLE, not tautological:
    plant each violation class into a fake ANN result and assert the
    matching counter fires."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.queries.ext_queries import (
        _ann_audit_frame,
    )

    # corpus of 4 one-hot-ish vectors; queries = vec 0 and vec 2
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, e array<double>")
    queries = emb.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qvec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("cvec")
    )

    def audit(pairs, floor_pct=1, rank=False):
        rows = [
            (q, n, i + 1) if rank else (q, n)
            for i, (q, n) in enumerate(pairs)
        ]
        schema = (
            "query_id long, neighbor_id long, rank int"
            if rank
            else "query_id long, neighbor_id long"
        )
        ann = spark.createDataFrame(rows, schema)
        return _ann_audit_frame(
            ann, queries, corpus, floor_pct=floor_pct,
            rank_col="rank" if rank else None,
        ).first()

    # clean result: correct top-1 per query (brute force k=10 returns all
    # non-self corpus rows here) — every counter zero
    clean = audit([(0, 1), (0, 2), (0, 3), (2, 3), (2, 0), (2, 1)])
    assert clean.n_self_rows == 0 and clean.n_dup_pairs == 0
    assert clean.recall_floor_breach == 0

    # planted self row fires n_self_rows
    assert audit([(0, 0), (2, 3)]).n_self_rows == 1
    # planted duplicate pair fires n_dup_pairs
    assert audit([(0, 1), (0, 1), (2, 3)]).n_dup_pairs == 1
    # degenerate result misses the exact set -> recall floor breach at 90%
    bad = audit([(0, 2), (2, 0)], floor_pct=90)
    assert bad.recall_floor_breach == 1
    # broken rank sequence fires n_rank_violations (ranks 1,2 over one
    # query but only 2 rows -> rank_sum != 55 or count != 10)
    assert audit([(0, 1), (0, 3)], rank=True).n_rank_violations == 1


def test_cdc_chunking_boundary_locality(spark):
    """Content-defined chunking's reason to exist: an insertion near the
    START of a document shifts boundaries only LOCALLY — the majority of
    chunk hashes survive the edit (fixed-size chunking would lose every
    chunk after the edit point). Also pins determinism: same text, same
    chunk multiset."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.queries.ext_queries import (
        cdc_chunk_hashes,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the rain taps the glass "
        "slowly as evening settles over the quiet street and lamps "
        "flicker on one by one down the long wet avenue toward the park "
        "where nobody walks tonight except one stubborn heron fishing"
    ) * 3
    edited = base[:15] + "X" + base[15:]  # single-char insertion near start
    d = spark.createDataFrame(
        [(1, base), (2, edited), (3, base)], "doc_id long, t string"
    )
    rows = cdc_chunk_hashes(d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.chash)
    # determinism: identical docs -> identical chunk multiset
    assert sorted(by_doc[1]) == sorted(by_doc[3])
    # locality: most chunks survive the early insertion
    orig, ed = set(by_doc[1]), set(by_doc[2])
    survived = len(orig & ed)
    assert survived / len(orig) >= 0.5, (survived, len(orig), len(ed))
