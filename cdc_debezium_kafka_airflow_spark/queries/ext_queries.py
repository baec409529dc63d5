"""Extension surface (BASELINE.json:6): dedup, similarity search, multimodal
columns, text analysis over the documents/embeddings fixtures.

SQL-expressible variants carry exact DuckDB oracles; hash-family variants
(MinHash LSH, SimHash — engine-specific hash functions) are rows-only and are
additionally invariant-tested in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.queries.common import t
from cdc_debezium_kafka_airflow_spark.operators.ranking import histogram_rank
from cdc_debezium_kafka_airflow_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingled_documents,
    simhash_near_pairs,
)
from cdc_debezium_kafka_airflow_spark.operators.similarity import (
    brute_force_topk,
    bucketed_ann_topk,
    embedding_near_dups,
    ivf_topk,
)
from cdc_debezium_kafka_airflow_spark.operators.text import (
    bm25_topk,
    fingerprints,
    lang_id,
    normalize_text,
    text_metrics,
)
from cdc_debezium_kafka_airflow_spark.operators.multimodal import (
    attach_media,
    extract_media_features,
)

QUERIES = {}
ORACLES = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# normalized text, as a DuckDB expression (mirror of text.normalize_text)
NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"


def _bpe_cte_chain(n_merges: int) -> str:
    """Unroll `n_merges` BPE training rounds as chained DuckDB CTEs — the
    exact-oracle trick from ext_classifier_train applied to the tokenizer.

    Each word's symbol sequence is encoded as a delimiter-wrapped string
    `|c1||c2||...||</w>|` (the corpus charset is [a-z ], so `|`, `<`, `>`
    cannot collide with symbol content). Two facts make the oracle EXACT,
    not merely an invariant:

    1. SQL `replace()` is non-overlapping left-to-right with
       continue-after-replacement — precisely greedy BPE merge
       application within a word (`|a||a||a|` -> `|aa||a|`).
    2. Sequential rank-order application == greedy lowest-rank-first
       replay (the rule operators/bpe.py:apply_bpe implements): the
       symbol created at rank r cannot appear in any pair learned at
       rank < r (those pairs predate the symbol's existence), so no
       earlier merge ever becomes newly applicable.

    Per round: adjacent pairs come from re-splitting the symbol string
    (unnest over positions), the argmax uses the same (count DESC, left
    ASC, right ASC) tie-break as the Spark trainer, and the winner is
    applied with one `replace` per word.
    """
    parts = [
        f"""
    words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split({NORM}, ' ')) AS word
            FROM documents)
      WHERE length(word) > 0
      GROUP BY word
    ),
    state_0 AS (
      SELECT word, freq,
             '|' || array_to_string(string_split_regex(word, ''), '||')
                 || '||</w>|' AS s
      FROM words
    )"""
    ]
    for k in range(n_merges):
        parts.append(
            f""",
    pairs_{k} AS (
      SELECT a[i] AS l, a[i+1] AS r, freq
      FROM (SELECT freq,
                   string_split(substr(s, 2, length(s)-2), '||') AS a
            FROM state_{k})
      CROSS JOIN unnest(generate_series(1, len(a)-1)) AS u(i)
      WHERE len(a) >= 2
    ),
    best_{k} AS (
      SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
      FROM pairs_{k} GROUP BY l, r
      ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    ),
    state_{k + 1} AS (
      SELECT word, freq,
             replace(s, '|'||b.l||'||'||b.r||'|',
                        '|'||b.l||b.r||'|') AS s
      FROM state_{k} CROSS JOIN best_{k} b
    )"""
        )
    return "WITH" + "".join(parts)


_BPE_N_MERGES = 8

_BPE_TRAIN_SQL = (
    _bpe_cte_chain(_BPE_N_MERGES)
    + "\n    "
    + "\n    UNION ALL ".join(
        f'SELECT CAST({k} AS INT) AS merge_rank, l AS "left", '
        f'r AS "right", l||r AS merged, cnt AS pair_count FROM best_{k}'
        for k in range(_BPE_N_MERGES)
    )
    + "\n    ORDER BY merge_rank"
)

_BPE_TOKENIZE_SQL = (
    _bpe_cte_chain(_BPE_N_MERGES)
    + f"""
    SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM (SELECT freq,
                 unnest(string_split(substr(s, 2, length(s)-2), '||'))
                   AS token
          FROM state_{_BPE_N_MERGES})
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 20
    """
)


@q(
    "ext_dedup_exact",
    f"""
    SELECT min(doc_id) AS doc_id, md5({NORM}) AS fp, count(*) AS n_dups
    FROM documents
    GROUP BY md5({NORM})
    """,
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5(normalized text): lowest doc_id survives."""
    return exact_dedup(t(spark, sf_dir, "documents"))


@q(
    "ext_dedup_ngram_jaccard",
    f"""
    WITH d AS (SELECT doc_id, source, {NORM} AS t FROM documents),
    sh AS (SELECT doc_id, source,
                  list_distinct(list_transform(
                      range(1, greatest(length(t) - 9, 1) + 1),
                      i -> substr(t, CAST(i AS INT), 10))) AS s
           FROM d),
    sz AS (SELECT doc_id, len(s) AS set_size FROM sh),
    ex AS (SELECT doc_id, source, unnest(s) AS shingle FROM sh),
    inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
      FROM ex x JOIN ex y
        ON x.source = y.source AND x.shingle = y.shingle
       AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
    FROM inter
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= 0.5
    """,
)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-char-shingle Jaccard near-dup pairs via prefix-filtered exact
    set-similarity join. k=10 because this corpus's vocabulary saturates
    short shingle spaces (377 distinct 3-grams vs ~50k 10-grams) — short
    shingles make every pair ~0.6-similar and any algorithm quadratic.
    Starts from the one shingler (``shingled_documents``)."""
    # persisted: the prefix-filtered join reads it four times
    sh = shingled_documents(spark, sf_dir, unit="char", k=10).select(
        "doc_id", F.col("source").alias("block"), "shingles"
    ).persist()
    return ngram_jaccard_pairs(sh, threshold=0.5)


@q(
    "ext_dedup_clusters",
    f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, source, string_split({NORM}, ' ') AS w FROM documents),
    sh AS (SELECT doc_id, source,
                  list_distinct(list_transform(
                      range(1, greatest(len(w) - 2, 1) + 1),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
           FROM d),
    sz AS (SELECT doc_id, len(s) AS set_size FROM sh),
    ex AS (SELECT doc_id, source, unnest(s) AS shingle FROM sh),
    inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
      FROM ex x JOIN ex y
        ON x.source = y.source AND x.shingle = y.shingle
       AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sz sa ON id_a = sa.doc_id
      JOIN sz sb ON id_b = sb.doc_id
      WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components (iterative label
    propagation, O(diameter) join+agg rounds) over the exact word-3-gram
    Jaccard near-dup pair graph (word shingles: ~5x fewer set elements than
    char-10 for the same pairs on this corpus, so the set-similarity join is
    proportionally cheaper). Each doc maps to the min doc_id of its
    duplicate cluster. The oracle recomputes the same components by a
    DIFFERENT algorithm (recursive-CTE transitive closure), so a hash match
    cross-validates both the pair graph and the clustering."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import dup_clusters

    # persisted: the prefix-filtered join reads it four times
    sh = shingled_documents(spark, sf_dir, unit="word", k=3).select(
        "doc_id", F.col("source").alias("block"), "shingles"
    ).persist()
    return dup_clusters(ngram_jaccard_pairs(sh, threshold=0.5))


@q(
    "ext_corpus_curation",
    f"""
    WITH m AS (
      SELECT doc_id, lang, source,
             CAST(len(string_split({NORM}, ' ')) AS INT) AS n_tokens,
             md5({NORM}) AS fp
      FROM documents
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM m WHERE n_tokens >= 20 AND lang IN ('en', 'es')
      ) WHERE rn = 1
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT source) AS n_sources
    FROM kept GROUP BY lang
    """,
)
def ext_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: language filter + minimum-length
    filter + exact dedup (lowest doc_id survives) -> per-language corpus
    stats. The composition a 100 TB data pipeline runs nightly."""
    d = t(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    m = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(norm, " ")).alias("n_tokens"),
        F.md5(norm).alias("fp"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        m.filter((F.col("n_tokens") >= 20) & F.col("lang").isin("en", "es"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@q(
    "ext_dedup_minhash",
    """
    SELECT CAST(0 AS BIGINT) AS n_outside_exact,
           CAST(0 AS BIGINT) AS n_value_mismatch,
           CAST(0 AS BIGINT) AS n_missed_exact_dups
    """,
)
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, driver-checkable via DERIVED deterministic
    properties (the pair hashes themselves are engine-specific — DuckDB has
    no xxhash64 — so the oracle asserts invariants that must hold exactly):

      - n_outside_exact: LSH-verified pairs NOT present in the exact
        (unblocked) word-3-gram Jaccard pair set at a slightly lower
        threshold — every verified pair has true jaccard >= 0.6, so this is
        0 unless the verify stage's jaccard math is wrong.
      - n_value_mismatch: pairs where the minhash pipeline's exact-verified
        jaccard disagrees (beyond round-off) with the independently computed
        prefix-filter join's jaccard for the same pair — two code paths,
        one truth.
      - n_missed_exact_dups: jaccard==1.0 pairs (identical shingle sets)
        absent from the LSH output. Identical docs collide on EVERY band, so
        recall for exact dups is deterministically 1.0 — this is the one
        recall property banding guarantees regardless of seed.

    The exact reference set is computed UNBLOCKED (constant block key):
    minhash bands do not block on `source`, so cross-source pairs are in
    scope for it and the containment must be checked globally.
    """
    # ONE persisted shingle frame serves BOTH pipelines: the operators
    # persist nothing of their input, so the shingling runs once per run
    # (pinned by tests/test_scale_plans.py)
    sh = shingled_documents(spark, sf_dir, unit="word", k=3).select(
        "doc_id", F.lit("g").alias("block"), "shingles"
    ).persist()
    mh = minhash_lsh_pairs(sh)  # id_a/id_b/jaccard_distance (exact)
    # threshold 0.59 < 0.6: containment immune to round-6 boundary flips
    exact = ngram_jaccard_pairs(sh, threshold=0.59)
    exact = exact.persist()  # feeds both the left join and the recall check
    joined = mh.alias("m").join(
        exact.alias("e"), on=["id_a", "id_b"], how="left"
    )
    checks = joined.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("e.jaccard").isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ),
            F.lit(0),
        ).alias("n_outside_exact"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("e.jaccard").isNotNull()
                    & (
                        F.abs(
                            (F.lit(1.0) - F.col("e.jaccard"))
                            - F.col("m.jaccard_distance")
                        )
                        > F.lit(2e-6)
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("n_value_mismatch"),
    )
    missed = (
        exact.filter(F.col("jaccard") >= 0.999999)
        .join(mh.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
        .agg(F.count("*").alias("n_missed_exact_dups"))
    )
    return checks.crossJoin(missed)


@q(
    "ext_dedup_simhash",
    f"""
    WITH d AS (
      SELECT md5(array_to_string(list_sort(string_split({NORM}, ' ')), ' '))
               AS h
      FROM documents
    ),
    g AS (SELECT h, count(*) AS c FROM d GROUP BY h)
    SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT)
             AS n_multiset_dup_pairs,
           CAST(0 AS BIGINT) AS n_missed_multiset_dups,
           CAST(0 AS BIGINT) AS n_bad_rows
    FROM g
    """,
)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit token-vote fingerprint, 16-bit band
    blocking, hamming<=3), driver-checkable via DERIVED deterministic
    properties (xxhash64 is not reproducible in DuckDB, so — like
    ext_dedup_minhash — the oracle asserts invariants that must hold
    exactly):

      - n_multiset_dup_pairs: doc pairs with IDENTICAL token multisets
        (md5 of the sorted token list) — computed independently by both
        engines, so this one is a genuine cross-engine value. Identical
        multisets produce identical bit votes, hence identical simhash,
        hence hamming 0.
      - n_missed_multiset_dups: such pairs absent from the simhash output.
        Hamming 0 collides on EVERY band, so recall for multiset dups is
        deterministically 1.0 regardless of the hash seed — always 0.
      - n_bad_rows: structural violations in the pair output — hamming
        outside [0, 3], un-ordered pair (id_a >= id_b), or duplicate rows.

    The multiset invariant is vacuous below sf0.1 (the fixture has no
    identical-multiset pairs there; sf0.1 has 8) — the structural checks
    still bind, and the cross-engine count matches at every SF.
    """
    docs = t(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(docs).persist()
    hd = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.split(
                        F.lower(
                            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
                        ),
                        " ",
                    )
                ),
            )
        ).alias("h"),
    )
    dup_pairs = (
        hd.alias("x")
        .join(
            hd.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .persist()
    )
    n_dup = dup_pairs.agg(
        F.count("*").cast("long").alias("n_multiset_dup_pairs")
    )
    missed = dup_pairs.join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).agg(F.count("*").cast("long").alias("n_missed_multiset_dups"))
    bad = pairs.agg(
        (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("hamming") < 0)
                        | (F.col("hamming") > 3)
                        | (F.col("id_a") >= F.col("id_b")),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            + (
                F.count("*")
                - F.count_distinct(F.struct("id_a", "id_b"))
            )
        )
        .cast("long")
        .alias("n_bad_rows")
    )
    return n_dup.crossJoin(missed).crossJoin(bad)


SIM_CTE = """
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
"""

# corpus-size-derived sign-bucket width — MUST stay formula-identical to
# operators/similarity.auto_bits (target bucket 64, floor 2, cap dim)
BITS_CTE = """
bw AS (SELECT least(CAST(max(len(e)) AS INT),
                    greatest(2, CAST(ceil(log2(count(*) / 64.0)) AS INT)))
                 AS bits
       FROM v),
vb AS (SELECT vec_id, e,
              list_sum(list_transform(range(1, (SELECT bits FROM bw) + 1),
                       j -> CASE WHEN e[CAST(j AS INT)] > 0
                                 THEN 1 << (CAST(j AS INT) - 1)
                                 ELSE 0 END)) AS bucket
       FROM v)
"""


@q(
    "ext_sim_topk",
    f"""
    WITH {SIM_CTE},
    q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id % 50 = 0),
    s AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_inner_product(q.e, c.e) /
               (sqrt(list_inner_product(q.e, q.e)) *
                sqrt(list_inner_product(c.e, c.e))) AS sim
      FROM q JOIN v c ON c.vec_id <> q.query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id ASC) AS rn
          FROM s)
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim,
           CAST(rn AS INT) AS rank
    FROM r WHERE rn <= 10
    """,
)
def ext_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for every 50th vector as query."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    return brute_force_topk(queries, corpus, k=10)


@q(
    "ext_matryoshka_recall",
    f"""
    WITH {SIM_CTE},
    dims AS (SELECT unnest([16, 32]) AS dim),
    q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id % 50 = 0),
    full_s AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_inner_product(q.e, c.e) /
               (sqrt(list_inner_product(q.e, q.e)) *
                sqrt(list_inner_product(c.e, c.e))) AS sim
      FROM q JOIN v c ON c.vec_id <> q.query_id
    ),
    full_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM full_s
      ) WHERE rn <= 10
    ),
    trunc_s AS (
      SELECT d.dim, q.query_id, c.vec_id AS neighbor_id,
             list_inner_product(q.e[1:d.dim], c.e[1:d.dim]) /
               (sqrt(list_inner_product(q.e[1:d.dim], q.e[1:d.dim])) *
                sqrt(list_inner_product(c.e[1:d.dim], c.e[1:d.dim]))) AS sim
      FROM dims d, q JOIN v c ON c.vec_id <> q.query_id
    ),
    trunc_top AS (
      SELECT dim, query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY dim, query_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM trunc_s
      ) WHERE rn <= 10
    ),
    per_query AS (
      SELECT t.dim, t.query_id, count(f.neighbor_id) AS n_hit
      FROM trunc_top t
      LEFT JOIN full_top f
        ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
      GROUP BY t.dim, t.query_id
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_hit) AS BIGINT) AS n_overlap,
           round(CAST(sum(n_hit) AS DOUBLE) / (10.0 * count(*)), 4)
             AS recall_at_10
    FROM per_query GROUP BY dim
    """,
)
def ext_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit (Kusupati et al. 2022,
    arXiv:2205.13147): rank by cosine over only the FIRST d dimensions and
    measure recall@10 against the full-dimension exact top-10 — the
    operational question behind serving truncated embeddings (d-dim index
    = d/64 of the memory and FLOPs; this op tells you what recall that
    buys on YOUR corpus before you commit the index build).

    Plan shape: the query set is tiny (every 50th vector) and broadcast;
    the corpus streams once per probe dim through the same
    broadcast-join + per-query heap as ext_sim_topk (no shuffle carries
    more than n_queries x k rows); truncation is a map-side F.slice. The
    fixture's random embeddings give a low-recall floor — the point of
    the audit is the measurement machinery, pinned exactly against DuckDB
    list-slice cosines at two probe dims."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        brute_force_topk,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    full_top = brute_force_topk(queries, corpus, k=10).select(
        "query_id", F.col("neighbor_id").alias("f_neighbor")
    )
    per_dim = []
    for dim in (16, 32):
        t_top = brute_force_topk(
            queries.select(
                "query_id", F.slice("qvec", 1, dim).alias("qvec")
            ),
            corpus.select(
                "neighbor_id", F.slice("cvec", 1, dim).alias("cvec")
            ),
            k=10,
        ).select(
            F.col("query_id").alias("t_query"),
            F.col("neighbor_id").alias("t_neighbor"),
        )
        hits = (
            t_top.join(
                full_top,
                (F.col("t_query") == F.col("query_id"))
                & (F.col("t_neighbor") == F.col("f_neighbor")),
                "left",
            )
            .groupBy("t_query")
            .agg(F.count("f_neighbor").alias("n_hit"))
        )
        per_dim.append(
            hits.agg(
                F.lit(dim).cast("long").alias("dim"),
                F.count("*").cast("long").alias("n_queries"),
                F.sum("n_hit").cast("long").alias("n_overlap"),
                F.round(
                    F.sum("n_hit").cast("double")
                    / (F.lit(10.0) * F.count("*")),
                    4,
                ).alias("recall_at_10"),
            )
        )
    out = per_dim[0]
    for d in per_dim[1:]:
        out = out.unionByName(d)
    return out


@q(
    "ext_sim_ann_bucketed",
    f"""
    WITH {SIM_CTE},
    {BITS_CTE},
    q AS (SELECT vec_id AS query_id, e, bucket FROM vb WHERE vec_id % 50 = 0),
    s AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_inner_product(q.e, c.e) /
               (sqrt(list_inner_product(q.e, q.e)) *
                sqrt(list_inner_product(c.e, c.e))) AS sim
      FROM q JOIN vb c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id ASC) AS rn
          FROM s)
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim,
           CAST(rn AS INT) AS rank
    FROM r WHERE rn <= 10
    """,
)
def ext_sim_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-style ANN: sign-bit bucketing prunes candidates ~2^bits-fold,
    with bits derived from corpus size (auto_bits) so candidate volume stays
    ~linear as the corpus grows; at scale the bucket is the corpus partition
    key (partition pruning per query)."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    return bucketed_ann_topk(queries, corpus, k=10)


# Oracle shared by the trained-ANN audit trio (ext_sim_ivf_topk /
# ext_sim_pq_topk / ext_sim_ivfpq_topk): n_queries and n_result_rows are
# genuinely SQL-computed from the fixture; the violation counters are
# exact zeros by construction of the index (see _ann_audit_frame).
def _ann_audit_oracle(floor_note: str) -> str:
    return f"""
    -- {floor_note}
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(10 * count(*) AS BIGINT) AS n_result_rows,
           CAST(0 AS BIGINT) AS n_self_rows,
           CAST(0 AS BIGINT) AS n_dup_pairs,
           CAST(0 AS BIGINT) AS n_rank_violations,
           CAST(0 AS BIGINT) AS recall_floor_breach
    FROM embeddings WHERE vec_id % 50 = 0
    """


def _ann_audit_frame(
    ann: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    floor_pct: int,
    rank_col: str | None = None,
) -> DataFrame:
    """One-row derived-invariant audit of a trained-ANN result — the
    ext_dedup_minhash pattern: the engine-specific index (trained cells /
    codebooks) is not SQL-expressible, but these properties of its output
    are exact, so a driver hash-check on them is a real correctness gate:

      n_queries / n_result_rows — every query returns exactly k=10 rows
        (probed cells always hold >= k candidates on this fixture; both
        counts are INDEPENDENTLY computed by the SQL oracle from the
        parquet), so a broken probe/shortlist stage shows up as a count
        mismatch.
      n_self_rows — the operators exclude the query vector itself; any
        self row means the candidate filter broke.
      n_dup_pairs — (query, neighbor) pairs must be unique; duplicates
        mean a cell/bucket union double-counted a candidate.
      n_rank_violations — when the result carries a rank column, each
        query's ranks must be exactly 1..10 (sum 55, count 10).
      recall_floor_breach — aggregate recall@10 vs EXACT brute force
        (computed live, two independent code paths) must meet the floor
        measured for this deterministic index across sfs; a regressed
        assignment/refine stage trips this.
    """
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        brute_force_topk,
    )

    exact = brute_force_topk(queries, corpus, k=10).select(
        "query_id", "neighbor_id"
    )
    a = ann.select("query_id", "neighbor_id", *( [rank_col] if rank_col else []))
    base = a.agg(
        F.count("*").alias("n_result_rows"),
        F.coalesce(
            F.sum(
                F.when(F.col("query_id") == F.col("neighbor_id"), 1)
                .otherwise(0)
            ),
            F.lit(0),
        ).alias("n_self_rows"),
    )
    dups = (
        a.groupBy("query_id", "neighbor_id")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count("*").alias("n_dup_pairs"))
    )
    if rank_col is not None:
        ranks = (
            a.groupBy("query_id")
            .agg(
                F.sum(rank_col).alias("rank_sum"),
                F.count("*").alias("nk"),
            )
            .filter((F.col("rank_sum") != 55) | (F.col("nk") != 10))
            .agg(F.count("*").alias("n_rank_violations"))
        )
    else:
        ranks = a.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("n_rank_violations")
        )
    nq = queries.agg(F.count("*").alias("n_queries"))
    hitrow = exact.join(
        a.select("query_id", "neighbor_id").dropDuplicates(),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).agg(F.count("*").alias("n_hits"))
    tot = exact.agg(F.count("*").alias("n_exact"))
    return (
        nq.crossJoin(base)
        .crossJoin(dups)
        .crossJoin(ranks)
        .crossJoin(hitrow)
        .crossJoin(tot)
        .select(
            "n_queries",
            "n_result_rows",
            "n_self_rows",
            "n_dup_pairs",
            "n_rank_violations",
            (F.col("n_hits") * 100 < F.col("n_exact") * floor_pct)
            .cast("long")
            .alias("recall_floor_breach"),
        )
    )


@q(
    "ext_sim_ivf_topk",
    _ann_audit_oracle("IVF n_probe=2/8: measured recall 0.50-0.56, floor 35%"),
)
def ext_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF ANN top-k: deterministic spherical k-means cells
    (quantized centroids), queries probe their 2 nearest of 8 cells — the
    production ANN shape where cells are the corpus partition key. Each
    run trains the index once, on a bounded sample in one Spark job, and
    memoizes it for the rest of the run; training is deterministic, so
    every run builds bit-identical cells. Output is the one-row
    derived-invariant audit (_ann_audit_frame): exact result-shape counts
    the oracle recomputes from the fixture, plus violation counters (self
    rows, duplicate pairs, rank gaps, recall-vs-brute-force floor) that
    are exact zeros.
    The raw top-k row surface stays pinned by
    tests/test_dedup_similarity.py::test_ivf_topk_recall_against_exact."""
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        source_fingerprint,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    ann = ivf_topk(
        queries, corpus, k=10, n_centroids=8, n_probe=2,
        cache_key=source_fingerprint(sf_dir, "embeddings"),
    )
    return _ann_audit_frame(ann, queries, corpus, floor_pct=35, rank_col="rank")


@q(
    "ext_embedding_near_dup",
    f"""
    WITH {SIM_CTE},
    {BITS_CTE}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.e, b.e) /
             (sqrt(list_inner_product(a.e, a.e)) *
              sqrt(list_inner_product(b.e, b.e))), 6) AS cosine_sim
    FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_inner_product(a.e, b.e) /
             (sqrt(list_inner_product(a.e, a.e)) *
              sqrt(list_inner_product(b.e, b.e))), 6) >= 0.35
    """,
)
def ext_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within sign buckets
    (corpus-size-derived bucket width keeps candidate volume ~linear)."""
    return embedding_near_dups(t(spark, sf_dir, "embeddings"), threshold=0.35)


@q(
    "ext_embedding_quantize",
    f"""
    WITH {SIM_CTE},
    stats AS (
      SELECT vec_id, e,
             greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max'),
                      1e-12) AS max_abs
      FROM v
    ),
    quant AS (
      SELECT vec_id, e, max_abs,
             list_transform(e, x -> CAST(round(x * 127.0 / max_abs, 0) AS INT))
               AS q
      FROM stats
    )
    SELECT vec_id,
           round(max_abs, 6) AS scale_max_abs,
           list_aggregate(q, 'min') AS q_min,
           list_aggregate(q, 'max') AS q_max,
           round(sqrt(list_aggregate(list_transform(
               list_zip(e, q),
               p -> pow(p[1] - p[2] * max_abs / 127.0, 2)), 'sum')
             / len(e)), 6) AS rmse
    FROM quant
    """,
)
def ext_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of embeddings (per-vector absmax scale)
    plus reconstruction RMSE — the storage transform that shrinks a 100 TB
    float32 embedding corpus 4x. All JVM array expressions."""
    e = t(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", vec.alias("e"))
    stats = base.withColumn(
        "max_abs",
        F.greatest(
            F.array_max(F.transform("e", lambda x: F.abs(x))), F.lit(1e-12)
        ),
    )
    quant = stats.withColumn(
        "q",
        F.transform(
            "e", lambda x: F.round(x * 127.0 / F.col("max_abs"), 0).cast("int")
        ),
    )
    err_sq = F.aggregate(
        F.zip_with(
            "e",
            "q",
            lambda x, qv: F.pow(x - qv * F.col("max_abs") / F.lit(127.0), 2),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return quant.select(
        "vec_id",
        F.round("max_abs", 6).alias("scale_max_abs"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.round(F.sqrt(err_sq / F.size("e")), 6).alias("rmse"),
    )


@q(
    "ext_bm25_search",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM toks WHERE term IN ('join', 'filter', 'merge')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               AS contrib
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    )
    SELECT doc_id, round(sum(contrib), 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 15
    """,
)
def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 for the query bag {join, filter, merge}: the exact
    lexical-ranking half of a retrieval pipeline (embedding ANN is the other
    half), scored fully JVM-side with query-term filtering before any
    aggregation."""
    return bm25_topk(
        t(spark, sf_dir, "documents"), ["join", "filter", "merge"], k=15
    )


@q(
    "ext_text_quality",
    f"""
    WITH d AS (SELECT doc_id, {NORM} AS t FROM documents),
    m AS (
      SELECT doc_id, t,
             CAST(len(string_split(t, ' ')) AS INT) AS n_tokens,
             CAST(len(regexp_extract_all(t, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
                  AS INT) AS n_bpe_tokens,
             CAST(length(t) AS INT) AS n_chars_norm,
             (length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')))
               / greatest(length(t), 1) AS punct_ratio,
             CAST(len(list_filter(string_split(t, ' '),
                  w -> w IN ('the','a','of','and','to','in','is','on'))) AS INT)
               AS n_stopwords
      FROM d
    )
    SELECT doc_id, n_tokens, n_bpe_tokens, n_chars_norm,
           round(punct_ratio, 6) AS punct_ratio,
           n_stopwords,
           round(n_stopwords / greatest(n_tokens, 1), 6) AS stopword_ratio,
           round(0.5 * least(n_tokens / 200.0, 1.0)
                 + 0.3 * least(n_stopwords / greatest(n_tokens, 1) * 5, 1.0)
                 + 0.2 * (1.0 - punct_ratio), 6) AS quality_score
    FROM m
    """,
)
def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring (length/punct/stopword signals)."""
    return text_metrics(t(spark, sf_dir, "documents"))


_MARKER_SQL = {
    "en": "('the','and','of','is','a')",
    "es": "('el','la','los','que','y')",
    "fr": "('le','les','des','est','et')",
    "de": "('der','die','das','und','ist')",
}
_COUNTS = ",\n             ".join(
    f"CAST(len(list_filter(string_split(t, ' '), w -> w IN {m})) AS INT) AS n_{l}"
    for l, m in _MARKER_SQL.items()
)


@q(
    "ext_lang_id",
    f"""
    WITH d AS (SELECT doc_id, lang AS labeled_lang, {NORM} AS t FROM documents),
    m AS (
      SELECT doc_id, labeled_lang,
             {_COUNTS}
      FROM d
    ),
    p AS (
      SELECT *, greatest(n_en, n_es, n_fr, n_de) AS mx FROM m
    )
    SELECT doc_id, labeled_lang, n_en, n_es, n_fr, n_de,
           CASE WHEN mx <= 0 THEN 'und'
                WHEN n_en = mx THEN 'en'
                WHEN n_es = mx THEN 'es'
                WHEN n_fr = mx THEN 'fr'
                ELSE 'de' END AS predicted_lang,
           (CASE WHEN mx <= 0 THEN 'und'
                 WHEN n_en = mx THEN 'en'
                 WHEN n_es = mx THEN 'es'
                 WHEN n_fr = mx THEN 'fr'
                 ELSE 'de' END) = labeled_lang AS agree
    FROM p
    """,
)
def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic; first-language-wins tie-break."""
    return lang_id(t(spark, sf_dir, "documents"))


@q(
    "ext_fingerprint",
    f"""
    WITH d AS (SELECT doc_id, {NORM} AS t FROM documents)
    SELECT doc_id,
           md5(t) AS fp,
           md5(substr(t, 1, 100)) AS fp_prefix,
           CAST(ceil(length(t) / 64.0) AS INT) AS n_chunks,
           md5(substr(t, 1, 64)) AS fp_chunk0
    FROM d
    """,
)
def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole/prefix/chunk md5 fingerprints."""
    return fingerprints(t(spark, sf_dir, "documents"))


@q(
    "ext_multimodal_cols",
    """
    WITH m AS (
      SELECT doc_id, text,
             ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]
               AS media_type,
             CAST(4 + doc_id % 5 AS INT) AS w,
             CAST(3 + doc_id % 4 AS INT) AS h,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS INT)
               AS rate,
             CAST(40 + doc_id % 57 AS INT) AS n_samp,
             CAST(4 + doc_id % 4 AS INT) AS vw,
             CAST(3 + doc_id % 3 AS INT) AS vh,
             CAST(3 + doc_id % 4 AS INT) AS vn
      FROM documents
    )
    SELECT m.doc_id, m.media_type,
           CAST(CASE WHEN m.media_type = 'image'
                THEN 54 + m.h * ((3 * m.w + 3) // 4 * 4)
                WHEN m.media_type = 'audio'
                THEN 44 + 2 * m.n_samp
                ELSE 224 + m.vn * (8 + m.vh * ((3 * m.vw + 3) // 4 * 4))
                END AS BIGINT) AS n_bytes,
           CASE WHEN m.media_type = 'image' THEN m.w
                WHEN m.media_type = 'video' THEN m.vw ELSE NULL END AS width,
           CASE WHEN m.media_type = 'image' THEN m.h
                WHEN m.media_type = 'video' THEN m.vh ELSE NULL END AS height,
           CASE WHEN m.media_type = 'image'
                THEN 3 * list_aggregate(flatten(list_transform(
                       range(0, m.h), y -> list_transform(range(0, m.w),
                         x -> (m.doc_id * 31 + 7 * x + 13 * y) % 256))),
                       'sum')
                     / (3 * m.w * m.h)
                WHEN m.media_type = 'video'
                THEN 3 * list_aggregate(flatten(list_transform(
                       range(0, m.vn), f -> flatten(list_transform(
                         range(0, m.vh), y -> list_transform(range(0, m.vw),
                           x -> (m.doc_id * 31 + 7 * x + 13 * y + 19 * f)
                                % 256))))),
                       'sum')
                     / (3 * m.vw * m.vh * m.vn)
                ELSE NULL END AS mean_pixel,
           CASE WHEN m.media_type = 'audio' THEN m.rate
                ELSE NULL END AS sample_rate,
           CASE WHEN m.media_type = 'audio' THEN m.n_samp
                ELSE NULL END AS n_samples,
           CASE WHEN m.media_type = 'audio'
                THEN list_aggregate(list_transform(range(0, m.n_samp),
                       i -> abs((m.doc_id * 37 + 17 * i) % 4096 - 2048)),
                       'sum')
                     / m.n_samp
                ELSE NULL END AS mean_abs_amp,
           CASE WHEN m.media_type = 'video' THEN m.vn
                ELSE NULL END AS n_frames,
           CASE WHEN m.media_type = 'video' THEN CAST(10.0 AS DOUBLE)
                ELSE NULL END AS fps,
           round(sqrt(list_aggregate(list_transform(e.embedding::DOUBLE[],
               x -> x * x), 'sum')), 6) AS emb_l2_norm
    FROM m JOIN embeddings e ON e.vec_id = m.doc_id
    """,
)
def ext_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row: image docs carry a REAL rendered BMP payload that the
    Arrow-batched feature stage actually parses (header + bottom-up padded
    pixel rows -> width/height/mean_pixel); audio docs carry a REAL
    RIFF/WAVE 16-bit PCM payload parsed back chunk-by-chunk
    (-> sample_rate/n_samples/mean_abs_amp); video docs carry a REAL
    uncompressed RIFF/AVI container whose chunk tree is walked back
    (avih header + raw-DIB frame chunks -> width/height/n_frames/fps/
    mean_pixel over all frames); joined with the doc's embedding (text +
    vector + media side by side). The oracle predicts every decoded
    feature in closed form from the deterministic pixel/sample/frame
    functions — including the exact AVI container byte size."""
    docs = t(spark, sf_dir, "documents")
    feats = extract_media_features(attach_media(docs))
    emb = t(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    norms = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(vec, lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("emb_l2_norm"),
    )
    return feats.join(norms, on="doc_id")


# DuckDB mirror of sampling.content_bucket (parity proven by the oracles):
# int value of the first 8 md5 hex chars, mod 100.
BUCKET = f"CAST(('0x' || substr(md5({NORM}), 1, 8)) AS BIGINT) % 100"


@q(
    "ext_stratified_sample",
    f"""
    SELECT doc_id, lang, source,
           CAST({BUCKET} AS BIGINT) AS bucket
    FROM documents
    WHERE {BUCKET} < CASE lang WHEN 'en' THEN 40 WHEN 'es' THEN 80
                               ELSE 100 END
    ORDER BY doc_id
    """,
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (training-corpus rebalancing):
    keep 40% of English, 80% of Spanish, all other languages, gated on a
    content hash so membership is reproducible across runs, engines, and
    re-partitionings (operators/sampling.py rationale). The oracle checks
    exact per-document membership, not just counts. Map-only: no shuffle
    at any corpus size."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        stratified_sample,
    )

    docs = t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs,
        normalize_text(F.col("text")),
        F.col("lang"),
        {"en": 40, "es": 80},
    )
    return sampled.select("doc_id", "lang", "source", "bucket").orderBy(
        "doc_id"
    )


@q(
    "ext_train_val_split",
    f"""
    WITH s AS (
      SELECT lang, n_chars,
             CASE WHEN {BUCKET} < 90 THEN 'train'
                  WHEN {BUCKET} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY lang, split
    """,
)
def ext_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) by content hash —
    duplicate texts can never straddle the eval boundary, unlike RNG- or
    id-based splits (the standard eval-contamination bug). Returns the
    per-(lang, split) doc and char totals; the split expression itself is
    a pure map, the only shuffle is the report's own aggregation."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        train_val_test_split,
    )

    docs = t(spark, sf_dir, "documents")
    labeled = train_val_test_split(docs, normalize_text(F.col("text")))
    return labeled.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@q(
    "ext_corpus_mix",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 2 ELSE 0 END
                  + CASE WHEN {BUCKET} <
                              CASE source WHEN 'src0' THEN 50
                                          WHEN 'src1' THEN 0 ELSE 50 END
                         THEN 1 ELSE 0 END AS INT) AS n_copies
      FROM documents
    )
    SELECT doc_id, source, n_copies,
           CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy_n
    FROM w WHERE n_copies > 0
    """,
)
def ext_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing (training-mixture assembly): 2.5 epochs of
    src0, 2 of src1, 0.5 of everything else — whole epochs replicate every
    doc, fractional epochs keep a deterministic content-hash subset
    (operators/sampling.py). The oracle checks exact instance-level output
    (doc x copy_n). JVM-side explode(sequence(...)), map-only."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        weighted_mix,
    )

    docs = t(spark, sf_dir, "documents")
    mixed = weighted_mix(
        docs,
        normalize_text(F.col("text")),
        F.col("source"),
        {"src0": 2.5, "src1": 2.0},
        default_epochs=0.5,
    )
    return mixed.select("doc_id", "source", "n_copies", "copy_n")


@q(
    "ext_seq_packing",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(({BUCKET}) % 8 AS BIGINT) AS shard,
             CAST(len(string_split({NORM}, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, shard, n_tokens,
           CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY lang, shard
                                               ORDER BY doc_id)
                           - n_tokens AS DOUBLE) / 256) AS BIGINT) AS pack_id
    FROM d
    """,
)
def ext_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token training windows, sharded by
    (lang, content-hash shard) so the inherently-sequential cumsum runs as
    parallel bounded-state windows instead of a global sort — shard maps to
    an output file, pack_id to a row group within it. Exact doc->pack
    membership is oracle-checked."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
        pack_sequences,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import ws_tokens

    docs = t(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    sharded = docs.withColumn("shard", F.pmod(content_bucket(norm), F.lit(8)))
    packed = pack_sequences(
        sharded,
        F.size(ws_tokens(norm)).cast("bigint"),
        [F.col("lang"), F.col("shard")],
        F.col("doc_id"),
        seq_len=256,
    )
    return packed.select("doc_id", "lang", "shard", "n_tokens", "pack_id")


@q(
    "ext_decontaminate",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN {BUCKET} < 90 THEN 'train'
                  WHEN {BUCKET} < 95 THEN 'val'
                  ELSE 'test' END AS split,
             string_split({NORM}, ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
                 range(1, greatest(len(w) - 2, 1) + 1),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sg
      FROM d
    ),
    ev AS (
      SELECT sg, count(DISTINCT doc_id) AS n_eval_docs
      FROM sh WHERE split != 'train' GROUP BY sg
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shared_shingles,
           CAST(sum(e.n_eval_docs) AS BIGINT) AS eval_doc_hits
    FROM sh s JOIN ev e USING (sg)
    WHERE s.split = 'train'
    GROUP BY s.doc_id
    HAVING count(*) >= 2
    """,
)
def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: train docs sharing >=2 word-3-gram shingles
    with the content-hash val/test split (exact dups already can't straddle
    the split; this catches near-dups and quotations). Held-out side
    collapses to distinct (shingle, eval-doc-count) before the join — the
    shuffle carries eval-sized data, never an all-pairs comparison."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        decontaminate,
    )

    # split labels derive from the shingle frame's content-hash bucket —
    # same md5 expression as train_val_test_split, no second pass over raw
    # text. Persisted: the operator's train and eval legs both explode it.
    sh = shingled_documents(spark, sf_dir, unit="word", k=3).select(
        "doc_id",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
        .alias("split"),
        "shingles",
    ).persist()
    return decontaminate(sh)


@q(
    "ext_seq_packing_split",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(({BUCKET}) % 8 AS BIGINT) AS shard,
             CAST(len(string_split({NORM}, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT *,
             CAST(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id)
                  - n_tokens AS BIGINT) AS tok_start
      FROM d
    ),
    e AS (
      SELECT doc_id, lang, shard, n_tokens, tok_start,
             unnest(range(tok_start // 256,
                          (tok_start + n_tokens - 1) // 256 + 1)) AS p
      FROM c
    )
    SELECT doc_id, lang, shard, n_tokens,
           CAST(p AS BIGINT) AS pack_id,
           CAST(p - (tok_start // 256) + 1 AS INT) AS chunk_n,
           CAST(least((p + 1) * 256, tok_start + n_tokens)
                - greatest(p * 256, tok_start) AS BIGINT) AS chunk_tokens
    FROM e
    """,
)
def ext_seq_packing_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-aware packing (ROADMAP 11a closed): docs split at 256-token
    window boundaries so every non-final pack per shard is exactly full —
    chunk-level doc->pack->chunk_tokens membership is oracle-exact. Same
    sharded-cumsum scale shape as ext_seq_packing (no global sort; the
    explode is bounded by ceil(n_tokens/seq_len)+1 chunks per doc)."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
        pack_sequences_split,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import ws_tokens

    docs = t(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    sharded = docs.withColumn("shard", F.pmod(content_bucket(norm), F.lit(8)))
    packed = pack_sequences_split(
        sharded,
        F.size(ws_tokens(norm)).cast("bigint"),
        [F.col("lang"), F.col("shard")],
        F.col("doc_id"),
        seq_len=256,
    )
    return packed.select(
        "doc_id", "lang", "shard", "n_tokens", "pack_id", "chunk_n",
        "chunk_tokens",
    )


def _sim_inputs(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    return queries, corpus


@q(
    "ext_sim_pq_topk",
    _ann_audit_oracle("flat PQ + exact rerank: measured recall 0.66-0.87, floor 60%"),
)
def ext_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k + exact re-rank: 64-dim vectors
    compress to 16 subspace codes against driver-trained (deterministic,
    fingerprint-memoized) codebooks; candidate scoring is m table lookups
    instead of a 64-wide dot product, and only the top-4k ADC shortlist
    touches true vectors — the memory tier of a trillion-vector index.
    Output is the one-row derived-invariant audit (_ann_audit_frame);
    raw row surface pinned by
    tests/test_dedup_similarity.py::test_pq_topk_recall_and_determinism."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import pq_topk
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        source_fingerprint,
    )

    queries, corpus = _sim_inputs(spark, sf_dir)
    ann = pq_topk(
        queries, corpus, k=10,
        cache_key=source_fingerprint(sf_dir, "embeddings"),
    )
    return _ann_audit_frame(ann, queries, corpus, floor_pct=60)


@q(
    "ext_sim_ivfpq_topk",
    _ann_audit_oracle("IVF-PQ n_probe=4/8 residual: measured recall 0.45-0.68, floor 35%"),
)
def ext_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding + exact re-rank — the full production
    ANN layout (cells prune the scan, residual PQ codes are the in-memory
    tier, the refine stage touches true vectors for 4k candidates per
    query). Cells, codebooks, and re-rank are all deterministic and
    fingerprint-memoized. Output is the one-row derived-invariant audit
    (_ann_audit_frame); clustered-regime recall pinned by
    tests/test_dedup_similarity.py::test_ivfpq_recall_on_clustered_corpus."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        source_fingerprint,
    )

    queries, corpus = _sim_inputs(spark, sf_dir)
    ann = ivf_pq_topk(
        queries, corpus, k=10, n_probe=4,
        cache_key=source_fingerprint(sf_dir, "embeddings"),
    )
    return _ann_audit_frame(ann, queries, corpus, floor_pct=35)


# PII fixture suffix: deterministic per-doc synthetic identifiers (the
# corpus itself is PII-free), constructed with the SAME expression in both
# engines so the scrub regexes are exercised on real matches.
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
    " || CAST((doc_id * 7) % 256 AS VARCHAR)"
)


@q(
    "ext_pii_scrub",
    f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || {_PII_SUFFIX_SQL}
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '\\+\\d{{1,2}}-\\d{{3}}-\\d{{4}}'))
             AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t,
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
             AS INT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>',
             'g'), '\\+\\d{{1,2}}-\\d{{3}}-\\d{{4}}', '<PHONE>', 'g'),
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
             '<IP>', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def ext_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails / phones / IPv4s -> typed mask tokens) +
    per-document audit counts. The corpus is PII-free by construction, so
    a deterministic synthetic identifier suffix is attached to every third
    document IN BOTH ENGINES — the oracle compares real redactions
    (md5 of the scrubbed text), not a no-op. Map-only: scales as a pure
    projection at any corpus size."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        pii_counts,
        scrub_pii,
    )

    d = t(spark, sf_dir, "documents")
    suffix = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    aug = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), suffix))
        .otherwise(F.col("text"))
        .alias("t"),
    )
    n_emails, n_phones, n_ips = pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        F.md5(scrub_pii(F.col("t"))).alias("scrubbed_md5"),
    )


@q(
    "ext_repetition_filter",
    f"""
    WITH d AS (
      SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                            i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS grams
      FROM d
    ),
    tg AS (
      SELECT doc_id, max(c) AS top_gram_count FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
        GROUP BY doc_id, gram
      ) GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
           round(1.0 - len(list_distinct(grams)) / len(grams), 6)
             AS dup_gram_fraction,
           CAST(tg.top_gram_count AS BIGINT) AS top_gram_count
    FROM g JOIN tg ON g.doc_id = tg.doc_id
    """,
)
def ext_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition metrics (Gopher/RefinedWeb repetition
    rule): duplicated word-3-gram fraction + most-repeated-gram count per
    document — the filter that drops boilerplate / keyword-stuffed /
    degenerate-generation documents before training."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        repetition_metrics,
    )

    return repetition_metrics(t(spark, sf_dir, "documents"))


@q(
    "ext_doc_chunking",
    f"""
    WITH d AS (
      SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
    ),
    n AS (
      SELECT doc_id, w, len(w) AS n_tokens,
             CAST(1 + CASE WHEN len(w) > 32
                           THEN (len(w) - 32 + 23) // 24 ELSE 0 END
                  AS BIGINT) AS n_chunks
      FROM d
    ),
    c AS (
      SELECT doc_id, w, n_tokens,
             unnest(range(0, n_chunks)) AS chunk_id
      FROM n
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * 24 AS BIGINT) AS start_tok,
           CAST(len(list_slice(w, chunk_id * 24 + 1, chunk_id * 24 + 32))
                AS INT) AS n_chunk_tokens,
           md5(array_to_string(
               list_slice(w, chunk_id * 24 + 1, chunk_id * 24 + 32), ' '))
             AS chunk_md5
    FROM c
    """,
)
def ext_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware overlapping chunking (window 32 tokens, stride 24 —
    8-token overlap, sized to the fixture docs; production uses e.g. 512/384): the windowing pass that feeds embedding models and
    RAG indexes, distinct from sequence PACKING (packing concatenates docs
    into fixed windows; chunking splits one doc into overlapping views).
    Map-only with a bounded explode (ceil(n/stride) chunks per doc); the
    oracle pins exact chunk boundaries AND content (md5 of each chunk's
    token span)."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    size, stride = 32, 24
    d = t(spark, sf_dir, "documents").select(
        "doc_id", ws_tokens(normalize_text(F.col("text"))).alias("w")
    )
    n = F.size("w")
    n_chunks = (
        F.lit(1)
        + F.when(
            n > size, F.floor((n - size + (stride - 1)) / F.lit(stride))
        ).otherwise(F.lit(0))
    ).cast("bigint")
    c = d.withColumn("n_chunks", n_chunks).withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1))
    )
    chunk = F.slice(F.col("w"), F.col("chunk_id") * stride + 1, size)
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.col("chunk_id") * stride).cast("bigint").alias("start_tok"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


# deterministic synthetic URL per document (same expression in both engines
# — the ext_pii_scrub synthetic-identifier convention): scheme/WWW/port/query
# /fragment variations exercise every canonicalization step on real rows
_URL_SQL = (
    "(CASE doc_id % 3 WHEN 0 THEN 'HTTPS://' WHEN 1 THEN 'https://' "
    "ELSE 'http://' END) || "
    "(CASE WHEN doc_id % 2 = 0 THEN 'WWW.' || upper(source) ELSE source END) "
    "|| '.Example.COM' || "
    "(CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) || "
    "'/docs/' || CAST(doc_id AS VARCHAR) || "
    "(CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed' WHEN 1 THEN '/' "
    "WHEN 2 THEN '#s2' ELSE '' END)"
)


@q(
    "ext_domain_caps",
    f"""
    WITH u AS (
      SELECT doc_id, text, {_URL_SQL} AS url FROM documents
    ),
    c AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(lower(
               regexp_extract(
                 regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                 '^([^/]*)', 1)),
               '^www\\.', ''), ':[0-9]+$', '') AS domain
      FROM u
    )
    SELECT doc_id, domain,
           CAST(row_number() OVER (
             PARTITION BY domain ORDER BY md5({NORM}), doc_id) AS INT)
             AS dom_rank,
           (row_number() OVER (
             PARTITION BY domain ORDER BY md5({NORM}), doc_id)) <= 20 AS kept
    FROM c
    """,
)
def ext_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-domain document caps (the RefinedWeb-style
    source-balancing pass: no single host may dominate the corpus). URLs are
    synthesized deterministically from (source, doc_id) — scheme case, WWW.,
    :port, query, fragment and trailing-slash variants all appear — then
    canonicalized by pure JVM expressions and capped at 20 docs/domain in
    content-hash priority order. Every row is emitted with its within-domain
    rank and kept flag (prefilter=False: the audit shape; the production
    kept-rows path with the map-side rank prefilter is plan-pinned in
    tests/test_scale_plans.py)."""
    from cdc_debezium_kafka_airflow_spark.operators.curation import (
        canonicalize_url,
        cap_per_domain,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text

    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://"))
        .when(F.col("doc_id") % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("http://")),
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.lit("WWW."), F.upper("source"))
        ).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 4 == 1, F.lit("/"))
        .when(F.col("doc_id") % 4 == 2, F.lit("#s2"))
        .otherwise(F.lit("")),
    )
    domain, _ = canonicalize_url(url)
    capped = cap_per_domain(
        d,
        domain,
        priority=[F.md5(normalize_text(F.col("text"))), F.col("doc_id")],
        cap=20,
        prefilter=False,  # audit shape: every row with its rank + kept flag
    )
    return capped.select("doc_id", "domain", "dom_rank", "kept")


@q(
    "ext_shuffle_shards",
    f"""
    WITH h AS (SELECT doc_id, md5({NORM}) AS h FROM documents)
    SELECT doc_id,
           CAST(CAST(('0x' || substr(h, 9, 8)) AS BIGINT) % 8 AS INT)
             AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substr(h, 9, 8)) AS BIGINT) % 8
             ORDER BY h, doc_id) AS INT) AS pos
    FROM h
    """,
)
def ext_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 training shards: content-hash
    shard assignment (hex window disjoint from the split bucket's, so shard
    and train/val/test membership are independent) + within-shard md5 order
    — the once-per-corpus randomization a training run streams through,
    reproducible on any engine and partition layout (orderBy(rand()) is
    neither)."""
    from cdc_debezium_kafka_airflow_spark.operators.curation import (
        shuffle_shards,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text

    d = t(spark, sf_dir, "documents")
    out = shuffle_shards(
        d, normalize_text(F.col("text")), F.col("doc_id"), n_shards=8
    )
    return out.select(
        "doc_id", F.col("shard").cast("int").alias("shard"), "pos"
    )


@q(
    "ext_semantic_dedup",
    """
    WITH d AS (
      SELECT a.vec_id, min(b.vec_id) AS dup_of
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND b.vec_id < a.vec_id
       AND round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.35
      GROUP BY a.vec_id
    )
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS cell,
           d.dup_of IS NULL AS kept, d.dup_of
    FROM embeddings e LEFT JOIN d ON e.vec_id = d.vec_id
    """,
)
def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each cluster cell
    (the fixture's ``label`` — at scale the IVF cell id the index pipeline
    assigns), a doc whose embedding has cosine >= 0.35 with a lower-id
    cell-mate is dropped in favor of that mate. Exact within-cell pairwise
    as one BLAS matmul per cell (applyInPandas); the oracle recomputes it
    relationally with DuckDB's list_cosine_similarity."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import semantic_dedup

    return semantic_dedup(t(spark, sf_dir, "embeddings"), threshold=0.35)


@q(
    "ext_decontaminate_bloom",
    ORACLES["ext_decontaminate"],  # bit-identical result, different plan
)
def ext_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ext_decontaminate`` through a broadcast-Bloom prefilter: the eval
    shingle set is built into a Bloom bitset driver-side (xxhash64 pairs,
    Kirsch-Mitzenmacher double hashing) and shipped in a vectorized pandas
    UDF that discards train shingles MAP-SIDE unless the filter says maybe.
    No false negatives, and survivors still pass the exact equi-join — so
    the output (and oracle) is identical to the plain join; only the join
    input shrinks from |train shingles| to |hits| + fp-rate x |train|. The
    runtime-filter pattern for decontaminating 100 TB of training text
    against benchmark suites."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        decontaminate_bloom,
    )

    # persisted for the same two-leg reason as ext_decontaminate
    sh = shingled_documents(spark, sf_dir, unit="word", k=3).select(
        "doc_id",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
        .alias("split"),
        "shingles",
    ).persist()
    return decontaminate_bloom(sh)


@q(
    "ext_vocab_topk",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({NORM}, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, count(*) AS n_occ FROM toks WHERE token <> ''
      GROUP BY token
    ),
    tot AS (SELECT CAST(sum(n_occ) AS DOUBLE) AS total FROM counts),
    top AS (
      SELECT token, n_occ,
             CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INT)
               AS vrank
      FROM counts
      QUALIFY vrank <= 100
    )
    SELECT vrank, token, n_occ,
           round(CAST(sum(n_occ) OVER (ORDER BY vrank) AS DOUBLE)
                 / (SELECT total FROM tot), 6) AS cum_coverage
    FROM top
    """,
)
def ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary builder (the tokenizer-training precursor): global token
    counts -> top-100 by (count, token) -> cumulative corpus coverage per
    rank. At 100 TB this is the canonical word-count: partial counts combine
    map-side, only distinct-token-sized data shuffles, the top-K is a heap
    (TakeOrderedAndProject), and the window runs over 100 rows on the
    driver-side tail — the corpus is never sorted."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(ws_tokens(normalize_text(F.col("text")))).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("n_occ"))
    total = counts.agg(F.sum("n_occ").cast("double").alias("t"))
    top = counts.orderBy(F.col("n_occ").desc(), "token").limit(100)
    w = Window.orderBy(F.col("n_occ").desc(), "token")
    ranked = top.withColumn("vrank", F.row_number().over(w)).withColumn(
        "_cum", F.sum("n_occ").over(w).cast("double")
    )
    return ranked.join(F.broadcast(total)).select(
        "vrank",
        "token",
        "n_occ",
        F.round(F.col("_cum") / F.col("t"), 6).alias("cum_coverage"),
    )


@q(
    "ext_dedup_incremental",
    f"""
    WITH fps AS (
      SELECT doc_id, md5({NORM}) AS fp, {BUCKET} AS bucket FROM documents
    ),
    u AS (
      SELECT doc_id, fp, (bucket >= 90) AS is_batch FROM fps
    ),
    j AS (
      SELECT doc_id, fp, is_batch,
             bool_or(NOT is_batch) OVER (PARTITION BY fp) AS in_corpus,
             min(CASE WHEN is_batch THEN doc_id END) OVER (PARTITION BY fp)
               AS batch_min_id
      FROM u
    )
    SELECT doc_id, fp,
           CASE WHEN in_corpus THEN 'dup_of_corpus'
                WHEN doc_id > batch_min_id THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM j WHERE is_batch
    """,
)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production ingestion path: an incoming batch
    (content-hash bucket >= 90, ~10% of the corpus) is checked against the
    EXISTING fingerprint index (the other 90%) and against itself, without
    ever comparing corpus docs to each other. Verdict per incoming doc:
    dup_of_corpus / dup_in_batch (a lower-id batch doc owns the fingerprint)
    / new.

    Plan: corpus fingerprints and batch rows union into ONE exchange keyed
    by fingerprint; per-fp corpus membership and the batch minimum arrive
    from the same window pass — no join node at all. At 100 TB the
    fingerprint index is stored bucketed by fp, so the daily batch
    co-locates against it with zero index-side shuffle and cost proportional
    to the BATCH, not the corpus."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    fps = d.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        (content_bucket(norm) >= 90).alias("is_batch"),
    )
    w = Window.partitionBy("fp")
    j = fps.withColumn(
        "in_corpus", F.max((~F.col("is_batch")).cast("int")).over(w) == 1
    ).withColumn(
        "batch_min_id",
        F.min(F.when(F.col("is_batch"), F.col("doc_id"))).over(w),
    )
    return j.filter("is_batch").select(
        "doc_id",
        "fp",
        F.when(F.col("in_corpus"), "dup_of_corpus")
        .when(F.col("doc_id") > F.col("batch_min_id"), "dup_in_batch")
        .otherwise("new")
        .alias("verdict"),
    )


@q(
    "ext_media_transform",
    """
    WITH im AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    imq AS (
      SELECT doc_id, 'image' AS media_type,
        CAST((doc_id*31) % 256 AS DOUBLE) AS q00,
        CAST((doc_id*31 + 7*(w//2)) % 256 AS DOUBLE) AS q01,
        CAST((doc_id*31 + 13*(h//2)) % 256 AS DOUBLE) AS q10,
        CAST((doc_id*31 + 7*(w//2) + 13*(h//2)) % 256 AS DOUBLE) AS q11
      FROM im
    ),
    au AS (
      SELECT doc_id, 40 + doc_id % 57 AS n
      FROM documents WHERE doc_id % 3 = 1
    ),
    s AS (
      SELECT doc_id, n, unnest(range(n)) AS i FROM au
    ),
    sv AS (
      SELECT doc_id, n, i, ((doc_id*37 + 17*i) % 4096) - 2048 AS v,
             lag(((doc_id*37 + 17*i) % 4096) - 2048)
               OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s
    ),
    dsp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN pv IS NOT NULL AND (v < 0) != (pv < 0)
                           THEN 1 ELSE 0 END) AS INT) AS zero_crossings,
             round(sqrt(sum(CAST(v AS DOUBLE) * v) / max(n)), 6) AS rms
      FROM sv GROUP BY doc_id
    ),
    vi AS (
      SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
             3 + doc_id % 4 AS n
      FROM documents WHERE doc_id % 3 = 2
    ),
    viq AS (
      SELECT doc_id, 'video' AS media_type,
        CAST((doc_id*31 + 19*(n//2)) % 256 AS DOUBLE) AS q00,
        CAST((doc_id*31 + 7*(w//2) + 19*(n//2)) % 256 AS DOUBLE) AS q01,
        CAST((doc_id*31 + 13*(h//2) + 19*(n//2)) % 256 AS DOUBLE) AS q10,
        CAST((doc_id*31 + 7*(w//2) + 13*(h//2) + 19*(n//2)) % 256 AS DOUBLE)
          AS q11
      FROM vi
    )
    SELECT doc_id, media_type, q00, q01, q10, q11,
           CAST(NULL AS INT) AS zero_crossings, CAST(NULL AS DOUBLE) AS rms
    FROM imq
    UNION ALL
    SELECT doc_id, 'audio', NULL, NULL, NULL, NULL, zero_crossings, rms
    FROM dsp
    UNION ALL
    SELECT doc_id, media_type, q00, q01, q10, q11,
           CAST(NULL AS INT), CAST(NULL AS DOUBLE)
    FROM viq
    """,
)
def ext_media_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> transform over real media bytes: images (actual BMP
    payloads) are nearest-neighbor resampled to a 2x2 grayscale thumbnail;
    audio (actual RIFF/WAVE PCM) gets zero-crossing count + RMS amplitude;
    video (actual RIFF/AVI containers) gets FRAME SAMPLING — the middle
    raw-DIB frame located by walking the chunk tree, then thumbnailed like
    the image path. The oracle re-derives every feature ANALYTICALLY from
    the deterministic generators, so a hash match proves the byte-level
    decode + resample / frame-sample / DSP round-trip — not just the
    arithmetic. (FFT features live in operators.multimodal.audio_spectrum,
    pytest-verified — no SQL FFT.)"""
    from cdc_debezium_kafka_airflow_spark.operators.multimodal import (
        attach_media,
        transform_media,
    )

    d = t(spark, sf_dir, "documents")
    return transform_media(attach_media(d))


@q(
    "ext_quality_classifier",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({NORM}, ' ')) AS tok
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1000 AS wi
      FROM toks WHERE tok <> ''
    ),
    s AS (
      SELECT doc_id,
             CAST(sum(wi) AS BIGINT) AS wsum,
             CAST(count(*) AS BIGINT) AS n
      FROM w GROUP BY doc_id
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(0.1 + (CAST(wsum AS DOUBLE)
                 / (500.0 * n) - 1.0)))), 6) AS quality_score,
           CAST(least(floor(round(1.0 / (1.0 + exp(-(0.1
                 + (CAST(wsum AS DOUBLE) / (500.0 * n) - 1.0)))), 6) * 5),
                4) AS INT) AS quality_bin,
           n AS n_tokens
    FROM s
    """,
)
def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (the fastText-classifier stage of a
    training-data pipeline, distinct from the heuristic ext_text_quality):
    a hashed-bag-of-words LINEAR model applied map-side — each token hashes
    to a weight-table index (md5-derived, engine-portable), the document
    score is sigmoid(bias + mean weight), and docs land in 5 curriculum
    bins. The 'pretrained' weight table is the deterministic function
    w[i] = i/500 - 1 over 1000 hashed buckets, so the oracle reproduces
    inference exactly; weight-index sums stay INTEGER until one final
    float expression (identical operands both engines — no summation-order
    exposure). Everything is JVM expressions inside codegen: model-based
    filtering at 100 TB is a map-only pass, the real model differing only
    in where the weight vector comes from."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    d = t(spark, sf_dir, "documents")
    toks = F.filter(
        ws_tokens(normalize_text(F.col("text"))), lambda s: s != ""
    )
    wi = F.transform(
        toks,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
            F.lit(1000),
        ),
    )
    based = d.select("doc_id", wi.alias("wi")).select(
        "doc_id",
        F.aggregate("wi", F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "wsum"
        ),
        F.size("wi").cast("bigint").alias("n_tokens"),
    )
    score = F.round(
        1.0
        / (
            1.0
            + F.exp(
                -(
                    F.lit(0.1)
                    + (
                        F.col("wsum").cast("double")
                        / (500.0 * F.col("n_tokens"))
                        - 1.0
                    )
                )
            )
        ),
        6,
    )
    return based.select(
        "doc_id",
        score.alias("quality_score"),
        F.least(F.floor(score * 5), F.lit(4)).cast("int").alias(
            "quality_bin"
        ),
        "n_tokens",
    )


@q(
    "ext_length_band_filter",
    f"""
    WITH c AS (
      SELECT doc_id,
             len(list_filter(string_split({NORM}, ' '), t -> t <> ''))
               AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT quantile_cont(n_tokens, 0.05) AS p5,
             quantile_cont(n_tokens, 0.95) AS p95
      FROM c
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, b.p5, b.p95,
           (n_tokens >= b.p5 AND n_tokens <= b.p95) AS in_band
    FROM c, b
    """,
)
def ext_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band length filtering (the outlier-length curation rule:
    drop the shortest 5% and longest 5% of documents by token count) using
    EXACT percentiles — Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share linear-interpolation semantics, verified
    bit-equal. Per-doc counts are one map pass; the two-value band
    broadcasts back over the corpus; every row is emitted with its band
    verdict (the audit shape)."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    d = t(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.size(
            F.filter(
                ws_tokens(normalize_text(F.col("text"))), lambda s: s != ""
            )
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    band = counts.selectExpr(
        "percentile(n_tokens, 0.05) AS p5",
        "percentile(n_tokens, 0.95) AS p95",
    )
    return counts.join(F.broadcast(band)).select(
        "doc_id",
        "n_tokens",
        "p5",
        "p95",
        (
            (F.col("n_tokens") >= F.col("p5"))
            & (F.col("n_tokens") <= F.col("p95"))
        ).alias("in_band"),
    )


@q(
    "ext_ann_recall_audit",
    f"""
    WITH {SIM_CTE},
    {BITS_CTE},
    q AS (SELECT vec_id AS query_id, e, bucket FROM vb WHERE vec_id % 50 = 0),
    ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_inner_product(q.e, c.e) /
                   (sqrt(list_inner_product(q.e, q.e)) *
                    sqrt(list_inner_product(c.e, c.e))) DESC,
                 c.vec_id ASC) AS rn
        FROM q JOIN v c ON c.vec_id <> q.query_id
      ) WHERE rn <= 10
    ),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_inner_product(q.e, c.e) /
                   (sqrt(list_inner_product(q.e, q.e)) *
                    sqrt(list_inner_product(c.e, c.e))) DESC,
                 c.vec_id ASC) AS rn
        FROM q JOIN vb c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
      ) WHERE rn <= 10
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / CAST(count(*) AS DOUBLE), 6)
             AS recall
    FROM ex e LEFT JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def ext_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality monitoring: recall@10 of the sign-bucket ANN
    against exact brute force, per query — the metric a production vector
    index reports continuously (recall regressions from drift or a stale
    index surface here, not in user complaints). Both tiers are
    SQL-expressible, so the recall numbers themselves are oracle-exact."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        brute_force_topk,
        bucketed_ann_topk,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    exact = brute_force_topk(queries, corpus, k=10).select(
        "query_id", "neighbor_id"
    )
    ann = bucketed_ann_topk(queries, corpus, k=10).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    j = exact.join(
        ann,
        (exact.query_id == ann.query_id)
        & (F.col("neighbor_id") == F.col("ann_neighbor")),
        "left",
    ).select(exact.query_id, "neighbor_id", "ann_neighbor")
    return j.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.count("ann_neighbor").alias("n_hits"),
        F.round(
            F.count("ann_neighbor") / F.count("*").cast("double"), 6
        ).alias("recall"),
    )


@q(
    "ext_shard_balance_audit",
    f"""
    WITH h AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5({NORM}), 9, 8)) AS BIGINT) % 8
                  AS INT) AS shard,
             len(list_filter(string_split({NORM}, ' '), t -> t <> ''))
               AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
      FROM h GROUP BY shard
    ),
    g AS (SELECT avg(shard_tokens) AS mean_tokens FROM s)
    SELECT shard, n_docs, shard_tokens,
           round(shard_tokens / g.mean_tokens, 6) AS load_factor,
           (shard_tokens BETWEEN 0.5 * g.mean_tokens
                             AND 2.0 * g.mean_tokens) AS within_2x
    FROM s, g
    """,
)
def ext_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for the global training shuffle: docs and TOKENS
    per shard plus each shard's load factor vs the mean — the health metric
    that catches a skewed shard before a training run stalls on it (token
    count, not doc count, is what paces a training reader). The within_2x
    flag is the alert predicate; the content-hash shard assignment should
    keep every shard near 1.0 at any corpus size."""
    from cdc_debezium_kafka_airflow_spark.operators.curation import shard_of
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    d = t(spark, sf_dir, "documents")
    # shard_of only (not shuffle_shards): the audit needs the map-side
    # assignment, not the within-shard ordering window
    sharded = d.select(
        shard_of(normalize_text(F.col("text")), 8).cast("int").alias("shard"),
        F.size(
            F.filter(
                ws_tokens(normalize_text(F.col("text"))), lambda s: s != ""
            )
        ).alias("n_tokens"),
    )
    per = sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )
    g = per.agg(F.avg("shard_tokens").alias("mean_tokens"))
    return per.join(F.broadcast(g)).select(
        "shard",
        "n_docs",
        "shard_tokens",
        F.round(F.col("shard_tokens") / F.col("mean_tokens"), 6).alias(
            "load_factor"
        ),
        (
            (F.col("shard_tokens") >= 0.5 * F.col("mean_tokens"))
            & (F.col("shard_tokens") <= 2.0 * F.col("mean_tokens"))
        ).alias("within_2x"),
    )


@q(
    "ext_img_phash_dedup",
    """
    WITH img AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
                 FROM documents WHERE doc_id % 3 = 0),
    px AS (
      SELECT doc_id, w, h, x, y,
             (doc_id * 31 + 7 * x + 13 * y) % 256 AS v,
             (x * 4) // w AS bx, (y * 4) // h AS by
      FROM img,
           LATERAL unnest(generate_series(0, w - 1)) AS t1(x),
           LATERAL unnest(generate_series(0, h - 1)) AS t2(y)
    ),
    blocks AS (SELECT doc_id, bx, by, avg(v) AS m FROM px GROUP BY 1, 2, 3),
    gmean AS (SELECT doc_id, avg(v) AS g FROM px GROUP BY 1),
    hashes AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN m > g THEN 1 << (by * 4 + bx) ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM blocks b JOIN gmean USING (doc_id) GROUP BY 1
    )
    SELECT ahash, count(*) AS n_images, min(doc_id) AS keeper_doc
    FROM hashes GROUP BY 1
    """,
)
def ext_img_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup: every image doc's REAL BMP payload is
    decoded (header walk + bottom-up padded rows), block-meaned to a 4x4
    thumbnail, and hashed into a 16-bit aHash; images sharing a hash are a
    dedup bucket and the minimum doc_id is the keeper — the image twin of
    MinHash text dedup, zero pairwise comparisons.

    The oracle re-derives every hash bit IN SQL from the closed-form pixel
    content (render_bmp's (doc_id*31+7x+13y)%256), cross-validating the
    whole decode -> resize -> threshold -> bucket pipeline bit-for-bit.

    Scale posture: decode+hash is map-only Arrow-batched Python (the one
    place Python belongs — byte-level codec work); the ONLY shuffle is the
    groupBy(ahash), whose key doubles as the storage bucket for incremental
    dedup at 100 TB (new images hash map-side and join only their bucket).
    """
    from cdc_debezium_kafka_airflow_spark.operators.multimodal import (
        attach_media,
        image_ahash,
    )

    docs = t(spark, sf_dir, "documents")
    hashes = image_ahash(attach_media(docs))
    return hashes.groupBy("ahash").agg(
        F.count("*").alias("n_images"),
        F.min("doc_id").alias("keeper_doc"),
    )


@q("ext_bpe_train", _BPE_TRAIN_SQL)
def ext_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (8 merge rounds) over the document
    corpus — EXACT oracle: the iterative argmax chain unrolls as 8 chained
    SQL CTEs over a delimiter-wrapped symbol string, with `replace()`
    standing in for greedy merge application (see _bpe_cte_chain for why
    that equivalence is exact). Also pinned by
    tests/test_curation.py::test_bpe_matches_reference (bit-identical
    merge table vs a pure-Python reference implementation) and a
    partition-layout determinism property.

    Scale posture (operators/bpe.py): ONE corpus-wide shuffle builds the
    word-frequency table; every round after that is vocab-sized (pair agg
    via JVM zip_with + one Arrow-batched merge application), and the driver
    sees exactly one argmax row per round."""
    import os

    from cdc_debezium_kafka_airflow_spark.operators.bpe import (
        train_bpe_cached,
    )

    docs = t(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir))
    merges = train_bpe_cached(docs, f"docs_{tag}", n_merges=8)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left string, right string, merged string, "
        "pair_count long",
    )


@q(
    "ext_hybrid_rrf",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM toks WHERE term IN ('join', 'filter', 'merge')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               AS contrib
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    bm AS (
      SELECT doc_id, round(sum(contrib), 6) AS bm25
      FROM scored GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC LIMIT 15
    ),
    lexr AS (
      SELECT doc_id, CAST(row_number() OVER
               (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS lex_rank
      FROM bm
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qv AS (SELECT e FROM v WHERE vec_id = 0),
    sims AS (
      SELECT c.vec_id AS doc_id,
             list_inner_product(qv.e, c.e) /
               (sqrt(list_inner_product(qv.e, qv.e)) *
                sqrt(list_inner_product(c.e, c.e))) AS sim
      FROM qv, v c WHERE c.vec_id <> 0
    ),
    dr0 AS (
      SELECT doc_id, CAST(row_number() OVER
               (ORDER BY sim DESC, doc_id ASC) AS INT) AS dense_rank
      FROM sims
    ),
    dr AS (SELECT * FROM dr0 WHERE dense_rank <= 15)
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
           l.lex_rank, d.dense_rank,
           round(coalesce(1.0 / (60 + l.lex_rank), 0)
                 + coalesce(1.0 / (60 + d.dense_rank), 0), 6) AS rrf
    FROM lexr l FULL OUTER JOIN dr d ON l.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
)
def ext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the lexical candidate
    list (BM25 top-15 for {join, filter, merge}) and the dense list (exact
    cosine top-15 against the vec_id=0 query embedding) are fused by
    RRF(d) = sum over lists of 1/(60 + rank_d) — the standard score-free
    fusion used when lexical and dense scores live on incomparable scales.

    Scale posture: each leg keeps its own proven shape (BM25: query-term
    filter before agg + heap top-k; dense: broadcast query against the
    corpus scan, at production scale swapped for the IVF-PQ leg with the
    same output contract); fusion itself touches only the two k-sized
    candidate lists — a full-outer join of 15-row frames, constant cost at
    any corpus size. Ranks are integers, so the fused scores are
    bit-identical across engines."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        brute_force_topk,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import bm25_topk

    docs = t(spark, sf_dir, "documents")
    lex = bm25_topk(docs, ["join", "filter", "merge"], k=15)
    wlex = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lexr = lex.select(
        "doc_id", F.row_number().over(wlex).alias("lex_rank")
    )

    emb = t(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    dense = brute_force_topk(q0, corpus, k=15).select(
        F.col("neighbor_id").alias("ddoc_id"),
        F.col("rank").alias("dense_rank"),
    )

    fused = lexr.join(
        dense, lexr.doc_id == dense.ddoc_id, "full_outer"
    ).select(
        F.coalesce(F.col("doc_id"), F.col("ddoc_id")).alias("doc_id"),
        "lex_rank",
        "dense_rank",
        F.round(
            F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("dense_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(10)


@q("ext_bpe_tokenize", _BPE_TOKENIZE_SQL)
def ext_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained BPE merges (greedy lowest-rank
    replay — the apply rule real tokenizers use) and return the top-20
    token histogram + per-token corpus frequency. EXACT oracle: the
    unrolled training CTE chain's final symbol state IS the tokenization
    (sequential rank-order replace == lowest-rank-first replay — see
    _bpe_cte_chain); also pinned by
    tests/test_curation.py::test_bpe_tokenize_reference against a
    pure-Python tokenizer on the same corpus.

    Scale posture: merges are a driver-side list (vocab-lifecycle artifact,
    memoized per corpus like the IVF/PQ codebooks); tokenization runs once
    per DISTINCT word (Arrow-batched, vocab-sized), and corpus token counts
    are freq-weighted aggregates — the corpus is touched exactly once, by
    the word-frequency shuffle the training step already paid for."""
    import os

    from cdc_debezium_kafka_airflow_spark.operators.bpe import (
        apply_bpe,
        train_bpe_cached,
        word_freq_table,
    )

    docs = t(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir))
    merges = train_bpe_cached(docs, f"docs_{tag}", n_merges=8)
    words = word_freq_table(docs)
    toks = apply_bpe(words, merges)
    return (
        toks.select(F.explode("tokens").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(20)
    )


@q(
    "ext_hard_negatives",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    lab AS (SELECT doc_id, lang FROM documents),
    q AS (
      SELECT v.vec_id AS query_id, v.e, lab.lang AS query_lang
      FROM v JOIN lab ON lab.doc_id = v.vec_id
      WHERE v.vec_id % 50 = 0
    ),
    c AS (
      SELECT v.vec_id AS neighbor_id, v.e, lab.lang AS neighbor_lang
      FROM v JOIN lab ON lab.doc_id = v.vec_id
    ),
    s AS (
      SELECT q.query_id, q.query_lang, c.neighbor_id, c.neighbor_lang,
             list_inner_product(q.e, c.e) /
               (sqrt(list_inner_product(q.e, q.e)) *
                sqrt(list_inner_product(c.e, c.e))) AS sim
      FROM q JOIN c ON c.neighbor_id <> q.query_id
                   AND c.neighbor_lang <> q.query_lang
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id ASC) AS rn FROM s)
    SELECT query_id, query_lang, neighbor_id, neighbor_lang,
           round(sim, 6) AS cosine_sim, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding-model training: for
    every anchor document, the top-5 most semantically similar documents
    from a DIFFERENT language class — maximally confusable out-of-class
    examples, the pairs that sharpen a retrieval model's decision boundary
    (in-batch random negatives are too easy).

    Scale posture: the anchor set broadcasts with its labels; the class
    filter rides the map-side join BEFORE any score is computed, so
    excluded in-class pairs never materialize; top-k is the per-query
    window heap. At production scale the exact scan swaps for the IVF-PQ
    leg exactly as in ext_hybrid_rrf."""
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        as_double,
        cosine,
    )

    emb = t(spark, sf_dir, "embeddings")
    lab = t(spark, sf_dir, "documents").select("doc_id", "lang")
    qs = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .join(lab, F.col("doc_id") == F.col("vec_id"))
        .select(
            F.col("vec_id").alias("query_id"),
            as_double("embedding").alias("qvec"),
            F.col("lang").alias("query_lang"),
        )
    )
    cs = emb.join(lab, F.col("doc_id") == F.col("vec_id")).select(
        F.col("vec_id").alias("neighbor_id"),
        as_double("embedding").alias("cvec"),
        F.col("lang").alias("neighbor_lang"),
    )
    scored = (
        cs.join(F.broadcast(qs))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_lang") != F.col("query_lang"))
        )
        .select(
            "query_id",
            "query_lang",
            "neighbor_id",
            "neighbor_lang",
            cosine(F.col("qvec"), F.col("cvec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "query_lang",
            "neighbor_id",
            "neighbor_lang",
            F.round("sim", 6).alias("cosine_sim"),
            "rank",
        )
    )


_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP_SQL = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE_SQL = "\\+\\d{1,2}-\\d{3}-\\d{4}"


@q(
    "ext_corpus_datasheet",
    f"""
    WITH d AS (SELECT doc_id, text, {NORM} AS t FROM documents),
    m AS (
      SELECT doc_id, text, t,
             CAST(len(string_split(t, ' ')) AS INT) AS n_tokens,
             (length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')))
               / greatest(length(t), 1) AS punct_ratio,
             CAST(len(list_filter(string_split(t, ' '),
                  w -> w IN ('the','a','of','and','to','in','is','on')))
               AS INT) AS n_stopwords,
             {{counts}}
      FROM d
    ),
    sq AS (
      SELECT *,
             round(0.5 * least(n_tokens / 200.0, 1.0)
                   + 0.3 * least(n_stopwords / greatest(n_tokens, 1) * 5, 1.0)
                   + 0.2 * (1.0 - punct_ratio), 6) AS q,
             greatest(n_en, n_es, n_fr, n_de) AS mx
      FROM m
    ),
    p AS (
      SELECT *,
             CASE WHEN mx <= 0 THEN 'und'
                  WHEN n_en = mx THEN 'en'
                  WHEN n_es = mx THEN 'es'
                  WHEN n_fr = mx THEN 'fr'
                  ELSE 'de' END AS plang,
             (regexp_matches(text, '{{email}}')
              OR regexp_matches(text, '{{phone}}')
              OR regexp_matches(text, '{{ip}}')) AS has_pii
      FROM sq
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_doc_tokens,
           CAST(count(CASE WHEN plang = 'en' THEN 1 END) AS BIGINT) AS n_en,
           CAST(count(CASE WHEN plang = 'es' THEN 1 END) AS BIGINT) AS n_es,
           CAST(count(CASE WHEN plang = 'fr' THEN 1 END) AS BIGINT) AS n_fr,
           CAST(count(CASE WHEN plang = 'de' THEN 1 END) AS BIGINT) AS n_de,
           CAST(count(CASE WHEN plang = 'und' THEN 1 END) AS BIGINT)
             AS n_und,
           round(avg(q), 4) AS avg_quality,
           CAST(count(CASE WHEN q < 0.3 THEN 1 END) AS BIGINT)
             AS n_low_quality,
           CAST(count(CASE WHEN has_pii THEN 1 END) AS BIGINT)
             AS n_docs_with_pii,
           CAST(count(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS BIGINT)
             AS n_image,
           CAST(count(CASE WHEN doc_id % 3 = 1 THEN 1 END) AS BIGINT)
             AS n_audio,
           CAST(count(CASE WHEN doc_id % 3 = 2 THEN 1 END) AS BIGINT)
             AS n_video
    FROM p
    """.replace("{counts}", _COUNTS)
    .replace("{email}", _PII_EMAIL_SQL)
    .replace("{phone}", _PII_PHONE_SQL)
    .replace("{ip}", _PII_IP_SQL),
)
def ext_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasheet-for-a-dataset (Gebru et al.): the ONE-ROW corpus report a
    training run is gated on — volume (docs/tokens), predicted language
    mix, quality profile, PII incidence, and modality mix — composed from
    the same operators the individual queries use (text_metrics, lang_id,
    PII patterns), so the numbers a reviewer signs off on are PROVABLY the
    numbers the pipeline computes.

    Scale posture: every metric is a per-doc MAP-SIDE expression; as
    written the three operator frames (metrics, lang, PII) are separate
    column-pruned scans merged on doc_id — at 100 TB you'd inline the
    three projections into one select (the operators share one
    normalization) so the report costs a single scan; the final aggregate
    is one row either way."""
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        lang_id,
        text_metrics,
    )

    docs = t(spark, sf_dir, "documents")
    m = text_metrics(docs).select("doc_id", "n_tokens", "quality_score")
    lang = lang_id(docs).select("doc_id", "predicted_lang")
    has_pii = (
        (F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0)) > 0)
        | (F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), 0)) > 0)
        | (F.size(F.regexp_extract_all("text", F.lit(PII_IPV4), 0)) > 0)
    )
    base = (
        docs.select("doc_id", has_pii.alias("has_pii"))
        .join(m, "doc_id")
        .join(lang, "doc_id")
    )

    def n_lang(code):
        return F.count(
            F.when(F.col("predicted_lang") == code, F.lit(1))
        ).alias(f"n_{code}")

    def n_media(rem, name):
        return F.count(
            F.when(F.col("doc_id") % 3 == rem, F.lit(1))
        ).alias(name)

    return base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_doc_tokens"),
        n_lang("en"),
        n_lang("es"),
        n_lang("fr"),
        n_lang("de"),
        n_lang("und"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        F.count(F.when(F.col("quality_score") < 0.3, F.lit(1))).alias(
            "n_low_quality"
        ),
        F.count(F.when(F.col("has_pii"), F.lit(1))).alias("n_docs_with_pii"),
        n_media(0, "n_image"),
        n_media(1, "n_audio"),
        n_media(2, "n_video"),
    )


@q(
    "ext_leakage_safe_split",
    f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, source, string_split({NORM}, ' ') AS w FROM documents),
    sh AS (SELECT doc_id, source,
                  list_distinct(list_transform(
                      range(1, greatest(len(w) - 2, 1) + 1),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
           FROM d),
    sz AS (SELECT doc_id, len(s) AS set_size FROM sh),
    ex AS (SELECT doc_id, source, unnest(s) AS shingle FROM sh),
    inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
      FROM ex x JOIN ex y
        ON x.source = y.source AND x.shingle = y.shingle
       AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sz sa ON id_a = sa.doc_id
      JOIN sz sb ON id_b = sb.doc_id
      WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY node),
    full_map AS (
      SELECT docs.doc_id, COALESCE(comp.cluster_id, docs.doc_id) AS cluster_id
      FROM documents docs LEFT JOIN comp ON comp.doc_id = docs.doc_id
    ),
    rep AS (
      SELECT docs.doc_id AS cluster_id,
             CASE WHEN {BUCKET} < 90 THEN 'train'
                  WHEN {BUCKET} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents docs
      WHERE docs.doc_id IN (SELECT DISTINCT cluster_id FROM full_map)
    ),
    assigned AS (
      SELECT f.doc_id, f.cluster_id, r.split
      FROM full_map f JOIN rep r USING (cluster_id)
    ),
    straddle AS (
      SELECT max(n_splits) AS mx FROM (
        SELECT cluster_id, count(DISTINCT split) AS n_splits
        FROM assigned GROUP BY 1)
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters,
           CAST(any_value(straddle.mx) AS BIGINT) AS max_splits_per_cluster
    FROM assigned, straddle
    GROUP BY split
    """,
)
def ext_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: the split is decided by the
    content hash of each document's near-dup CLUSTER REPRESENTATIVE, so
    every member of a duplicate cluster lands in the same split — closing
    the eval-contamination hole a per-document split leaves open (near-dup
    twins straddling the train/val boundary leak eval answers into
    training; ext_train_val_split only guarantees this for EXACT
    duplicates). max_splits_per_cluster rides in the compared output as
    the machine-checked leakage invariant (must be 1).

    Scale posture: the cluster map is the OUTPUT of the sub-quadratic
    near-dup join (a fraction of the corpus); representatives join by
    cluster_id (AQE-broadcastable), and the split expression stays a pure
    content-hash map — deterministic across engines and runs. The oracle
    recomputes the clusters by the recursive-closure algorithm, so the
    whole chain (pair graph -> components -> co-assignment) is
    cross-validated."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import dup_clusters
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text

    docs = t(spark, sf_dir, "documents")
    # persisted: the prefix-filtered join reads it four times
    sh = shingled_documents(spark, sf_dir, unit="word", k=3).select(
        "doc_id", F.col("source").alias("block"), "shingles"
    ).persist()
    comp = dup_clusters(ngram_jaccard_pairs(sh, threshold=0.5))
    full_map = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    b = content_bucket(normalize_text(F.col("text")))
    rep = (
        docs.join(
            full_map.select("cluster_id").distinct(),
            docs.doc_id == F.col("cluster_id"),
            "left_semi",
        )
        .select(
            F.col("doc_id").alias("cluster_id"),
            F.when(b < 90, F.lit("train"))
            .when(b < 95, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
    assigned = full_map.join(rep, "cluster_id")
    straddle = (
        assigned.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .agg(F.max("n_splits").alias("mx"))
    )
    return (
        assigned.join(F.broadcast(straddle))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.max("mx").alias("max_splits_per_cluster"),
        )
    )


@q(
    "ext_eval_metrics",
    f"""
    WITH d AS (SELECT doc_id, lang AS gold, {NORM} AS t FROM documents),
    m AS (SELECT doc_id, gold, {{counts}} FROM d),
    p AS (
      SELECT gold,
             CASE WHEN greatest(n_en, n_es, n_fr, n_de) <= 0 THEN 'und'
                  WHEN n_en = greatest(n_en, n_es, n_fr, n_de) THEN 'en'
                  WHEN n_es = greatest(n_en, n_es, n_fr, n_de) THEN 'es'
                  WHEN n_fr = greatest(n_en, n_es, n_fr, n_de) THEN 'fr'
                  ELSE 'de' END AS pred
      FROM m
    ),
    classes AS (SELECT DISTINCT gold AS c FROM p),
    stats AS (
      SELECT c,
             (SELECT count(*) FROM p WHERE gold = c AND pred = c) AS tp,
             (SELECT count(*) FROM p WHERE gold <> c AND pred = c) AS fp,
             (SELECT count(*) FROM p WHERE gold = c AND pred <> c) AS fn
      FROM classes
    )
    SELECT c AS class,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(tp * 1.0 / greatest(tp + fp, 1), 6) AS precision,
           round(tp * 1.0 / greatest(tp + fn, 1), 6) AS recall,
           round(2.0 * tp / greatest(2 * tp + fp + fn, 1), 6) AS f1
    FROM stats
    """.replace("{counts}", _COUNTS),
)
def ext_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier evaluation: per-class TP/FP/FN, precision,
    recall, F1 for the lang-id heuristic against the labeled gold — the
    model-eval counterpart of the data ops (every quality classifier in
    the pipeline needs exactly this scoreboard before its threshold gates
    a corpus).

    Scale posture: ONE pass builds the (gold, pred) pairs map-side; the
    confusion counts are a single groupBy over |classes|^2 cells, and the
    per-class metrics derive from that tiny table — ratios are computed
    from exact integer counts with identical expressions, so they hash
    bit-for-bit."""
    from cdc_debezium_kafka_airflow_spark.operators.text import lang_id

    preds = lang_id(t(spark, sf_dir, "documents")).select(
        F.col("labeled_lang").alias("gold"),
        F.col("predicted_lang").alias("pred"),
    )
    cells = preds.groupBy("gold", "pred").agg(F.count("*").alias("n"))
    classes = preds.select(F.col("gold").alias("class")).distinct()
    tp = cells.filter(F.col("gold") == F.col("pred")).select(
        F.col("gold").alias("class"), F.col("n").alias("tp")
    )
    fp = (
        cells.filter(F.col("gold") != F.col("pred"))
        .groupBy(F.col("pred").alias("class"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        cells.filter(F.col("gold") != F.col("pred"))
        .groupBy(F.col("gold").alias("class"))
        .agg(F.sum("n").alias("fn"))
    )
    s = (
        classes.join(tp, "class", "left")
        .join(fp, "class", "left")
        .join(fn, "class", "left")
        .select(
            "class",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    return s.select(
        "class",
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)),
            6,
        ).alias("recall"),
        F.round(
            2.0
            * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)),
            6,
        ).alias("f1"),
    )


@q(
    "ext_embedding_normalize",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ex AS (SELECT vec_id, i AS dim, e[i] AS val
           FROM v, LATERAL unnest(range(1, len(e) + 1)) AS t(i)),
    stats AS (
      SELECT CAST(dim AS INT) AS dim_idx,
             round(avg(val), 6) AS mean_before,
             round(stddev_pop(val), 6) AS std_before
      FROM ex GROUP BY 1
    ),
    z AS (
      SELECT ex.dim,
             (ex.val - s.mean_before) / greatest(s.std_before, 1e-12) AS zv
      FROM ex JOIN stats s ON s.dim_idx = ex.dim
    )
    SELECT s.dim_idx, s.mean_before, s.std_before,
           round(abs(avg(zv)), 6) AS abs_mean_after,
           round(stddev_pop(zv), 6) AS std_after
    FROM z JOIN stats s ON s.dim_idx = z.dim
    GROUP BY 1, 2, 3
    """,
)
def ext_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus — the
    feature-scaling pass a whitening/PCA/IVF-training pipeline runs first
    (un-normalized dimensions with large variance dominate distances).
    Returns the per-dimension scoreboard: the fitted mean/std and the
    post-normalization check (|mean| -> 0, std -> 1 — abs() so the -0.0
    vs 0.0 representation can't split the hash).

    Scale posture: posexplode to (dim, val) looks expensive but is the
    RIGHT plan — partial aggregation collapses each task's contribution
    to |dims| rows before either shuffle, so both stat passes move
    64-row-per-task traffic regardless of corpus size; the fitted stats
    broadcast back onto the standardization map. Stats are rounded to
    6dp on BOTH engines BEFORE standardizing, making the z-values'
    derivation identical."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    ex = emb.select(
        F.posexplode("e").alias("pos", "val")
    ).select((F.col("pos") + 1).alias("dim"), "val")
    stats = ex.groupBy(F.col("dim").cast("int").alias("dim_idx")).agg(
        F.round(F.avg("val"), 6).alias("mean_before"),
        F.round(F.stddev_pop("val"), 6).alias("std_before"),
    )
    z = ex.join(
        F.broadcast(stats), F.col("dim") == F.col("dim_idx")
    ).select(
        "dim_idx",
        "mean_before",
        "std_before",
        (
            (F.col("val") - F.col("mean_before"))
            / F.greatest(F.col("std_before"), F.lit(1e-12))
        ).alias("zv"),
    )
    return z.groupBy("dim_idx", "mean_before", "std_before").agg(
        F.round(F.abs(F.avg("zv")), 6).alias("abs_mean_after"),
        F.round(F.stddev_pop("zv"), 6).alias("std_after"),
    )


@q(
    "ext_pca_spectrum",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(8 AS BIGINT) AS n_components,
           CAST(0 AS BIGINT) AS n_var_mismatch,
           CAST(0 AS BIGINT) AS n_order_violations,
           CAST(0 AS BIGINT) AS trace_breach
    FROM embeddings
    """,
)
def ext_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators/pca.py): covariance assembled from ONE
    Gram-matrix row per partition (vectorized numpy in Arrow batches — a
    partition of any size reduces to d^2+d+1 floats), eigendecomposition
    on the 64x64 driver-side matrix, projection as a broadcast matmul.

    Output is a one-row derived-invariant audit (the ext_dedup_minhash
    pattern — no SQL oracle eigendecomposes, but these properties are
    exact):
      n_vectors — corpus size, INDEPENDENTLY recomputed by the oracle.
      n_var_mismatch — top-8 components where the variance of the corpus
        ACTUALLY PROJECTED onto the component (computed distributed,
        var_pop over posexplode) disagrees with its eigenvalue beyond
        1e-3: the eigenvalue claim verified against the data, not eigh.
      n_order_violations — top-8 eigenvalues not non-increasing.
      trace_breach — |sum of ALL 64 eigenvalues - trace of the data
        covariance| beyond 1e-9 relative, where the trace is computed
        distributed as the sum of per-dimension var_pop (the covariance
        uses the same population normalization): eigh's full spectrum
        must conserve the corpus' total variance.
    tests/test_dedup_similarity.py::test_pca_* additionally pin
    orthonormality, ratio normalization and partition-layout stability."""
    from cdc_debezium_kafka_airflow_spark.operators.pca import (
        fit_pca,
        project_pca,
    )

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    mean, comps, vals = fit_pca(emb)
    k = 8
    proj = project_pca(emb, mean, comps, k)
    spectrum = spark.createDataFrame(
        [(i, float(vals[i])) for i in range(k)],
        "comp_idx int, eigenvalue double",
    )
    audits = (
        proj.select(F.posexplode("proj").alias("comp_idx", "pv"))
        .groupBy("comp_idx")
        .agg(F.var_pop("pv").alias("projected_variance"))
        .join(spectrum, "comp_idx")
        .agg(
            F.sum(
                (
                    F.abs(F.col("projected_variance") - F.col("eigenvalue"))
                    >= 1e-3
                ).cast("long")
            ).alias("n_var_mismatch"),
        )
    )
    order_violations = sum(
        1 for i in range(k - 1) if float(vals[i]) < float(vals[i + 1])
    )
    eig_total = float(vals.sum())
    trace = (
        emb.select(F.posexplode("e").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.var_pop("x").alias("v"))
        .agg(F.sum("v").alias("trace_data"))
    )
    nvec = emb.agg(F.count("*").alias("n_vectors"))
    return (
        nvec.crossJoin(audits)
        .crossJoin(trace)
        .select(
            "n_vectors",
            F.lit(k).cast("long").alias("n_components"),
            "n_var_mismatch",
            F.lit(order_violations).cast("long").alias("n_order_violations"),
            (
                F.abs(F.col("trace_data") - F.lit(eig_total))
                >= 1e-9 * F.greatest(F.col("trace_data"), F.lit(1.0))
            )
            .cast("long")
            .alias("trace_breach"),
        )
    )


@q(
    "ext_span_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 4, 1) + 1),
                 i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                                    w[i+4]))
               )
             ) AS spans
      FROM d
    ),
    e AS (SELECT doc_id, unnest(spans) AS h FROM g),
    f AS (SELECT h, count(*) AS n_docs FROM e GROUP BY h)
    SELECT e.doc_id,
           CAST(count(*) AS INT) AS n_spans,
           CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS INT)
             AS n_dup_spans,
           round(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                 / count(*), 6) AS dup_span_fraction,
           (round(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                  / count(*), 6) <= 0.5) AS keep
    FROM e JOIN f USING (h)
    GROUP BY e.doc_id
    """,
)
def ext_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN dedup (exact-substring family, Lee et
    al. 2022): word-5-gram spans shared verbatim across documents are
    counted via one span-hash shuffle (map-side partial agg absorbs
    boilerplate skew), then folded to per-doc duplicated-span fractions and
    a keep/trim verdict. Complements doc-level near-dup (minhash/simhash):
    this finds COPIED TEXT inside otherwise-distinct documents."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import (
        duplicated_span_metrics,
    )

    return duplicated_span_metrics(t(spark, sf_dir, "documents"))


@q(
    "ext_bigram_perplexity",
    f"""
    WITH d AS (
      SELECT doc_id, ['<s>'] || string_split({NORM}, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM d, unnest(range(1, len(w))) AS t(i)
    ),
    train_bg AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM train_bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n1 FROM train_bg GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w2) AS v FROM train_bg)
    SELECT bg.doc_id,
           CAST(count(*) AS INT) AS n_bigrams,
           round(avg(-ln((coalesce(c2.n2, 0) + 1.0)
                         / (coalesce(c1.n1, 0) + 1.0 * vocab.v))), 6)
             AS avg_nll,
           (round(avg(-ln((coalesce(c2.n2, 0) + 1.0)
                          / (coalesce(c1.n1, 0) + 1.0 * vocab.v))), 6)
            <= 8.0) AS keep
    FROM bg
    LEFT JOIN c2 USING (w1, w2)
    LEFT JOIN c1 USING (w1)
    CROSS JOIN vocab
    GROUP BY bg.doc_id
    """,
)
def ext_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality filter: a bigram LM with add-1
    smoothing is TRAINED on the held-in 80% split (doc_id % 5 != 0 — in
    production, the high-quality reference corpus, e.g. Wikipedia) and every
    document is SCORED by its average negative log-likelihood under that
    model; high-NLL documents are the gibberish/boilerplate/OCR-noise the
    CCNet pipeline buckets away before training.

      P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + |V|),  V = train w2 vocab
      BOS '<s>' prepended so position-1 tokens are scored too; unseen
      contexts fall back to the uniform 1/|V| via the same formula.

    Physical plan: bigrams are built MAP-SIDE from each doc's token array
    (transform over sequence — no self-join, no window shuffle); the two
    count tables shuffle once each on their group keys with partial agg,
    then the scoring join is plain shuffle equi-joins on (w1, w2)/(w1) —
    at 100 TB both count tables are vocab-bounded, not corpus-bounded, and
    the final fold is one doc_id aggregation. Float protocol: the NLL is
    round(avg(ln ...), 6) on both engines (the unigram query's precedent);
    the keep verdict compares the ROUNDED value so both engines decide on
    identical inputs.
    """
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.concat(
            F.array(F.lit("<s>")),
            F.split(normalize_text(F.col("text")), " "),
        ).alias("w"),
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("w1"),
                    F.element_at("w", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    train = bg.filter(F.col("doc_id") % 5 != 0)
    c2 = train.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = train.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = train.agg(F.countDistinct("w2").alias("v"))
    scored = (
        bg.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    nll = -F.log(
        (F.coalesce(F.col("n2"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("n1"), F.lit(0)) + 1.0 * F.col("v"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
        .withColumn("keep", F.col("avg_nll") <= 8.0)
    )


@q(
    "ext_kneser_ney_lm",
    f"""
    WITH d AS (
      SELECT doc_id, ['<s>'] || string_split({NORM}, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM d, unnest(range(1, len(w))) AS t(i)
    ),
    train_bg AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
    c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2
           FROM train_bg GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS n1,
                   CAST(count(*) AS BIGINT) AS n1p_left
            FROM c2 GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_right
             FROM c2 GROUP BY w2),
    g AS (SELECT CAST(count(*) AS BIGINT) AS b,
                 CAST(count(DISTINCT w2) AS BIGINT) AS v FROM c2),
    scored AS (
      SELECT bg.doc_id,
             CASE WHEN coalesce(ctx.n1, 0) > 0
                  THEN (greatest(coalesce(c2.n2, 0) - 0.75, 0.0)
                        + 0.75 * coalesce(ctx.n1p_left, 0)
                          * ((coalesce(cont.n1p_right, 0) + 1.0)
                             / (g.b + g.v)))
                       / ctx.n1
                  ELSE (coalesce(cont.n1p_right, 0) + 1.0) / (g.b + g.v)
             END AS p,
             CASE WHEN coalesce(ctx.n1, 0) > 0 THEN 0 ELSE 1
             END AS backoff
      FROM bg
      LEFT JOIN c2 USING (w1, w2)
      LEFT JOIN ctx USING (w1)
      LEFT JOIN cont USING (w2)
      CROSS JOIN g
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
           round(avg(-ln(p)), 6) AS avg_nll,
           CAST(sum(backoff) AS INT) AS n_backoff,
           (round(avg(-ln(p)), 6) <= 3.45) AS keep
    FROM scored GROUP BY doc_id
    """,
)
def ext_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring — the production upgrade
    of `ext_bigram_perplexity`'s add-1 smoothing (KN is what kenlm/CCNet
    actually ship: continuation probability models HOW MANY contexts a
    word completes, not how often it occurs, so boilerplate tokens stop
    looking falsely fluent). Trained on the held-in 80% split, every doc
    scored by avg NLL; held-out docs score measurably worse than held-in
    (the generalization property the add-1 model shows too).

      P(w2|w1) = (max(c(w1,w2)-D, 0) + D·N1+(w1,·)·Pcont(w2)) / c(w1)
      Pcont(w2) = (N1+(·,w2) + 1) / (B + V)      D = 0.75
      unseen context c(w1)=0 → back off to Pcont(w2) alone (n_backoff
      audits how often that path fired per doc).

    Physical plan: same shape as the add-1 model — bigrams built MAP-SIDE
    from each doc's token array; ALL FOUR model tables (pair counts,
    context totals+fanout, continuation fanout, type/vocab scalars) are
    derived from the ONE c2 pair-count aggregation, so training adds two
    vocab-bounded reshuffles of an already vocab-bounded table, never a
    second corpus pass; scoring is shuffle equi-joins on (w1,w2)/(w1)/(w2)
    + a broadcast 1-row scalar frame. Float protocol: the probability is
    computed with an IDENTICAL operation tree in both engines (single
    division by c(w1); D=0.75 is exactly representable), and the keep
    verdict compares the round(·,6) value."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.concat(
            F.array(F.lit("<s>")),
            F.split(normalize_text(F.col("text")), " "),
        ).alias("w"),
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("w1"),
                    F.element_at("w", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = (
        bg.filter(F.col("doc_id") % 5 != 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n2"))
    )
    ctx = c2.groupBy("w1").agg(
        F.sum("n2").cast("bigint").alias("n1"),
        F.count("*").cast("bigint").alias("n1p_left"),
    )
    cont = c2.groupBy("w2").agg(
        F.count("*").cast("bigint").alias("n1p_right")
    )
    g = c2.agg(
        F.count("*").cast("bigint").alias("b_types"),
        F.countDistinct("w2").cast("bigint").alias("v"),
    )
    scored = (
        bg.join(c2, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .join(cont, ["w2"], "left")
        .crossJoin(F.broadcast(g))
    )
    n1 = F.coalesce(F.col("n1"), F.lit(0))
    pcont = (F.coalesce(F.col("n1p_right"), F.lit(0)) + F.lit(1.0)) / (
        F.col("b_types") + F.col("v")
    )
    p = F.when(
        n1 > 0,
        (
            F.greatest(
                F.coalesce(F.col("n2"), F.lit(0)) - F.lit(0.75),
                F.lit(0.0),
            )
            + F.lit(0.75)
            * F.coalesce(F.col("n1p_left"), F.lit(0))
            * pcont
        )
        / F.col("n1"),
    ).otherwise(pcont)
    backoff = F.when(n1 > 0, F.lit(0)).otherwise(F.lit(1))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 6).alias("avg_nll"),
            F.sum(backoff).cast("int").alias("n_backoff"),
        )
        .withColumn("keep", F.col("avg_nll") <= 3.45)
    )


@q(
    "ext_perplexity_buckets",
    f"""
    WITH d AS (
      SELECT doc_id, ['<s>'] || string_split({NORM}, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM d, unnest(range(1, len(w))) AS t(i)
    ),
    train_bg AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM train_bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n1 FROM train_bg GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w2) AS v FROM train_bg),
    -- per-doc NLL, identical formula/rounding to ext_bigram_perplexity
    scored AS (
      SELECT bg.doc_id,
             round(avg(-ln((coalesce(c2.n2, 0) + 1.0)
                           / (coalesce(c1.n1, 0) + 1.0 * vocab.v))), 6)
               AS avg_nll
      FROM bg
      LEFT JOIN c2 USING (w1, w2)
      LEFT JOIN c1 USING (w1)
      CROSS JOIN vocab
      GROUP BY bg.doc_id
    ),
    ranked AS (
      SELECT doc_id, avg_nll,
             row_number() OVER (ORDER BY avg_nll, doc_id) AS rk,
             count(*) OVER () AS n
      FROM scored
    )
    SELECT CASE WHEN rk * 3 <= n THEN 'head'
                WHEN rk * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS tier,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(avg_nll), 6) AS min_nll,
           round(max(avg_nll), 6) AS max_nll
    FROM ranked GROUP BY tier
    """,
)
def ext_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity BUCKETING (Wenzek et al. 2020, the step after the
    LM filter): the corpus splits into head / middle / tail thirds by LM
    score — head feeds high-quality training mixes, middle is kept with
    down-weighting, tail is dropped or mined separately. Cuts are exact
    integer rank thirds over (avg_nll, doc_id), so the tiering is a pure
    function of the corpus (no ntile distribution ambiguity).

    Scale shape — exact global rank WITHOUT a global row sort (the
    ROC-AUC histogram-rank-sum pattern): per-doc NLL reuses the
    ext_bigram_perplexity plan (vocab-bounded count tables); then (1) one
    aggregation onto the 6dp-ROUNDED NLL VALUE DOMAIN (bounded by distinct
    scores, not docs), (2) a running total over that sorted value domain
    gives each value's start rank, (3) a PARTITIONED window (per value,
    ordered by doc_id) sub-ranks docs within a value. No stage ever sorts
    all docs in one task; the only single-partition window runs over the
    value histogram."""
    from pyspark.sql.window import Window

    scored = ext_bigram_perplexity(spark, sf_dir).select(
        "doc_id", "avg_nll"
    )
    hist = scored.groupBy("avg_nll").agg(F.count("*").alias("cnt"))
    wv = Window.orderBy("avg_nll").rowsBetween(
        Window.unboundedPreceding, -1
    )
    starts = hist.select(
        "avg_nll",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("start_rk"),
    )
    wd = Window.partitionBy("avg_nll").orderBy("doc_id")
    ranked = (
        scored.join(starts, on="avg_nll")
        .select(
            "doc_id",
            "avg_nll",
            (F.col("start_rk") + F.row_number().over(wd)).alias("rk"),
        )
        .crossJoin(
            F.broadcast(scored.agg(F.count("*").alias("n")))
        )
    )
    tiered = ranked.select(
        "avg_nll",
        F.when(F.col("rk") * 3 <= F.col("n"), "head")
        .when(F.col("rk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("tier"),
    )
    return tiered.groupBy("tier").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.min("avg_nll"), 6).alias("min_nll"),
        F.round(F.max("avg_nll"), 6).alias("max_nll"),
    )


@q(
    "ext_corpus_drift",
    f"""
    WITH toks AS (
      SELECT source, (doc_id // 20) % 2 AS half,
             unnest(string_split({NORM}, ' ')) AS token
      FROM documents
    ),
    c AS (
      SELECT source, token,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
      FROM toks WHERE token <> '' GROUP BY source, token
    ),
    tot AS (
      SELECT source, sum(n0) AS t0, sum(n1) AS t1 FROM c GROUP BY source
    ),
    tv AS (
      SELECT c.source,
             CAST(sum(abs(c.n0 * tot.t1 - c.n1 * tot.t0)) AS BIGINT)
               AS tv_num,
             CAST(any_value(tot.t0) AS BIGINT) AS t0,
             CAST(any_value(tot.t1) AS BIGINT) AS t1
      FROM c JOIN tot USING (source) GROUP BY c.source
    )
    SELECT source, t0 AS n_tokens_a, t1 AS n_tokens_b,
           CASE WHEN t0 = 0 OR t1 = 0 THEN NULL
                ELSE round(CAST(tv_num AS DOUBLE) / (2.0 * t0 * t1), 6)
           END AS tv_distance,
           CASE WHEN t0 = 0 OR t1 = 0 THEN NULL
                ELSE (CAST(tv_num AS DOUBLE) / (2.0 * t0 * t1)) > 0.30
           END AS drifted
    FROM tv
    """,
)
def ext_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus DRIFT monitor: total-variation distance between
    the unigram distributions of two deterministic halves of each source's
    documents ((doc_id // 20) parity — the fixture interleaves sources on
    doc_id % 20, so this parity alternates WITHIN each source; in
    production, yesterday's crawl vs today's). TV distance is THE pipeline tripwire for a scraper change,
    boilerplate injection, or language shift upstream of training.

    Float discipline (the cross-engine exactness rule): TV = sum_t
    |p0 - p1| / 2 is computed as sum_t |n0*T1 - n1*T0| — EXACT integer
    arithmetic all the way through the aggregation — with ONE closing
    IEEE division by (2*T0*T1), identically parenthesized in both
    engines. No per-token float ever aggregates, so summation order
    cannot flip the 6dp hash.

    Plan shape: one shuffle on (source, token) with map-side partial
    counts (token domain is vocab-bounded), one source-level fold —
    at 100 TB the token-count table is the same vocab-bounded
    intermediate the LM-filter family already materializes."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        ((F.col("doc_id") / 20).cast("long") % 2).alias("half"),
        F.explode(
            F.split(normalize_text(F.col("text")), " ")
        ).alias("token"),
    ).filter(F.col("token") != "")
    c = toks.groupBy("source", "token").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"),
    )
    tot = c.groupBy("source").agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    tv = (
        c.join(tot, on="source")
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(F.col("n0") * F.col("t1") - F.col("n1") * F.col("t0"))
            )
            .cast("long")
            .alias("tv_num"),
            F.first("t0").cast("long").alias("t0"),
            F.first("t1").cast("long").alias("t1"),
        )
    )
    # a source whose half is EMPTY has no defined distribution: NULL, not
    # an ANSI divide-by-zero (guarded identically in the oracle)
    defined = (F.col("t0") > 0) & (F.col("t1") > 0)
    ratio = F.col("tv_num").cast("double") / (
        F.lit(2.0) * F.col("t0") * F.col("t1")
    )
    return tv.select(
        "source",
        F.col("t0").alias("n_tokens_a"),
        F.col("t1").alias("n_tokens_b"),
        F.when(defined, F.round(ratio, 6)).alias("tv_distance"),
        F.when(defined, ratio > 0.30).alias("drifted"),
    )


@q(
    "ext_dsir_resample",
    f"""
    WITH d AS (
      SELECT doc_id, lang, ['<s>'] || string_split({NORM}, ' ') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 8))
                  AS BIGINT) % 1024 AS b
      FROM d, unnest(range(1, len(w))) AS t(i)
    ),
    tgt AS (SELECT b, count(*) AS nt FROM bg WHERE lang = 'en' GROUP BY b),
    raw AS (SELECT b, count(*) AS nr FROM bg GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM bg WHERE lang = 'en') AS ct,
                   (SELECT count(*) FROM bg) AS cr),
    sc AS (
      SELECT bg.doc_id,
             CAST(count(*) AS INT) AS n_feats,
             round(avg(ln(((coalesce(tgt.nt, 0) + 1.0) / (tot.ct + 1024.0))
                          / ((raw.nr + 1.0) / (tot.cr + 1024.0)))), 6)
               AS log_importance
      FROM bg LEFT JOIN tgt USING (b) JOIN raw USING (b) CROSS JOIN tot
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_feats, log_importance,
           (row_number() OVER (ORDER BY log_importance DESC, doc_id ASC)
              <= floor(0.2 * (SELECT count(*) FROM sc))) AS selected
    FROM sc
    """,
)
def ext_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every raw document by how much it looks like the TARGET
    distribution (here lang='en' — in production, the high-quality target
    corpus) under hashed-bigram feature LMs, and keep the top 20%.

      feature   = md5-hashed bigram bucket (1024 buckets, engine-portable
                  via the md5-prefix trick the quality classifier uses)
      weight    = mean over the doc's features of ln(p_target / p_raw),
                  both add-1 smoothed — the importance log-ratio
      selected  = deterministic top-20% by (rounded weight, doc_id); the
                  paper resamples with gumbel noise, which is RNG — the
                  rank formulation keeps the oracle exact and the
                  production swap is one noise column.

    Physical plan: bigram buckets are built map-side from each doc's token
    array; both feature tables are 1024-row bounded (broadcast on the
    Spark side, so scoring is a map pass); per-doc fold is one doc_id
    aggregation. The final rank runs over DOC-level rows — bounded by
    n_docs, not tokens; at 100 TB the selection threshold comes from an
    approx-quantile of the weight distribution instead of a global sort.
    Float protocol: weights rounded at 6dp on both engines before ranking,
    ties broken by doc_id.
    """
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.array(F.lit("<s>")),
            F.split(normalize_text(F.col("text")), " "),
        ).alias("w"),
    )
    bg = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    " ",
                                    F.element_at("w", i),
                                    F.element_at("w", i + 1),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                    F.lit(1024),
                ),
            )
        ).alias("b"),
    )
    tgt = bg.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count("*").alias("nt")
    )
    raw = bg.groupBy("b").agg(F.count("*").alias("nr"))
    tot = bg.agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("ct"),
        F.count("*").alias("cr"),
    )
    scored = (
        bg.join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(raw), "b")
        .crossJoin(F.broadcast(tot))
    )
    ratio = F.log(
        ((F.coalesce(F.col("nt"), F.lit(0)) + 1.0) / (F.col("ct") + 1024.0))
        / ((F.col("nr") + 1.0) / (F.col("cr") + 1024.0))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_feats"),
        F.round(F.avg(ratio), 6).alias("log_importance"),
    )
    # Round-10: the top-20% selection no longer global-sorts the doc
    # frame in one task. The 6dp-rounded weight maps losslessly onto a
    # bigint micro-weight axis (negated: oracle orders DESC); the exact
    # rank comes from the bounded value histogram
    # (operators/ranking.py — every window partitioned), and the doc
    # count rides the same histogram instead of a separate .count()
    # driver job. rk <= floor(0.2 * n) <=> 5 * rk <= n for integers.
    ranked = histogram_rank(
        per_doc.withColumn(
            "_neg_e6",
            (-F.round(F.col("log_importance") * 1e6)).cast("bigint"),
        ),
        "_neg_e6",
        "doc_id",
        rank_col="_rk",
        n_col="_n",
    )
    return ranked.select(
        "doc_id",
        "n_feats",
        "log_importance",
        (F.col("_rk") * 5 <= F.col("_n")).alias("selected"),
    )


@q(
    "ext_temperature_mix",
    f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY lang
    ),
    lo AS (SELECT CAST(min(n_l) AS BIGINT) AS n_min FROM counts),
    thr AS (
      SELECT c.lang,
             c.n_l,
             CAST(floor(100.0 * sqrt(CAST(lo.n_min AS DOUBLE)
                                     / CAST(c.n_l AS DOUBLE)))
                  AS BIGINT) AS keep_threshold
      FROM counts c CROSS JOIN lo
    )
    SELECT d.doc_id, d.lang, t.n_l, t.keep_threshold,
           CAST({BUCKET} AS BIGINT) AS bucket,
           ({BUCKET} < t.keep_threshold) AS kept
    FROM documents d JOIN thr t ON t.lang = d.lang
    """,
)
def ext_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (the mT5/multilingual-corpus
    rebalancing rule): per-language acceptance rate proportional to
    n_l^(alpha-1) with alpha=1/2, normalized so the SMALLEST language keeps
    everything — sqrt(n_min/n_l) — which flattens the language distribution
    toward the temperature instead of capping hard like ext_domain_caps.
    Selection itself stays the deterministic content-hash gate (same
    100-bucket md5 as every sampling op here), so membership is exact and
    cross-engine reproducible; the only float is one sqrt of an exact
    integer ratio, floored to a whole bucket threshold on both engines.

    Scale posture: the per-language count table is |langs| rows broadcast
    back; the verdict is map-only after it. Swapping alpha re-weights
    without re-hashing — the hash gate is stable across mixture configs,
    so successive experiments share cache-friendly membership."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
    )

    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    n_min = counts.agg(F.min("n_l").alias("n_min"))
    thr = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n_l",
        F.floor(
            100.0
            * F.sqrt(
                F.col("n_min").cast("double") / F.col("n_l").cast("double")
            )
        )
        .cast("long")
        .alias("keep_threshold"),
    )
    b = content_bucket(normalize_text(F.col("text")))
    return (
        d.join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "n_l",
            "keep_threshold",
            b.cast("long").alias("bucket"),
            (b < F.col("keep_threshold")).alias("kept"),
        )
    )


_E2E_STOP = "['the','a','of','and','is','to','in']"
_E2E_SH = (
    "list_distinct(list_transform("
    "range(1, greatest(len(ws) - 2, 1) + 1), "
    "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))"
)


@q(
    "e2e_corpus_pipeline",
    f"""
    WITH feats AS (
      SELECT doc_id, {NORM} AS t, string_split({NORM}, ' ') AS ws,
             CAST({BUCKET} AS BIGINT) AS b
      FROM documents
    ),
    gate AS (
      SELECT * FROM feats
      WHERE NOT (
        len(ws) < 30 OR len(ws) > 100000
        OR list_aggregate(list_transform(ws, w -> length(w)), 'sum') * 10
             < len(ws) * 30
        OR list_aggregate(list_transform(ws, w -> length(w)), 'sum') * 10
             > len(ws) * 100
        OR list_aggregate(list_transform(ws, w -> length(w)), 'max') > 15
        OR len(list_distinct(list_filter(ws,
             w -> list_contains({_E2E_STOP}, w)))) < 2)
    ),
    keeper AS (SELECT min(doc_id) AS doc_id FROM gate GROUP BY md5(t)),
    dedd AS (SELECT g.* FROM gate g JOIN keeper k ON k.doc_id = g.doc_id),
    ev_sh AS (
      SELECT DISTINCT unnest({_E2E_SH}) AS sg FROM feats WHERE b >= 90
    ),
    tr_tot AS (
      SELECT doc_id, CAST(len({_E2E_SH}) AS BIGINT) AS n_sh_total
      FROM dedd WHERE b < 90
    ),
    tr_sh AS (
      SELECT doc_id, unnest({_E2E_SH}) AS sg FROM dedd WHERE b < 90
    ),
    contaminated AS (
      SELECT s.doc_id
      FROM tr_sh s JOIN ev_sh USING (sg) JOIN tr_tot tt ON tt.doc_id = s.doc_id
      GROUP BY s.doc_id, tt.n_sh_total
      HAVING CAST(count(*) AS BIGINT) * 5 >= tt.n_sh_total * 4
    ),
    clean AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, b % 8 AS shard
      FROM dedd WHERE b < 90
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    packed AS (
      SELECT doc_id, shard,
             (CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                   AS BIGINT) - n_tokens) // 256 AS pack_id
      FROM clean
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'input' AS stage,
             (SELECT count(*) FROM feats) AS rows_in,
             (SELECT count(*) FROM feats) AS rows_out,
             (SELECT CAST(sum(doc_id) AS BIGINT) FROM feats) AS checksum
      UNION ALL
      SELECT 1, 'quality_gate',
             (SELECT count(*) FROM feats),
             (SELECT count(*) FROM gate),
             (SELECT CAST(sum(doc_id) AS BIGINT) FROM gate)
      UNION ALL
      SELECT 2, 'exact_dedup',
             (SELECT count(*) FROM gate),
             (SELECT count(*) FROM dedd),
             (SELECT CAST(sum(doc_id) AS BIGINT) FROM dedd)
      UNION ALL
      SELECT 3, 'decontaminate',
             (SELECT count(*) FROM dedd WHERE b < 90),
             (SELECT count(*) FROM clean),
             (SELECT CAST(sum(doc_id) AS BIGINT) FROM clean)
      UNION ALL
      SELECT 4, 'pack_sequences',
             (SELECT count(*) FROM clean),
             (SELECT count(DISTINCT (shard, pack_id)) FROM packed),
             (SELECT CAST(sum(doc_id * 31 + shard * 1000000 + pack_id)
                          AS BIGINT) FROM packed)
    )
    """,
)
def e2e_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline as ONE audited lineage — the corpus-side
    twin of e2e_reference_pipeline: quality gate (the Gopher rule bundle)
    -> exact dedup (md5 collapse, min doc_id survives) -> eval-split
    decontamination (the eval side is the FULL corpus's hash split —
    benchmarks exist regardless of what the gate kept; a train doc drops
    when >=80% of its distinct word-3-grams appear in the eval split, the
    near-verbatim-quotation case, spelled as the exact integer
    cross-multiplication n_shared*5 >= n_total*4 — the synthetic corpus's
    tiny vocabulary makes the standalone >=2-shared rule degenerate HERE,
    and the coverage fraction is what production decontamination tunes
    anyway) -> greedy 256-token sequence
    packing sharded by content hash. Each stage consumes the previous
    stage's frame and leaves one audit row (rows in/out + an integer
    checksum over the surviving membership — for packing, over the exact
    doc->pack assignment), so a defect anywhere surfaces as a wrong
    downstream row. Every stage reuses the semantics of its standalone
    oracle-proven operator (ext_gopher_gate, ext_dedup_exact,
    ext_decontaminate, ext_seq_packing).

    Scale posture: the normalized/tokenized base materializes ONCE
    (persisted) and serves all stages; the gate is map-only; dedup is one
    md5 shuffle; decontamination's join is eval-sized (distinct shingles
    of the <=10% split); packing is parallel bounded-state cumsums per
    shard. The audit aggregates are one extra reduce per stage over
    already-materialized frames."""
    docs = t(spark, sf_dir, "documents")
    # the one shingler (the frame the dedup/decontamination family starts
    # from): doc_id, bucket, distinct word-3-gram shingles — folded into
    # the persisted feats frame below
    sc_ = shingled_documents(spark, sf_dir).select(
        "doc_id", F.col("bucket").cast("long").alias("b"), "shingles"
    )
    norm = normalize_text(F.col("text"))
    stop = ["the", "a", "of", "and", "is", "to", "in"]
    feats = (
        docs.select("doc_id", norm.alias("t"), F.split(norm, " ").alias("ws"))
        .join(sc_, "doc_id")
        .persist()
    )
    lens = F.transform(F.col("ws"), lambda w: F.length(w))
    n_words = F.size("ws")
    sum_len = F.aggregate(lens, F.lit(0), lambda a, x: a + x)
    bad = (
        (n_words < 30)
        | (n_words > 100000)
        | (sum_len * 10 < n_words * 30)
        | (sum_len * 10 > n_words * 100)
        | (F.array_max(lens) > 15)
        | (
            F.size(
                F.array_distinct(
                    F.filter(F.col("ws"), lambda w: w.isin(*stop))
                )
            )
            < 2
        )
    )
    gate = feats.filter(~bad).persist()
    keeper = gate.groupBy(F.md5("t").alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dedd = gate.join(keeper.select("doc_id"), "doc_id").persist()
    ev_sh = (
        feats.filter(F.col("b") >= 90)
        .select(F.explode("shingles").alias("sg"))
        .distinct()
    )
    tr = dedd.filter(F.col("b") < 90)
    tr_sh = tr.select("doc_id", F.explode("shingles").alias("sg"))
    tr_tot = tr.select(
        "doc_id", F.size("shingles").cast("long").alias("n_sh_total")
    )
    contaminated = (
        tr_sh.join(ev_sh, "sg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .join(tr_tot, "doc_id")
        .filter(F.col("n_shared") * 5 >= F.col("n_sh_total") * 4)
        .select("doc_id")
    )
    clean = (
        tr.join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_tokens"),
            (F.col("b") % 8).alias("shard"),
        )
        .persist()
    )
    packed = clean.select(
        "doc_id",
        "shard",
        F.expr(
            "(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) "
            "- n_tokens) div 256"
        ).alias("pack_id"),
    )

    # ONE aggregation per stage frame (the e2e_reference_pipeline lesson:
    # separate count/sum subtrees re-run the stage lineage once each; a
    # single combined aggregate runs it once), glued by 1-row cross joins.
    def summ(df, prefix, ck_col):
        return df.agg(
            F.count("*").alias(f"{prefix}_n"),
            F.sum(ck_col).cast("long").alias(f"{prefix}_ck"),
        )

    stats = (
        summ(feats, "s0", F.col("doc_id"))
        .crossJoin(summ(gate, "s1", F.col("doc_id")))
        .crossJoin(summ(dedd, "s2", F.col("doc_id")))
        .crossJoin(tr.agg(F.count("*").alias("tr_n")))
        .crossJoin(summ(clean, "s3", F.col("doc_id")))
        .crossJoin(
            packed.agg(
                # multi-arg COUNT(DISTINCT a, b) drops rows where ANY
                # column is NULL (the dq_candidate_keys class, ADVICE
                # r08 #1) — safe HERE by construction, audited r10:
                # shard = b % 8 of a non-null md5 bucket and pack_id is
                # a windowed running sum over non-null n_tokens, so no
                # row can be dropped; struct()-wrapping is unnecessary
                F.countDistinct("shard", "pack_id")
                .cast("long")
                .alias("s4_n"),
                F.sum(
                    F.col("doc_id") * 31
                    + F.col("shard") * 1000000
                    + F.col("pack_id")
                )
                .cast("long")
                .alias("s4_ck"),
            )
        )
        .persist()
    )

    def row(stage_id, stage, rows_in, rows_out, ck):
        return stats.select(
            F.lit(stage_id).cast("long").alias("stage_id"),
            F.lit(stage).alias("stage"),
            F.col(rows_in).alias("rows_in"),
            F.col(rows_out).alias("rows_out"),
            F.col(ck).alias("checksum"),
        )

    out = (
        row(0, "input", "s0_n", "s0_n", "s0_ck")
        .unionByName(row(1, "quality_gate", "s0_n", "s1_n", "s1_ck"))
        .unionByName(row(2, "exact_dedup", "s1_n", "s2_n", "s2_ck"))
        .unionByName(row(3, "decontaminate", "tr_n", "s3_n", "s3_ck"))
        .unionByName(row(4, "pack_sequences", "s3_n", "s4_n", "s4_ck"))
    )
    return out


@q(
    "ext_dedup_semantic",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(0 AS BIGINT) AS n_unaccounted,
           CAST(0 AS BIGINT) AS n_dropped_without_witness,
           CAST(0 AS BIGINT) AS n_kept_near_pairs
    FROM embeddings
    """,
)
def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (cluster -> within-cluster greedy cosine
    prune, operators/similarity.semdedup), driver-checked via DERIVED
    deterministic invariants — the kept set depends on the trained k-means
    centroids, which DuckDB cannot reproduce in SQL, so (like
    ext_dedup_minhash / ext_dedup_simhash) the oracle asserts properties
    the algorithm guarantees EXACTLY:

      - n_total: one genuine cross-engine value — the decision log must
        account for every input vector, so its row count equals the
        corpus count both engines compute independently.
      - n_unaccounted: corpus rows missing from (or duplicated in) the
        decision log — the applyInPandas prune emits each member of each
        cluster exactly once.
      - n_dropped_without_witness: dropped rows whose recorded witness is
        not a KEPT vector of the SAME cluster with cosine >= threshold
        (minus 1e-6 for numpy-vs-JVM summation-order slack) — the greedy
        only drops a vector after finding such a witness.
      - n_kept_near_pairs: pairs of kept vectors in one cluster with
        cosine >= threshold + 1e-6 — the greedy can never keep both ends
        of a near-dup pair (it visits one of them second and the other is
        already in the kept set).

    Threshold 0.35 matches ext_embedding_near_dup: on this near-random
    fixture it is the regime where a meaningful fraction of vectors has a
    qualifying neighbor, so the prune does real work at every SF.
    """
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        as_double,
        dot,
        normalized,
        semdedup,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        source_fingerprint,
    )

    th = 0.35
    e = t(spark, sf_dir, "embeddings")
    # persist ONE materialization of the decision log — four audit
    # subtrees below reuse it; the memo key trains the centroids once
    dec = semdedup(
        e,
        n_clusters=8,
        threshold=th,
        cache_key=source_fingerprint(sf_dir, "embeddings"),
    ).persist()
    v = normalized(
        e.select(
            F.col("vec_id").alias("vid"),
            as_double(F.col("embedding")).alias("vec"),
        ),
        "vec",
        "nvec",
    ).select("vid", F.col("nvec").alias("vec"))

    totals = e.agg(F.count("*").cast("long").alias("n_total"))
    accounted = dec.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("vid").cast("long").alias("n_vids"),
    )
    unaccounted = totals.crossJoin(accounted).select(
        "n_total",
        (
            F.abs(F.col("n_total") - F.col("n_rows"))
            + (F.col("n_rows") - F.col("n_vids"))
        ).alias("n_unaccounted"),
    )

    kept = dec.filter(F.col("kept")).select(
        F.col("vid").alias("witness_id"), F.col("cid").alias("wcid")
    )
    dropped = (
        dec.filter(~F.col("kept"))
        .select("vid", "cid", "witness_id")
        .join(kept, on="witness_id", how="left")
        .join(v, on="vid")
        .join(
            v.select(
                F.col("vid").alias("witness_id"), F.col("vec").alias("wvec")
            ),
            on="witness_id",
            how="left",
        )
    )
    bad_wit = dropped.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("wcid").isNull()
                    | (F.col("wcid") != F.col("cid"))
                    | (
                        # unit vectors: cosine == dot (cosine() would
                        # re-derive both norms per pair, 3x the HOF work)
                        dot(F.col("vec"), F.col("wvec"))
                        < F.lit(th) - F.lit(1e-6)
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_dropped_without_witness")
    )

    kv = dec.filter(F.col("kept")).select("vid", "cid").join(v, on="vid")
    pairs_bad = (
        kv.alias("a")
        .join(
            kv.alias("b"),
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        dot(F.col("a.vec"), F.col("b.vec"))
                        >= F.lit(th) + F.lit(1e-6),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_kept_near_pairs")
        )
    )
    return unaccounted.crossJoin(bad_wit).crossJoin(pairs_bad)


@q(
    "ext_corpus_prune_d4",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(0 AS BIGINT) AS n_unaccounted,
           CAST(0 AS BIGINT) AS n_quota_violation,
           CAST(0 AS BIGINT) AS n_rank_violation
    FROM embeddings
    """,
)
def ext_corpus_prune_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style corpus pruning (Tirumala et al. 2023, arXiv:2308.12284):
    SemDeDup first, then SSL-prototype pruning (Sorscher et al. 2022,
    arXiv:2206.14486) — per cluster, drop the most PROTOTYPICAL 10% of the
    dedup survivors (highest centroid similarity; near-dups are gone, so
    what remains closest to the centroid is the least informative mass).
    Composes directly on the semdedup decision log, which already carries
    (cid, centroid_sim, kept): the prune is one window rank per cluster —
    at 100 TB, one shuffle over the SURVIVOR set, keyed by the same cell
    id the index pipeline assigns.

    Derived-invariant oracle (the kept set depends on trained centroids,
    like ext_dedup_semantic):
      - n_total: genuine cross-engine value — every corpus vector is
        accounted for in the three-way split (dedup-dropped /
        prototype-pruned / retained).
      - n_unaccounted: split sizes must sum to the corpus count.
      - n_quota_violation: clusters where the pruned count differs from
        floor(0.1 * survivors) — the quota is exact arithmetic.
      - n_rank_violation: rows whose prune flag disagrees with an
        INDEPENDENTLY recomputed (centroid_sim desc, vid asc) rank over
        the emitted log — pins the keep-least-prototypical rule against
        refactor drift.
    """
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        semdedup,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        source_fingerprint,
    )

    frac = 0.10
    e = t(spark, sf_dir, "embeddings")
    # persisted — the kept frame and the dropped-count subtree both read it
    dec = semdedup(
        e,
        n_clusters=8,
        threshold=0.35,
        cache_key=source_fingerprint(sf_dir, "embeddings"),
    ).persist()
    kept = dec.filter(F.col("kept")).select("vid", "cid", "centroid_sim")
    w = Window.partitionBy("cid").orderBy(
        F.col("centroid_sim").desc(), F.col("vid").asc()
    )
    quota = F.floor(
        F.lit(frac) * F.count("*").over(Window.partitionBy("cid"))
    ).cast("int")
    flagged = kept.select(
        "vid",
        "cid",
        "centroid_sim",
        (F.row_number().over(w) <= quota).alias("pruned"),
        quota.alias("quota"),
    ).persist()

    totals = e.agg(F.count("*").cast("long").alias("n_total"))
    n_dedup_dropped = dec.filter(~F.col("kept")).count()
    acct = totals.crossJoin(
        flagged.agg(
            F.count("*").cast("long").alias("n_surv"),
            F.sum(F.col("pruned").cast("long")).alias("n_pruned"),
        )
    ).select(
        "n_total",
        F.abs(
            F.col("n_total")
            - (F.lit(n_dedup_dropped) + F.col("n_surv"))
        ).alias("n_unaccounted"),
    )
    quota_bad = (
        flagged.groupBy("cid", "quota")
        .agg(F.sum(F.col("pruned").cast("long")).alias("actual"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("actual") != F.col("quota"), F.lit(1)
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_quota_violation")
        )
    )
    # independent second pass over the EMITTED log: recompute the rank and
    # compare flags (drift guard, not a tautology of the same plan nodes)
    w2 = Window.partitionBy("cid").orderBy(
        F.col("centroid_sim").desc(), F.col("vid").asc()
    )
    rank_bad = (
        flagged.select(
            "cid",
            "pruned",
            "quota",
            F.row_number().over(w2).alias("rk"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("rk") <= F.col("quota")) != F.col("pruned"),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_rank_violation")
        )
    )
    return acct.crossJoin(quota_bad).crossJoin(rank_bad)


@q(
    "ext_dedup_semantic_incremental",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_unaccounted,
           CAST(0 AS BIGINT) AS n_bad_corpus_dup,
           CAST(0 AS BIGINT) AS n_bad_batch_dup,
           CAST(0 AS BIGINT) AS n_bad_new
    FROM embeddings WHERE vec_id % 10 = 9
    """,
)
def ext_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup ingestion (operators/similarity.
    semdedup_incremental): the ~10% batch (vec_id % 10 = 9) is verdicted
    against the frozen 90% corpus — cells trained on the corpus only, the
    corpus's own kept set from the standard prune, batch cost ∝ batch.
    The semantic twin of ext_dedup_incremental's fingerprint path.

    Derived-invariant oracle (trained cells, like ext_dedup_semantic):
      - n_batch: genuine cross-engine value — one verdict per batch vector.
      - n_unaccounted: batch rows missing from or duplicated in the output.
      - n_bad_corpus_dup: 'dup_of_corpus' rows whose witness is not a
        corpus-KEPT cell-mate at cosine >= threshold - 1e-6.
      - n_bad_batch_dup: 'dup_in_batch' rows whose witness is not an
        earlier-accepted ('new') batch cell-mate at cosine >= th - 1e-6.
      - n_bad_new: 'new' rows shadowed by a corpus-KEPT cell-mate at
        cosine >= threshold + 1e-6 (the greedy must have caught it).
    """
    from cdc_debezium_kafka_airflow_spark.operators.similarity import (
        INC_CLUSTERS,
        INC_THRESHOLD,
        as_double,
        corpus_kept_set,
        incremental_split,
        normalized,
        semdedup_incremental,
        semdedup_verdict_audit,
    )

    th = INC_THRESHOLD
    e = t(spark, sf_dir, "embeddings")
    corpus, batch, ck = incremental_split(e, sf_dir)
    # the kept-set the streaming index job seeds from
    # (stream_index_append_dedup): corpus side of the verdict AND every
    # audit frame read it — no corpus re-prune, no decision-log join.
    # materialize=False: this query reads the kept-set ONLY as a
    # DataFrame, so the partitioned write + read-back the file-level
    # consumers need is skipped; the persisted frame serves all subtrees
    _, kept_art = corpus_kept_set(e, sf_dir, materialize=False)
    out = semdedup_incremental(
        corpus, batch, n_clusters=INC_CLUSTERS, threshold=th, cache_key=ck,
        corpus_kept=kept_art,
    ).persist()

    # audit frames: batch vectors normalized in-query; corpus kept
    # vectors come pre-normalized from the artifact's cell partitions
    v = normalized(
        batch.select(
            F.col("vec_id").alias("vid"),
            as_double(F.col("embedding")).alias("vec"),
        ),
        "vec",
        "nvec",
    ).select("vid", F.col("nvec").alias("vec"))
    corpus_kept = kept_art.select(
        F.col("vid").alias("kvid"),
        F.col("cell").alias("kcid"),
        F.col("vec").alias("kvec"),
    )
    n_batch_total = batch.agg(F.count("*").cast("long").alias("n_batch"))
    return semdedup_verdict_audit(out, v, corpus_kept, n_batch_total, th)


def _lr_train_oracle() -> str:
    """Unrolled-SQL twin of ext_classifier_train's training loop: the same
    6 full-batch GD iterations as chained CTEs (weights CROSS-JOINed into
    the next iteration's gradient pass), per-row gradient/loss contributions
    integer-scaled EXACTLY like the Spark side so both engines aggregate
    order-independent BIGINTs and meet only at the closing division."""
    feat = (
        "feat AS (SELECT CAST(len(list_filter(string_split("
        f"{NORM}, ' '), tk -> tk <> '')) AS BIGINT) AS ntok, n_chars, "
        "CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) "
        "AS ne FROM documents)"
    )
    fx = (
        "fx AS (SELECT ntok / 5e1 AS x1, n_chars / 5e2 AS x2, "
        "ne / 2e1 AS x3, CASE WHEN ntok >= 55 THEN 1e0 ELSE 0e0 END AS y "
        "FROM feat)"
    )
    xs = ["CAST(1.0 AS DOUBLE)", "x1", "x2", "x3"]
    ctes = [feat, fx, "wa AS (SELECT 0e0 AS w0, 0e0 AS w1, 0e0 AS w2, 0e0 AS w3)"]
    names = ["wa", "wb", "wc", "wd", "we", "wf", "wg"]
    for i in range(6):
        wi, wn = names[i], names[i + 1]
        z = f"{wi}.w0 + {wi}.w1 * x1 + {wi}.w2 * x2 + {wi}.w3 * x3"
        p = f"1e0 / (1e0 + exp(-({z})))"
        sums = ", ".join(
            f"CAST(sum(CAST(round(({p} - y) * {xs[j]} * 1e6) AS BIGINT)) "
            f"AS BIGINT) AS s{j}"
            for j in range(4)
        )
        ctes.append(
            f"g{i} AS (SELECT CAST(count(*) AS BIGINT) AS n, {sums} "
            f"FROM fx CROSS JOIN {wi})"
        )
        ws = ", ".join(
            f"round({wi}.w{j} - 2e0 * CAST(s{j} AS DOUBLE) / (1e6 * n), 6)"
            f" AS w{j}"
            for j in range(4)
        )
        ctes.append(f"{wn} AS (SELECT {ws} FROM g{i} CROSS JOIN {wi})")
    z = "wg.w0 + wg.w1 * x1 + wg.w2 * x2 + wg.w3 * x3"
    p = f"1e0 / (1e0 + exp(-({z})))"
    ctes.append(
        "gfin AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum(CASE WHEN ({p} > 5e-1) = (y > 5e-1) THEN 1 ELSE 0 END) "
        "AS BIGINT) AS c, "
        f"CAST(sum(CAST(round((-(y * ln({p}) + (1e0 - y) * ln(1e0 - {p})))"
        " * 1e6) AS BIGINT)) AS BIGINT) AS sl "
        "FROM fx CROSS JOIN wg)"
    )
    body = ",\n".join(ctes)
    return f"""
    WITH {body}
    SELECT 'n_correct' AS metric, CAST(c AS DOUBLE) AS value FROM gfin
    UNION ALL SELECT 'n_train', CAST(n AS DOUBLE) FROM gfin
    UNION ALL SELECT 'train_loss',
      round(CAST(sl AS DOUBLE) / (1e6 * n), 6) FROM gfin
    UNION ALL SELECT 'w_bias', w0 FROM wg
    UNION ALL SELECT 'w_echars', w3 FROM wg
    UNION ALL SELECT 'w_nchars', w2 FROM wg
    UNION ALL SELECT 'w_ntok', w1 FROM wg
    """


@q("ext_classifier_train", _lr_train_oracle())
def ext_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED TRAINING of the quality classifier (the missing half of
    ext_quality_classifier, which only applies a pretrained linear model):
    logistic regression fit by full-batch gradient descent, the way a
    fastText-style quality gate is actually distilled from labeled data
    (FineWeb/DCLM recipe: label a corpus slice with a rule or LLM judge,
    fit a cheap linear scorer, apply it map-side at full scale).

    Task: distill the engine's own heuristic gate (label = doc has >= 55
    whitespace tokens) into a dense 4-weight model over document features
    (token count, char count, letter-'e' count, bias). 6 GD iterations,
    lr 2.0, zero init — 89% train accuracy vs the 51% majority baseline
    at sf0.01, so the distillation demonstrably learns.

    Distribution shape — the part that matters at 100 TB: each iteration
    is ONE map-side-partial aggregation over the (persisted, reused)
    feature frame; the driver holds exactly d+1 = 5 numbers per round
    (the gradient vector + row count), updates weights, and re-broadcasts
    them as literals in the next pass's expression tree. No per-row Python
    anywhere — sigmoid/gradient are JVM codegen expressions; swapping
    full-batch GD for mini-batch SGD or L-BFGS changes only the driver's
    5-float update rule, not the data plane.

    Cross-engine exactness (oracle = the SAME 6 iterations unrolled as
    chained SQL CTEs): per-row gradient and loss contributions are scaled
    to the 1e-6 integer lattice BEFORE aggregation, so both engines sum
    exact BIGINTs in any order and meet at one closing division; weights
    are re-rounded to the same 6dp lattice every iteration (driver Python
    round == SQL round here — no exact decimal half-point is representable
    as a binary double, so no tie-break divergence)."""
    from cdc_debezium_kafka_airflow_spark.operators.text import ws_tokens

    d = t(spark, sf_dir, "documents")
    ntok = F.size(
        F.filter(ws_tokens(normalize_text(F.col("text"))), lambda s: s != "")
    ).cast("long")
    ne = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "e", ""))
    ).cast("long")
    fx = d.select(
        (ntok / F.lit(5e1)).alias("x1"),
        (F.col("n_chars") / F.lit(5e2)).alias("x2"),
        (ne / F.lit(2e1)).alias("x3"),
        F.when(ntok >= 55, F.lit(1e0)).otherwise(F.lit(0e0)).alias("y"),
    ).persist()
    try:
        w = [0.0, 0.0, 0.0, 0.0]
        xcols = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
        n = 0

        def prob():
            z = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                + F.lit(w[3]) * F.col("x3")
            )
            return F.lit(1e0) / (F.lit(1e0) + F.exp(-z))

        for _ in range(6):
            diff = prob() - F.col("y")
            row = fx.agg(
                F.count("*").alias("n"),
                *[
                    F.sum(
                        F.round(diff * xcols[j] * F.lit(1e6)).cast("long")
                    ).alias(f"s{j}")
                    for j in range(4)
                ],
            ).collect()[0]
            n = row.n
            w = [
                round(w[j] - 2.0 * row[f"s{j}"] / (1e6 * n), 6)
                for j in range(4)
            ]
        p = prob()
        fin = fx.agg(
            F.count("*").alias("n"),
            F.sum(
                ((p > F.lit(5e-1)) == (F.col("y") > F.lit(5e-1))).cast("long")
            ).alias("c"),
            F.sum(
                F.round(
                    -(
                        F.col("y") * F.log(p)
                        + (F.lit(1e0) - F.col("y")) * F.log(F.lit(1e0) - p)
                    )
                    * F.lit(1e6)
                ).cast("long")
            ).alias("sl"),
        ).collect()[0]
    finally:
        fx.unpersist()
    rows = [
        ("n_correct", float(fin.c)),
        ("n_train", float(fin.n)),
        ("train_loss", round(fin.sl / (1e6 * fin.n), 6)),
        ("w_bias", w[0]),
        ("w_echars", w[3]),
        ("w_nchars", w[2]),
        ("w_ntok", w[1]),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


@q(
    "ext_audio_fingerprint",
    """
    WITH au AS (
      SELECT doc_id, 40 + doc_id % 57 AS n
      FROM documents WHERE doc_id % 3 = 1
    ),
    s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM au),
    sv AS (
      SELECT doc_id, (4 * i) // n AS wdw,
             ((doc_id * 37 + 17 * i) % 4096) - 2048 AS v
      FROM s
    ),
    en AS (
      SELECT doc_id, wdw, CAST(sum(v * v) AS BIGINT) AS e
      FROM sv GROUP BY 1, 2
    ),
    wide AS (
      SELECT doc_id,
             max(CASE WHEN wdw = 0 THEN e END) AS e0,
             max(CASE WHEN wdw = 1 THEN e END) AS e1,
             max(CASE WHEN wdw = 2 THEN e END) AS e2,
             max(CASE WHEN wdw = 3 THEN e END) AS e3
      FROM en GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id, e0, e1, e2, e3,
             CAST(4 * (CASE WHEN e1 > e0 THEN 1 ELSE 0 END)
                + 2 * (CASE WHEN e2 > e1 THEN 1 ELSE 0 END)
                + (CASE WHEN e3 > e2 THEN 1 ELSE 0 END) AS INT)
               AS fingerprint
      FROM wide
    ),
    cnt AS (
      SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_matches
      FROM fp GROUP BY 1
    )
    SELECT f.doc_id, f.fingerprint, f.e0, f.e1, f.e2, f.e3, c.n_matches
    FROM fp f JOIN cnt c USING (fingerprint)
    """,
)
def ext_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprinting over REAL decoded PCM — the Philips-robust-hash
    / Chromaprint shape: energy-difference SIGN BITS between adjacent
    bands form a compact code that survives volume scaling (energies scale
    together, the comparisons don't flip), and fingerprint equality buckets
    candidate duplicate audio. Bands here are equal time windows so the
    energies are exact integer sums the SQL oracle re-derives analytically
    from the PCM generator — a hash match proves the RIFF/WAVE byte walk +
    windowed DSP end-to-end (the frequency-domain twin is
    operators.multimodal.audio_spectrum, pytest-verified; no SQL FFT).

    Plan: decode + window energies in ONE Arrow-batched mapInPandas pass
    (a row per audio doc), sign-bit code and bucket counts as JVM
    expressions with an 8-row broadcast join for match counts. At 100 TB
    the fingerprint is the shuffle key for a banded dup-candidate join —
    the audio analog of SimHash bands; no all-pairs anywhere."""
    from cdc_debezium_kafka_airflow_spark.operators.multimodal import (
        attach_media,
        audio_band_energies,
    )

    d = t(spark, sf_dir, "documents")
    en = audio_band_energies(attach_media(d))
    bit = lambda a, b: F.when(F.col(b) > F.col(a), 1).otherwise(0)  # noqa: E731
    fp = en.withColumn(
        "fingerprint",
        (
            bit("e0", "e1") * 4 + bit("e1", "e2") * 2 + bit("e2", "e3")
        ).cast("int"),
    )
    cnt = fp.groupBy("fingerprint").agg(F.count("*").alias("n_matches"))
    return fp.join(F.broadcast(cnt), "fingerprint").select(
        "doc_id", "fingerprint", "e0", "e1", "e2", "e3", "n_matches"
    )


@q(
    "ext_video_scenes",
    """
    WITH vi AS (
      SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
             3 + doc_id % 4 AS n
      FROM documents WHERE doc_id % 3 = 2
    ),
    fr AS (SELECT doc_id, w, h, n, unnest(range(n)) AS f FROM vi),
    cx AS (SELECT *, unnest(range(w)) AS x FROM fr),
    pix AS (SELECT *, unnest(range(h)) AS y FROM cx),
    fs AS (
      SELECT doc_id, w, h, n, f,
             CAST(sum((doc_id * 31 + 7 * x + 13 * y + 19 * f) % 256)
                  AS BIGINT) AS gs
      FROM pix GROUP BY ALL
    ),
    dl AS (
      SELECT doc_id, w, h, n, f, gs,
             lag(gs) OVER (PARTITION BY doc_id ORDER BY f) AS pgs
      FROM fs
    )
    SELECT doc_id, CAST(max(n) AS INT) AS n_frames,
           CAST(sum(CASE WHEN pgs IS NOT NULL
                         AND abs(gs - pgs) > 25 * w * h
                    THEN 1 ELSE 0 END) AS INT) AS n_cuts,
           CAST(max(CASE WHEN pgs IS NULL THEN 0
                         ELSE abs(gs - pgs) END) AS BIGINT)
             AS max_frame_delta
    FROM dl GROUP BY doc_id
    """,
)
def ext_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL decoded video frames — the standard
    shot-boundary heuristic (PySceneDetect's content detector shape): a
    cut fires where consecutive frames' luminance differs by more than a
    per-pixel threshold, compared CROSS-MULTIPLIED in integers
    (|sum_f - sum_prev| > 25 * w * h means "mean pixel change > 25" with
    no float threshold to flip a verdict). Frame sums come from the actual
    RIFF/AVI chunk-tree walk (operators.multimodal.video_frame_sums); the
    oracle re-derives every frame's sum analytically from the pixel
    generator, so a hash match proves the byte-level container decode.

    Plan: one Arrow-batched decode pass emitting (doc, frame, gray_sum)
    rows, then a lag window partitioned by doc + per-doc rollup — all JVM.
    At 100 TB frame rows shuffle once on doc_id (each video's frames land
    together, the window is per-doc local), and scene lists feed
    frame-sampling curation (keyframe extraction picks one frame per cut
    segment)."""
    from cdc_debezium_kafka_airflow_spark.operators.multimodal import (
        attach_media,
        video_frame_sums,
    )

    d = t(spark, sf_dir, "documents")
    fsums = video_frame_sums(attach_media(d))
    lagw = Window.partitionBy("doc_id").orderBy("f")
    dl = fsums.withColumn("pgs", F.lag("gray_sum").over(lagw))
    delta = F.abs(F.col("gray_sum") - F.col("pgs"))
    return dl.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_frames"),
        F.sum(
            F.when(
                F.col("pgs").isNotNull()
                & (delta > 25 * F.col("w") * F.col("h")),
                1,
            ).otherwise(0)
        )
        .cast("int")
        .alias("n_cuts"),
        F.max(F.coalesce(delta, F.lit(0))).cast("long").alias(
            "max_frame_delta"
        ),
    )


@q(
    "ext_keyframe_extract",
    """
    WITH vi AS (
      SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
             3 + doc_id % 4 AS n
      FROM documents WHERE doc_id % 3 = 2
    ),
    fr AS (SELECT doc_id, w, h, n, unnest(range(n)) AS f FROM vi),
    cx AS (SELECT *, unnest(range(w)) AS x FROM fr),
    pix AS (SELECT *, unnest(range(h)) AS y FROM cx),
    fs AS (
      SELECT doc_id, w, h, n, f,
             CAST(sum((doc_id * 31 + 7 * x + 13 * y + 19 * f) % 256)
                  AS BIGINT) AS gs
      FROM pix GROUP BY ALL
    ),
    dl AS (
      SELECT doc_id, w, h, f, gs,
             lag(gs) OVER (PARTITION BY doc_id ORDER BY f) AS pgs
      FROM fs
    ),
    cuts AS (
      SELECT doc_id, w, h, f,
             CASE WHEN pgs IS NOT NULL AND abs(gs - pgs) > 25 * w * h
                  THEN 1 ELSE 0 END AS is_cut
      FROM dl
    ),
    scenes AS (
      SELECT doc_id, w, h, f, is_cut,
             CAST(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY f
                  ROWS UNBOUNDED PRECEDING) AS INT) AS scene_id
      FROM cuts
    )
    SELECT doc_id, CAST(f AS INT) AS keyframe_f, scene_id,
           CAST((doc_id * 31 + 19 * f) % 256 AS INT) AS q00,
           CAST((doc_id * 31 + 7 * (w // 2) + 19 * f) % 256 AS INT) AS q01,
           CAST((doc_id * 31 + 13 * (h // 2) + 19 * f) % 256 AS INT) AS q10,
           CAST((doc_id * 31 + 7 * (w // 2) + 13 * (h // 2) + 19 * f) % 256
                AS INT) AS q11
    FROM scenes WHERE f = 0 OR is_cut = 1
    """,
)
def ext_keyframe_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe extraction — the frame-sampling step a multimodal training
    pipeline runs after shot detection (one representative frame per scene
    segment, here the segment's FIRST frame, plus its 2x2 thumbnail for
    downstream dedup/captioning): composes scene-cut detection with frame
    sampling over ONE real AVI decode pass. video_frame_sums emits every
    frame's luminance sum AND thumbnail pixels in a single Arrow-batched
    chunk walk; cut flags, running scene ids (cumulative window sum) and
    the keyframe filter are all JVM expressions. The oracle re-derives
    frame sums and thumbnail pixels analytically — a hash match proves the
    byte-level decode feeding BOTH features.

    At 100 TB: frames shuffle once on doc_id (same layout as the scene
    query — in a shared pipeline the two are one pass), keyframes are a
    ~20% filter whose thumbnails feed image-side dedup (ext_img_phash_dedup
    shape) without touching the video bytes again."""
    from cdc_debezium_kafka_airflow_spark.operators.multimodal import (
        attach_media,
        video_frame_sums,
    )

    d = t(spark, sf_dir, "documents")
    fsums = video_frame_sums(attach_media(d))
    lagw = Window.partitionBy("doc_id").orderBy("f")
    cumw = (
        Window.partitionBy("doc_id")
        .orderBy("f")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dl = fsums.withColumn("pgs", F.lag("gray_sum").over(lagw))
    is_cut = F.when(
        F.col("pgs").isNotNull()
        & (
            F.abs(F.col("gray_sum") - F.col("pgs"))
            > 25 * F.col("w") * F.col("h")
        ),
        1,
    ).otherwise(0)
    scenes = dl.withColumn("is_cut", is_cut).withColumn(
        "scene_id", F.sum("is_cut").over(cumw).cast("int")
    )
    return scenes.filter((F.col("f") == 0) | (F.col("is_cut") == 1)).select(
        "doc_id",
        F.col("f").cast("int").alias("keyframe_f"),
        "scene_id",
        "q00",
        "q01",
        "q10",
        "q11",
    )


@q(
    "ext_speech_segments",
    """
    WITH au AS (
      SELECT doc_id, 40 + doc_id % 57 AS n
      FROM documents WHERE doc_id % 3 = 1
    ),
    s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM au),
    blk AS (
      SELECT doc_id, n, i // 8 AS b,
             ((doc_id * 37 + 17 * i) % 4096) - 2048 AS v
      FROM s
    ),
    be AS (
      SELECT doc_id, max(n) AS n, b, CAST(sum(v * v) AS BIGINT) AS e
      FROM blk GROUP BY doc_id, b
    ),
    tot AS (
      SELECT doc_id,
             CAST(sum(e) AS BIGINT) AS total_e,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM be GROUP BY doc_id
    ),
    v AS (
      SELECT be.doc_id, be.b, tot.n_blocks,
             (be.e * be.n > tot.total_e * 8) AS voiced
      FROM be JOIN tot ON tot.doc_id = be.doc_id
    ),
    isl AS (
      SELECT doc_id, b, n_blocks,
             b - row_number() OVER (PARTITION BY doc_id ORDER BY b)
               AS isl_id
      FROM v WHERE voiced
    ),
    seg AS (
      SELECT doc_id, max(n_blocks) AS n_blocks, isl_id,
             CAST(count(*) AS BIGINT) AS seg_len
      FROM isl GROUP BY doc_id, isl_id
    )
    SELECT doc_id,
           CAST(max(n_blocks) AS INT) AS n_blocks,
           CAST(sum(seg_len) AS BIGINT) AS n_voiced,
           CAST(count(*) AS INT) AS n_segments,
           max(seg_len) AS longest_segment
    FROM seg GROUP BY doc_id
    """,
)
def ext_speech_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold activity segmentation over REAL decoded PCM — the
    VAD (voice-activity-detection) shape an audio-curation pipeline runs
    before transcription (keep speech segments, drop silence/noise): a
    fixed 8-sample block is ACTIVE when its energy exceeds the doc's
    average per-block energy, compared CROSS-MULTIPLIED in exact integers
    (block_e * n_samples > total_e * 8 — no float threshold anywhere);
    segments are maximal runs of active blocks, found with the classic
    gaps-and-islands window (block_id − row_number over active blocks).
    Docs whose every block is exactly average (no active blocks) drop out
    — the all-silence case. The oracle re-derives block energies
    analytically from the PCM generator; a hash match proves the RIFF
    byte walk + block DSP + island logic end-to-end.

    Plan: one Arrow decode pass emits (doc, block, energy) rows; the
    total-energy join, island ids, and segment rollups are JVM windows and
    hash aggregates all partitioned by doc_id — one shuffle key
    throughout. At 100 TB segment spans feed chunked transcription the
    same way scene cuts feed keyframe sampling."""
    from cdc_debezium_kafka_airflow_spark.operators.multimodal import (
        attach_media,
        audio_block_energies,
    )

    d = t(spark, sf_dir, "documents")
    be = audio_block_energies(attach_media(d), block=8)
    tot = be.groupBy("doc_id").agg(
        F.sum("e").alias("total_e"), F.count("*").alias("n_blocks")
    )
    v = be.join(tot, "doc_id").filter(
        F.col("e") * F.col("n_samples") > F.col("total_e") * 8
    )
    rn = Window.partitionBy("doc_id").orderBy("b")
    isl = v.withColumn("isl_id", F.col("b") - F.row_number().over(rn))
    seg = isl.groupBy("doc_id", "isl_id").agg(
        F.max("n_blocks").alias("n_blocks"),
        F.count("*").alias("seg_len"),
    )
    return seg.groupBy("doc_id").agg(
        F.max("n_blocks").cast("int").alias("n_blocks"),
        F.sum("seg_len").alias("n_voiced"),
        F.count("*").cast("int").alias("n_segments"),
        F.max("seg_len").alias("longest_segment"),
    )


# Deterministic synthetic URL per document (the corpus has no URL column;
# the _PII_SUFFIX_SQL precedent: construct the SAME value in both engines
# so the canonicalization is exercised on real variant forms — mixed-case
# scheme/host, www. prefixes, default ports, trailing slashes, utm_*
# tracking params, fragments).
_URL_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END || '://'"
    " || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END"
    " || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.com'"
    " || CASE WHEN doc_id % 6 = 0 THEN ':443'"
    "         WHEN doc_id % 6 = 3 THEN ':80' ELSE '' END"
    " || '/Articles/' || CAST(doc_id % 50 AS VARCHAR)"
    " || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    "        '?utm_source=feed&utm_campaign=x&page='"
    "          || CAST(doc_id % 50 AS VARCHAR)"
    "      WHEN doc_id % 11 = 0 THEN"
    "        '?page=' || CAST(doc_id % 50 AS VARCHAR)"
    "      ELSE '' END"
    " || CASE WHEN doc_id % 8 = 0 THEN '#section2' ELSE '' END"
)


def _url_col():
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    return F.concat(
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.when(d % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), s(d % 7), F.lit(".Example.com"),
        F.when(d % 6 == 0, F.lit(":443"))
        .when(d % 6 == 3, F.lit(":80"))
        .otherwise(F.lit("")),
        F.lit("/Articles/"), s(d % 50),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign=x&page="), s(d % 50)
            ),
        )
        .when(d % 11 == 0, F.concat(F.lit("?page="), s(d % 50)))
        .otherwise(F.lit("")),
        F.when(d % 8 == 0, F.lit("#section2")).otherwise(F.lit("")),
    )


@q(
    "ext_url_canonical_dedup",
    f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1))
               AS hostport,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path0,
             regexp_extract(url, '\\?([^#]*)', 1) AS query0
      FROM u
    ),
    canon AS (
      SELECT doc_id, url,
             scheme || '://' ||
             CASE WHEN scheme = 'https'
                  THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                                      ':443$', '')
                  ELSE regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                                      ':80$', '')
             END ||
             CASE WHEN regexp_replace(path0, '/$', '') = '' THEN '/'
                  ELSE regexp_replace(path0, '/$', '') END ||
             CASE WHEN coalesce(array_to_string(list_sort(list_filter(
                          string_split(query0, '&'),
                          p -> substr(p, 1, 4) <> 'utm_' AND p <> '')), '&'),
                          '')
                       = '' THEN ''
                  ELSE '?' || array_to_string(list_sort(list_filter(
                          string_split(query0, '&'),
                          p -> substr(p, 1, 4) <> 'utm_' AND p <> '')), '&')
             END AS canonical_url
      FROM parts
    )
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms
    FROM canon
    GROUP BY canonical_url
    """,
)
def ext_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL deduplication — the FIRST pass of every web-corpus
    pipeline (before any content hash is computed): URLs that differ only
    in case of scheme/host, a ``www.`` prefix, a default port, a trailing
    slash, ``utm_*`` tracking params, param order, or a fragment are the
    same resource. The corpus has no URL column, so a deterministic
    synthetic URL exercising every variant axis is constructed from
    doc_id IN BOTH ENGINES (the _PII_SUFFIX_SQL precedent) and
    canonicalized with mirrored regex/array expressions
    (operators/text.py:canonical_url) — the oracle compares real
    collapses, not a no-op.

    Scale posture: canonicalization is a map-only chain of JVM
    string/regex/higher-order-array expressions inside whole-stage
    codegen; the ONLY shuffle is the groupBy(canonical_url), whose key is
    exactly the storage bucket an incremental crawl dedup partitions by —
    at 100 TB new URLs canonicalize map-side and join only their bucket,
    the same incremental shape as ext_dedup_incremental."""
    from cdc_debezium_kafka_airflow_spark.operators.text import canonical_url

    d = t(spark, sf_dir, "documents").select("doc_id")
    u = d.select("doc_id", _url_col().alias("url"))
    c = u.select("doc_id", "url", canonical_url(F.col("url")).alias("canonical_url"))
    return c.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_doc"),
        F.count("*").alias("n_variants"),
        F.countDistinct("url").alias("n_raw_forms"),
    )


@q(
    "ext_substring_dedup_removal",
    f"""
    WITH d AS (
      SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
    ),
    toks AS (SELECT doc_id, len(w) AS n_tokens, w FROM d),
    spans AS (
      SELECT doc_id, i,
             md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])) AS h
      FROM toks
      CROSS JOIN unnest(range(1, greatest(n_tokens - 4, 0) + 1)) AS u(i)
    ),
    dup AS (SELECT h FROM spans GROUP BY h HAVING count(*) >= 2),
    covered AS (
      SELECT DISTINCT s.doc_id, u.j
      FROM spans s JOIN dup USING (h)
      CROSS JOIN unnest(range(s.i, s.i + 5)) AS u(j)
    ),
    isl AS (
      SELECT doc_id, j,
             j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp
      FROM covered
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_removed_tokens,
             CAST(count(DISTINCT grp) AS BIGINT) AS n_cut_intervals
      FROM isl GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_removed_tokens, 0) AS BIGINT)
             AS n_removed_tokens,
           CAST(coalesce(p.n_cut_intervals, 0) AS BIGINT)
             AS n_cut_intervals,
           round((t.n_tokens - coalesce(p.n_removed_tokens, 0))
                 / t.n_tokens, 6) AS kept_fraction
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def ext_substring_dedup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL (Lee et al. 2022, \"Deduplicating
    Training Data Makes Language Models Better\"): any word-5-gram span
    occurring >= 2 times corpus-wide is duplicated text; every token it
    covers is marked, and per document the marked positions merge into
    MAXIMAL cut intervals (gaps-and-islands over covered token indices).
    This is the surgical step after ext_span_dedup's detection verdict:
    instead of dropping whole documents, only the copied spans are cut.
    Output per doc: token count, removed-token count, number of cut
    intervals, kept fraction — the edit plan a removal pass executes.

    Scale posture: ONE span-hash shuffle builds corpus-wide span
    frequency (map-side partial agg absorbs boilerplate skew); the
    duplicated-span side is the rare side of the join (bloom/broadcast
    at production scale); covered-position expansion is bounded by
    k x |duplicated spans|; interval merging is one per-doc window over
    covered positions only — never the corpus token stream."""
    from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text

    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("w")
    )
    toks = d.select("doc_id", F.size("w").alias("n_tokens"), "w")
    k = 5
    span_pos = F.when(
        F.col("n_tokens") >= k,
        F.sequence(F.lit(1), F.col("n_tokens") - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    spans = toks.select(
        "doc_id",
        F.explode(span_pos).alias("i"),
        F.col("w"),
    ).select(
        "doc_id",
        "i",
        F.md5(
            F.concat_ws(
                " ",
                *[F.element_at("w", F.col("i") + j) for j in range(k)],
            )
        ).alias("h"),
    )
    spans = spans.persist()
    dup = (
        spans.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    covered = (
        spans.join(dup, "h", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (k - 1))
            ).alias("j"),
        )
        .distinct()
    )
    w_isl = Window.partitionBy("doc_id").orderBy("j")
    per_doc = (
        covered.withColumn(
            "grp", F.col("j") - F.row_number().over(w_isl)
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_removed_tokens"),
            F.countDistinct("grp").alias("n_cut_intervals"),
        )
    )
    out = (
        toks.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_removed_tokens"), F.lit(0))
            .cast("long")
            .alias("n_removed_tokens"),
            F.coalesce(F.col("n_cut_intervals"), F.lit(0))
            .cast("long")
            .alias("n_cut_intervals"),
            F.round(
                (
                    F.col("n_tokens")
                    - F.coalesce(F.col("n_removed_tokens"), F.lit(0))
                )
                / F.col("n_tokens"),
                6,
            ).alias("kept_fraction"),
        )
    )
    return out


@q(
    "ext_annotator_agreement",
    f"""
    WITH lab AS (
      SELECT lang,
             CAST(CAST(('0x' || substr(md5({NORM}), 1, 8)) AS BIGINT) % 3
                  AS INT) AS label_a,
             CAST(('0x' || substr(md5({NORM}), 9, 8)) AS BIGINT) AS h2
      FROM documents
    ),
    ab AS (
      SELECT lang, label_a,
             CASE WHEN h2 % 4 = 0
                  THEN CAST((label_a + 1 + h2 % 2) % 3 AS INT)
                  ELSE label_a END AS label_b
      FROM lab
    ),
    g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN label_a = label_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree,
             CAST(sum(CASE WHEN label_a = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS a0,
             CAST(sum(CASE WHEN label_a = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS a1,
             CAST(sum(CASE WHEN label_a = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS a2,
             CAST(sum(CASE WHEN label_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS b0,
             CAST(sum(CASE WHEN label_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS b1,
             CAST(sum(CASE WHEN label_b = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS b2
      FROM ab GROUP BY lang
    )
    SELECT lang, n, n_agree,
           round(CAST(n_agree AS DOUBLE) / n, 6) AS p_observed,
           round(CAST(a0*b0 + a1*b1 + a2*b2 AS DOUBLE) / (n*n), 6)
             AS p_expected,
           round(CAST(n_agree * n - (a0*b0 + a1*b1 + a2*b2) AS DOUBLE)
                 / (n * n - (a0*b0 + a1*b1 + a2*b2)), 6) AS kappa,
           (round(CAST(n_agree * n - (a0*b0 + a1*b1 + a2*b2) AS DOUBLE)
                  / (n * n - (a0*b0 + a1*b1 + a2*b2)), 6) >= 0.6)
             AS substantial
    FROM g
    """,
)
def ext_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen's kappa, 3-class) per language —
    the QA gate every preference/label dataset passes before it trains a
    reward model or classifier: raw percent agreement is inflated by
    class imbalance, kappa corrects with the chance-agreement term from
    the two annotators' marginals. Annotations are planted
    deterministically from the content hash (annotator B disagrees on a
    hash-selected 25% with a hash-chosen wrong class), so the expected
    kappa band (~0.6-0.75, 'substantial') is a real calibration: a kappa
    implementation that forgets the chance correction reports ~0.76
    everywhere and flips no flag, one that mixes up marginals moves
    p_expected.

    Exactness: kappa = (n_agree*n - Σ a_c*b_c) / (n² - Σ a_c*b_c) keeps
    EVERYTHING integer until ONE final division — no float accumulation
    at all. Plan: one map-side label derivation + one partial-agged
    aggregation to |langs| rows of 9 integer counters."""
    d = t(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    h1 = F.conv(F.substring(F.md5(norm), 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5(norm), 9, 8), 16, 10).cast("bigint")
    label_a = (h1 % 3).cast("int")
    label_b = F.when(
        h2 % 4 == 0, ((label_a + 1 + h2 % 2) % 3).cast("int")
    ).otherwise(label_a)
    ab = d.select(
        "lang", label_a.alias("label_a"), label_b.alias("label_b")
    )

    def cnt(col, c):
        return (
            F.sum(F.when(F.col(col) == c, 1).otherwise(0))
            .cast("bigint")
        )

    g = ab.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("label_a") == F.col("label_b"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_agree"),
        cnt("label_a", 0).alias("a0"),
        cnt("label_a", 1).alias("a1"),
        cnt("label_a", 2).alias("a2"),
        cnt("label_b", 0).alias("b0"),
        cnt("label_b", 1).alias("b1"),
        cnt("label_b", 2).alias("b2"),
    )
    pe_num = (
        F.col("a0") * F.col("b0")
        + F.col("a1") * F.col("b1")
        + F.col("a2") * F.col("b2")
    )
    kappa = F.round(
        (F.col("n_agree") * F.col("n") - pe_num).cast("double")
        / (F.col("n") * F.col("n") - pe_num),
        6,
    )
    return g.select(
        "lang",
        "n",
        "n_agree",
        F.round(F.col("n_agree").cast("double") / F.col("n"), 6).alias(
            "p_observed"
        ),
        F.round(
            pe_num.cast("double") / (F.col("n") * F.col("n")), 6
        ).alias("p_expected"),
        kappa.alias("kappa"),
        (kappa >= 0.6).alias("substantial"),
    )


@q(
    "ext_content_defined_chunks",
    f"""
    WITH d AS (SELECT doc_id, {NORM} AS t FROM documents
               WHERE length({NORM}) >= 8),
    c AS (
      SELECT doc_id, t, length(t) AS n,
             list_transform(range(1, length(t) + 1),
               i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))
               AS codes
      FROM d
    ),
    b AS (
      SELECT doc_id, t, n,
             list_filter(range(8, n + 1),
               i -> (codes[i] + codes[i-1]*31 + codes[i-2]*961
                     + codes[i-3]*29791 + codes[i-4]*923521
                     + codes[i-5]*28629151 + codes[i-6]*887503681
                     + codes[i-7]*27512614111) % 64 = 0) AS bps
      FROM c
    ),
    e AS (
      SELECT doc_id, t, n,
             CASE WHEN len(bps) > 0 AND bps[len(bps)] = n THEN bps
                  ELSE bps || [n] END AS ends
      FROM b
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ends) + 1),
               k -> md5(substr(t,
                      CAST(CASE WHEN k = 1 THEN 1
                           ELSE ends[k-1] + 1 END AS INT),
                      CAST(ends[k] - (CASE WHEN k = 1 THEN 0
                                      ELSE ends[k-1] END) AS INT)))))
               AS chash
      FROM e
    ),
    freq AS (SELECT chash, count(DISTINCT doc_id) AS ndocs
             FROM ch GROUP BY chash)
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
           round(sum(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS shared_frac
    FROM ch JOIN freq USING (chash)
    GROUP BY ch.doc_id
    """,
)
def ext_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync family): chunk
    boundaries fall where an 8-char polynomial rolling hash hits 0 mod 64
    (expected ~64-char chunks), so INSERTIONS SHIFT BOUNDARIES LOCALLY
    instead of re-aligning every downstream chunk — the property that
    makes dedup storage, incremental transfer, and chunk-level corpus
    dedup work where fixed-size chunking (ext_fingerprint's fp_chunk0)
    breaks on a single-byte edit. Per doc: chunk count + how much of it is
    shared verbatim with other documents (chunk-hash cross-doc join) —
    ~25% of this corpus's chunks are shared, the storage-dedup headroom
    readout.

    Everything is JVM-side HOF arithmetic: the code array is one
    transform, boundaries one filter with an 8-term int64 polynomial
    (exact, no modpow), chunk hashes one transform over the cut list; the
    only shuffles are the chunk-hash frequency aggregation and the join
    back. At corpus scale the chunk-hash table is the dedup store's
    index — the same content-keyed bucket shape as the URL and span
    dedups."""
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id", normalize_text(F.col("text")).alias("t")
        )
        .filter(F.length("t") >= 8)
        # the fixture is one parquet file -> one input split; the per-char
        # polynomial is the dominant cost, so spread it across cores (a
        # few MB of text shuffled once; at corpus scale the input arrives
        # pre-split and this is a no-op choice)
        .repartition(F.col("doc_id"))
    )
    ch = cdc_chunk_hashes(d)
    # "shared by >= 2 DISTINCT docs" via ONE window over the chunk hash:
    # min(doc_id) != max(doc_id) within the hash partition. The previous
    # groupBy(chash) + join-back re-evaluated the whole per-char chunk
    # pipeline on BOTH join inputs (same fix as ext_winnowing_fingerprint;
    # measured ~4.6 -> ~2.9 s at sf0.1).
    from pyspark.sql.window import Window as _W

    wh = _W.partitionBy("chash")
    marked = ch.select(
        "doc_id",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias(
            "is_shared"
        ),
    )
    shared = F.sum(F.when(F.col("is_shared"), 1).otherwise(0))
    return (
        marked
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            shared.cast("bigint").alias("n_shared"),
            F.round(
                shared / F.count("*").cast("double"),
                6,
            ).alias("shared_frac"),
        )
    )


def cdc_chunk_hashes(d: "DataFrame") -> "DataFrame":
    """(doc_id, t) -> (doc_id, chash): the content-defined chunk pipeline,
    shared by the registered query and the boundary-locality pytest."""
    c = d.select(
        "doc_id",
        "t",
        F.length("t").alias("n"),
        # split-once, not substr-per-position: substr(t, i, 1) re-scans
        # the string to position i, making the code array O(len^2) per doc
        # (measured 7.9 s at sf0.1); one split pass is linear (2.6 s)
        F.expr(
            "transform(split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))"
        ).alias("codes"),
    )
    b = c.select(
        "doc_id",
        "t",
        "n",
        F.expr(
            "filter(sequence(8, n), i ->"
            " (element_at(codes, i) + element_at(codes, i-1)*31"
            " + element_at(codes, i-2)*961 + element_at(codes, i-3)*29791"
            " + element_at(codes, i-4)*923521"
            " + element_at(codes, i-5)*28629151"
            " + element_at(codes, i-6)*887503681"
            " + element_at(codes, i-7)*27512614111) % 64 = 0)"
        ).alias("bps"),
    )
    e = b.select(
        "doc_id",
        "t",
        F.expr(
            "CASE WHEN size(bps) > 0 AND element_at(bps, size(bps)) = n"
            " THEN bps ELSE concat(bps, array(n)) END"
        ).alias("ends"),
    )
    ch = e.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ends)), k -> md5(CAST(substr(t,"
                " CASE WHEN k = 1 THEN 1"
                " ELSE element_at(ends, k-1) + 1 END,"
                " element_at(ends, k) - CASE WHEN k = 1 THEN 0"
                " ELSE element_at(ends, k-1) END) AS BINARY)))"
            )
        ).alias("chash"),
    )
    return ch


@q(
    "ext_signal_rank_corr",
    f"""
    WITH d0 AS (SELECT doc_id, lang, {NORM} AS t FROM documents),
    q AS (
      SELECT doc_id, lang,
             round(0.5 * least(len(string_split(t, ' ')) / 200.0, 1.0)
                   + 0.3 * least(len(list_filter(string_split(t, ' '),
                         w -> w IN ('the','a','of','and','to','in','is',
                                    'on')))
                         / greatest(len(string_split(t, ' ')), 1) * 5,
                         1.0)
                   + 0.2 * (1.0 - (length(t)
                         - length(regexp_replace(t, '[^a-z0-9 ]', '',
                                                 'g')))
                         / greatest(length(t), 1)), 6) AS quality_score
      FROM d0
    ),
    dd AS (SELECT doc_id, ['<s>'] || string_split({NORM}, ' ') AS w
           FROM documents),
    bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           FROM dd, unnest(range(1, len(w))) AS tt(i)),
    train_bg AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM train_bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n1 FROM train_bg GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w2) AS v FROM train_bg),
    nll AS (
      SELECT bg.doc_id,
             round(avg(-ln((coalesce(c2.n2, 0) + 1.0)
                           / (coalesce(c1.n1, 0) + 1.0 * vocab.v))), 6)
               AS avg_nll
      FROM bg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      CROSS JOIN vocab
      GROUP BY bg.doc_id
    ),
    r AS (
      SELECT q.lang,
             row_number() OVER (PARTITION BY q.lang
               ORDER BY q.quality_score ASC, q.doc_id ASC) AS rq,
             row_number() OVER (PARTITION BY q.lang
               ORDER BY nll.avg_nll ASC, q.doc_id ASC) AS rp
      FROM q JOIN nll USING (doc_id)
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum((rq - rp) * (rq - rp)) AS BIGINT) AS sum_d2,
           round(1.0 - CAST(6 * sum((rq - rp) * (rq - rp)) AS DOUBLE)
                 / (count(*) * (CAST(count(*) AS BIGINT) * count(*) - 1)),
                 6) AS spearman_rho,
           (abs(1.0 - CAST(6 * sum((rq - rp) * (rq - rp)) AS DOUBLE)
                / (count(*) * (CAST(count(*) AS BIGINT) * count(*) - 1)))
            >= 0.8) AS redundant
    FROM r GROUP BY lang
    """,
)
def ext_signal_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-signal agreement audit: Spearman rank correlation between
    the heuristic quality score and the LM perplexity score, per
    language — the decision input for 'can we drop one of these
    filters?'. |rho| >= 0.8 would flag the signals redundant; on this
    corpus rho sits near zero, the honest reading that the two filters
    capture DIFFERENT failure modes and both earn their pipeline slot
    (the CCNet stack runs both for exactly this reason).

    Spearman, not Pearson, on purpose: ranks make the statistic exact
    integer arithmetic (Σd² in int64, ONE final division) — a Pearson
    over float sums would be reduction-order-dependent across engines.
    Rank ties cannot occur (row_number with doc_id tie-break over
    already-oracle-exact rounded signals). Scale posture: the ranks are
    per-language global sorts — an audit run on a sampled stratum at
    corpus scale, like ext_ann_recall_audit's query stratum; the two
    signal inputs reuse the production queries' plans unchanged."""
    docs = t(spark, sf_dir, "documents")
    q_frame = text_metrics(docs).select("doc_id", "quality_score")
    nll = QUERIES["ext_bigram_perplexity"](spark, sf_dir).select(
        "doc_id", "avg_nll"
    )
    langs = docs.select("doc_id", "lang")
    j = langs.join(q_frame, "doc_id").join(nll, "doc_id")
    wq = Window.partitionBy("lang").orderBy(
        F.asc("quality_score"), F.asc("doc_id")
    )
    wp = Window.partitionBy("lang").orderBy(
        F.asc("avg_nll"), F.asc("doc_id")
    )
    r = j.select(
        "lang",
        F.row_number().over(wq).alias("rq"),
        F.row_number().over(wp).alias("rp"),
    )
    d2 = (F.col("rq") - F.col("rp")) * (F.col("rq") - F.col("rp"))
    agg = r.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(d2).cast("bigint").alias("sum_d2"),
    )
    rho = F.lit(1.0) - (F.lit(6) * F.col("sum_d2")).cast("double") / (
        F.col("n_docs")
        * (F.col("n_docs").cast("bigint") * F.col("n_docs") - 1)
    )
    return agg.select(
        "lang",
        "n_docs",
        "sum_d2",
        F.round(rho, 6).alias("spearman_rho"),
        (F.abs(rho) >= 0.8).alias("redundant"),
    )
