"""Curation operators (operators/curation.py + the bloom decontaminator):
the oracle gate pins end-to-end results; these tests pin the SCALE paths the
oracle can't see — the map-side cap prefilter must not change the kept set,
and the Bloom prefilter must actually shrink the join input while keeping
the exact result.
"""

from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.operators.curation import (
    canonicalize_url,
    cap_per_domain,
)
from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text
from cdc_debezium_kafka_airflow_spark.sources.tables import load_table


def test_canonicalize_url_cases(spark):
    rows = [
        ("HTTPS://WWW.Foo.Example.COM:8080/docs/1?utm=x", "foo.example.com"),
        ("http://foo.example.com/docs/2/", "foo.example.com"),
        ("https://www.bar.org/a/b#frag", "bar.org"),
        ("ftp://Baz.Net", "baz.net"),
        ("nohost", "nohost"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    domain, norm = canonicalize_url(F.col("url"))
    got = df.select(domain.alias("d"), norm.alias("n")).collect()
    assert [r.d for r in got] == [d for _, d in rows]
    # trailing slash, query, fragment all stripped from the normalized url
    assert got[0].n == "foo.example.com/docs/1"
    assert got[1].n == "foo.example.com/docs/2"
    assert got[2].n == "bar.org/a/b"


def test_cap_prefilter_preserves_kept_set(spark, sf_dir):
    """The map-side local-top-cap prefilter (the rank analog of a partial
    aggregate) must yield exactly the same kept rows as the direct global
    rank — on a multi-partition input so local ranks genuinely differ from
    global ones."""
    d = load_table(spark, sf_dir, "documents").repartition(7)
    pri = [F.md5(normalize_text(F.col("text"))), F.col("doc_id")]
    cap = 5

    def kept_ids(prefilter: bool) -> list:
        out = cap_per_domain(
            d, F.col("source"), priority=pri, cap=cap, prefilter=prefilter
        )
        return sorted(
            r.doc_id for r in out.filter("kept").select("doc_id").collect()
        )

    direct = kept_ids(False)
    prefiltered = kept_ids(True)
    assert direct == prefiltered
    assert len(direct) > 0


def test_bloom_prefilter_shrinks_and_matches(spark, sf_dir):
    """decontaminate_bloom == decontaminate exactly (no false negatives),
    and the bloom candidate stream is genuinely smaller than the full train
    shingle stream (the point of the prefilter)."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        decontaminate,
        decontaminate_bloom,
    )
    from cdc_debezium_kafka_airflow_spark.operators.dedup import (
        shingled_documents,
    )

    sh = shingled_documents(spark, sf_dir, unit="word", k=3).select(
        "doc_id",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
        .alias("split"),
        "shingles",
    )
    plain = sorted(map(tuple, decontaminate(sh).collect()))
    bloom = sorted(map(tuple, decontaminate_bloom(sh).collect()))
    assert bloom == plain
    assert len(plain) > 0


def test_semantic_dedup_invariants(spark, sf_dir):
    """Every drop must point at a lower-id cell-mate; exact duplicate
    embeddings can never both survive; determinism across runs."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    # plant an exact duplicate pair in one cell — pick the row ONCE (a bare
    # limit(1) re-evaluated as a second action is not guaranteed to return
    # the same row under a different scan order)
    src = e.orderBy("vec_id").limit(1).collect()[0]
    orig_id = src.vec_id
    dup = spark.createDataFrame(
        [(orig_id + 10_000_000, src.embedding, src.label)],
        e.select("vec_id", "embedding", "label").schema,
    )
    base = e.select("vec_id", "embedding", "label").unionByName(dup)
    out = semantic_dedup(base, threshold=0.35).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(out) == base.count()
    planted = by_id[orig_id + 10_000_000]
    assert not planted.kept and planted.dup_of is not None
    for r in out:
        if not r.kept:
            assert r.dup_of is not None and r.dup_of < r.vec_id
            assert by_id[r.dup_of].cell == r.cell
        else:
            assert r.dup_of is None
    again = semantic_dedup(base, threshold=0.35).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_shuffle_shards_partition_independent(spark):
    """Property: shard id and within-shard position never depend on the
    input partitioning — the reproducibility contract that distinguishes
    the content-hash shuffle from orderBy(rand())."""
    rows = [(i, f"doc text number {i} with words") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from cdc_debezium_kafka_airflow_spark.operators.curation import (
        shuffle_shards,
    )

    def run(parts):
        out = shuffle_shards(
            df.repartition(parts),
            normalize_text(F.col("text")),
            F.col("doc_id"),
            n_shards=8,
        )
        return sorted(
            (r.doc_id, r.shard, r.pos)
            for r in out.select("doc_id", "shard", "pos").collect()
        )

    assert run(1) == run(13)


def test_semantic_dedup_mega_cell_cap(spark):
    """A cell over ``max_cell_size`` is sub-split in-task: every final
    block (the emitted cell id) holds <= cap rows, split ids are negative
    path encodings, exact planted duplicates still collapse, dup_of stays
    a lower-id SAME-BLOCK member, and the verdict is layout-independent."""
    import random

    from cdc_debezium_kafka_airflow_spark.operators.dedup import semantic_dedup

    rng = random.Random(5)
    rows = []
    for vid in range(300):  # all in ONE upstream cell
        vec = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
        rows.append((vid, vec, 2))
    rows.append((900, rows[4][1], 2))  # exact dup of vid 4
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    cap = 48
    out = semantic_dedup(df, threshold=0.999, max_cell_size=cap).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(out) == len(rows)
    sizes: dict[int, int] = {}
    for r in out:
        sizes[r.cell] = sizes.get(r.cell, 0) + 1
    assert max(sizes.values()) <= cap and min(sizes) < 0
    # identical vectors share every split path -> the planted dup dies
    assert by_id[900].cell == by_id[4].cell
    assert not by_id[900].kept and by_id[900].dup_of == 4
    for r in out:
        if not r.kept:
            assert r.dup_of < r.vec_id and by_id[r.dup_of].cell == r.cell
    again = semantic_dedup(
        df.repartition(9), threshold=0.999, max_cell_size=cap
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_semantic_dedup_cell_permutation_invariant(spark):
    """Property: the kept set must not depend on how rows are partitioned
    or ordered on arrival — only on (id, cell, vector)."""
    import random

    from cdc_debezium_kafka_airflow_spark.operators.dedup import semantic_dedup

    rng = random.Random(11)
    rows = []
    for vid in range(120):
        vec = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
        rows.append((vid, vec, vid % 4))
    shuffled = rows[:]
    rng.shuffle(shuffled)
    a = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    b = spark.createDataFrame(
        shuffled, "vec_id long, embedding array<double>, label int"
    ).repartition(7)
    ra = sorted(map(tuple, semantic_dedup(a, threshold=0.8).collect()))
    rb = sorted(map(tuple, semantic_dedup(b, threshold=0.8).collect()))
    assert ra == rb


def test_stream_quota_correct_across_arrow_chunks(spark, sf_dir):
    """Regression: a (domain, micro-batch) group arriving as MULTIPLE Arrow
    chunks must still admit strictly by doc_id across the whole batch —
    forced here by shrinking the Arrow batch size so every group splits."""
    from cdc_debezium_kafka_airflow_spark.streaming import jobs

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = {
            r.doc_id: r.admitted
            for r in jobs.stream_domain_quota(spark, sf_dir, cap=7).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    expect = {
        r.doc_id: r.rn <= 7
        for r in docs.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == expect


def test_bpe_matches_reference(spark, sf_dir):
    """The distributed BPE merge sequence must be bit-identical to a
    pure-Python reference implementation on the same corpus (same
    normalization, same (count DESC, pair ASC) tie-break, min count 2)."""
    import re
    from collections import Counter

    import pandas as pd

    from cdc_debezium_kafka_airflow_spark.operators.bpe import END, train_bpe
    from cdc_debezium_kafka_airflow_spark.queries.common import t as load

    docs = load(spark, sf_dir, "documents")
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in train_bpe(docs, n_merges=8).collect()
    ]

    texts = [r.text for r in docs.select("text").collect()]
    wfreq = Counter()
    for text in texts:
        norm = re.sub(r"\s+", " ", text.strip()).lower()
        for w in norm.split(" "):
            if w:
                wfreq[w] += 1
    symbols = {w: tuple(list(w) + [END]) for w in wfreq}
    expected = []
    for rank in range(8):
        pairs = Counter()
        for w, freq in wfreq.items():
            seq = symbols[w]
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (left, right), cnt = best
        if cnt < 2:
            break
        expected.append((rank, left, right, left + right, cnt))
        for w, seq in symbols.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            symbols[w] = tuple(out)
    assert got == expected


def test_bpe_deterministic_across_partitioning(spark, sf_dir):
    """Same merge table regardless of input partition layout."""
    from cdc_debezium_kafka_airflow_spark.operators.bpe import train_bpe
    from cdc_debezium_kafka_airflow_spark.queries.common import t as load

    docs = load(spark, sf_dir, "documents")
    a = train_bpe(docs, n_merges=4).collect()
    b = train_bpe(docs.repartition(13), n_merges=4).collect()
    assert a == b


def test_bpe_tokenize_reference(spark, sf_dir):
    """The distributed tokenize-apply must reproduce a pure-Python greedy
    lowest-rank-first tokenizer: identical top-20 token histogram."""
    import re
    from collections import Counter

    from cdc_debezium_kafka_airflow_spark.queries.ext_queries import (
        ext_bpe_tokenize,
    )
    from cdc_debezium_kafka_airflow_spark.operators.bpe import (
        END,
        train_bpe_cached,
    )
    from cdc_debezium_kafka_airflow_spark.queries.common import t as load

    got = [
        (r.token, r.n_occurrences)
        for r in ext_bpe_tokenize(spark, sf_dir).collect()
    ]

    docs = load(spark, sf_dir, "documents")
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    merges = train_bpe_cached(docs, f"docs_{tag}", n_merges=8)
    rank_of = {(l, r): rank for rank, l, r, _m, _c in merges}

    texts = [r.text for r in docs.select("text").collect()]
    wfreq = Counter()
    for text in texts:
        norm = re.sub(r"\s+", " ", text.strip()).lower()
        for w in norm.split(" "):
            if w:
                wfreq[w] += 1
    tok_counts = Counter()
    for w, freq in wfreq.items():
        symbols = list(w) + [END]
        while len(symbols) >= 2:
            best, best_rank = None, None
            for i in range(len(symbols) - 1):
                r = rank_of.get((symbols[i], symbols[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            symbols[best : best + 2] = [symbols[best] + symbols[best + 1]]
        for s in symbols:
            tok_counts[s] += freq
    expected = sorted(
        tok_counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:20]
    assert got == expected


def test_bigram_perplexity_scores_heldout_unseen_mass(spark, sf_dir):
    """ext_bigram_perplexity: every document is scored (incl. the held-out
    20%), NLL is strictly positive, and held-out docs actually contain
    bigrams unseen in training (the smoothing path is exercised, not
    decorative)."""
    from pyspark.sql import functions as F
    from cdc_debezium_kafka_airflow_spark.queries.registry import QUERIES
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    out = QUERIES["ext_bigram_perplexity"](spark, sf_dir).persist()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    assert out.filter(F.col("avg_nll") <= 0).count() == 0
    # held-out docs must on average score WORSE than train docs (they carry
    # unseen-bigram mass) — the property that makes the filter a filter
    m = out.groupBy((F.col("doc_id") % 5 == 0).alias("held")).agg(
        F.avg("avg_nll").alias("a")
    )
    rows = {r.held: r.a for r in m.collect()}
    assert rows[True] > rows[False]


def test_kneser_ney_generalizes_and_tracks_add1(spark, sf_dir):
    """ext_kneser_ney_lm: every doc scored, NLL positive, held-out docs
    score worse on average (generalization — the property that makes the
    filter a filter), and the KN scores stay within a tight band of the
    add-1 model's on this fixture: the synthetic train split covers
    virtually every held-out bigram (0-2 unseen pairs per sf), so the two
    smoothers must nearly agree (|Δ| < 0.1 nats) — a discount/continuation
    wiring bug (e.g. dropping the D·N1+·Pcont term, or dividing by the
    wrong context total) moves KN by far more than that band. n_backoff
    is legitimately 0 here (every held-out context word occurs in train);
    the unseen-context branch is exercised by the oracle equivalence, not
    by this corpus."""
    from pyspark.sql import functions as F
    from cdc_debezium_kafka_airflow_spark.queries.registry import QUERIES
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    out = QUERIES["ext_kneser_ney_lm"](spark, sf_dir).persist()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    assert out.filter(F.col("avg_nll") <= 0).count() == 0
    held = F.col("doc_id") % 5 == 0
    m = out.groupBy(held.alias("held")).agg(F.avg("avg_nll").alias("a"))
    rows = {r.held: r.a for r in m.collect()}
    assert rows[True] > rows[False]
    add1 = (
        QUERIES["ext_bigram_perplexity"](spark, sf_dir)
        .filter(held)
        .agg(F.avg("avg_nll"))
        .collect()[0][0]
    )
    kn = out.filter(held).agg(F.avg("avg_nll")).collect()[0][0]
    assert abs(kn - add1) < 0.1


def test_dsir_selects_target_like_docs(spark, sf_dir):
    """ext_dsir_resample: the selected 20% must be enriched in the target
    language relative to the corpus (the property DSIR exists for), and
    exactly floor(0.2*n) docs are selected."""
    from pyspark.sql import functions as F
    from cdc_debezium_kafka_airflow_spark.queries.registry import QUERIES
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    out = QUERIES["ext_dsir_resample"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = out.join(docs, "doc_id").persist()
    n = j.count()
    n_sel = j.filter("selected").count()
    assert n_sel == int(0.2 * n)
    en_rate_sel = (
        j.filter("selected").filter(F.col("lang") == "en").count() / n_sel
    )
    en_rate_all = j.filter(F.col("lang") == "en").count() / n
    assert en_rate_sel > en_rate_all


def test_temperature_mix_flattens_distribution(spark, sf_dir):
    """After temperature sampling the kept-doc language ratio max/min must
    shrink toward sqrt of the raw ratio (alpha=1/2), and the smallest
    language must keep everything."""
    from collections import Counter

    from cdc_debezium_kafka_airflow_spark.queries.registry import QUERIES

    rows = QUERIES["ext_temperature_mix"](spark, sf_dir).collect()
    raw = Counter(r.lang for r in rows)
    kept = Counter(r.lang for r in rows if r.kept)
    raw_ratio = max(raw.values()) / min(raw.values())
    kept_ratio = max(kept.values()) / min(kept.values())
    assert kept_ratio < raw_ratio  # flattened
    smallest = min(raw, key=raw.get)
    assert kept[smallest] == raw[smallest]  # rate 1.0 for the floor lang
    for r in rows:
        assert r.kept == (r.bucket < r.keep_threshold)


def test_corpus_pipeline_funnel_consistency(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.registry import QUERIES

    rows = {r.stage_id: r for r in
            QUERIES["e2e_corpus_pipeline"](spark, sf_dir).collect()}
    assert [rows[i].stage for i in range(5)] == [
        "input", "quality_gate", "exact_dedup", "decontaminate",
        "pack_sequences",
    ]
    # each stage consumes the previous stage's output (decontaminate's
    # input is the train SLICE of the dedup output, so <=)
    assert rows[1].rows_in == rows[0].rows_out
    assert rows[2].rows_in == rows[1].rows_out
    assert rows[3].rows_in <= rows[2].rows_out
    assert rows[4].rows_in == rows[3].rows_out
    # monotone shrink and nothing degenerates to empty
    assert rows[0].rows_out >= rows[1].rows_out >= rows[2].rows_out
    assert 0 < rows[3].rows_out <= rows[3].rows_in
    assert 0 < rows[4].rows_out < rows[4].rows_in  # packs << docs


def test_classifier_train_learns(spark, sf_dir):
    """The distributed GD loop must actually LEARN: accuracy beats the
    majority-class baseline and final loss beats the zero-model's ln 2 —
    guarding against hyperparameter edits that silently regress training
    into predict-the-majority (the lr=0.5/3-iter trap found while tuning)."""
    import math

    from cdc_debezium_kafka_airflow_spark.queries.ext_queries import (
        ext_classifier_train,
    )

    m = {r.metric: r.value for r in ext_classifier_train(spark, sf_dir).collect()}
    n, correct = m["n_train"], m["n_correct"]
    majority = 0.6 * n  # both classes are ~half the corpus at every SF
    assert correct > majority, (correct, n)
    assert m["train_loss"] < math.log(2.0) - 0.1, m["train_loss"]
    assert m["w_ntok"] > 0, m  # the label is a token-count threshold


def test_canonical_url_planted_variants(spark):
    """canonical_url collapses every equivalence axis (case, www, default
    port, trailing slash, utm params, param order, fragment) and keeps
    genuinely different URLs apart."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.text import canonical_url

    urls = [
        (1, "HTTPS://WWW.Example.COM:443/a/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com/a?b=2&a=1"),
        (3, "https://example.com/a?a=1&b=2&utm_campaign=y"),
        (4, "http://example.com:80"),
        (5, "HTTP://www.example.com/"),
        (6, "https://example.com/a?a=1"),      # different params: kept apart
        (7, "https://example.com/a/b?a=1&b=2"),  # different path: kept apart
        (8, "https://example.com:8080/a?a=1&b=2"),  # non-default port kept
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    got = {
        r.doc_id: r.cu
        for r in df.select(
            "doc_id", canonical_url(F.col("url")).alias("cu")
        ).collect()
    }
    assert got[1] == got[2] == got[3] == "https://example.com/a?a=1&b=2"
    assert got[4] == "http://example.com/"
    assert got[5] == "http://example.com/"
    assert got[6] == "https://example.com/a?a=1"
    assert got[7] == "https://example.com/a/b?a=1&b=2"
    assert got[8] == "https://example.com:8080/a?a=1&b=2"


def test_substring_removal_cuts_planted_copied_block(spark):
    """Two otherwise-different docs share one verbatim 10-word block: the
    removal plan must cut exactly that block (one interval, 10 tokens)
    from each and leave a third unrelated doc untouched."""
    from cdc_debezium_kafka_airflow_spark.queries.ext_queries import (
        ext_substring_dedup_removal,
    )
    import os
    import shutil
    import tempfile

    block = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, f"one two three {block} four five six"),
        (2, f"seven eight nine ten {block} eleven twelve"),
        (3, "totally unrelated words without any copied content here"),
    ]
    tmp = tempfile.mkdtemp()
    try:
        spark.createDataFrame(docs, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r.doc_id: r
            for r in ext_substring_dedup_removal(spark, tmp).collect()
        }
        # the copied block is 10 tokens; 5-gram spans inside it repeat
        # corpus-wide, covering exactly those 10 positions in each doc
        assert out[1].n_removed_tokens == 10
        assert out[1].n_cut_intervals == 1
        assert out[2].n_removed_tokens == 10
        assert out[2].n_cut_intervals == 1
        assert out[3].n_removed_tokens == 0
        assert out[3].n_cut_intervals == 0
        assert out[3].kept_fraction == 1.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
