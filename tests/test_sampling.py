"""Deterministic sampling operators (operators/sampling.py): the guarantees
the docstring claims — partition-independence, split disjointness, and
duplicate-texts-share-a-split — asserted directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.operators.sampling import (
    content_bucket,
    stratified_sample,
    train_val_test_split,
)
from cdc_debezium_kafka_airflow_spark.operators.text import normalize_text
from cdc_debezium_kafka_airflow_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_sample_membership_is_partition_independent(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    a = stratified_sample(docs, norm, F.col("lang"), {"en": 40, "es": 80})
    b = stratified_sample(
        docs.repartition(17, "source"), norm, F.col("lang"), {"en": 40, "es": 80}
    )
    ids = lambda df: {r.doc_id for r in df.select("doc_id").collect()}
    assert ids(a) == ids(b) and len(ids(a)) > 0


def test_sample_rate_is_roughly_honored(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    sampled = stratified_sample(docs, norm, F.col("lang"), {"en": 40})
    n_en = docs.filter(F.col("lang") == "en").count()
    k_en = sampled.filter(F.col("lang") == "en").count()
    # 40% Bernoulli on a content hash: loose bound, just not 0%/100%
    assert 0.15 * n_en <= k_en <= 0.65 * n_en
    # non-target strata pass through untouched
    assert (
        sampled.filter(F.col("lang") != "en").count()
        == docs.filter(F.col("lang") != "en").count()
    )


def test_split_is_disjoint_exhaustive_and_duplicate_safe(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # plant an exact duplicate pair with fresh ids: they must co-locate
    dup = docs.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    both = docs.unionByName(dup)
    labeled = train_val_test_split(both, normalize_text(F.col("text")))
    assert labeled.count() == both.count()  # exhaustive: every row labeled
    per_text_splits = (
        labeled.groupBy(normalize_text(F.col("text")).alias("t"))
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(F.max("n_splits").alias("m"))
        .collect()[0]
        .m
    )
    assert per_text_splits == 1  # duplicates never straddle a boundary
    sizes = {r.split: r.n for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) <= {"train", "val", "test"} and sizes["train"] > sizes.get("val", 0)


def test_bucket_stays_jvm_side(spark, sf_dir):
    """The gate must be a pure expression: no Python eval, no exchange."""
    docs = _docs(spark, sf_dir)
    plan = (
        docs.withColumn("bucket", content_bucket(normalize_text(F.col("text"))))
        .filter(F.col("bucket") < 40)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_mix_epochs_and_copy_numbers(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.operators.sampling import weighted_mix

    docs = _docs(spark, sf_dir)
    mixed = weighted_mix(
        docs, normalize_text(F.col("text")), F.col("source"),
        {"src0": 2.5, "src1": 2.0}, default_epochs=0.5,
    )
    per_src = {
        r.source: (r.n_in, r.n_out)
        for r in mixed.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_in"), F.count("*").alias("n_out"))
        .collect()
    }
    n0_in, n0_out = per_src["src0"]
    assert 2 * n0_in <= n0_out <= 3 * n0_in  # 2.5 epochs: between x2 and x3
    n1_in, n1_out = per_src["src1"]
    assert n1_out == 2 * n1_in  # exactly 2 epochs, no fractional part
    # copy_n is a dense 1..n_copies per doc: max == n_copies, count == n_copies
    bad = (
        mixed.groupBy("doc_id", "n_copies")
        .agg(F.max("copy_n").alias("mx"), F.count("*").alias("n"))
        .filter((F.col("mx") != F.col("n_copies")) | (F.col("n") != F.col("n_copies")))
        .count()
    )
    assert bad == 0


def test_pack_sequences_greedy_invariants(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
        pack_sequences,
    )

    docs = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    sharded = docs.withColumn("shard", F.pmod(content_bucket(norm), F.lit(8)))
    packed = pack_sequences(
        sharded, F.size(F.split(norm, " ")).cast("bigint"),
        [F.col("lang"), F.col("shard")], F.col("doc_id"), seq_len=256,
    )
    assert packed.count() == docs.count()  # every doc lands in a pack
    # greedy fill: within a shard, pack ids are non-decreasing in doc order
    # and contiguous from 0 (no empty packs); a doc starts in pack p iff its
    # cumulative start offset is in [p*256, (p+1)*256)
    stats = (
        packed.groupBy("lang", "shard")
        .agg(
            F.min("pack_id").alias("lo"),
            F.max("pack_id").alias("hi"),
            F.countDistinct("pack_id").alias("n_packs"),
        )
        .collect()
    )
    for r in stats:
        assert r.lo == 0 and r.n_packs == r.hi + 1
    # cross-check the distributed cumsum against a pure-Python greedy replay
    # of the largest shard: same docs, same order, same fill rule
    top = (
        packed.groupBy("lang", "shard").count()
        .orderBy(F.desc("count"), "lang", "shard").first()
    )
    rows = (
        packed.filter((F.col("lang") == top.lang) & (F.col("shard") == top.shard))
        .orderBy("doc_id")
        .select("doc_id", "n_tokens", "pack_id")
        .collect()
    )
    offset = 0
    for r in rows:
        assert r.pack_id == offset // 256, (r.doc_id, offset, r.pack_id)
        offset += r.n_tokens


def test_mix_is_map_only_and_packing_shuffles_once(spark, sf_dir):
    """Scale guards: weighted_mix must not shuffle at all (pure per-row
    expressions + explode); pack_sequences must shuffle exactly once, on the
    shard keys that bound its sequential cumsum."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
        pack_sequences,
        weighted_mix,
    )

    docs = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    mix_plan = (
        weighted_mix(docs, norm, F.col("source"), {"src0": 2.5}, 0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in mix_plan
    assert "Python" not in mix_plan  # explode(sequence) is JVM-side

    sharded = docs.withColumn("shard", F.pmod(content_bucket(norm), F.lit(8)))
    pack_plan = (
        pack_sequences(
            sharded, F.size(F.split(norm, " ")).cast("bigint"),
            [F.col("lang"), F.col("shard")], F.col("doc_id"), seq_len=256,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert pack_plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(lang" in pack_plan


def test_decontaminate_flags_planted_near_copy(spark, sf_dir):
    """A train doc that is a near-copy of a held-out doc (one word appended)
    must be flagged; flagged docs are always train-split members."""
    from cdc_debezium_kafka_airflow_spark.operators.dedup import shingle_docs
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        decontaminate,
        train_val_test_split,
    )

    docs = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    labeled = train_val_test_split(docs, norm)
    ev = labeled.filter(F.col("split") != "train").select("text").first()
    assert ev is not None
    # nudge the copy's hash until it lands in the train split (suffix only
    # perturbs trailing shingles; the shared prefix keeps the overlap high)
    plant = None
    for i in range(40):
        cand = ev.text + f" zz{i}"
        lab = train_val_test_split(
            spark.createDataFrame([(99_000_000 + i, cand)], "doc_id long, text string"),
            normalize_text(F.col("text")),
        ).first()
        if lab.split == "train":
            plant = (99_000_000 + i, cand)
            break
    assert plant is not None, "no suffix landed the planted copy in train"
    planted = spark.createDataFrame(
        [(plant[0], plant[1], "en", "srcX", len(plant[1]))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    flagged = decontaminate(
        shingle_docs(
            train_val_test_split(docs.unionByName(planted), norm), "word", 3
        ).persist()
    )
    assert flagged.filter(F.col("doc_id") == plant[0]).count() == 1
    # flagged ids are train members only
    train_ids = {
        r.doc_id
        for r in train_val_test_split(docs.unionByName(planted), norm)
        .filter(F.col("split") == "train").select("doc_id").collect()
    }
    for r in flagged.select("doc_id").collect():
        assert r.doc_id in train_ids


def test_pack_split_invariants(spark, sf_dir):
    """Length-aware packing invariants, independent of the oracle:
    (1) per doc, chunk token counts sum to the doc's token count (nothing
        lost or duplicated by the split);
    (2) within a shard, every pack except the last is EXACTLY seq_len full;
    (3) chunk numbering is contiguous from 1 per doc."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
        pack_sequences_split,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    seq_len = 256
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    sharded = docs.withColumn("shard", F.pmod(content_bucket(norm), F.lit(8)))
    packed = pack_sequences_split(
        sharded,
        F.size(ws_tokens(norm)).cast("bigint"),
        [F.col("lang"), F.col("shard")],
        F.col("doc_id"),
        seq_len=seq_len,
    ).select(
        "doc_id", "lang", "shard", "n_tokens", "pack_id", "chunk_n",
        "chunk_tokens",
    ).persist()

    # (1) chunks reassemble the doc exactly
    bad_docs = (
        packed.groupBy("doc_id", "n_tokens")
        .agg(F.sum("chunk_tokens").alias("s"))
        .filter(F.col("s") != F.col("n_tokens"))
        .count()
    )
    assert bad_docs == 0

    # (2) every non-final pack per (lang, shard) is exactly full
    per_pack = packed.groupBy("lang", "shard", "pack_id").agg(
        F.sum("chunk_tokens").alias("fill")
    )
    last_pack = per_pack.groupBy("lang", "shard").agg(
        F.max("pack_id").alias("last_id")
    )
    non_final_not_full = (
        per_pack.join(last_pack, ["lang", "shard"])
        .filter(
            (F.col("pack_id") != F.col("last_id"))
            & (F.col("fill") != seq_len)
        )
        .count()
    )
    assert non_final_not_full == 0

    # (3) chunk_n contiguous from 1 per doc
    bad_chunks = (
        packed.groupBy("doc_id")
        .agg(
            F.min("chunk_n").alias("lo"),
            F.max("chunk_n").alias("hi"),
            F.count("*").alias("n"),
        )
        .filter((F.col("lo") != 1) | (F.col("hi") != F.col("n")))
        .count()
    )
    assert bad_chunks == 0
    packed.unpersist()


def test_pack_split_zero_token_docs(spark):
    """A doc with 0 tokens must emit NO chunk rows. Regression: before the
    n_tokens > 0 guard, `last = floor((tok_start-1)/seq_len)` could fall
    below `first` and F.sequence(first, last) generated a DESCENDING
    sequence, producing spurious zero-token chunks (latent on the fixture,
    whose docs are all 10-99 tokens)."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        pack_sequences_split,
    )

    rows = [
        ("d1", 10), ("d2", 0), ("d3", 7), ("d4", 0), ("d5", 0),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, n long")
    packed = pack_sequences_split(
        docs, F.col("n"), [F.lit(0)], F.col("doc_id"), seq_len=8
    )
    out = packed.select("doc_id", "chunk_tokens").collect()
    ids = {r.doc_id for r in out}
    assert ids == {"d1", "d3"}
    assert all(r.chunk_tokens > 0 for r in out)
    # token mass is conserved for the surviving docs
    total = packed.agg(F.sum("chunk_tokens")).collect()[0][0]
    assert total == 17
