"""Deterministic corpus sampling for training-data pipelines: stratified
downsampling and train/val/test splitting, both gated on a CONTENT hash
rather than an RNG.

Why not ``df.sample`` / ``sampleBy``: Spark's samplers draw from a
partition-seeded RNG, so the selected set changes with partitioning and
cannot be reproduced by another engine (or even another run with a
different partition layout). A training pipeline needs the opposite —
the same document must land in the same split on every run, on every
engine, regardless of how the corpus is partitioned or re-keyed. Gating
on a hash of the normalized text gives exactly that:

  bucket(doc) = int(first 8 hex chars of md5(normalized_text)) % n

- deterministic and partition-independent (pure per-row expression);
- engine-portable (DuckDB: ``CAST('0x' || substr(md5(t),1,8) AS BIGINT)``
  equals Spark's ``conv(substr(md5(t),1,8),16,10)`` — oracle-checked);
- stable under re-keying: doc_ids can be reassigned by an upstream
  re-shard and membership does not move, because the gate never looks
  at the key;
- dedup-consistent: exact duplicates hash to the same bucket, so a
  duplicate pair can never straddle the train/test boundary (the classic
  eval-contamination bug with id- or RNG-based splits).

Scale: both operators are map-only — a 100 TB corpus samples with zero
shuffles, and the gate composes with any downstream agg's single shuffle.
The rate lookup is a literal CASE expression (broadcast-free), and the
whole thing stays inside whole-stage codegen (md5/conv/pmod are JVM
expressions; no Python).

Reference parity: the reference has no sampling surface (it moves every
CDC record); these belong to the extension contract SURVEY.md §2.D
derives from the target workload, like the dedup/similarity operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# 8 hex chars = 32 bits: unbiased enough for percent buckets (2^32 % 100
# leaves a 1-in-43M skew) while staying far inside BIGINT range in both
# engines' parsers.
_HEX_CHARS = 8


def content_bucket(text_norm: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from a content hash."""
    h = F.conv(F.substring(F.md5(text_norm), 1, _HEX_CHARS), 16, 10)
    return F.pmod(h.cast("bigint"), F.lit(n_buckets))


def stratified_sample(
    docs: DataFrame,
    text_norm: Column,
    stratum: Column,
    rates_pct: dict[str, int],
    default_pct: int = 100,
) -> DataFrame:
    """Keep each row iff its content bucket falls under its stratum's
    percentage — per-stratum Bernoulli sampling with deterministic
    membership. ``rates_pct`` maps stratum value -> keep-percentage."""
    rate = F.lit(default_pct)
    for value, pct in sorted(rates_pct.items()):
        rate = F.when(stratum == value, F.lit(pct)).otherwise(rate)
    return docs.withColumn("bucket", content_bucket(text_norm)).filter(
        F.col("bucket") < rate
    )


def weighted_mix(
    docs: DataFrame,
    text_norm: Column,
    stratum: Column,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
) -> DataFrame:
    """Weighted corpus mixing: replicate each document ``epochs(stratum)``
    times, where fractional epochs keep a deterministic content-hash subset
    (e.g. 2.5 epochs = every doc twice + the half of docs whose bucket
    falls under 50). This is the domain-mixture step of a training-data
    pipeline (N epochs of curated sources, a fraction of bulk web) with the
    same reproducibility contract as ``stratified_sample``: no RNG, no
    partition dependence. ``n_copies`` is a pure expression and the
    replication is a JVM-side ``explode(sequence(...))`` — map-only, no
    shuffle, no Python. Emits ``copy_n`` (1-based) so downstream shuffles
    can interleave copies instead of colocating them."""
    whole = F.lit(int(default_epochs))
    frac = F.lit(int(round(default_epochs % 1 * 100)))
    for value, ep in sorted(epochs.items()):
        whole = F.when(stratum == value, F.lit(int(ep))).otherwise(whole)
        frac = F.when(stratum == value, F.lit(int(round(ep % 1 * 100)))).otherwise(
            frac
        )
    n_copies = whole + (content_bucket(text_norm) < frac).cast("int")
    return (
        docs.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .withColumn("copy_n", F.explode(F.sequence(F.lit(1), F.col("n_copies"))))
    )


def pack_sequences(
    docs: DataFrame,
    token_count: Column,
    shard_by: list[Column],
    order_by: Column,
    seq_len: int = 2048,
) -> DataFrame:
    """Greedy sequence packing: concatenate documents (in a deterministic
    order) into fixed ``seq_len``-token training windows, assigning each doc
    the pack where its cumulative token count starts —
    ``pack_id = floor((cum_tokens - n_tokens) / seq_len)``. One window
    cumsum per shard; docs longer than ``seq_len`` still get a pack (they
    would be chunked by the tokenizer downstream).

    Scale: packing is inherently sequential WITHIN an ordering, so the
    ordering must be sharded — ``shard_by`` keys the window partition (here:
    stratum + a content-hash shard), giving shards x parallel cumsums and
    bounded per-shard state instead of one global sort. Pack ids are only
    unique per shard, which is exactly what a distributed writer wants
    (shard = output file, pack = row group within it)."""
    w = Window.partitionBy(*shard_by).orderBy(order_by)
    cum = F.sum(token_count).over(w)
    return docs.withColumn("n_tokens", token_count).withColumn(
        "pack_id", F.floor((cum - F.col("n_tokens")) / F.lit(seq_len))
    )


def decontaminate(shingled: DataFrame, min_shared: int = 2) -> DataFrame:
    """Eval-set decontamination: flag TRAIN documents that share at least
    ``min_shared`` distinct word-3-gram shingles with any held-out
    (val/test) document — the overlap check run before training so
    benchmark text does not leak into the training corpus. Input is a
    (doc_id, split, shingles) frame: ``dedup.shingle_docs`` shingles, split
    labels as ``train_val_test_split`` assigns them; the caller persists it
    (the train and eval legs both read it).

    Note the content-hash split already guarantees EXACT duplicates never
    straddle the boundary; this catches the rest — near-duplicates and
    quotations that share n-grams without being byte-identical.

    Scale shape: the held-out side is a few percent of the corpus by
    construction, and it is collapsed to distinct (shingle, eval-doc-count)
    BEFORE the join, so the shuffle carries eval-sized data + one exploded
    pass over train; the train side aggregates straight back to doc grain.
    No all-pairs comparison anywhere."""
    sh = shingled.select("doc_id", "split", F.explode("shingles").alias("sg"))
    eval_sh = (
        sh.filter(F.col("split") != "train")
        .groupBy("sg")
        .agg(F.countDistinct("doc_id").alias("n_eval_docs"))
    )
    return (
        sh.filter(F.col("split") == "train")
        .join(eval_sh, "sg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_shingles"),
            F.sum("n_eval_docs").alias("eval_doc_hits"),
        )
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


def train_val_test_split(
    docs: DataFrame,
    text_norm: Column,
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Label each row train/val/test by content bucket: [0, 100-v-t) ->
    train, then val, then test. Same determinism/contamination guarantees
    as ``stratified_sample``; exact duplicates always share a split."""
    train_hi = 100 - val_pct - test_pct
    b = content_bucket(text_norm)
    return docs.withColumn(
        "split",
        F.when(b < train_hi, F.lit("train"))
        .when(b < train_hi + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def pack_sequences_split(
    docs: DataFrame,
    token_count: Column,
    shard_by: list[Column],
    order_by: Column,
    seq_len: int = 2048,
) -> DataFrame:
    """Length-aware sequence packing: documents are split AT WINDOW
    BOUNDARIES, so every pack in a shard (except the last) is exactly
    ``seq_len`` tokens full — the no-padding-waste packing a training run
    wants, where a document may straddle two (or, if longer than
    ``seq_len``, several) consecutive windows.

    Within a shard ordering, a doc occupies the half-open token interval
    [start, start + n) where start = cumsum - n. It contributes one chunk to
    every pack window [p*seq_len, (p+1)*seq_len) it overlaps:
    p in [floor(start/seq_len), floor((start+n-1)/seq_len)], with
    chunk_tokens = overlap length. One window cumsum + a bounded explode
    (ceil(n/seq_len)+1 chunks per doc) — same shard-parallel shape as
    pack_sequences, still no global sort.
    """
    w = Window.partitionBy(*shard_by).orderBy(order_by)
    n = token_count.cast("bigint")
    start = (F.sum(token_count).over(w) - n).cast("bigint")
    # materialize the window cumsum BEFORE the explode references it — an
    # explode over sequence bounds containing a raw window expression is
    # unresolvable in one projection
    based = docs.withColumn("n_tokens", n).withColumn("tok_start", start)
    # a 0-token doc contributes to no pack — and worse, its `last` index
    # (floor((tok_start-1)/seq_len)) can fall BELOW `first`, and
    # F.sequence(first, last) with first > last generates a DESCENDING
    # sequence, emitting spurious zero-token chunk rows the oracle's
    # range() never produces. Drop such docs before the explode.
    based = based.filter(F.col("n_tokens") > 0)
    first = F.floor(F.col("tok_start") / F.lit(seq_len))
    last = F.floor(
        (F.col("tok_start") + F.col("n_tokens") - F.lit(1)) / F.lit(seq_len)
    )
    out = based.withColumn("pack_id", F.explode(F.sequence(first, last)))
    pack_lo = F.col("pack_id") * seq_len
    pack_hi = pack_lo + seq_len
    chunk = F.least(pack_hi, F.col("tok_start") + F.col("n_tokens")) - F.greatest(
        pack_lo, F.col("tok_start")
    )
    return out.withColumn(
        "chunk_n",
        (F.col("pack_id") - F.floor(F.col("tok_start") / F.lit(seq_len)) + 1).cast(
            "int"
        ),
    ).withColumn("chunk_tokens", chunk)


def build_shingle_bloom_udf(
    eval_sh: DataFrame, bits_per_key: int = 16, n_hashes: int = 8
):
    """Build the broadcast-Bloom membership UDF over an eval shingle set.

    Returns ``(maybe_contaminated_udf, h1_col_fn, h2_col_fn)`` where the
    UDF tests xxhash64 pair columns against a driver-built bitset
    (Kirsch-Mitzenmacher double hashing; no false negatives). Factored out
    of ``decontaminate_bloom`` so the STREAMING decontamination job builds
    the filter once and probes it per micro-batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    h1c = lambda c: F.xxhash64(c)  # noqa: E731
    h2c = lambda c: F.xxhash64(F.lit("b"), c)  # noqa: E731
    # bounded driver pull: hash PAIRS only (16 bytes/shingle), of the
    # benchmark-sized eval side — never text, never the train side
    pairs = (
        eval_sh.select(
            h1c(F.col("sg")).alias("h1"), h2c(F.col("sg")).alias("h2")
        )
        .distinct()
        .collect()
    )
    n_keys = max(len(pairs), 1)
    m = int(n_keys * bits_per_key)
    m |= 1  # odd modulus: keeps h2 strides from cycling through even bits
    words = np.zeros((m >> 6) + 1, dtype=np.uint64)
    h1s = np.array([p.h1 for p in pairs], dtype=np.int64).view(np.uint64)
    h2s = np.array([p.h2 for p in pairs], dtype=np.int64).view(np.uint64)
    for i in range(n_hashes):
        idx = (h1s + np.uint64(i) * h2s) % np.uint64(m)
        np.bitwise_or.at(
            words, (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )

    # no type hints: the module uses `from __future__ import annotations`,
    # which stringifies hints and breaks pandas_udf's signature inference
    @pandas_udf("boolean")
    def maybe_contaminated(h1, h2):
        u1 = h1.to_numpy(dtype=np.int64).view(np.uint64)
        u2 = h2.to_numpy(dtype=np.int64).view(np.uint64)
        hit = np.ones(len(u1), dtype=bool)
        for i in range(n_hashes):
            idx = (u1 + np.uint64(i) * u2) % np.uint64(m)
            bit = (
                words[(idx >> np.uint64(6)).astype(np.int64)]
                >> (idx & np.uint64(63))
            ) & np.uint64(1)
            hit &= bit.astype(bool)
            if not hit.any():
                break
        return pd.Series(hit)

    return maybe_contaminated, h1c, h2c


def decontaminate_bloom(
    shingled: DataFrame,
    min_shared: int = 2,
    bits_per_key: int = 16,
    n_hashes: int = 8,
) -> DataFrame:
    """``decontaminate`` with a broadcast-Bloom prefilter on the train side —
    the runtime-filter pattern for the 100 TB regime.

    The plain join already keeps the shuffle eval-sized on the EVAL side,
    but every exploded train shingle still flows into the join to discover
    it matches nothing. Here the eval shingle set (benchmarks — small by
    construction) is collapsed to xxhash64 pairs, built into a Bloom bitset
    driver-side, and shipped inside a pandas UDF: train shingles are
    discarded MAP-SIDE unless the filter says "maybe", so the join input
    shrinks from |train shingles| to |contaminated| + fp x |train| (fp ≈
    2^-n_hashes at 16 bits/key). The surviving candidates still pass through
    the exact equi-join — the Bloom has no false negatives, so the result is
    IDENTICAL to ``decontaminate`` (same oracle), the filter only removes
    provable non-matches.

    Hashing: h1 = xxhash64(sg), h2 = xxhash64('b', sg) — both JVM
    expressions — combined Kirsch-Mitzenmacher style (h1 + i*h2 mod m), so
    build and probe use bit-identical hashes; the UDF does pure vectorized
    numpy bit tests on the broadcast bitset
    (``build_shingle_bloom_udf``).
    """
    sh = shingled.select("doc_id", "split", F.explode("shingles").alias("sg"))

    eval_sh = (
        sh.filter(F.col("split") != "train")
        .groupBy("sg")
        .agg(F.countDistinct("doc_id").alias("n_eval_docs"))
    )
    maybe_contaminated, h1c, h2c = build_shingle_bloom_udf(
        eval_sh, bits_per_key=bits_per_key, n_hashes=n_hashes
    )

    candidates = (
        sh.filter(F.col("split") == "train")
        .withColumn("_h1", h1c(F.col("sg")))
        .withColumn("_h2", h2c(F.col("sg")))
        .filter(maybe_contaminated(F.col("_h1"), F.col("_h2")))
        .drop("_h1", "_h2")
    )
    return (
        candidates.join(eval_sh, "sg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_shingles"),
            F.sum("n_eval_docs").alias("eval_doc_hits"),
        )
        .filter(F.col("n_shared_shingles") >= min_shared)
    )
