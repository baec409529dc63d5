"""Sixth wave (round 8): tokenizer/corpus economics, cross-source overlap,
probability-proportional-to-size sampling, watermark sizing, burstiness,
coverage curves, classifier lift, and collocation mining.

Families added this round:
- Tokenizer economics for LLM-data work: per-source fertility
  (subword-per-word) and bytes-per-token — the numbers that price a corpus
  in compute before any training run.
- Cross-source overlap matrix: exact-hash Jaccard between every source
  pair — the dataset-audit table that catches a crawl ingested twice under
  two names.
- PPS (probability-proportional-to-size) Bernoulli sampling with an exact
  integer inclusion rule — the one-pass, no-sort, no-global-state sampler
  that scales to 100 TB where weighted reservoir sampling needs a top-k.
- CDC watermark advice: exact discrete percentiles of observed
  backward-time jumps per topic — turning cdc_ordering_audit's disorder
  counts into the `withWatermark` delay a pipeline should configure.
- Event-stream burstiness (coefficient of variation + Goh-Barabási B) per
  event type — Poisson-vs-bursty diagnosis that sizes state-store load.
- N-gram coverage curve: vocabulary size needed to cover 50/90/95/99% of
  token mass — the tokenizer-budget companion to Zipf/Heaps.
- Decile lift/gain for the planted quality classifier — the campaign-
  targeting readout next to AUC (ranking) and calibration (probability).
- Bigram PMI collocations — classic corpus mining, exact integer counts
  with a single ln in the display tail.

Cross-engine float discipline (as relational5): counts and moments are
exact int64 (DECIMAL(38,0)/HUGEINT where products exceed int64); doubles
appear only in a fixed, identically-parenthesized tail of single IEEE ops
rounded to 6. Discrete decisions (sample inclusion, percentile picks,
deciles, coverage thresholds) are PURE integer comparisons on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from cdc_debezium_kafka_airflow_spark.operators.ranking import (
    histogram_rank,
    ntile_from_rank,
)
from cdc_debezium_kafka_airflow_spark.queries.common import q, t
from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
    SQL_TABLE_CASE,
    TOPIC_PREFIX,
    build_changelog,
)

_SQL_TOPIC = f"'{TOPIC_PREFIX}' || {SQL_TABLE_CASE}"
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
# GPT-2-ish pretokenizer on normalized (lowercased, space-collapsed) text:
# letter runs, digit runs, and punctuation runs. Simple enough that Java
# regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
_SUBTOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


# ---------------------------------------------------------------------------
# Tokenizer economics
# ---------------------------------------------------------------------------


@q(
    "ext_tokenizer_fertility",
    f"""
    WITH d AS (
      SELECT source, {_NORM} AS tx FROM documents
    ),
    m AS (
      SELECT source,
             CAST(len(list_filter(string_split(tx, ' '), x -> x <> ''))
                  AS BIGINT) AS words,
             CAST(len(regexp_extract_all(tx, '{_SUBTOK_RE}')) AS BIGINT)
               AS subtoks,
             CAST(strlen(tx) AS BIGINT) AS bytes
      FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS words_total,
           CAST(sum(subtoks) AS BIGINT) AS subtoks_total,
           CAST(sum(bytes) AS BIGINT) AS bytes_total,
           CASE WHEN sum(words) > 0
                THEN round(CAST(sum(subtoks) AS DOUBLE) / sum(words), 6)
                ELSE 0.0 END AS fertility,
           CASE WHEN sum(subtoks) > 0
                THEN round(CAST(sum(bytes) AS DOUBLE) / sum(subtoks), 6)
                ELSE 0.0 END AS bytes_per_token
    FROM m GROUP BY source
    """,
)
def ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility (subword tokens per whitespace word)
    and bytes per token — the corpus-economics table that converts "N TB of
    source X" into training tokens and cost BEFORE a run is launched, and
    the drift alarm when a new crawl's fertility jumps (boilerplate, code,
    non-target-language contamination all push it up). Subword proxy is a
    GPT-2-ish pretokenizer regex (letter runs / digit runs / punct runs) —
    deliberately model-free so the audit needs no trained merges (the BPE
    family, ext_bpe_tokenize, measures a TRAINED tokenizer; this measures
    the corpus).

    Scale: pure map (regex count + byte length per row) into one partially
    aggregated group-by on source — no join, no window; byte counts stay
    JVM-side via octet_length. Division guarded for empty sources on both
    engines."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.lower(
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
        ).alias("tx"),
    )
    m = d.select(
        "source",
        F.size(
            F.filter(F.split("tx", " "), lambda x: x != "")
        )
        .cast("bigint")
        .alias("words"),
        F.size(F.expr(f"regexp_extract_all(tx, '{_SUBTOK_RE}', 0)"))
        .cast("bigint")
        .alias("subtoks"),
        F.octet_length("tx").cast("bigint").alias("bytes"),
    )
    w_tot = F.sum("words")
    s_tot = F.sum("subtoks")
    b_tot = F.sum("bytes")
    return m.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        w_tot.cast("bigint").alias("words_total"),
        s_tot.cast("bigint").alias("subtoks_total"),
        b_tot.cast("bigint").alias("bytes_total"),
        F.when(
            w_tot > 0, F.round(s_tot.cast("double") / w_tot, 6)
        )
        .otherwise(0.0)
        .alias("fertility"),
        F.when(
            s_tot > 0, F.round(b_tot.cast("double") / s_tot, 6)
        )
        .otherwise(0.0)
        .alias("bytes_per_token"),
    )


# ---------------------------------------------------------------------------
# Cross-source overlap matrix
# ---------------------------------------------------------------------------


@q(
    "ext_source_overlap_matrix",
    f"""
    WITH d AS (
      SELECT DISTINCT source, md5({_NORM}) AS h FROM documents
    ),
    sz AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n AS n_a, sb.n AS n_b,
           CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
           1000000 * coalesce(i.n_common, 0)
             // (sa.n + sb.n - coalesce(i.n_common, 0)) AS jaccard_e6
    FROM sz sa JOIN sz sb ON sa.source < sb.source
    LEFT JOIN inter i
      ON i.source_a = sa.source AND i.source_b = sb.source
    """,
)
def ext_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash document overlap between every pair of sources — the
    dataset-audit matrix that catches the same crawl ingested twice under
    different names, a benchmark hiding inside a training source, or a
    vendor reselling a public dump (any pair with jaccard spiking vs its
    neighbors). Full upper-triangular matrix: pairs with ZERO overlap are
    emitted too (absence of overlap between supposedly-related snapshots
    is itself a signal).

    Scale: the doc table collapses to distinct (source, content-hash) rows
    map-side and is PERSISTED — the corpus text (the expensive bytes) is
    read and hashed exactly once, and the three consumers (both join
    sides, the size table) read the tiny hash table from memory
    (plan-guarded: one FileScan, InMemoryTableScan for the rest). The
    intersection is ONE equi-join keyed on the 128-bit hash (shuffle
    bounded by |distinct docs|, never all-pairs); the |sources|^2
    skeleton comes from a self-join of the tiny per-source size table
    (broadcast both sides). Jaccard is exact int64 ppm."""
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "source",
            F.md5(
                F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
            ).alias("h"),
        )
        .distinct()
        .persist()
    )
    sz = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    skel = (
        F.broadcast(sz.alias("sa"))
        .crossJoin(F.broadcast(sz.alias("sb")))
        .where(F.col("sa.source") < F.col("sb.source"))
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
    )
    return (
        skel.join(inter, ["source_a", "source_b"], "left")
        .withColumn(
            "n_common",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "jaccard_e6",
            F.expr(
                "1000000 * n_common div (n_a + n_b - n_common)"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PPS Bernoulli sampling (exact integer inclusion rule)
# ---------------------------------------------------------------------------

_PPS_K = 100  # target expected sample size


@q(
    "ext_pps_sample_audit",
    f"""
    WITH w AS (
      SELECT doc_id, source, greatest(n_chars, 1) AS wt,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pps'),
                                  1, 8)) AS BIGINT) AS u32
      FROM documents
    ),
    tot AS (SELECT CAST(sum(wt) AS BIGINT) AS big_w FROM w),
    inc AS (
      SELECT source, wt,
             (CAST(u32 AS HUGEINT) * big_w
              < CAST({_PPS_K} AS HUGEINT) * wt * 4294967296) AS sampled,
             CAST(least(1000000 * CAST({_PPS_K} AS HUGEINT) * wt // big_w,
                        1000000) AS BIGINT) AS p_e6
      FROM w CROSS JOIN tot
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(wt) AS BIGINT) AS weight_total,
           CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(sum(p_e6) AS BIGINT) AS expected_e6
    FROM inc GROUP BY source
    """,
)
def ext_pps_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size Bernoulli sampling — include doc i
    with probability min(1, k*w_i/W) — audited per source (doc count, total
    weight, drawn count, exact expected count in 1e-6 units). PPS is the
    sampler a 100 TB curation pipeline actually wants: ONE map pass over
    the corpus with a precomputed total weight, no sort, no reservoir, no
    per-partition state — where weighted reservoir sampling (Efraimidis-
    Spirakis) needs a global top-k by a float key. Weight here is document
    length (longer docs carry more training tokens, so equal-token-mass
    sampling wants inclusion odds proportional to length).

    Exactness: the inclusion rule is the PURE INTEGER comparison
    u32 * W < k * w * 2^32 (u32 = 32-bit md5 fraction; products in
    DECIMAL(38,0)/HUGEINT since k*w*2^32 can exceed int64) — no doubles
    anywhere, so the drawn set is bit-identical on both engines, and
    re-running the sampler on a grown corpus only flips docs whose
    u32/W relation changed (near-deterministic incremental refresh).
    Scale: the total weight is one scalar broadcast; everything else is
    map-side."""
    w = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.greatest(F.col("n_chars"), F.lit(1)).alias("wt"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit("|pps"))
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u32"),
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("big_w"))
    inc = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "wt",
        (
            F.col("u32").cast("decimal(38,0)") * F.col("big_w")
            < F.lit(_PPS_K).cast("decimal(38,0)")
            * F.col("wt")
            * F.lit(4294967296)
        ).alias("sampled"),
        F.least(
            F.expr(
                f"1000000 * CAST({_PPS_K} AS DECIMAL(38,0)) * wt div big_w"
            ),
            F.lit(1000000),
        )
        .cast("bigint")
        .alias("p_e6"),
    )
    return inc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("wt").cast("bigint").alias("weight_total"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.sum("p_e6").cast("bigint").alias("expected_e6"),
    )


# ---------------------------------------------------------------------------
# CDC watermark advice (exact discrete percentiles of disorder)
# ---------------------------------------------------------------------------


@q(
    "cdc_watermark_advice",
    f"""
    WITH e AS (
      SELECT {_SQL_TOPIC} AS topic, event_id AS off, epoch_us(ts) AS ev_us
      FROM events
    ),
    b AS (
      SELECT greatest(8 * (max(ev_us) - min(ev_us)) // count(*), 1) AS jb
      FROM e
    ),
    ch AS (
      SELECT topic, off, ev_us,
             ev_us + CAST(CAST(CAST(('0x' || substr(md5(CAST(off AS VARCHAR)
                                     || '|jit'), 1, 8)) AS BIGINT)
                          AS HUGEINT) * jb // 4294967296 AS BIGINT)
               AS arrival_us
      FROM e CROSS JOIN b
    ),
    d AS (
      SELECT topic, off, ev_us,
             max(ev_us) OVER (PARTITION BY topic
                              ORDER BY arrival_us, off) AS frontier_us
      FROM ch
    ),
    late AS (
      SELECT topic, off, frontier_us - ev_us AS delta_us
      FROM d WHERE frontier_us > ev_us
    ),
    ranked AS (
      SELECT topic, delta_us,
             CAST(row_number() OVER (PARTITION BY topic
                                     ORDER BY delta_us, off) AS BIGINT)
               AS rk,
             CAST(count(*) OVER (PARTITION BY topic) AS BIGINT) AS n
      FROM late
    )
    SELECT topic,
           CAST(min(n) AS BIGINT) AS n_late,
           CAST(min(CASE WHEN rk * 100 >= 50 * n THEN delta_us END)
                AS BIGINT) AS p50_us,
           CAST(min(CASE WHEN rk * 100 >= 95 * n THEN delta_us END)
                AS BIGINT) AS p95_us,
           CAST(min(CASE WHEN rk * 100 >= 99 * n THEN delta_us END)
                AS BIGINT) AS p99_us,
           CAST(max(delta_us) AS BIGINT) AS max_us,
           CAST((min(CASE WHEN rk * 100 >= 99 * n THEN delta_us END)
                 + 999) // 1000 AS BIGINT) AS watermark_advice_ms
    FROM ranked GROUP BY topic
    """,
)
def cdc_watermark_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-sizing computation: per topic, how far behind the
    event-time FRONTIER (running max event time in arrival order) does
    each event arrive, and what delay absorbs p50/p95/p99/all of that
    lateness? `withWatermark` set at the p99 advice knowingly drops ~1%
    of late rows (stream_late_data_drop pins what happens to them). This
    is the definitionally-correct sizing — lateness against the running
    frontier, exactly the quantity Spark's watermark subtracts from —
    not the weaker adjacent-pair inversion gap of cdc_ordering_audit.
    The events fixture is written time-ordered (zero natural disorder —
    measured: the audit query returns 0 inversions at every sf), so
    arrival order is simulated with a deterministic per-event network
    delay: md5-hash uniform in [0, jb) with jb = 8x the stream's own
    global mean inter-event gap — SCALE-FREE, so every sf produces ~10%
    late rows (a fixed bound fails: at sf0.001 per-topic gaps are ~3.6 h
    and a 30 s jitter reorders nothing; and a 32-bit hash taken mod a
    bound > 2^32 us silently caps at ~71 min, so the hash is SCALED into
    the bound, u32*jb/2^32, not reduced mod jb). The audit's MEASUREMENT
    path is what's under test; its known answer is jitter-bounded
    lateness — max_us < jb at every scale — falsifiable in both
    directions.

    Exactness: lateness values are exact int64 microseconds (hash jitter,
    integer running max); percentiles are DISCRETE picks — smallest delta
    whose rank reaches p% of the per-topic count, rank totally ordered by
    (delta, offset) — pure integer comparisons, no interpolation (Spark's
    `percentile` and DuckDB's `quantile_cont` interpolate DIFFERENTLY, so
    neither engine's builtin is used). Scale: one exchange keyed on topic
    shared by the frontier window, the rank window, and the final
    aggregation; the ranked frame holds only LATE rows."""
    e = build_changelog(t(spark, sf_dir, "events")).select(
        "topic",
        F.col("offset").alias("off"),
        F.unix_micros("timestamp").alias("ev_us"),
    )
    b = e.agg(
        F.greatest(
            F.expr("8 * (max(ev_us) - min(ev_us)) div count(*)"),
            F.lit(1).cast("bigint"),
        ).alias("jb")
    )
    ch = e.crossJoin(F.broadcast(b)).select(
        "topic",
        "off",
        "ev_us",
        F.expr(
            "ev_us + CAST(CAST(CAST(conv(substring(md5(concat("
            "CAST(off AS STRING), '|jit')), 1, 8), 16, 10) AS BIGINT)"
            " AS DECIMAL(38,0)) * jb div 4294967296 AS BIGINT)"
        ).alias("arrival_us"),
    )
    w = Window.partitionBy("topic").orderBy("arrival_us", "off")
    late = (
        ch.withColumn("frontier_us", F.max("ev_us").over(w))
        .where(F.col("frontier_us") > F.col("ev_us"))
        .select(
            "topic",
            "off",
            (F.col("frontier_us") - F.col("ev_us")).alias("delta_us"),
        )
    )
    wr = Window.partitionBy("topic").orderBy("delta_us", "off")
    wn = Window.partitionBy("topic")
    ranked = late.select(
        "topic",
        "delta_us",
        F.row_number().over(wr).cast("bigint").alias("rk"),
        F.count("*").over(wn).cast("bigint").alias("n"),
    )

    def pick(pct: int):
        return F.min(
            F.when(F.col("rk") * 100 >= pct * F.col("n"), F.col("delta_us"))
        )

    return ranked.groupBy("topic").agg(
        F.min("n").cast("bigint").alias("n_late"),
        pick(50).cast("bigint").alias("p50_us"),
        pick(95).cast("bigint").alias("p95_us"),
        pick(99).cast("bigint").alias("p99_us"),
        F.max("delta_us").cast("bigint").alias("max_us"),
        F.expr(
            "CAST((min(CASE WHEN rk * 100 >= 99 * n THEN delta_us END)"
            " + 999) div 1000 AS BIGINT)"
        ).alias("watermark_advice_ms"),
    )


# ---------------------------------------------------------------------------
# Event-stream burstiness
# ---------------------------------------------------------------------------


@q(
    "ts_burstiness",
    """
    WITH o AS (
      SELECT event_type, event_id, ts,
             lag(ts) OVER (PARTITION BY event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    d AS (
      SELECT event_type, epoch_us(ts) - epoch_us(prev_ts) AS gap_us
      FROM o WHERE prev_ts IS NOT NULL
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap_us) AS BIGINT) AS s1,
             CAST(sum(CAST(gap_us AS HUGEINT) * gap_us) AS HUGEINT) AS s2
      FROM d GROUP BY event_type
    )
    SELECT event_type, n, s1 AS gap_sum_us,
           round(CAST(s1 AS DOUBLE) / n / 1000000, 6) AS mean_gap_sec,
           round(sqrt(CAST(s2 AS DOUBLE) / n
                      - (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s1 AS DOUBLE) / n)) / 1000000, 6)
             AS sd_gap_sec,
           round((sqrt(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
                  - CAST(s1 AS DOUBLE) / n)
                 / (sqrt(CAST(s2 AS DOUBLE) / n
                         - (CAST(s1 AS DOUBLE) / n)
                           * (CAST(s1 AS DOUBLE) / n))
                    + CAST(s1 AS DOUBLE) / n), 6) AS burstiness
    FROM m WHERE n >= 2 AND s1 > 0
    """,
)
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type: the Goh-Barabási statistic
    B = (sigma - mu)/(sigma + mu) over inter-event gaps — B ~ 0 for a
    Poisson stream, B -> 1 for heavy bursts, B < 0 for pacemaker-regular
    traffic. THE diagnostic for sizing streaming state: a bursty stream
    needs peak-provisioned state stores and shuffle partitions even when
    its average rate looks tame (ts_peak_concurrency measures the peak;
    this measures how structural the peaking is).

    Exactness: gaps are exact int64 microseconds (ordered by (ts,
    event_id) — total order even under timestamp ties); first/second
    moments are exact integers (squares in DECIMAL(38,0)/HUGEINT: a
    month-long gap squared is ~7e24, past int64); mean/sd/B is a fixed
    tree of IEEE doubles rounded to 6 on both engines. Scale: one
    exchange keyed on event_type shared by the lag window and the
    aggregation; partial aggregation collapses map-side."""
    o = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.lag("ts")
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("prev_ts"),
    )
    d = o.where(F.col("prev_ts").isNotNull()).select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
    )
    m = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("gap_us").cast("bigint").alias("s1"),
        F.sum(F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean)
    return m.where((F.col("n") >= 2) & (F.col("s1") > 0)).select(
        "event_type",
        "n",
        F.col("s1").alias("gap_sum_us"),
        F.round(mean / 1000000, 6).alias("mean_gap_sec"),
        F.round(sd / 1000000, 6).alias("sd_gap_sec"),
        F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# N-gram coverage curve
# ---------------------------------------------------------------------------


@q(
    "ext_ngram_coverage_curve",
    f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split({_NORM}, ' '), x -> x <> ''))
               AS tok
      FROM documents
    ),
    c AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT cnt,
             CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS total
      FROM c
    )
    SELECT t.pct AS coverage_pct,
           CAST(count(CASE WHEN (cum - cnt) * 100 < t.pct * total
                           THEN 1 END) AS BIGINT) AS vocab_size,
           CAST(max(CASE WHEN (cum - cnt) * 100 < t.pct * total
                         THEN cum END) AS BIGINT) AS tokens_covered,
           CAST(min(total) AS BIGINT) AS tokens_total
    FROM ranked CROSS JOIN (VALUES (50), (90), (95), (99)) AS t(pct)
    GROUP BY t.pct
    """,
)
def ext_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-budget curve: how many distinct word types cover
    50/90/95/99% of all token occurrences — the number a tokenizer's
    vocab-size decision (and an OOV-rate projection) reads directly, and
    the third corpus-statistics law next to Zipf (slope) and Heaps
    (growth). A greedy frequency-ranked vocabulary is optimal for
    coverage, so the curve is exact, not a bound.

    Exactness: a type is inside the pct-budget iff the cumulative mass
    BEFORE it is still under pct% of total — `(cum - cnt) * 100 <
    pct * total`, pure int64 — with the cumulative order totally
    determined by (count desc, token asc). Scale: the corpus collapses to
    |vocab| count rows in one partial-agged exchange; the ranked window
    runs single-partition over the vocab frame (bounded by type count,
    ~1e6 at web scale — the deliberate small-frame window pattern of
    ts_autocorr), and the 4 targets unpivot via stack within one
    aggregation."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(
                F.split(
                    F.lower(
                        F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
                    ),
                    " ",
                ),
                lambda x: x != "",
            )
        ).alias("tok")
    )
    c = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("cnt"))
    wcum = Window.partitionBy(F.lit(1)).orderBy(
        F.col("cnt").desc(), F.col("tok")
    )
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = c.select(
        "cnt",
        F.sum("cnt").over(wcum).cast("bigint").alias("cum"),
        F.sum("cnt").over(wall).cast("bigint").alias("total"),
    )
    stacked = ranked.select(
        "cnt",
        "cum",
        "total",
        F.expr(
            "stack(4, CAST(50 AS INT), CAST(90 AS INT),"
            " CAST(95 AS INT), CAST(99 AS INT)) AS pct"
        ),
    )
    hit = (F.col("cum") - F.col("cnt")) * 100 < F.col("pct") * F.col(
        "total"
    )
    return stacked.groupBy(F.col("pct").alias("coverage_pct")).agg(
        F.count(F.when(hit, 1)).cast("bigint").alias("vocab_size"),
        F.max(F.when(hit, F.col("cum")))
        .cast("bigint")
        .alias("tokens_covered"),
        F.min("total").cast("bigint").alias("tokens_total"),
    )


# ---------------------------------------------------------------------------
# Decile lift / gain
# ---------------------------------------------------------------------------


@q(
    "agg_decile_lift",
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
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|cal'),
                                   1, 8)) AS BIGINT) * 10000000
              < (8 * conf_e6 + 1000000) * 4294967296) AS label,
             ntile(10) OVER (ORDER BY conf_e6 DESC, doc_id) AS decile
      FROM scored
    ),
    per AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM labeled GROUP BY decile
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS big_n, CAST(sum(pos) AS BIGINT)
               AS big_pos
      FROM per
    )
    SELECT decile, n, pos,
           1000000 * pos // n AS rate_e6,
           1000000 * pos * big_n // (n * big_pos) AS lift_e6,
           CAST(1000000 * CAST(sum(pos) OVER (ORDER BY decile) AS BIGINT)
                // big_pos AS BIGINT) AS cum_gain_e6
    FROM per CROSS JOIN tot
    """,
)
def agg_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gain table for the planted quality
    classifier — the third leg of the model-audit family: ext_auc_score
    grades RANKING, ext_calibration_curve grades PROBABILITY, this grades
    TARGETING (how much better than random is acting on the top decile).
    Because labels are planted at 0.8*conf + 0.1, top deciles must show
    lift > 1 and the gain curve must dominate the diagonal — a known
    answer that makes the query falsifiable.

    Exactness: scores and labels reuse the exact int64 rational-sigmoid
    grid of ext_calibration_curve (zero doubles); deciles are ntile(10)
    over the TOTAL order (conf_e6 desc, doc_id) — both engines assign
    identical bucket sizes (floor+remainder-to-head rule); rate/lift/gain
    are exact int64 ppm via floor division.

    Scale (round 10): the oracle's ntile is a GLOBAL sort; the Spark
    plan instead derives the identical bucket assignment from the exact
    histogram rank (operators/ranking.py) — the only windows are
    partitioned (per coarse bucket / per score value), so no stage ever
    sorts all scored docs in one task and no ``WindowExec: No Partition
    Defined`` fires on the doc-level frame. The trailing cumulative-gain
    window runs over the 10-row post-aggregate decile domain (bounded by
    construction — partitioned on a constant to make that explicit)."""
    feat = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(
                F.split(
                    F.lower(
                        F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
                    ),
                    " ",
                ),
                lambda x: x != "",
            )
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    scored = feat.select(
        "doc_id",
        F.expr(
            "1000000 * (20 + abs(n_tokens - 45) + (n_tokens - 45))"
            " div (2 * (20 + abs(n_tokens - 45)))"
        ).alias("conf_e6"),
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
    ranked = histogram_rank(
        scored.withColumn("_negconf", -F.col("conf_e6")),
        "_negconf",
        "doc_id",
        rank_col="_rk",
        n_col="_n",
    )
    labeled = ranked.select(
        "conf_e6",
        (
            u32 * F.lit(10000000)
            < (F.lit(8) * F.col("conf_e6") + F.lit(1000000))
            * F.lit(4294967296)
        ).alias("label"),
        ntile_from_rank("_rk", "_n", 10).alias("decile"),
    )
    per = labeled.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    # 10-row decile domain: the running gain AND the grand totals fold
    # into one broadcast inequality self-join — no window at all, so the
    # plan is warning-free end to end (a lit-partitioned window is NOT
    # an option: Catalyst folds the constant out of the spec)
    b = per.select(
        F.col("decile").alias("_b_decile"),
        F.col("n").alias("_b_n"),
        F.col("pos").alias("_b_pos"),
    )
    return (
        per.crossJoin(F.broadcast(b))
        .groupBy("decile", "n", "pos")
        .agg(
            F.sum(
                F.when(
                    F.col("_b_decile") <= F.col("decile"), F.col("_b_pos")
                )
            ).alias("_cum_pos"),
            F.sum("_b_pos").alias("_big_pos"),
            F.sum("_b_n").alias("_big_n"),
        )
        .select(
            "decile",
            "n",
            "pos",
            F.expr("1000000 * pos div n").alias("rate_e6"),
            F.expr("1000000 * pos * _big_n div (n * _big_pos)").alias(
                "lift_e6"
            ),
            F.expr("1000000 * _cum_pos div _big_pos").alias("cum_gain_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocations
# ---------------------------------------------------------------------------


@q(
    "ext_bigram_pmi",
    f"""
    WITH d AS (
      SELECT list_filter(string_split({_NORM}, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    bi AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> ws[i] || ' ' || ws[i+1])) AS bg
      FROM d WHERE len(ws) >= 2
    ),
    uni AS (
      SELECT unnest(ws) AS tok FROM d
    ),
    cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab FROM bi GROUP BY bg),
    cu AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bi FROM cb),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM cu),
    top AS (
      SELECT bg, c_ab,
             string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      FROM cb WHERE c_ab >= 5
    )
    SELECT bg AS bigram, c_ab, a.c AS c_w1, b.c AS c_w2,
           round(ln((CAST(c_ab AS DOUBLE) * n_uni * n_uni)
                    / (CAST(n_bi AS DOUBLE) * a.c * b.c)), 6) AS pmi
    FROM top JOIN cu a ON top.w1 = a.tok
    JOIN cu b ON top.w2 = b.tok
    CROSS JOIN nb CROSS JOIN nu
    ORDER BY c_ab DESC, bigram LIMIT 50
    """,
)
def ext_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of the top-50
    adjacent word pairs — PMI >> 0 marks multi-word units ("new york",
    "machine learning") that tokenizer merge rules, stopword policies,
    and phrase-aware dedup all want to know about; it is the statistic
    word2vec's SGNS objective implicitly factorizes, computed here
    exactly from corpus counts.

    Exactness: all counts are exact int64 from two hash aggregations
    (bigram TOKENS, not types — duplicates count); PMI's operand is the
    exact integer ratio c_ab*N_uni^2 / (N_bi*c_a*c_b) evaluated in a
    fixed double tree with ONE ln, rounded to 6 — ln feeds only the
    displayed value, never a discrete decision (the sec_dp_release
    lesson). Scale: bigram generation is map-side HOF (no explode of
    all-pairs — adjacent pairs only, linear in corpus); the unigram join
    hits only the c_ab >= 5 survivors (frequency-pruned, Broadcast-sized
    in practice); final top-k is TakeOrderedAndProject with the total
    (count desc, bigram) order."""
    d = t(spark, sf_dir, "documents").select(
        F.filter(
            F.split(
                F.lower(
                    F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
                ),
                " ",
            ),
            lambda x: x != "",
        ).alias("ws")
    )
    bi = d.where(F.size("ws") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ws) - 1, 1)),"
                " i -> concat(element_at(ws, i), ' ',"
                " element_at(ws, i + 1)))"
            )
        ).alias("bg")
    )
    uni = d.select(F.explode("ws").alias("tok"))
    cb = bi.groupBy("bg").agg(F.count("*").cast("bigint").alias("c_ab"))
    cu = uni.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    nb = cb.agg(F.sum("c_ab").cast("bigint").alias("n_bi"))
    nu = cu.agg(F.sum("c").cast("bigint").alias("n_uni"))
    top = cb.where(F.col("c_ab") >= 5).select(
        "bg",
        "c_ab",
        F.split("bg", " ").getItem(0).alias("w1"),
        F.split("bg", " ").getItem(1).alias("w2"),
    )
    joined = (
        top.join(cu.alias("a"), F.col("w1") == F.col("a.tok"))
        .join(cu.alias("b"), F.col("w2") == F.col("b.tok"))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (
                F.col("n_bi").cast("double")
                * F.col("a.c")
                * F.col("b.c")
            )
        ),
        6,
    )
    return (
        joined.select(
            F.col("bg").alias("bigram"),
            "c_ab",
            F.col("a.c").alias("c_w1"),
            F.col("b.c").alias("c_w2"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("c_ab").desc(), "bigram")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Round-8 wave 2
# ---------------------------------------------------------------------------


@q(
    "ext_context_length_histogram",
    f"""
    WITH d AS (
      SELECT CAST(len(regexp_extract_all({_NORM}, '{_SUBTOK_RE}'))
                  AS BIGINT) AS toks
      FROM documents
    )
    SELECT w.ctx AS context_window,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN toks <= w.ctx THEN 1 END) AS BIGINT)
             AS n_fit,
           CAST(count(CASE WHEN toks > w.ctx THEN 1 END) AS BIGINT)
             AS n_truncated,
           CAST(sum(toks) AS BIGINT) AS tokens_total,
           CAST(coalesce(sum(CASE WHEN toks > w.ctx THEN toks - w.ctx END),
                         0) AS BIGINT) AS tokens_lost,
           CAST(1000000 * coalesce(sum(CASE WHEN toks > w.ctx
                                            THEN toks - w.ctx END), 0)
                // sum(toks) AS BIGINT) AS loss_ppm
    FROM d CROSS JOIN (VALUES (128), (512), (2048), (8192)) AS w(ctx)
    GROUP BY w.ctx
    """,
)
def ext_context_length_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Context-window truncation audit: for each candidate window size,
    how many documents fit, how many get truncated, and what fraction of
    the corpus' token mass falls off the end — the table that decides
    between training at 2k vs 8k (and prices the decision in lost
    tokens) and that ext_doc_chunking's chunked pipeline avoids paying.
    Token counts reuse the model-free pretokenizer of
    ext_tokenizer_fertility.

    Exactness: all counts and losses are int64; loss_ppm is exact floor
    division. Scale: ONE map pass counts tokens per doc; the 4 window
    targets unpivot via stack inside one partial-agged aggregation — the
    corpus is never re-scanned per window."""
    d = t(spark, sf_dir, "documents").select(
        F.size(
            F.expr(
                "regexp_extract_all(lower(regexp_replace(trim(text),"
                f" '\\\\s+', ' ')), '{_SUBTOK_RE}', 0)"
            )
        )
        .cast("bigint")
        .alias("toks")
    )
    stacked = d.select(
        "toks",
        F.expr(
            "stack(4, CAST(128 AS INT), CAST(512 AS INT),"
            " CAST(2048 AS INT), CAST(8192 AS INT)) AS ctx"
        ),
    )
    over = F.col("toks") > F.col("ctx")
    lost = F.coalesce(
        F.sum(F.when(over, F.col("toks") - F.col("ctx"))), F.lit(0)
    )
    return stacked.groupBy(F.col("ctx").alias("context_window")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(~over, 1)).cast("bigint").alias("n_fit"),
        F.count(F.when(over, 1)).cast("bigint").alias("n_truncated"),
        F.sum("toks").cast("bigint").alias("tokens_total"),
        lost.cast("bigint").alias("tokens_lost"),
        F.expr(
            "CAST(1000000 * coalesce(sum(CASE WHEN toks > ctx"
            " THEN toks - ctx END), 0) div sum(toks) AS BIGINT)"
        ).alias("loss_ppm"),
    )


@q(
    "ext_oov_rate",
    f"""
    WITH d AS (
      SELECT source, {_NORM} AS tx,
             CAST(('0x' || substr(md5({_NORM}), 1, 8)) AS BIGINT) % 100
               AS bucket
      FROM documents
    ),
    toks AS (
      SELECT source, bucket >= 90 AS is_test,
             unnest(list_filter(string_split(tx, ' '), x -> x <> ''))
               AS tok
      FROM d
    ),
    vocab AS (SELECT DISTINCT tok FROM toks WHERE NOT is_test),
    test_toks AS (SELECT source, tok FROM toks WHERE is_test)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT)
             AS n_oov,
           CAST(1000000 * count(CASE WHEN v.tok IS NULL THEN 1 END)
                // count(*) AS BIGINT) AS oov_ppm
    FROM test_toks tt LEFT JOIN vocab v USING (tok)
    GROUP BY source
    """,
)
def ext_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of the held-out split against the training
    split's word vocabulary, per source — the unigram-level companion to
    ext_ngram_novelty (bigram types) and the direct measure of what a
    closed-vocab model would map to <unk>. Splits reuse the repo-wide
    content-hash bucket (>= 90 held out, the ext_dedup_incremental
    convention). OOV counts TOKEN OCCURRENCES, not types: a frequent
    unseen word should hurt more than a rare one.

    Scale: tokenization is map-side; the vocab aggregates to |distinct
    train types|; the membership probe is one left join keyed on the
    token (broadcastable once the vocab fits — Spark picks). Exact int64
    ppm."""
    from cdc_debezium_kafka_airflow_spark.operators.sampling import (
        content_bucket,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
    )

    d = t(spark, sf_dir, "documents").select(
        "source",
        normalize_text(F.col("text")).alias("tx"),
    ).select(
        "source", "tx", (content_bucket(F.col("tx")) >= 90).alias("is_test")
    )
    toks = d.select(
        "source",
        "is_test",
        F.explode(
            F.filter(F.split("tx", " "), lambda x: x != "")
        ).alias("tok"),
    )
    vocab = (
        toks.where(~F.col("is_test"))
        .select("tok")
        .distinct()
        .withColumn("in_vocab", F.lit(1))
    )
    test_toks = toks.where(F.col("is_test")).select("source", "tok")
    joined = test_toks.join(vocab, "tok", "left")
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
        F.expr(
            "CAST(1000000 * count(CASE WHEN in_vocab IS NULL THEN 1 END)"
            " div count(*) AS BIGINT)"
        ).alias("oov_ppm"),
    )


@q(
    "ext_quality_filter_funnel",
    f"""
    WITH d AS (
      SELECT doc_id, {_NORM} AS tx FROM documents
    ),
    flags AS (
      SELECT doc_id,
             len(list_filter(string_split(tx, ' '), x -> x <> ''))
               >= 20 AS g_len,
             CAST(len(regexp_extract_all(tx, '[^a-z0-9 ]')) AS BIGINT) * 10
               <= CAST(greatest(strlen(tx), 1) AS BIGINT) * 3 AS g_punct,
             CAST(len(list_distinct(list_transform(
                    range(1, strlen(tx) + 1),
                    i -> substr(tx, CAST(i AS INT), 1)))) AS BIGINT) * 20
               >= CAST(least(strlen(tx), 200) AS BIGINT) AS g_div,
             row_number() OVER (PARTITION BY md5(tx) ORDER BY doc_id) = 1
               AS g_uniq
      FROM d
    ),
    staged AS (
      SELECT CAST(s.stage AS BIGINT) AS stage, s.gate,
             CASE s.stage
               WHEN 1 THEN g_len
               WHEN 2 THEN g_len AND g_punct
               WHEN 3 THEN g_len AND g_punct AND g_div
               ELSE g_len AND g_punct AND g_div AND g_uniq
             END AS survives
      FROM flags CROSS JOIN (VALUES (1, 'min_length'), (2, 'punct_ratio'),
                                    (3, 'char_diversity'), (4, 'exact_dedup')
                            ) AS s(stage, gate)
    )
    SELECT stage, gate,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN survives THEN 1 END) AS BIGINT)
             AS n_surviving,
           CAST(1000000 * count(CASE WHEN survives THEN 1 END) // count(*)
                AS BIGINT) AS survival_ppm
    FROM staged GROUP BY stage, gate
    """,
)
def ext_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-gate funnel: cumulative survival through the four standard
    corpus gates (min length -> punctuation ratio -> character diversity
    -> exact dedup), the readout every curation run publishes BEFORE
    committing a recipe — per stage: docs in, docs surviving all gates so
    far, survival ppm. Marginal kill rates fall out by differencing
    consecutive stages; a gate that kills 40% when specs predicted 5% is
    caught here, not after a training run.

    Exactness: every gate is an integer comparison (ratios cross-
    multiplied: punct*10 <= chars*3 is punct_ratio <= 0.3 exactly;
    distinct-chars*20 >= min(chars,200) is diversity >= 5% with a length
    cap); dedup keeps the min-doc_id copy via a deterministic window.
    Scale: gates 1-3 are map-side; dedup is one exchange keyed on the
    content hash; the 4 stages unpivot via stack in one aggregation."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
        ).alias("tx"),
    )
    flags = d.select(
        "doc_id",
        (
            F.size(F.filter(F.split("tx", " "), lambda x: x != ""))
            >= 20
        ).alias("g_len"),
        F.expr(
            "CAST(size(regexp_extract_all(tx, '[^a-z0-9 ]', 0)) AS BIGINT)"
            " * 10 <= CAST(greatest(length(tx), 1) AS BIGINT) * 3"
        ).alias("g_punct"),
        F.expr(
            "CAST(size(array_distinct(split(tx, ''))) AS BIGINT) * 20"
            " >= CAST(least(length(tx), 200) AS BIGINT)"
        ).alias("g_div"),
        (
            F.row_number().over(
                Window.partitionBy(F.md5("tx")).orderBy("doc_id")
            )
            == 1
        ).alias("g_uniq"),
    )
    staged = flags.select(
        F.expr(
            "stack(4, CAST(1 AS BIGINT), 'min_length',"
            " CAST(2 AS BIGINT), 'punct_ratio',"
            " CAST(3 AS BIGINT), 'char_diversity',"
            " CAST(4 AS BIGINT), 'exact_dedup') AS (stage, gate)"
        ),
        F.col("g_len"),
        F.col("g_punct"),
        F.col("g_div"),
        F.col("g_uniq"),
    ).select(
        "stage",
        "gate",
        F.expr(
            "CASE stage WHEN 1 THEN g_len"
            " WHEN 2 THEN g_len AND g_punct"
            " WHEN 3 THEN g_len AND g_punct AND g_div"
            " ELSE g_len AND g_punct AND g_div AND g_uniq END"
        ).alias("survives"),
    )
    return staged.groupBy("stage", "gate").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("survives"), 1))
        .cast("bigint")
        .alias("n_surviving"),
        F.expr(
            "CAST(1000000 * count(CASE WHEN survives THEN 1 END)"
            " div count(*) AS BIGINT)"
        ).alias("survival_ppm"),
    )


@q(
    "graph_degree_distribution",
    """
    WITH edges AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    pd AS (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY p),
    sd AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY s),
    hist AS (
      SELECT 'part' AS side, deg, CAST(count(*) AS BIGINT) AS n_nodes
      FROM pd GROUP BY deg
      UNION ALL
      SELECT 'supplier' AS side, deg, CAST(count(*) AS BIGINT) AS n_nodes
      FROM sd GROUP BY deg
    )
    SELECT side, deg AS degree, n_nodes,
           CAST(sum(n_nodes) OVER (PARTITION BY side) AS BIGINT)
             AS side_nodes,
           CAST(1000000 * n_nodes
                // sum(n_nodes) OVER (PARTITION BY side) AS BIGINT)
             AS frac_ppm
    FROM hist
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part-supplier bipartite graph (distinct
    shipped pairs), both sides — the FIRST thing to compute about any
    graph before joining on it: a heavy-tailed side predicts skewed
    shuffle keys (the hot rows join_skew_salted salts and
    graph_link_prediction caps at 64 neighbors; this query is where those
    thresholds come from).

    Exactness: pure int64 counts and ppm. Scale: distinct edges in one
    exchange; each side's degree is a partial-agged count; the histogram
    re-aggregates the (already tiny) degree table; the per-side total is
    a window over the histogram frame. Measured tradeoff (sf0.1): the
    two branches DO scan the fact twice (Spark has no cross-branch
    exchange reuse here), but a persist of the edge set benched 1.96 s vs
    0.9 s for the double 16-byte-per-row pruned column scan — unlike
    ext_source_overlap_matrix (where the re-scanned input is the full
    TEXT), re-reading two pruned int columns beats materializing |edges|;
    persist only when the edge set is small relative to the fact scan."""
    edges = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    pd_ = edges.groupBy("p").agg(F.count("*").cast("bigint").alias("deg"))
    sd = edges.groupBy("s").agg(F.count("*").cast("bigint").alias("deg"))
    hist = (
        pd_.groupBy("deg")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .select(F.lit("part").alias("side"), "deg", "n_nodes")
        .unionByName(
            sd.groupBy("deg")
            .agg(F.count("*").cast("bigint").alias("n_nodes"))
            .select(F.lit("supplier").alias("side"), "deg", "n_nodes")
        )
    )
    wside = Window.partitionBy("side")
    return hist.select(
        "side",
        F.col("deg").alias("degree"),
        "n_nodes",
        F.sum("n_nodes").over(wside).cast("bigint").alias("side_nodes"),
        F.expr(
            "CAST(1000000 * n_nodes div sum(n_nodes)"
            " OVER (PARTITION BY side) AS BIGINT)"
        ).alias("frac_ppm"),
    )


@q(
    "agg_fulfillment_latency",
    """
    WITH lag_days AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
               AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    hist AS (
      SELECT priority, days, CAST(count(*) AS BIGINT) AS cnt
      FROM lag_days GROUP BY priority, days
    ),
    cum AS (
      SELECT priority, days, cnt,
             CAST(sum(cnt) OVER (PARTITION BY priority ORDER BY days)
                  AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY priority) AS BIGINT) AS n
      FROM hist
    )
    SELECT priority,
           CAST(min(n) AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN cum * 100 >= 50 * n THEN days END) AS BIGINT)
             AS p50_days,
           CAST(min(CASE WHEN cum * 100 >= 95 * n THEN days END) AS BIGINT)
             AS p95_days,
           CAST(min(CASE WHEN cum * 100 >= 99 * n THEN days END) AS BIGINT)
             AS p99_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM cum GROUP BY priority
    """,
)
def agg_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per order priority — the
    operations dashboard staple ("are URGENT orders actually shipping
    faster, at the tail?"), and the TPC-H-table twin of
    cdc_watermark_advice's discrete-percentile machinery — with the
    SCALE-ROBUST variant of that pattern: the latency domain is SMALL
    INTEGER DAYS, so the fact rows collapse to a (priority, days)
    histogram in one partial-agged aggregation and the rank arithmetic
    runs over the ~|priorities| x |days| frame (hundreds of rows at any
    corpus size). The percentile pick is the same exact discrete rule —
    smallest days whose cumulative count reaches p% — just computed from
    the histogram's cumulative sums instead of a per-row rank, removing
    the full-corpus sort entirely (measured 1.9 s -> well under 1 s at
    sf0.1). Use cdc_watermark_advice's per-row rank form when the metric
    domain is unbounded; use this histogram form when it is enumerable.

    Scale: one shuffle join keyed on orderkey (both sides projected to
    2-3 columns), one aggregation to the histogram, windows over the tiny
    frame."""
    lt = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag_days = lt.join(
        o, lt.l_orderkey == o.o_orderkey
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        )
        .cast("bigint")
        .alias("days"),
    )
    hist = lag_days.groupBy("priority", "days").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wc = Window.partitionBy("priority").orderBy("days")
    wn = Window.partitionBy("priority")
    cum = hist.select(
        "priority",
        "days",
        F.sum("cnt").over(wc).cast("bigint").alias("cum"),
        F.sum("cnt").over(wn).cast("bigint").alias("n"),
    )

    def pick(pct: int):
        return F.min(
            F.when(F.col("cum") * 100 >= pct * F.col("n"), F.col("days"))
        )

    return cum.groupBy("priority").agg(
        F.min("n").cast("bigint").alias("n_lines"),
        pick(50).cast("bigint").alias("p50_days"),
        pick(95).cast("bigint").alias("p95_days"),
        pick(99).cast("bigint").alias("p99_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )


@q(
    "dq_referential_orphans",
    """
    SELECT 'lineitem->orders' AS fk, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT)
             AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN s.s_suppkey IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'orders->customer', CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation', CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN n.n_nationkey IS NULL THEN 1 END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier->nation', CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN n.n_nationkey IS NULL THEN 1 END) AS BIGINT)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole warehouse FK graph:
    for each foreign key, total rows and rows whose parent is MISSING —
    the first query a CDC consumer runs when cdc_fk_apply_order's
    constraints are suspected violated (a child applied before its
    parent, a parent hard-deleted, a partial snapshot). All six FKs in
    one result set, so a single dashboard row of zeros certifies the
    load.

    Scale: every child table is scanned ONCE no matter how many FKs it
    carries — lineitem's three parents join in a single pass (part and
    supplier broadcast, orders the one genuine shuffle) and the three
    orphan counts come out of one aggregation, unpivoted via stack.
    Auditing N foreign keys of a 100 TB fact table costs one fact scan,
    not N. Counting via LEFT join (not anti) yields total and orphan
    counts in the same pass."""
    lt = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    p = t(spark, sf_dir, "part")
    n = t(spark, sf_dir, "nation")

    # lineitem: ONE pass, three parents, three orphan counts
    lt_j = (
        lt.join(
            o.select("o_orderkey"),
            lt.l_orderkey == F.col("o_orderkey"),
            "left",
        )
        .join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .join(
            F.broadcast(s.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
    )
    lt_counts = lt_j.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1))
        .cast("bigint")
        .alias("o_orph"),
        F.count(F.when(F.col("p_partkey").isNull(), 1))
        .cast("bigint")
        .alias("p_orph"),
        F.count(F.when(F.col("s_suppkey").isNull(), 1))
        .cast("bigint")
        .alias("s_orph"),
    )
    lt_rows = lt_counts.select(
        F.expr(
            "stack(3, 'lineitem->orders', o_orph, 'lineitem->part', p_orph,"
            " 'lineitem->supplier', s_orph) AS (fk, n_orphans)"
        ),
        "n_rows",
    ).select("fk", "n_rows", "n_orphans")

    def audit(name, child, parent, ck, pk):
        j = child.select(ck).join(
            F.broadcast(parent.select(pk)), F.col(ck) == F.col(pk), "left"
        )
        return j.agg(
            F.lit(name).alias("fk"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(F.when(F.col(pk).isNull(), 1))
            .cast("bigint")
            .alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    return (
        lt_rows.unionByName(
            audit("orders->customer", o, c, "o_custkey", "c_custkey")
        )
        .unionByName(
            audit("customer->nation", c, n, "c_nationkey", "n_nationkey")
        )
        .unionByName(
            audit("supplier->nation", s, n, "s_nationkey", "n_nationkey")
        )
    )
