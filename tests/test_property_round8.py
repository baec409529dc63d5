"""Round-8 regression tests: the divergence classes flagged by the round-7
judge/advisor, pinned so they stay closed.

1. ab_ztest_readout on a one-variant moment frame must DROP the group
   (matching the oracle's inner self-join) — the latent class behind the
   round-7 ADVICE z-test fix.
2. cdc_ordering_audit's inversion_ppm must be 0 (not NULL, not an error)
   for a single-record topic, on both engines.
3. ts_autocorr must never emit a NULL-acf row: every returned lag has
   n_terms >= 1 even when the day count is smaller than the max lag.
4. ext_calibration_curve's integer sigmoid must equal the exact rational
   0.5 + 0.5*d/(20+|d|) computed in Python big-int arithmetic, for every
   n_tokens the fixture produces — zero doubles before display rounding.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row, functions as F


def test_ztest_readout_drops_single_variant_group(spark):
    """A group whose every user shares parity pivots to NULL n_a or n_b;
    the oracle's inner self-join (a.variant=0 AND b.variant=1) emits no
    row for it, so the readout must drop it — not emit NULLs."""
    from cdc_debezium_kafka_airflow_spark.queries.relational3 import (
        ab_ztest_readout,
    )

    g = spark.createDataFrame(
        [
            # complete group: both variants present
            Row(event_type="purchase", variant=0, n=4, s1=400, s2=41000),
            Row(event_type="purchase", variant=1, n=5, s1=450, s2=42000),
            # one-variant groups in BOTH directions
            Row(event_type="only_a", variant=0, n=3, s1=300, s2=31000),
            Row(event_type="only_b", variant=1, n=2, s1=220, s2=24400),
        ]
    )
    out = ab_ztest_readout(g).collect()
    kept = {r.event_type for r in out}
    assert kept == {"purchase"}
    row = out[0]
    assert row.n_a == 4 and row.n_b == 5
    # no NULLs leak through on the surviving row
    assert all(v is not None for v in row.asDict().values())


def test_ordering_audit_single_record_topic_ppm_zero(spark):
    """n_pairs = 0 (single-record topic) must yield inversion_ppm = 0 on
    BOTH engines: unguarded, Spark `div` returns NULL while DuckDB `//`
    raises — the exact query/oracle divergence ADVICE round-7 flagged."""
    import re

    from cdc_debezium_kafka_airflow_spark.queries.registry import ORACLES

    sql = ORACLES["cdc_ordering_audit"]
    con = duckdb.connect()
    # a 1-row events table routes to ONE topic with one record
    con.execute(
        "CREATE VIEW events AS SELECT 1 AS event_id,"
        " TIMESTAMP '2024-01-01 00:00:00' AS ts,"
        " 10 AS user_id, 'view' AS event_type, 1.0 AS value,"
        " 'mobile' AS channel"
    )
    try:
        rows = con.execute(sql).fetchall()
    except Exception as exc:  # unguarded `//` raises division-by-zero
        pytest.fail(f"oracle diverged on n_pairs=0: {exc}")
    assert len(rows) == 1
    cols = [d[0] for d in con.description]
    row = dict(zip(cols, rows[0]))
    assert row["n_pairs"] == 0
    assert row["inversion_ppm"] == 0
    # and the Spark side is guarded with the same CASE
    from cdc_debezium_kafka_airflow_spark.queries import relational5

    src = open(relational5.__file__.rstrip("c")).read()
    assert re.search(r"CASE WHEN n_pairs > 0.*div n_pairs", src, re.S)


def test_autocorr_never_emits_null_acf(spark, tmp_path):
    """With only 3 distinct days, lags 3..7 have zero pairs: the oracle's
    inner join emits no row for them, so Spark must not emit NULL-acf
    rows (ADVICE round-7). Returned lags are exactly {1, 2}."""
    from cdc_debezium_kafka_airflow_spark.queries.relational5 import (
        ts_autocorr,
    )

    def events(value_fn, path):
        rows = [
            Row(
                event_id=i,
                ts=f"2024-01-0{1 + i % 3} 00:00:00",
                user_id=i,
                event_type="view",
                value=value_fn(i),
                channel="web",
            )
            for i in range(30)
        ]
        df = spark.createDataFrame(rows).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.write.mode("overwrite").parquet(path + "/events.parquet")
        return path

    d = events(float, str(tmp_path / "sf_tiny"))
    out = ts_autocorr(spark, d).collect()
    assert {r.lag_k for r in out} == {1, 2}
    assert all(r.acf is not None and r.n_terms >= 1 for r in out)
    # degenerate twin: identical day sums -> dd = 0 -> ACF undefined.
    # ANSI Spark used to raise DIVIDE_BY_ZERO while DuckDB emitted NaN;
    # both engines now pin this to the EMPTY result.
    d0 = events(lambda i: 1.0, str(tmp_path / "sf_const"))
    assert ts_autocorr(spark, d0).count() == 0


def test_calibration_sigmoid_is_exact_rational(spark, sf_dir):
    """conf_e6 must equal floor(1e6*(20+|d|+d) / (2*(20+|d|))) computed in
    Python unbounded ints — proving no double (and no libm exp) touches
    the value. Recover n_tokens-consistent conf by recomputing the map
    over the observed bins' member counts via the sum identity: every
    per-bin conf_e6_sum must be expressible as a sum of grid values."""
    from cdc_debezium_kafka_airflow_spark.queries.relational5 import (
        ext_calibration_curve,
    )
    from cdc_debezium_kafka_airflow_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )
    from cdc_debezium_kafka_airflow_spark.queries.common import t

    def conf_e6_exact(n_tokens: int) -> int:
        d = n_tokens - 45
        den = 20 + abs(d)
        return 1000000 * (den + d) // (2 * den)

    # exact per-doc grid from the fixture's token counts (driver-side,
    # sf0.001 = 150 docs)
    feat = (
        t(spark, sf_dir, "documents")
        .select(
            F.size(
                F.filter(
                    ws_tokens(normalize_text(F.col("text"))),
                    lambda x: x != "",
                )
            ).alias("n_tokens")
        )
        .collect()
    )
    expected_bins: dict[int, list[int]] = {}
    for r in feat:
        c = conf_e6_exact(r.n_tokens)
        expected_bins.setdefault(min(c // 100000, 9), []).append(c)
    out = {r.bin: r for r in ext_calibration_curve(spark, sf_dir).collect()}
    assert set(out) == set(expected_bins)
    for b, confs in expected_bins.items():
        assert out[b].n == len(confs)
        assert out[b].conf_e6_sum == sum(confs)


# ---------------------------------------------------------------------------
# Round-8 new-wave invariants (relational6)
# ---------------------------------------------------------------------------


def test_pps_inclusion_matches_pure_python_bigints(spark, sf_dir):
    """The PPS rule u32*W < k*w*2^32 is pure integer math: recompute every
    per-source drawn count in unbounded Python ints and require equality
    — any double sneaking into the engine path would eventually flip a
    draw."""
    import hashlib

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational6 import (
        _PPS_K,
        ext_pps_sample_audit,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    weights = {r.doc_id: max(r.n_chars, 1) for r in docs}
    big_w = sum(weights.values())
    drawn: dict[str, int] = {}
    expected: dict[str, int] = {}
    for r in docs:
        w = weights[r.doc_id]
        u32 = int(hashlib.md5(f"{r.doc_id}|pps".encode()).hexdigest()[:8], 16)
        if u32 * big_w < _PPS_K * w * 4294967296:
            drawn[r.source] = drawn.get(r.source, 0) + 1
        expected[r.source] = expected.get(r.source, 0) + min(
            1000000 * _PPS_K * w // big_w, 1000000
        )
    out = {r.source: r for r in ext_pps_sample_audit(spark, sf_dir).collect()}
    assert set(out) == set(expected)
    for s, row in out.items():
        assert row.n_sampled == drawn.get(s, 0)
        assert row.expected_e6 == expected[s]
    # expected mass sums to ~k draws (exactly k*1e6 when no doc caps)
    assert sum(r.expected_e6 for r in out.values()) <= _PPS_K * 1000000


def test_watermark_advice_is_jitter_bounded_and_ordered(spark, sf_dir):
    """Lateness comes from a deterministic jitter uniform in [0, jb),
    jb = 8x the stream's global mean inter-event gap (scale-free — a
    fixed bound produces ZERO late rows at sf0.001 where per-topic gaps
    are hours). Every topic's max lateness must stay under jb and the
    percentile picks must be ordered p50 <= p95 <= p99 <= max, with
    advice = ceil(p99/1000) ms."""
    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational6 import (
        cdc_watermark_advice,
    )

    ev = t(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us")
    )
    lo, hi, n = ev.agg(
        F.min("us"), F.max("us"), F.count("*")
    ).collect()[0]
    jb = max(8 * (hi - lo) // n, 1)
    rows = cdc_watermark_advice(spark, sf_dir).collect()
    assert rows  # the jitter must produce late rows on every fixture
    for r in rows:
        assert 0 < r.p50_us <= r.p95_us <= r.p99_us <= r.max_us < jb
        assert r.watermark_advice_ms == (r.p99_us + 999) // 1000


def test_coverage_curve_monotone_and_covering(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.relational6 import (
        ext_ngram_coverage_curve,
    )

    rows = sorted(
        ext_ngram_coverage_curve(spark, sf_dir).collect(),
        key=lambda r: r.coverage_pct,
    )
    assert [r.coverage_pct for r in rows] == [50, 90, 95, 99]
    prev_v, prev_c = 0, 0
    for r in rows:
        # the selected vocab actually covers the target...
        assert r.tokens_covered * 100 >= r.coverage_pct * r.tokens_total
        # ...and is minimal: one fewer type drops below target (greedy
        # frequency order means removing the LAST (rarest) chosen type)
        assert r.vocab_size >= prev_v and r.tokens_covered >= prev_c
        prev_v, prev_c = r.vocab_size, r.tokens_covered


def test_decile_lift_planted_signal(spark, sf_dir):
    """Labels are planted at 0.8*conf + 0.1: the top decile (highest conf)
    must show lift > 1, the bottom decile lift < 1, cumulative gain
    monotone to exactly 1e6, and decile sizes balanced (ntile rule)."""
    from cdc_debezium_kafka_airflow_spark.queries.relational6 import (
        agg_decile_lift,
    )

    rows = sorted(
        agg_decile_lift(spark, sf_dir).collect(), key=lambda r: r.decile
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    sizes = [r.n for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert rows[0].lift_e6 > 1000000 > rows[-1].lift_e6
    gains = [r.cum_gain_e6 for r in rows]
    assert gains == sorted(gains) and gains[-1] == 1000000


def test_fertility_at_least_one(spark, sf_dir):
    """Every non-empty whitespace word yields >= 1 subword match, so
    fertility >= 1 for every source with words."""
    from cdc_debezium_kafka_airflow_spark.queries.relational6 import (
        ext_tokenizer_fertility,
    )

    for r in ext_tokenizer_fertility(spark, sf_dir).collect():
        assert r.subtoks_total >= r.words_total
        if r.words_total:
            assert r.fertility >= 1.0
        assert r.bytes_total >= r.subtoks_total  # every token >= 1 byte


def test_overlap_matrix_bounds(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.relational6 import (
        ext_source_overlap_matrix,
    )

    rows = ext_source_overlap_matrix(spark, sf_dir).collect()
    spark.catalog.clearCache()
    srcs = set()
    for r in rows:
        assert r.source_a < r.source_b
        assert 0 <= r.n_common <= min(r.n_a, r.n_b)
        assert 0 <= r.jaccard_e6 <= 1000000
        srcs.update((r.source_a, r.source_b))
    k = len(srcs)
    assert len(rows) == k * (k - 1) // 2  # full upper triangle, zeros kept


def test_bigram_pmi_count_consistency(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.relational6 import (
        ext_bigram_pmi,
    )

    rows = ext_bigram_pmi(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert r.c_ab >= 5
        assert r.c_ab <= min(r.c_w1, r.c_w2)
        w1, w2 = r.bigram.split(" ")
        assert w1 and w2


# ---------------------------------------------------------------------------
# Wave-3 operators: brute-force equivalence on adversarial frames
# ---------------------------------------------------------------------------


def _brute_skyline(pairs):
    """O(n^2) dominance reference: keep (p, s) iff no other pair has
    p' <= p and s' >= s with at least one strict."""
    out = []
    for p, s in pairs:
        dominated = any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for p2, s2 in pairs
        )
        if not dominated:
            out.append((p, s))
    return sorted(set(out))


def test_skyline_two_phase_equals_brute_force(spark, tmp_path):
    """The bucket-prefilter + exact-window pipeline must return EXACTLY
    the brute-force frontier on frames built to stress the prefilter:
    duplicate pairs, same-price different-size ties, same-size
    different-price ties, bucket-boundary values (999/1000/1001), and a
    monotone staircase where EVERY pair is on the frontier."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        agg_skyline_frontier,
    )

    adversarial = [
        # bucket boundaries and intra-bucket ties
        [(999, 5), (1000, 5), (1001, 6), (999, 7), (1000, 7)],
        # full staircase: all on frontier
        [(100 * i, i) for i in range(1, 12)],
        # reverse staircase: only the first survives
        [(100 * i, 100 - i) for i in range(1, 12)],
        # duplicates + equal points
        [(500, 3), (500, 3), (500, 4), (400, 4), (400, 4)],
    ]

    for pairs in adversarial:
        df = spark.createDataFrame(
            [(float(p) / 100.0, s) for p, s in pairs],
            "p_retailprice double, p_size int",
        )
        d = str(tmp_path / f"part_{abs(hash(tuple(pairs)))}")
        df.write.mode("overwrite").parquet(d + "/part.parquet")
        out = agg_skyline_frontier(spark, d)
        got = sorted(
            (r.price_cents, r.size) for r in out.collect()
        )
        assert got == _brute_skyline(pairs), pairs


def test_weighted_median_crossing_rule(spark, tmp_path):
    """Exact lower weighted median on a frame with an even total weight
    split (the 2*cumw == W tie case) and a singleton flag."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        agg_weighted_median,
    )

    rows = [
        # flag A: weights 3 @ 100, 3 @ 200 -> W=6, crossing at cumw 3
        # (2*3 >= 6): median = 100 (lower weighted median).
        ("A", 1.00, 3),
        ("A", 2.00, 3),
        # flag B: single price
        ("B", 5.00, 7),
        # flag C: heavy tail, median must sit at the 50% mass point
        ("C", 1.00, 1),
        ("C", 2.00, 1),
        ("C", 3.00, 10),
    ]
    df = spark.createDataFrame(
        [(f, p, q) for f, p, q in rows],
        "l_returnflag string, l_extendedprice double, l_quantity int",
    )
    d = str(tmp_path / "wm")
    df.write.mode("overwrite").parquet(d + "/lineitem.parquet")
    out = {
        r.returnflag: r for r in agg_weighted_median(spark, d).collect()
    }
    assert out["A"].median_price_cents == 100
    assert out["B"].median_price_cents == 500
    assert out["C"].median_price_cents == 300
    assert out["C"].total_weight == 12


def test_rouge_identical_and_disjoint_pairs(spark, tmp_path):
    """ROUGE-2 must be exactly 1.0 for an identical adjacent pair and
    exactly 0.0 for a token-disjoint pair; clipped counts must cap
    repeated bigrams at the reference multiplicity."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_rouge_n_eval,
    )

    docs = [
        (1, "the cat sat on the mat", "s1"),
        (2, "the cat sat on the mat", "s1"),  # identical to 1
        (3, "alpha beta gamma delta", "s2"),
        (4, "epsilon zeta eta theta", "s2"),  # disjoint from 3
        (5, "go go go go", "s3"),
        (6, "go go stop", "s3"),  # clipping: 'go go' x1 in ref
    ]
    df = spark.createDataFrame(
        [(i, tx, s, len(tx)) for i, tx, s in docs],
        "doc_id bigint, text string, source string, n_chars int",
    )
    d = str(tmp_path / "rouge")
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {
        (r.cand_doc_id, r.ref_doc_id): r
        for r in ext_rouge_n_eval(spark, d).collect()
    }
    assert out[(1, 2)].rouge2_f1 == 1.0
    assert out[(3, 4)].rouge2_f1 == 0.0
    # doc5 has 'go go' x3; doc6 has 'go go' x1 -> clipped overlap 1
    r = out[(5, 6)]
    assert r.overlap_bigrams == 1
    assert r.cand_bigrams == 3 and r.ref_bigrams == 2


def test_nfc_audit_counts_composed_codepoints(spark, tmp_path):
    """Every doc_id % 4 != 0 doc carries exactly one composable sequence
    (2 codepoints -> 1), so per-source cp_saved == n_denormalized and the
    clean quarter stays untouched."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_nfc_normalize_audit,
    )

    df = spark.createDataFrame(
        [(i, "plain ascii text", "s", 16) for i in range(8)],
        "doc_id bigint, text string, source string, n_chars int",
    )
    d = str(tmp_path / "nfc")
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = ext_nfc_normalize_audit(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs == 8
    assert r.n_denormalized == 6  # doc_id % 4 in {1,2,3} -> 6 of 8
    assert r.cp_saved == r.n_denormalized
    assert r.cp_before - r.cp_after == r.cp_saved


def test_late_arriving_dim_policy(spark):
    """Inferred-member policy directly on the operator contract: facts
    before the first version get the EARLIEST payload flagged inferred;
    facts in a deleted gap stay NULL unflagged; facts on a live interval
    carry that interval's payload."""
    from pyspark.sql import Row
    import pyspark.sql.functions as F

    from cdc_debezium_kafka_airflow_spark.operators.temporal import (
        point_in_time_lookup,
    )

    # Reproduce the query's tail logic on a hand-built history:
    # key 1: v1 at off 10 (value 100), delete at 20, v2 at 30 (value 300)
    dim = spark.createDataFrame(
        [
            Row(key_id=1, offset=10, is_delete=False, payload=Row(v=100)),
            Row(key_id=1, offset=20, is_delete=True, payload=Row(v=0)),
            Row(key_id=1, offset=30, is_delete=False, payload=Row(v=300)),
        ]
    )
    facts = spark.createDataFrame(
        [Row(key_id=1, offset=5),   # before first version -> inferred 100
         Row(key_id=1, offset=15),  # live v1 -> 100
         Row(key_id=1, offset=25),  # deleted gap -> NULL, not inferred
         Row(key_id=1, offset=35)]  # live v2 -> 300
    )
    pit = point_in_time_lookup(dim, facts)
    first_v = (
        dim.filter(~F.col("is_delete"))
        .groupBy("key_id")
        .agg(
            F.min("offset").alias("first_vf"),
            F.min_by("payload", "offset").alias("first_payload"),
        )
    )
    j = pit.join(F.broadcast(first_v), "key_id", "left")
    inferred = (
        F.col("payload").isNull()
        & F.col("first_vf").isNotNull()
        & (F.col("fact_offset") < F.col("first_vf"))
    )
    eff = F.when(inferred, F.col("first_payload")).otherwise(
        F.col("payload")
    )
    out = {
        r.fact_offset: r
        for r in j.select(
            "fact_offset",
            eff["v"].alias("v"),
            F.coalesce(inferred, F.lit(False)).alias("inf"),
        ).collect()
    }
    assert (out[5].v, out[5].inf) == (100, True)
    assert (out[15].v, out[15].inf) == (100, False)
    assert (out[25].v, out[25].inf) == (None, False)
    assert (out[35].v, out[35].inf) == (300, False)


def test_pass_at_k_matches_bigint_reference(spark, tmp_path):
    """Every per-k corpus mean must equal a pure-Python big-int replay of
    the unbiased estimator 1 - C(n-c,k)/C(n,k) over the same tasks."""
    import math
    from datetime import datetime, timezone

    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        _PASS_KS,
        ext_eval_pass_at_k,
    )

    # users with varied (n, c): id -> (events, purchases)
    tasks = {1: (12, 0), 2: (12, 12), 3: (7, 3), 4: (3, 1), 5: (1, 1),
             6: (40, 5)}
    rows = []
    eid = 0
    for uid, (n, c) in tasks.items():
        for i in range(n):
            rows.append(
                (
                    eid,
                    datetime(2026, 1, 1, tzinfo=timezone.utc),
                    uid,
                    "purchase" if i < c else "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    d = str(tmp_path / "passk")
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    got = {r.k: r for r in ext_eval_pass_at_k(spark, d).collect()}
    for k in _PASS_KS:
        ppms = []
        for n, c in tasks.values():
            if n < k:
                continue
            if n - c < k:
                ppms.append(10**6)
            else:
                num = math.comb(n - c, k)
                den = math.comb(n, k)
                ppms.append(10**6 - (10**6 * num) // den)
        assert got[k].n_tasks == len(ppms)
        assert got[k].mean_pass_ppm == sum(ppms) // len(ppms), k


def test_mad_anomaly_lower_median_rule(spark, tmp_path):
    """Even day-count frame: the lower median must be chosen on both the
    value and deviation passes, and the 3x fence flags exactly the
    planted outlier day."""
    from datetime import datetime, timezone

    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ts_anomaly_mad,
    )

    # 4 days: revenues 100, 101, 103, 1000 (cents ignored: value*100)
    day_vals = {1: 1.00, 2: 1.01, 3: 1.03, 4: 10.00}
    rows = [
        (
            d,
            datetime(2026, 1, d, 12, 0, tzinfo=timezone.utc),
            d,
            "view",
            v,
            "{}",
        )
        for d, v in day_vals.items()
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    d = str(tmp_path / "mad")
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {r.revenue_cents: r for r in ts_anomaly_mad(spark, d).collect()}
    # values: 100,101,103,1000 -> lower median 101
    assert out[100].median_cents == 101
    # abs devs: 1,0,2,899 -> lower median 1
    assert out[100].mad_cents == 1
    flagged = {k for k, r in out.items() if r.is_anomaly}
    assert flagged == {1000}


# ---------------------------------------------------------------------------
# Wave-5 operators
# ---------------------------------------------------------------------------


def test_containment_catches_truncation_not_reverse(spark):
    """A truncated copy (first half of a doc) must be reported CONTAINED
    in its source; the source must NOT be reported contained in the
    truncation when the overlap is under half its shingles — the
    asymmetry that distinguishes containment from Jaccard."""
    import pyspark.sql.functions as F

    from cdc_debezium_kafka_airflow_spark.operators.dedup import (
        containment_pairs,
        shingle_docs,
    )

    words = [f"w{i:03d}" for i in range(60)]
    full = " ".join(words)
    third = " ".join(words[:20])
    other = " ".join(f"z{i:03d}" for i in range(40))
    df = shingle_docs(
        spark.createDataFrame(
            [(1, full), (2, third), (3, other)], "doc_id long, text string"
        )
    ).select("doc_id", F.lit("b").alias("block"), "shingles")
    pairs = {
        (r.id_contained, r.id_container): r
        for r in containment_pairs(df, t_num=1, t_den=2).collect()
    }
    assert (2, 1) in pairs
    assert pairs[(2, 1)].containment_e6 == 1000000  # every shingle inside
    assert (1, 2) not in pairs  # 18/58 shingles < 1/2
    assert all(3 not in k for k in pairs)


def test_chi2_matches_python_bigints(spark, sf_dir):
    """chi2_ppm must equal the unbounded-int replay of
    sum(1e6*(N*o-rt*ct)^2 // (N*rt*ct)) over the same cells."""
    from collections import Counter

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        dq_chi2_independence,
    )

    rows = t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    ).collect()
    cells = Counter((r.c_nationkey, r.c_mktsegment) for r in rows)
    rt = Counter()
    ct = Counter()
    for (r_, c_), o in cells.items():
        rt[r_] += o
        ct[c_] += o
    n = sum(cells.values())
    expect = sum(
        (10**6 * (n * o - rt[r_] * ct[c_]) ** 2)
        // (n * rt[r_] * ct[c_])
        for (r_, c_), o in cells.items()
    )
    got = dq_chi2_independence(spark, sf_dir).collect()[0]
    assert got.chi2_ppm == expect
    assert got.n_total == n
    assert got.dof == (len(rt) - 1) * (len(ct) - 1)


def test_asof_tolerance_edge_is_inclusive(spark, tmp_path):
    """A quote exactly at the tolerance boundary is FRESH; one microsecond
    older is stale (masked NULL + flagged); a fact with no prior quote is
    NULL but NOT stale."""
    from datetime import datetime, timedelta, timezone

    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        _ASOF_TOL_US,
        join_asof_tolerance,
    )

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    us = timedelta(microseconds=1)
    tol = timedelta(microseconds=_ASOF_TOL_US)
    rows = [
        # user 1: quote, then facts at tol and tol+1us
        (100, t0, 1, "error", 2.5, "{}"),
        (101, t0 + tol, 1, "purchase", 0.0, "{}"),
        (102, t0 + tol + us, 1, "purchase", 0.0, "{}"),
        # user 2: fact with no quote at all
        (200, t0, 2, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    d = str(tmp_path / "asof")
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {r.event_id: r for r in join_asof_tolerance(spark, d).collect()}
    assert out[101].last_err_cents == 250 and not out[101].stale
    assert out[101].age_us == _ASOF_TOL_US
    assert out[102].last_err_cents is None and out[102].stale
    assert out[200].last_err_cents is None and not out[200].stale


def test_rolling_distinct_matches_brute_force(spark, tmp_path):
    """Bitmap rollup == brute-force set union over the trailing window,
    on a frame with re-appearing users and day gaps."""
    from datetime import datetime, timedelta, timezone

    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        win_rolling_distinct,
    )

    t0 = datetime(2026, 3, 1, tzinfo=timezone.utc)
    # (day_offset, user): gaps at days 2-3; users recur across windows
    obs = [(0, 1), (0, 2), (1, 2), (4, 1), (4, 3), (8, 2), (10, 1),
           (10, 2), (10, 99991)]  # large id crosses bitmap buckets
    rows = [
        (i, t0 + timedelta(days=d, hours=3), u, "view", 1.0, "{}")
        for i, (d, u) in enumerate(obs)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    p = str(tmp_path / "rd")
    df.write.mode("overwrite").parquet(p + "/events.parquet")
    got = {
        r.day.day - 1 + (r.day.month - 3) * 31: (r.users_7d, r.users_1d)
        for r in win_rolling_distinct(spark, p).collect()
    }
    days = sorted({d for d, _ in obs})
    for d in days:
        win = {u for dd, u in obs if d - 6 <= dd <= d}
        today = {u for dd, u in obs if dd == d}
        assert got[d] == (len(win), len(today)), d


# ---------------------------------------------------------------------------
# Wave-6 operators
# ---------------------------------------------------------------------------


def test_mmr_prefers_diverse_over_redundant(spark, tmp_path):
    """Planted frame: the two most relevant candidates are clones; MMR
    must take one clone then the diverse vector, never both clones first.
    The full ranking must equal an independent pure-Python greedy
    replay."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        _MMR_K,
        ext_mmr_diversify,
    )

    dim = 8
    qv = [1.0] * dim
    # equally relevant (7 aligned dims) but with shifted support: the
    # exact clone of the first pick scores rel - sim = 0, the shifted
    # vector keeps a positive margin -> MMR must take it second
    clone = [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.0]
    diverse = [0.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]
    mid = [0.5] * dim
    rows = [(1, qv, 0)]  # the query vector
    rows += [(10, clone, 0), (11, clone, 0), (12, diverse, 0),
             (13, mid, 0)]
    # filler so the candidate pool has > k members
    for i in range(20, 40):
        rows.append((i, [0.01 * (i % 7)] * dim, 0))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    d = str(tmp_path / "mmr")
    df.write.mode("overwrite").parquet(d + "/embeddings.parquet")
    got = [
        (r.rank, r.vec_id)
        for r in sorted(
            ext_mmr_diversify(spark, d).collect(), key=lambda r: r.rank
        )
    ]
    # independent greedy replay on int8-quantized vectors
    q8 = {v: [round(x * 127) for x in emb] for v, emb, _ in rows}

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    rel = {v: dot(q8[v], q8[1]) for v in q8 if v != 1}
    order = sorted(rel, key=lambda i: (-rel[i], i))
    cand = order[:100]
    sel = [cand[0]]
    maxsim = {}
    while len(sel) < min(_MMR_K, len(cand)):
        last = sel[-1]
        best = None
        for i in cand:
            if i in sel:
                continue
            s = dot(q8[i], q8[last])
            if i not in maxsim or s > maxsim[i]:
                maxsim[i] = s
            key = (-(rel[i] - maxsim[i]), i)
            if best is None or key < best[0]:
                best = (key, i)
        sel.append(best[1])
    assert got == [(k + 1, v) for k, v in enumerate(sel)]
    # the two clones must not occupy ranks 1 and 2: the shifted-support
    # equal-relevance vector (12) must displace the exact clone (11)
    assert {got[0][1], got[1][1]} == {10, 12}


def test_keeper_policy_longest_then_min_id(spark, tmp_path):
    """Longest doc wins; on a length tie the smaller doc_id wins; the
    differs flag fires only when the two policies disagree."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_dedup_keeper_policy,
    )

    prefix = "same twenty-four chars!!"  # 24 chars -> one cluster
    docs = [
        (1, prefix + " short", "s", 30),
        (2, prefix + " a much longer body here", "s", 48),
        (3, prefix + " xxxxxxxxxxxxxxxxxxxxxxx", "s", 48),  # ties with 2
    ]
    df = spark.createDataFrame(
        docs, "doc_id bigint, text string, source string, n_chars int"
    )
    d = str(tmp_path / "keep")
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = ext_dedup_keeper_policy(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_members == 3
    assert r.keeper_longest == 2  # longest, tie broken by smaller id
    assert r.keeper_min_id == 1
    assert r.policy_differs


def test_row_level_policy_partitions_exactly(spark, sf_dir):
    """Roles partition the customer table: per-role counts and balances
    must sum to the unfiltered totals, and no nation is visible to two
    roles."""
    import pyspark.sql.functions as F

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        sec_row_level_policy,
    )

    out = sec_row_level_policy(spark, sf_dir).collect()
    c = t(spark, sf_dir, "customer")
    tot = c.agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias("b"),
        F.count_distinct("c_nationkey").alias("nn"),
    ).collect()[0]
    assert sum(r.visible_customers for r in out) == tot.n
    assert sum(r.visible_balance_cents for r in out) == tot.b
    assert sum(r.visible_nations for r in out) == tot.nn


# ---------------------------------------------------------------------------
# Wave-7 operators
# ---------------------------------------------------------------------------


def test_temporal_align_sweep_semantics(spark):
    """Hand-built two-history timeline: overlap segments, a delete gap in
    one side, an open tail, and a key live in only one history (no
    output). Exercises the sweep directly against enumerated truth."""
    from pyspark.sql import Row
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    # key 1 timeline (offsets):
    #  a: v@10(eid 100), delete@40, v@60(eid 106)
    #  b: v@20(eid 200), v@50(eid 205)
    # expected aligned segments:
    #  [20,39] (100,200)  — ends at a's delete
    #  [50,59] —— a deleted, none
    #  [60,None] (106,205)
    rows = [
        Row(key_id=1, offset=10, side="a", live=True, eid=100),
        Row(key_id=1, offset=40, side="a", live=False, eid=None),
        Row(key_id=1, offset=60, side="a", live=True, eid=106),
        Row(key_id=1, offset=20, side="b", live=True, eid=200),
        Row(key_id=1, offset=50, side="b", live=True, eid=205),
        # key 2: only history a -> never aligned
        Row(key_id=2, offset=5, side="a", live=True, eid=900),
    ]
    m = spark.createDataFrame(rows).select(
        "key_id",
        "offset",
        "side",
        F.when(
            F.col("live"),
            F.struct(F.lit(True).alias("lv"), F.col("eid").alias("eid")),
        )
        .otherwise(
            F.struct(
                F.lit(False).alias("lv"),
                F.lit(None).cast("long").alias("eid"),
            )
        )
        .alias("mk"),
    )
    w = Window.partitionBy("key_id").orderBy("offset")
    carried = m.select(
        "key_id",
        "offset",
        F.last(F.when(F.col("side") == "a", F.col("mk")), ignorenulls=True)
        .over(w)
        .alias("ca"),
        F.last(F.when(F.col("side") == "b", F.col("mk")), ignorenulls=True)
        .over(w)
        .alias("cb"),
        (F.lead("offset").over(w) - 1).alias("seg_vt"),
    )
    out = sorted(
        (
            (r.key_id, r.offset, r.seg_vt, r["ca.eid"], r["cb.eid"])
            for r in carried.where(
                F.col("ca.lv") & F.col("cb.lv")
            ).select(
                "key_id", "offset", "seg_vt",
                F.col("ca.eid").alias("ca.eid"),
                F.col("cb.eid").alias("cb.eid"),
            ).collect()
        )
    )
    assert out == [
        (1, 20, 39, 100, 200),
        (1, 60, None, 106, 205),
    ]


def test_candidate_keys_event_id_is_key(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        dq_candidate_keys,
    )

    rows = {r.combo: r for r in dq_candidate_keys(spark, sf_dir).collect()}
    assert rows["event_id"].is_key
    assert rows["event_id"].uniqueness_ppm == 1000000
    # supersets can only be more unique
    assert rows["user_id,ts"].n_distinct >= rows["user_id"].n_distinct
    assert (
        rows["user_id,event_type,ts"].n_distinct
        >= rows["user_id,ts"].n_distinct
    )


def test_weak_label_panel_invariants(spark, sf_dir):
    """Coverage/overlap/conflict sanity: conflicts <= overlaps <= votes,
    and coverage_ppm = 1e6*votes//n_docs exactly."""
    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_weak_label_model,
    )

    n_docs = t(spark, sf_dir, "documents").count()
    for r in ext_weak_label_model(spark, sf_dir).collect():
        assert r.n_conflict <= r.n_overlap <= r.n_votes
        assert r.coverage_ppm == (10**6 * r.n_votes) // n_docs


def test_ndcg_matches_python_bigint_replay(spark, tmp_path):
    """Every qid's (dcg_e9, idcg_e9, ndcg_ppm) must equal an independent
    pure-Python big-int replay of the harmonic-discount definition over
    the same planted frame — proving the ranking, the gain map, the
    integral divisions, and the tie-breaks all agree."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        _NDCG_K,
        _NDCG_QUERIES,
        ext_retrieval_ndcg,
    )

    dim = 4
    rows = []
    for qid in range(5):
        rows.append((qid, [1.0, 0.5 * qid, 0.25, -0.5], qid))
    rows += [
        (9, [1.0, 1.0, 1.0, 0.9], 0),
        (10, [1.0, 1.0, 1.0, 0.5], 0),
        (11, [1.0, 1.0, 0.5, 0.5], 7),
        (12, [-1.0, 0.2, 0.0, 0.3], 1),
        (13, [0.1, -0.2, 0.9, 0.3], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    d = str(tmp_path / "ndcg")
    df.write.mode("overwrite").parquet(d + "/embeddings.parquet")
    out = {r.qid: r for r in ext_retrieval_ndcg(spark, d).collect()}

    q8 = {v: [round(x * 127) for x in emb] for v, emb, _ in rows}
    lbl = {v: l for v, emb, l in rows}
    gain = {3: 7, 2: 3, 1: 1, 0: 0}
    for qid in range(_NDCG_QUERIES):
        scored = []
        for v, emb, l in rows:
            if v == qid:
                continue
            dot = sum(a * b for a, b in zip(q8[v], q8[qid]))
            rel = (2 if l == lbl[qid] else 0) + (
                1 if v % 3 == qid % 3 else 0
            )
            scored.append((v, dot, rel))
        by_dot = sorted(scored, key=lambda s: (-s[1], s[0]))[:_NDCG_K]
        dcg = sum(
            (10**9 * gain[rel]) // (rnk + 2)
            for rnk, (_, _, rel) in enumerate(by_dot)
        )
        by_rel = sorted(scored, key=lambda s: (-s[2], s[0]))[:_NDCG_K]
        idcg = sum(
            (10**9 * gain[rel]) // (rnk + 2)
            for rnk, (_, _, rel) in enumerate(by_rel)
        )
        assert out[qid].dcg_e9 == dcg, qid
        assert out[qid].idcg_e9 == idcg, qid
        expect = (10**6 * dcg) // idcg if idcg > 0 else 0
        assert out[qid].ndcg_ppm == expect, qid


def test_accumulating_snapshot_preserves_order_grain(spark, sf_dir):
    """One row per order (the accumulating grain), measures consistent
    with the raw facts."""
    import pyspark.sql.functions as F

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        cdc_accumulating_snapshot,
    )

    snap = cdc_accumulating_snapshot(spark, sf_dir)
    n_orders = t(spark, sf_dir, "orders").count()
    assert snap.count() == n_orders
    assert snap.select("orderkey").distinct().count() == n_orders
    tot = snap.agg(F.sum("n_lines")).collect()[0][0]
    assert tot == t(spark, sf_dir, "lineitem").count()
    bad = snap.where(
        (F.col("ship_span_days") < 0)
        | (F.col("n_lines") > 0) & F.col("first_ship").isNull()
    ).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# Wave-9 operators
# ---------------------------------------------------------------------------


def test_embedding_drift_matches_bigint_replay(spark, sf_dir):
    """mmd2_e6 per label must equal the pure-Python big-int replay of
    1e6 * |n_r*S_g - n_g*S_r|^2 // (n_g^2 * n_r^2) over the same
    quantized components."""
    from collections import defaultdict

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_embedding_drift,
    )

    rows = t(spark, sf_dir, "embeddings").collect()
    dims = len(rows[0].embedding)
    sums = defaultdict(lambda: [0] * dims)
    counts = defaultdict(int)
    for r in rows:
        q = [round(x * 127) for x in r.embedding]
        for i, c in enumerate(q):
            sums[r.label][i] += c
        counts[r.label] += 1
    tot = [sum(sums[l][i] for l in sums) for i in range(dims)]
    n_tot = sum(counts.values())
    got = {r.label: r for r in ext_embedding_drift(spark, sf_dir).collect()}
    for lbl in counts:
        ng, nr = counts[lbl], n_tot - counts[lbl]
        num = sum(
            (nr * sums[lbl][i] - ng * (tot[i] - sums[lbl][i])) ** 2
            for i in range(dims)
        )
        expect = (10**6 * num) // (ng * ng * nr * nr)
        assert got[lbl].mmd2_e6 == expect, lbl
        assert got[lbl].n_label == ng and got[lbl].n_rest == nr


def test_template_mining_wildcards_rare_tokens(spark, tmp_path):
    """Docs sharing a frequent skeleton with differing rare tokens must
    collapse to one template with <*> at the rare positions; singleton
    templates are dropped."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_template_mining,
    )

    docs = [
        (i, f"job start id{i:03d} done", "s", 20) for i in range(8)
    ] + [(100, "completely unique text here", "s", 27)]
    df = spark.createDataFrame(
        docs, "doc_id bigint, text string, source string, n_chars int"
    )
    d = str(tmp_path / "tpl")
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    out = ext_template_mining(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.template == "job start <*> done"
    assert r.n_docs == 8
    assert r.example_doc == 0
    assert r.n_wildcards == 1


def test_stream_rolling_distinct_equals_batch(spark, sf_dir):
    """The incrementally merged bitmap state must reproduce the one-shot
    batch rolling counts exactly — the mergeability claim."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        win_rolling_distinct,
    )
    from cdc_debezium_kafka_airflow_spark.queries.streaming_queries import (
        stream_rolling_distinct,
    )

    batch = {
        r.day: (r.users_7d, r.users_1d)
        for r in win_rolling_distinct(spark, sf_dir).collect()
    }
    stream = {
        r.day: (r.users_7d, r.users_1d)
        for r in stream_rolling_distinct(spark, sf_dir).collect()
    }
    assert batch == stream


def test_pvm_bridge_reconciles_with_planted_effects(spark, tmp_path):
    """Planted two-period frame with a pure price move, a pure volume
    move, one new and one lost part: each effect lands in its column
    and the bridge reconciles exactly."""
    from datetime import datetime

    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        agg_price_volume_mix,
    )

    t97 = datetime(1997, 6, 1)
    t98 = datetime(1998, 6, 1)
    # lineitem: (partkey, shipdate, qty, extendedprice)
    li = [
        # part 1: price 10 -> 12, qty 5 both periods (pure price)
        (1, t97, 5, 50.0), (1, t98, 5, 60.0),
        # part 2: price 10 flat, qty 5 -> 8 (pure volume)
        (2, t97, 5, 50.0), (2, t98, 8, 80.0),
        # part 3: only 1998 (new)
        (3, t98, 2, 30.0),
        # part 4: only 1997 (lost)
        (4, t97, 3, 21.0),
    ]
    rows = [
        (i, pk, 0, i, float(q), ep, 0.0, 0.0, "N", "O", d)
        for i, (pk, d, q, ep) in enumerate(li)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber bigint, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(
        str(tmp_path / "pvm") + "/lineitem.parquet"
    )
    parts = [(pk, f"p{pk}", f"B{pk}", "T", 1, 1.0) for pk in (1, 2, 3, 4)]
    spark.createDataFrame(
        parts,
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "pvm") + "/part.parquet")
    out = {
        r.brand: r
        for r in agg_price_volume_mix(spark, str(tmp_path / "pvm")).collect()
    }
    # pure price: vol 0, price = 5 * (12-10)*100 e6 = 1000 cents e6
    assert out["B1"].volume_effect_e6 == 0
    assert out["B1"].price_effect_e6 == 1000 * 10**6
    # pure volume: price 0, vol = (8-5) * 1000 e6 cents
    assert out["B2"].price_effect_e6 == 0
    assert out["B2"].volume_effect_e6 == 3000 * 10**6
    assert out["B3"].new_parts_e6 == 3000 * 10**6
    assert out["B4"].lost_parts_e6 == -2100 * 10**6
    assert all(r.reconciles for r in out.values())


def test_range_frame_shrinks_over_gaps(spark, tmp_path):
    """Days 1, 2, 10: the value-based frame around day 10 must contain
    only itself (neighbors are > 3 days away), where a rows-frame would
    wrongly pull days 1-2 in."""
    from datetime import datetime, timezone

    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        win_range_value_frame,
    )

    rows = [
        (i, datetime(2026, 4, d, 5, tzinfo=timezone.utc), i, "view",
         float(d), "{}")
        for i, d in enumerate([1, 2, 10])
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    p = str(tmp_path / "rf")
    df.write.mode("overwrite").parquet(p + "/events.parquet")
    out = {r.day_start.day: r for r in win_range_value_frame(spark, p).collect()}
    assert out[10].days_in_frame == 1
    assert out[10].centered_7d_cents == 1000
    assert out[1].days_in_frame == 2  # days 1+2
    assert out[1].centered_7d_cents == 100 + 200


def test_preference_pairs_policy(spark, tmp_path):
    """Winner selection, tie policy (lower id chosen, flagged), and
    margin on a planted frame."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_preference_pairs,
    )

    # doc 1: 10 distinct of 10 words (score 10000), doc 2: 5 of 10
    # (score 5000), docs 3/4: identical scores -> tie
    docs = [
        (1, " ".join(f"w{i}" for i in range(10)), "s", 40),
        (2, " ".join(["dup"] * 5 + [f"u{i}" for i in range(5)]), "s", 40),
        (3, "a b c d", "t", 7),
        (4, "e f g h", "t", 7),
    ]
    df = spark.createDataFrame(
        docs, "doc_id bigint, text string, source string, n_chars int"
    )
    d = str(tmp_path / "pref")
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {r.source: r for r in ext_preference_pairs(spark, d).collect()}
    s = out["s"]
    assert (s.chosen_doc, s.rejected_doc) == (1, 2)
    assert s.margin == 4000 and not s.tie_kept_lower_id
    t_ = out["t"]
    assert (t_.chosen_doc, t_.rejected_doc) == (3, 4)
    assert t_.margin == 0 and t_.tie_kept_lower_id


def test_assortativity_sign_on_planted_graphs(spark, tmp_path):
    """A star graph (hub-leaf edges only) must be perfectly
    DISassortative (r = -1): every edge pairs the max degree with
    degree 1."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        graph_assortativity,
    )

    # orders o: custkey c buys from supplier s when (c,s) edge planted.
    # star: customer 1 (hub) buys from suppliers 1..6; one order each.
    orders = [(i, 1, "F", 1.0, "2024-01-01", "P") for i in range(6)]
    lines = [
        (i, 97 * (i + 1), i + 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
         "2024-01-01")
        for i in range(6)  # l_partkey % 97 == 0 keeps the edge
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "g") + "/orders.parquet")
    spark.createDataFrame(
        lines,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber bigint, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).write.mode("overwrite").parquet(
        str(tmp_path / "g") + "/lineitem.parquet"
    )
    out = graph_assortativity(spark, str(tmp_path / "g")).collect()
    assert len(out) == 1
    assert out[0].assortativity == -1.0


def test_wasserstein_identical_and_shifted(spark, tmp_path):
    """W1 must be 0 for a group identical to the corpus... impossible
    (the group is part of the corpus) — so instead: a group concentrated
    in bucket 0 vs one in bucket 23 must have near-maximal and EQUAL
    distances to the combined corpus, and the all-in-one-bucket case
    matches the hand-computed rational exactly."""
    from datetime import datetime, timezone

    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        ext_wasserstein_drift,
    )

    t0 = datetime(2026, 5, 1, tzinfo=timezone.utc)
    rows = [(i, t0, i, "lo", 0.0, "{}") for i in range(10)] + [
        (100 + i, t0, i, "hi", 599.0, "{}") for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    d = str(tmp_path / "w1")
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {r.event_type: r for r in ext_wasserstein_drift(spark, d).collect()}
    # group lo: CDF_g = 1 from bucket 0; corpus CDF = 1/2 until bucket 23.
    # per bucket |n_t*cg - n_g*ct| = |20*10 - 10*10| = 100 for buckets
    # 0..22, 0 at 23 -> W1_e6 = 1e6 * 23*100 // (10*20*24)
    expect = (10**6 * 23 * 100) // (10 * 20 * 24)
    assert out["lo"].w1_e6 == expect
    assert out["hi"].w1_e6 == expect  # symmetric by construction


def test_maxsim_beats_pooled_dot_on_local_match(spark, tmp_path):
    """A candidate matching ONE query sub-vector perfectly but orthogonal
    elsewhere must outrank (under MaxSim) a candidate that is uniformly
    lukewarm, when their pooled dots would order them the other way —
    the late-interaction property itself. Scores also replayed in pure
    Python big-ints."""
    from cdc_debezium_kafka_airflow_spark.queries.relational7 import (
        _MAXSIM_SUBS,
        ext_colbert_maxsim,
    )

    dim = 64
    qv = [1.0] * dim
    # local hero: slice 0 == query slice, everything else negative-ish
    local = [1.0] * 8 + [-0.2] * 56
    # lukewarm: 0.3 everywhere -> bigger POOLED dot than local
    luke = [0.3] * dim
    rows = [(1, qv, 0), (10, local, 1), (11, luke, 2)]
    for i in range(20, 30):  # filler
        rows.append((i, [0.01] * dim, 3))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    d = str(tmp_path / "ms")
    df.write.mode("overwrite").parquet(d + "/embeddings.parquet")
    out = {r.vec_id: r.maxsim for r in ext_colbert_maxsim(spark, d).collect()}

    # python replay
    def q8(v):
        return [round(x * 127) for x in v]

    def maxsim(q, c):
        qs = [q[i * 8:(i + 1) * 8] for i in range(_MAXSIM_SUBS)]
        cs = [c[i * 8:(i + 1) * 8] for i in range(_MAXSIM_SUBS)]
        return sum(
            max(sum(a * b for a, b in zip(s, t)) for t in cs) for s in qs
        )

    for v, emb, _ in rows:
        if v == 1:
            continue
        assert out[v] == maxsim(q8(qv), q8(emb)), v
    # pooled dot prefers lukewarm; MaxSim must prefer the local hero
    pooled = lambda c: sum(a * b for a, b in zip(q8(qv), q8(c)))
    assert pooled(luke) > pooled(local)
    assert out[10] > out[11]
