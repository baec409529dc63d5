from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
    _PR_SCALE,
    agg_mode_stats,
    ent_resolution_fuzzy,
    graph_pagerank,
    ts_trend_regression,
    win_ewma,
)


def test_pagerank_mass_and_hub_dominance(spark, sf_dir):
    rows = graph_pagerank(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.rank_e12 > 0 for r in rows)
    # suppliers are the hubs of the bipartite trade graph (10 suppliers vs
    # 150 customers at sf0.001): every top slot must be a supplier, and each
    # supplier's rank must dwarf the uniform-init mass of a single node
    assert rows[0].node_kind == "supplier"
    assert rows[0].rank_e12 > _PR_SCALE // 160


def test_pagerank_partition_invariance(spark, sf_dir):
    """The integer-arithmetic claim: ranks are BIT-IDENTICAL regardless of
    how the upstream frames are partitioned (a float PageRank would drift
    in the last ulp when the inflow sum's reduction order changes)."""
    base = {(r.node_kind, r.entity_key): r.rank_e12
            for r in graph_pagerank(spark, sf_dir).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = {(r.node_kind, r.entity_key): r.rank_e12
               for r in graph_pagerank(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_entity_resolution_matches_bruteforce(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.common import t

    rows = ent_resolution_fuzzy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.name_a < r.name_b
        assert r.name_a.split(" ")[1] == r.block_key
        assert r.name_b.split(" ")[1] == r.block_key
        assert r.edit_dist == _lev(r.name_a, r.name_b) <= 6
    # brute force over the distinct-name universe reproduces the pair set
    names = [x.p_name for x in
             t(spark, sf_dir, "part").select("p_name").distinct().collect()]
    expected = {
        (a, b)
        for a in names for b in names
        if a < b and a.split(" ")[1] == b.split(" ")[1] and _lev(a, b) <= 6
    }
    assert {(r.name_a, r.name_b) for r in rows} == expected


def test_trend_regression_matches_numpy(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.common import t

    got = {r.event_type: r for r in
           ts_trend_regression(spark, sf_dir).collect()}
    pdf = (
        t(spark, sf_dir, "events")
        .select("event_type", F.expr("unix_micros(ts)").alias("us"), "value")
        .toPandas()
    )
    for et, g in pdf.groupby("event_type"):
        x = ((g["us"] - g["us"].min()) // 3_600_000_000).to_numpy(float)
        y = np.round(g["value"].to_numpy() * 100)  # the query's 2dp lattice
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(got[et].slope_per_hour - slope / 100.0) < 1e-6, et
        assert abs(got[et].intercept - intercept / 100.0) < 1e-4, et
        assert got[et].n == len(g)


def test_ewma_head_and_replay(spark, sf_dir):
    rows = win_ewma(spark, sf_dir).collect()
    by_series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.ts, r.event_id)):
        by_series.setdefault(r.event_type, []).append(r)
    from cdc_debezium_kafka_airflow_spark.queries.common import t

    raw = (
        t(spark, "/root/testdata/sf0.001", "events")
        .select("event_id", "event_type", "ts", "value")
        .collect()
    )
    vals = {}
    for r in sorted(raw, key=lambda r: (r.ts, r.event_id)):
        vals.setdefault(r.event_type, []).append(round(r.value * 10000))
    for et, series in by_series.items():
        xs = vals[et]
        assert len(series) == len(xs)
        # python replay of the truncated integer recurrence
        for i in (0, len(xs) // 2, len(xs) - 1):
            lo = max(0, i - 19)
            num = den = 0
            for k, j in enumerate(range(i, lo - 1, -1)):
                w = 2 ** (19 - k)
                num += xs[j] * w
                den += w
            assert abs(series[i].ewma_value
                       - round((num / den) / 10000.0, 6)) < 1e-9, (et, i)
        # first element of the series is its own value
        assert series[0].ewma_value == round(xs[0] / 10000.0, 6)


def test_mode_stats_match_numpy(spark, sf_dir):
    from collections import Counter

    from cdc_debezium_kafka_airflow_spark.queries.common import t

    got = {r.event_type: r for r in agg_mode_stats(spark, sf_dir).collect()}
    pdf = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    ).toPandas()
    for et, g in pdf.groupby("event_type"):
        counts = Counter(g["user_id"])
        best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
        assert got[et].modal_user == best[0], et
        assert got[et].modal_count == best[1], et
        sd = np.std(np.round(g["value"].to_numpy() * 100), ddof=1) / 100.0
        assert abs(got[et].stddev_value - sd) < 1e-5, et


def test_bfs_hops_match_python_replay(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        _BFS_MAX_HOPS,
        graph_bfs_hops,
    )

    got = {(r.node_kind, r.entity_key): r.hop
           for r in graph_bfs_hops(spark, sf_dir).collect()}
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    pairs = {
        (r.o_custkey * 2, r.l_suppkey * 2 + 1)
        for r in o.join(l, o.o_orderkey == l.l_orderkey).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    start = min(n for n in adj if n % 2 == 1)
    dist = {start: 0}
    frontier = [start]
    for hop in range(1, _BFS_MAX_HOPS + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        frontier = nxt
    expected = {
        ("customer" if n % 2 == 0 else "supplier", n // 2): h
        for n, h in dist.items()
    }
    assert got == expected


def test_incremental_join_equals_full_recompute(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.operators.cdc import (
        upsert_materialize,
    )
    from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import (
        _unwrapped,
        cdc_incremental_join,
    )

    inc = {tuple(r) for r in cdc_incremental_join(spark, sf_dir).collect()}
    mat = upsert_materialize(_unwrapped(spark, sf_dir))

    def pick(name, p):
        return mat.filter(F.col("table_name") == name).select(
            F.col("user_id").alias("key_id"),
            F.col("event_id").alias(f"{p}_event_id"),
            F.col("last_offset").alias(f"{p}_offset"),
            F.round(F.col("value") * 10000).cast("long").alias(f"{p}_v"),
        )

    full = {
        tuple(r)
        for r in pick("ventas", "a").join(
            pick("pagos_clientes", "b"), "key_id"
        ).collect()
    }
    assert inc == full


def test_histogram_accounts_for_every_row(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        agg_histogram,
    )

    rows = agg_histogram(spark, sf_dir).collect()
    n_total = t(spark, sf_dir, "events").count()
    assert sum(r.n for r in rows) == n_total
    assert abs(sum(r.frac for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0 <= r.bucket <= 23
        assert r.hi - r.lo == 25.0


def test_auc_matches_direct_computation(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        ext_auc_score,
    )

    row = ext_auc_score(spark, sf_dir).collect()[0]
    docs = t(spark, sf_dir, "documents").select("lang", "n_chars").collect()
    pos = sorted(d.n_chars for d in docs if d.lang == "en")
    neg = sorted(d.n_chars for d in docs if d.lang != "en")
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    # O(n^2) reference on the tiny fixture: P(score_pos > score_neg) + .5 ties
    wins = ties = 0
    for p in pos:
        for ng in neg:
            if p > ng:
                wins += 1
            elif p == ng:
                ties += 1
    expected = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(row.auc - round(expected, 9)) < 1e-9


def test_batch_inference_matches_python_model(spark, sf_dir):
    import math

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        _inference_weights,
        ext_batch_inference,
    )

    got = {r.doc_id: r for r in ext_batch_inference(spark, sf_dir).collect()}
    docs = t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    w = _inference_weights()
    assert len(got) == len(docs)
    for d in docs:
        txt = d.text
        feats = [
            len(txt),
            txt.count(" "),
            sum(c.isdigit() for c in txt),
            sum(c in "aeiou" for c in txt),
        ]
        z = sum(f * wj for f, wj in zip(feats, w))
        score = round(1.0 / (1.0 + math.exp(-z)), 9)
        assert abs(got[d.doc_id].score - score) < 1e-9, d.doc_id
        assert got[d.doc_id].accepted == (score > 0.5)


def test_triangles_match_python_recount(spark, sf_dir):
    from itertools import combinations

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        graph_triangles,
    )

    row = graph_triangles(spark, sf_dir).collect()[0]
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    by_cust: dict[int, set[int]] = {}
    for r in o.join(l, o.o_orderkey == l.l_orderkey).collect():
        by_cust.setdefault(r.o_custkey, set()).add(r.l_suppkey)
    proj = set()
    for sup in by_cust.values():
        for u, v in combinations(sorted(sup), 2):
            proj.add((u, v))
    adj: dict[int, set[int]] = {}
    for u, v in proj:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tris = sum(
        1
        for (u, v) in proj
        for w_ in adj[u] & adj[v]
        if v < w_
    )
    wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    assert row.n_proj_edges == len(proj)
    assert row.n_triangles == tris
    assert row.n_wedges == wedges


# ---------------------------------------------------------------------------
# avro_py codec (tests live here to avoid a new session-scoped spark module)
# ---------------------------------------------------------------------------


def test_avro_codec_spec_examples_and_roundtrip(tmp_path):
    import datetime
    import io

    from cdc_debezium_kafka_airflow_spark.sources import avro_py as av

    # zigzag varint examples straight from the Avro specification
    for n, hexs in [(0, "00"), (-1, "01"), (1, "02"), (-64, "7f"),
                    (64, "8001")]:
        assert av.encode_long(n).hex() == hexs, n
        assert av.decode_long(io.BytesIO(bytes.fromhex(hexs))) == n

    rows = [
        (1, datetime.datetime(2024, 1, 1, 12, 30, 0, 123456), 7, "click",
         3.141592653589793, '{"a":1}'),
        (2, datetime.datetime(2024, 1, 2), 8, "view", -0.0, None),
        (3, datetime.datetime(2024, 1, 3), 9, "ünïcode", 1e-308, "x" * 1000),
    ]
    p = str(tmp_path / "t.avro")
    n = av.write_container(p, av.EVENTS_AVRO_SCHEMA, iter(rows), b"S" * 16,
                           records_per_block=2)
    assert n == 3
    back = [tup for _, tup in av.read_container(p)]
    # tuple equality is BIT-exact for the doubles (-0.0 keeps its sign bit,
    # 1e-308 subnormal-adjacent survives) and exercises the null union +
    # multi-block + unicode paths
    assert back == rows
    assert av.container_schema(p)["name"] == "event"


def test_avro_arrow_writer_byte_identical(tmp_path):
    """write_container_arrow (the vectorized ragged-scatter encoder the
    Spark sinks now use) must produce BYTE-identical files to the row
    codec for the same logical rows and sync marker — covering nulls,
    unicode, negative/large varints, -0.0, multi-block boundaries, and a
    batch split that straddles a block boundary."""
    import datetime

    import pyarrow as pa

    from cdc_debezium_kafka_airflow_spark.sources import avro_py as av

    rows = []
    for i in range(10_001):  # > 2 blocks at 4000/block, partial tail
        rows.append(
            (
                i * 37 - 5_000_000,
                datetime.datetime(2024, 1, 1) + datetime.timedelta(
                    microseconds=i * 999_983
                ),
                -i,
                f"évt-{i}" if i % 3 else "",
                -0.0 if i % 5 == 0 else i * 1.5e-3,
                None if i % 4 == 0 else f'{{"k":{i}}}',
            )
        )
    p_row = str(tmp_path / "row.avro")
    p_arrow = str(tmp_path / "arrow.avro")
    sync = b"\x07" * 16
    n1 = av.write_container(p_row, av.EVENTS_AVRO_SCHEMA, iter(rows), sync)
    names = [f["name"] for f in av.EVENTS_AVRO_SCHEMA["fields"]]
    types = [
        pa.int64(),
        pa.timestamp("us"),
        pa.int64(),
        pa.string(),
        pa.float64(),
        pa.string(),
    ]
    # feed as three uneven RecordBatches so batch boundaries straddle
    # block boundaries (the carry logic in write_container_arrow)
    cuts = [0, 1500, 7777, len(rows)]
    batches = []
    for a, b in zip(cuts, cuts[1:]):
        chunk = rows[a:b]
        arrays = [
            pa.array([r[i] for r in chunk], type=types[i])
            for i in range(len(names))
        ]
        batches.append(pa.RecordBatch.from_arrays(arrays, names=names))
    n2 = av.write_container_arrow(
        p_arrow, av.EVENTS_AVRO_SCHEMA, iter(batches), sync
    )
    assert n1 == n2 == len(rows)
    assert open(p_row, "rb").read() == open(p_arrow, "rb").read()
    # sliced batches (nonzero arrow offsets) hit the same bytes
    p_sliced = str(tmp_path / "sliced.avro")
    one = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
    av.write_container_arrow(
        p_sliced,
        av.EVENTS_AVRO_SCHEMA,
        iter([one.slice(0, 4096), one.slice(4096)]),
        sync,
    )
    assert open(p_sliced, "rb").read() == open(p_row, "rb").read()


def test_avro_arrow_writer_all_primitive_types(tmp_path):
    """Every supported Avro leaf type (and both union orders) through the
    vectorized encoder, checked against the row codec byte-for-byte."""
    import pyarrow as pa

    from cdc_debezium_kafka_airflow_spark.sources import avro_py as av

    schema = {
        "type": "record",
        "name": "alltypes",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "b", "type": "boolean"},
            {"name": "nl", "type": ["null", "long"]},
            {"name": "ns", "type": ["string", "null"]},  # reversed union
            {"name": "nb", "type": ["null", "boolean"]},
        ],
    }
    rows = [
        (2**62, -7, 1e-308, 2.5, "αβ", b"\x00\xff", True, None, "x", False),
        (-1, 0, -0.0, -2.5, "", b"", False, 42, None, None),
        (0, 2**31 - 1, 3.14, 0.0, "z" * 300, b"\x01" * 70, True, -(2**40),
         "ünï", True),
    ]
    sync = b"\x09" * 16
    p_row = str(tmp_path / "r.avro")
    p_arr = str(tmp_path / "a.avro")
    av.write_container(p_row, schema, iter(rows), sync)
    arrays = [
        pa.array([r[0] for r in rows], pa.int64()),
        pa.array([r[1] for r in rows], pa.int32()),
        pa.array([r[2] for r in rows], pa.float64()),
        pa.array([r[3] for r in rows], pa.float32()),
        pa.array([r[4] for r in rows], pa.string()),
        pa.array([r[5] for r in rows], pa.binary()),
        pa.array([r[6] for r in rows], pa.bool_()),
        pa.array([r[7] for r in rows], pa.int64()),
        pa.array([r[8] for r in rows], pa.string()),
        pa.array([r[9] for r in rows], pa.bool_()),
    ]
    batch = pa.RecordBatch.from_arrays(
        arrays, names=[f["name"] for f in schema["fields"]]
    )
    av.write_container_arrow(p_arr, schema, iter([batch]), sync)
    assert open(p_row, "rb").read() == open(p_arr, "rb").read()
    assert [tup for _, tup in av.read_container(p_arr)] == rows


def test_avro_reversed_union_branch_order(tmp_path):
    """Externally produced files may declare null unions as [T, "null"];
    the codec must use the ACTUAL null-branch index, not assume 0 (the
    round-4 advisor finding): a value is then union branch 0 and null is
    branch 1, and misreading that desyncs the whole stream."""
    import io

    from cdc_debezium_kafka_airflow_spark.sources import avro_py as av

    schema = {
        "type": "record",
        "name": "ext",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": ["string", "null"]},  # reversed order
        ],
    }
    rows = [(1, "a"), (2, None), (3, "c")]
    p = str(tmp_path / "ext.avro")
    assert av.write_container(p, schema, iter(rows), b"R" * 16) == 3
    assert [tup for _, tup in av.read_container(p)] == rows
    # wire check: value payload is union branch 0 (zigzag 0x00), null is
    # branch 1 (zigzag 0x02)
    assert av.encode_record(schema, (1, "a")) == bytes.fromhex("02 00 02 61".replace(" ", ""))
    assert av.encode_record(schema, (2, None)) == bytes.fromhex("04 02")
    buf = io.BytesIO(av.encode_record(schema, (3, "c")))
    assert av.decode_record(schema, buf) == (3, "c") and not buf.read()


def test_avro_corrupted_sync_marker_detected(tmp_path):
    import datetime

    from cdc_debezium_kafka_airflow_spark.sources import avro_py as av

    p = str(tmp_path / "t.avro")
    rows = [(1, datetime.datetime(2024, 1, 1), 2, "a", 1.0, None)]
    av.write_container(p, av.EVENTS_AVRO_SCHEMA, iter(rows), b"S" * 16)
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF  # flip last sync byte
    open(p, "wb").write(bytes(raw))
    import pytest

    with pytest.raises(ValueError, match="sync marker"):
        list(av.read_container(p))


def test_avro_spark_roundtrip_exact(spark, sf_dir, tmp_path):
    import json

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.sources.avro_py import (
        AvroDataSource,
        EVENTS_AVRO_SCHEMA,
    )

    spark.dataSource.register(AvroDataSource)
    src = t(spark, sf_dir, "events")
    path = str(tmp_path / "events_avro")
    src.write.format("avro_py").option("path", path).option(
        "avro_schema", json.dumps(EVENTS_AVRO_SCHEMA)
    ).mode("append").save()
    back = spark.read.format("avro_py").option("path", path).load()
    # exact multiset equality, every column, both directions
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # manifest governs visibility: an orphan file must be invisible
    import os

    with open(os.path.join(path, "part-orphan.avro"), "wb") as f:
        f.write(b"garbage")
    assert spark.read.format("avro_py").option("path", path).load().count() \
        == len(a)


def test_crypto_shred_contract(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        sec_crypto_shred,
    )

    got = {r.event_id: r for r in sec_crypto_shred(spark, sf_dir).collect()}
    src = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "props"
    ).collect()
    assert len(got) == len(src)
    for s in src:
        r = got[s.event_id]
        assert r.envelope_overhead == 28  # every row went through AES-GCM
        if s.user_id % 7 == 3:
            assert r.is_shredded and r.props_out is None
        else:
            assert not r.is_shredded and r.props_out == s.props


def test_twap_matches_python_replay(spark, sf_dir):
    from collections import defaultdict

    from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import (
        _unwrapped,
        cdc_time_weighted_avg,
    )

    got = {(r.table_name, r.key_id): r
           for r in cdc_time_weighted_avg(spark, sf_dir).collect()}
    un = _unwrapped(spark, sf_dir).select(
        "table_name", "key_id", "offset", "is_delete", "after.value"
    ).collect()
    mo = max(r.offset for r in un)
    hist = defaultdict(list)
    for r in sorted(un, key=lambda r: r.offset):
        hist[(r.table_name, r.key_id)].append(r)
    expect = {}
    for k, rows in hist.items():
        spans = []
        for i, r in enumerate(rows):
            if r.is_delete:
                continue
            nxt = rows[i + 1].offset - 1 if i + 1 < len(rows) else mo
            spans.append((nxt - r.offset + 1, round(r.value * 100)))
        if spans:
            num = sum(d * c for d, c in spans)
            den = sum(d for d, _ in spans)
            expect[k] = (len(spans), den, round((num * 1.0 / den) / 100.0, 6))
    assert set(got) == set(expect)
    for k, (nv, dur, twap) in expect.items():
        r = got[k]
        assert (r.n_versions, r.total_dur) == (nv, dur), k
        assert abs(r.twap - twap) < 1e-9, k


def test_gopher_gate_rules_consistent(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        ext_gopher_gate,
    )

    rows = ext_gopher_gate(spark, sf_dir).collect()
    docs = {d.doc_id: d.text for d in
            t(spark, sf_dir, "documents").select("doc_id", "text").collect()}
    stop = {"the", "a", "of", "and", "is", "to", "in"}
    assert len(rows) == len(docs)
    n_dropped = 0
    for r in rows:
        words = " ".join(docs[r.doc_id].strip().lower().split()).split(" ")
        assert r.n_words == len(words)
        expect_reasons = set()
        if len(words) < 30:
            expect_reasons.add("too_short")
        sum_len = sum(len(w) for w in words)
        if sum_len * 10 < len(words) * 30 or sum_len * 10 > len(words) * 100:
            expect_reasons.add("word_len_band")
        if max(len(w) for w in words) > 15:
            expect_reasons.add("giant_word")
        if len({w for w in words if w in stop}) < 2:
            expect_reasons.add("no_stopwords")
        assert sorted(expect_reasons) == list(r.reasons), r.doc_id
        assert r.keep == (not expect_reasons)
        n_dropped += not r.keep
    # the gate must actually discriminate on this corpus
    assert 0 < n_dropped < len(rows)


def test_avro_stream_sink_manifest_gates_visibility(spark, sf_dir, tmp_path):
    """Multi-batch stream through the avro_py STREAM writer: per-batch
    manifests exist, orphan files are invisible to the reader, and the
    archive round-trips the events exactly."""
    import glob
    import json
    import os

    from cdc_debezium_kafka_airflow_spark.queries.common import t
    from cdc_debezium_kafka_airflow_spark.sources.avro_py import (
        AvroDataSource,
        EVENTS_AVRO_SCHEMA,
    )

    spark.dataSource.register(AvroDataSource)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    t(spark, sf_dir, "events").repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
        .writeStream.format("avro_py")
        .option("path", out)
        .option("avro_schema", json.dumps(EVENTS_AVRO_SCHEMA))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    manifests = glob.glob(os.path.join(out, "_batch-*.json"))
    assert len(manifests) >= 3  # one per micro-batch
    n_src = t(spark, sf_dir, "events").count()
    back = spark.read.format("avro_py").option("path", out).load()
    assert back.count() == n_src
    # orphan (crashed-attempt) file must stay invisible
    with open(os.path.join(out, "part-orphan.avro"), "wb") as f:
        f.write(b"junk")
    assert spark.read.format("avro_py").option("path", out).load().count() \
        == n_src


def test_mllib_minhash_semantics(spark, sf_dir):
    """The official ml.feature.MinHashLSH surface: planted exact dup at
    distance 0, near-dup found, hashed distance tracks true shingle
    Jaccard, and the fixture-level pair set is seed-deterministic."""
    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        ext_dedup_minhash_mllib,
        mllib_minhash_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    words = base.split()
    near = " ".join(words[:-2] + ["tonight", "friend"])
    other = "completely different content about warehouse query engines ok"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )
    from cdc_debezium_kafka_airflow_spark.operators.dedup import shingle_docs

    sh = shingle_docs(docs).select("doc_id", "shingles")
    pairs = {(r.doc_a, r.doc_b): r.jaccard_dist
             for r in mllib_minhash_pairs(sh, 0.95).collect()}
    assert pairs[(1, 2)] == 0.0                   # exact dup
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] < 0.5  # near dup
    assert not any(4 in p for p in pairs)         # unrelated doc clean
    # true-jaccard agreement for the near pair
    s1 = set(sh.filter("doc_id = 1").first().shingles)
    s3 = set(sh.filter("doc_id = 3").first().shingles)
    true_jd = 1 - len(s1 & s3) / len(s1 | s3)
    assert abs(pairs[(1, 3)] - true_jd) < 0.02
    # fixture-level: the registered query emits the one-row invariant
    # audit — every violation counter must be exactly 0, deterministically
    a = ext_dedup_minhash_mllib(spark, sf_dir).collect()
    b = ext_dedup_minhash_mllib(spark, sf_dir).collect()
    assert len(a) == 1 and a == b
    row = a[0]
    assert row.n_docs > 0
    assert row.n_not_canonical == 0
    assert row.n_missed_exact_dups == 0
    assert row.n_exact_dup_dist_nonzero == 0
    assert row.n_dist_tolerance_breach == 0


def test_seasonal_decompose_recovers_planted_peak(spark, sf_dir):
    """ts_seasonal_decompose: the planted Friday doubling must be
    recovered as the peak day-of-week (dow=4) for EVERY event type —
    the one check that falsifies sign errors, off-by-one windows, and
    wrong dow arithmetic together."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.queries.relational4 import QUERIES

    out = QUERIES["ts_seasonal_decompose"](spark, sf_dir)
    peaks = out.filter(F.col("peak")).select("event_type", "dow").collect()
    assert len(peaks) == 5
    assert all(r.dow == 4 for r in peaks)


def test_gopher_gate_pandas_output_is_canonicalizable(spark, sf_dir):
    """Driver-harness regression pin (r12 verdict item 1): ext_gopher_gate
    is the ONLY registered query with an array-typed output column
    (verified by a full 344-query schema sweep, r13), and the round-12
    driver comparator crashed canonicalizing it — pandas' lexsort
    factorizes every sort key and ndarray/list cells are unhashable
    (TypeError: unhashable type), so a sort_values over all columns
    cannot canonicalize the frame as-is. This test pins BOTH halves of
    that diagnosis on the real query output: (a) the raw toPandas frame
    reproduces the crash (if a pandas/Spark upgrade ever makes it
    sortable, the driver bug is moot and this assert flags it for
    cleanup), and (b) one standard transformation — array cells to
    tuples, exactly what tools/check_oracles.norm_cell does — makes the
    frame canonicalizable with a total, deterministic order. The query's
    declared output schema is part of its oracle contract and must NOT
    change to dodge the comparator."""
    import pandas as pd
    import pytest

    from cdc_debezium_kafka_airflow_spark.queries.relational4 import (
        ext_gopher_gate,
    )

    pdf = ext_gopher_gate(spark, sf_dir).toPandas()
    assert list(pdf.columns) == [
        "doc_id", "n_words", "mean_word_len", "max_word_len",
        "n_distinct_stop", "keep", "reasons",
    ]
    # every cell of the array column arrives as ndarray or list of str
    assert all(
        isinstance(v, (list, tuple)) or hasattr(v, "tolist")
        for v in pdf["reasons"]
    )
    # (a) the driver comparator's shape crashes on the raw frame
    with pytest.raises(TypeError, match="unhashable"):
        pdf.sort_values(by=list(pdf.columns))
    # (b) tuple-canonicalized cells sort fine and deterministically
    canon = pdf.copy()
    canon["reasons"] = [tuple(v) for v in canon["reasons"]]
    s1 = canon.sort_values(by=list(canon.columns)).reset_index(drop=True)
    s2 = (
        canon.sample(frac=1.0, random_state=7)
        .sort_values(by=list(canon.columns))
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(s1, s2)
    # failed docs carry sorted reason arrays; kept docs carry empty ones
    assert all(
        (len(r) == 0) == bool(k)
        for r, k in zip(canon["reasons"], canon["keep"])
    )
    assert all(list(r) == sorted(r) for r in canon["reasons"])


def test_avro_columnar_decoder_matches_reference(tmp_path, sf_dir):
    """read_container_columns (the connector's r13 columnar fast path) is
    value-pinned against the row-wise reference decoder on every codec
    feature the subset supports: null unions, multi-block files, unicode,
    signed/subnormal doubles, and the timestamp-micros logical type
    (columns carry raw epoch-micros; the reference carries datetimes —
    the conversion is the documented contract difference)."""
    import datetime

    import cdc_debezium_kafka_airflow_spark.sources.avro_py as av

    rows = [
        (1, datetime.datetime(2024, 1, 1, 12, 30, 0, 123456), 7, "click",
         3.141592653589793, '{"a":1}'),
        (2, datetime.datetime(2024, 1, 2), 8, "view", -0.0, None),
        (3, datetime.datetime(2024, 1, 3), 9, "ünïcode", 1e-308, "x" * 999),
        (4, datetime.datetime(1999, 12, 31, 23, 59, 59, 999999), -5, "",
         float("inf"), ""),
    ]
    p = str(tmp_path / "t.avro")
    av.write_container(p, av.EVENTS_AVRO_SCHEMA, iter(rows), b"S" * 16,
                       records_per_block=3)
    ref = [tup for _, tup in av.read_container(p)]
    schema, cols = av.read_container_columns(p)
    assert schema["name"] == "event"
    assert len(cols) == 6 and all(len(c) == len(ref) for c in cols)
    for ri, tup in enumerate(ref):
        for fi, v in enumerate(tup):
            got = cols[fi][ri]
            if isinstance(v, datetime.datetime):
                got = av._micros_to_ts(got)
            assert got == v and type(got) is type(v), (ri, fi, got, v)
    # and on the real fixture store (100k rows at sf0.1 scale dirs)
    files = av.committed_avro_files
    from cdc_debezium_kafka_airflow_spark.queries.format_queries import (
        src_avro,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import cache_path
    # building via the query guarantees the store exists for this sf
    from cdc_debezium_kafka_airflow_spark.session import get_spark

    spark = get_spark("tests")
    src_avro(spark, sf_dir)
    store = cache_path(sf_dir, "events_avro")
    for fpath in files(store)[:2]:
        ref = [tup for _, tup in av.read_container(fpath)]
        _, cols = av.read_container_columns(fpath)
        assert len(cols[0]) == len(ref)
        for ri in (0, len(ref) // 2, len(ref) - 1):
            tup = ref[ri]
            for fi, v in enumerate(tup):
                got = cols[fi][ri]
                if isinstance(v, datetime.datetime):
                    got = av._micros_to_ts(got)
                assert got == v
        # full-column equality for the hot fields
        assert cols[0] == [r[0] for r in ref]
        assert [av._micros_to_ts(x) for x in cols[1]] == [r[1] for r in ref]
        assert cols[5] == [r[5] for r in ref]
