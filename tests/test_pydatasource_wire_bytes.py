"""Byte-exactness pin for the vectorized Python DataSource changelog emitter.

Round 12 rewrote ``pydatasource._emit_changelog_batch`` for speed (guide
§4.2): pc.strftime + numpy epoch-ms replace per-row datetime arithmetic, and
a hand-rolled template replaces ``json.dumps`` of the nested envelope dict
(dumps is kept exactly where escaping/float-repr rules apply). This test
pins the rewrite to the ORIGINAL row-at-a-time reference implementation,
byte for byte, over the whole sf0.01 fixture — the wire format is a
contract (tests/test_kafka_wire_format.py round-trips it through the
broker twin), so "fast" must mean "identical".

Pure pyarrow — no SparkSession.
"""

import datetime as dt
import json
import os
import sys

import pytest

# repo root derived from this file's location (ADVICE r12: no hardcoded
# machine layout)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_debezium_kafka_airflow_spark.sources.pydatasource import (
    DEFAULT_TABLE,
    EVENT_TYPE_TO_TABLE,
    TOPIC_PREFIX,
    ChangelogPartition,
    _emit_changelog_batch,
    _row_group_sizes,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"fixture dir {SF_DIR} absent"
)
_EPOCH = dt.datetime(1970, 1, 1)
_MS = dt.timedelta(milliseconds=1)


def _reference_batch(path: str, partition: ChangelogPartition):
    """The pre-round-12 per-row implementation, kept verbatim as the
    byte-level reference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = (
        pq.ParquetFile(path)
        .read_row_group(partition.row_group)
        .slice(partition.start, partition.end - partition.start)
    )
    event_id = tbl["event_id"].to_pylist()
    ts = tbl["ts"].cast(pa.timestamp("us"), safe=False).to_pylist()
    user_id = tbl["user_id"].to_pylist()
    event_type = tbl["event_type"].to_pylist()
    value = tbl["value"].to_pylist()
    props = tbl["props"].to_pylist()

    rows = []
    for eid, t, uid, etype, val, pr in zip(
        event_id, ts, user_id, event_type, value, props
    ):
        table = EVENT_TYPE_TO_TABLE.get(etype, DEFAULT_TABLE)
        m10 = eid % 10
        op = (
            "c" if m10 <= 4 else ("u" if m10 <= 7 else ("d" if m10 == 8 else "r"))
        )
        ts_str = t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "+00:00"
        ts_ms = (t - _EPOCH) // _MS
        row_image = {
            "event_id": eid,
            "ts": ts_str,
            "user_id": uid,
            "event_type": etype,
            "value": val,
            "props": pr,
        }
        if eid % 20 == 8:
            v = None
        elif eid % 97 == 0 and m10 < 8:
            v = '{"malformed":' + str(eid)
        else:
            v = json.dumps(
                {
                    "schema": {
                        "type": "struct",
                        "name": TOPIC_PREFIX + table + ".Envelope",
                    },
                    "payload": {
                        "before": row_image if op in ("u", "d") else None,
                        "after": row_image if op != "d" else None,
                        "source": {
                            "db": "pos_bi_db",
                            "table": table,
                            "ts_ms": ts_ms,
                        },
                        "op": op,
                        "ts_ms": ts_ms,
                    },
                },
                separators=(",", ":"),
            )
        rows.append(
            (eid, TOPIC_PREFIX + table, 0,
             '{"payload":{"id":' + str(uid) + "}}", v, t)
        )
    return rows


def test_vectorized_emitter_is_byte_identical_to_reference():
    path = os.path.join(SF_DIR, "events.parquet")
    sizes = _row_group_sizes(path)
    n_rows = 0
    for rg, size in enumerate(sizes):
        part = ChangelogPartition(rg, 0, size)
        got = next(_emit_changelog_batch(path, part))
        want = _reference_batch(path, part)
        assert got.num_rows == len(want)
        g_off = got["offset"].to_pylist()
        g_topic = got["topic"].to_pylist()
        g_part = got["partition"].to_pylist()
        g_key = got["key"].to_pylist()
        g_val = got["value"].to_pylist()
        g_ts = got["timestamp"].to_pylist()
        for i, (eid, topic, p, key, v, t) in enumerate(want):
            assert g_off[i] == eid
            assert g_topic[i] == topic
            assert g_part[i] == p
            assert g_key[i] == key
            assert g_val[i] == v, (
                f"value mismatch at row {i} (event_id {eid}):\n"
                f"  got:  {g_val[i]!r}\n  want: {v!r}"
            )
            assert g_ts[i] == t
        n_rows += size
    assert n_rows > 0


def test_null_ts_raises_value_error(tmp_path):
    """A NULL ts cannot be rendered into the envelope template; the guard
    is a raise, so it also holds under ``python -O``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([dt.datetime(2024, 1, 1), None], pa.timestamp("us")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["click", "view"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }),
        path,
    )
    with pytest.raises(ValueError, match="null ts"):
        next(_emit_changelog_batch(path, ChangelogPartition(0, 0, 2)))
