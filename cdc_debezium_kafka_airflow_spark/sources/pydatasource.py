"""Custom connector via Spark 4's Python DataSource API: the Debezium
connector's role — turn a database's row history into Kafka-record-shaped
envelope records — implemented as a first-class ``spark.read.format(...)``
source instead of a DataFrame transformation.

This is the engine-native analog of the reference's source connector
(register-mysql-connector.json:3-16): where Debezium tails the MySQL binlog
and emits JSON envelopes to Kafka, ``cdc_changelog`` scans the events table
(pyarrow, row-group granularity) and emits the same deterministic envelope
records (changelog spec: sources/cdc_fixture.py docstring) straight into a
Spark scan.

Scale notes: ``partitions()`` carves the parquet file into row-group-aligned
chunks, so the scan parallelizes like a native parquet read and each task
touches one contiguous byte range; rows are yielded as Arrow RecordBatches
(the API's vectorized path), not per-row tuples. The JSON serialize runs in
Python — the point of this source is API surface (a pure-Python connector
anyone can extend to REST/queue/legacy systems); the hot-path serialize
lives in sources/cdc_fixture.py as JVM ``to_json``.
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
    DataSourceStreamWriter,
)

from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import (
    DEFAULT_TABLE,
    EVENT_TYPE_TO_TABLE,
    TOPIC_PREFIX,
)

_ROWS_PER_PARTITION = 25_000

_EPOCH = _dt.datetime(1970, 1, 1)
_MS = _dt.timedelta(milliseconds=1)

SCHEMA = (
    "offset long, topic string, partition int, key string, value string, "
    "timestamp timestamp_ntz"
)


class ChangelogPartition(InputPartition):
    def __init__(self, row_group: int, start: int, end: int):
        self.row_group = row_group
        self.start = start
        self.end = end


def _row_group_sizes(path: str) -> list[int]:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return [md.row_group(i).num_rows for i in range(md.num_row_groups)]


def _partitions_for_rows(
    rg_sizes: list[int],
    start_row: int,
    end_row: int,
    rows_per_partition: int = _ROWS_PER_PARTITION,
) -> list["ChangelogPartition"]:
    """Map a global row range onto row-group-local slices, further split to
    ``rows_per_partition`` so task sizes stay bounded."""
    parts, rg_base = [], 0
    for rg, n in enumerate(rg_sizes):
        lo = max(start_row - rg_base, 0)
        hi = min(end_row - rg_base, n)
        for s in range(lo, hi, rows_per_partition):
            parts.append(ChangelogPartition(rg, s, min(s + rows_per_partition, hi)))
        rg_base += n
    return parts


class ChangelogReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]

    def partitions(self):
        sizes = _row_group_sizes(self.path)
        return _partitions_for_rows(sizes, 0, sum(sizes))

    def read(self, partition: ChangelogPartition):
        return _emit_changelog_batch(self.path, partition)


def _emit_changelog_batch(path: str, partition: "ChangelogPartition"):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = (
        pq.ParquetFile(path)
        .read_row_group(partition.row_group)
        .slice(partition.start, partition.end - partition.start)
    )
    event_id = tbl["event_id"].to_pylist()
    # ADVICE r12: the vectorized emitter would silently render a NULL ts
    # as the literal string "None+00:00" inside the envelope (the old
    # row-at-a-time code crashed instead, and the byte-pin twin test
    # cannot catch it because the reference crashes too) — fail loudly if
    # a future fixture ever carries one (a raise, not an assert: the check
    # must survive python -O)
    if tbl["ts"].null_count:
        raise ValueError(
            f"null ts in changelog fixture {path}: the envelope template "
            "cannot represent it"
        )
    # nanos -> micros truncation, the same convention as the batch
    # loader's nanosAsLong div-1000 path (sub-microsecond digits drop)
    ts_us = tbl["ts"].cast(pa.timestamp("us"), safe=False).combine_chunks()
    user_id = tbl["user_id"].to_pylist()
    event_type = tbl["event_type"].to_pylist()
    value = tbl["value"].to_pylist()
    props = tbl["props"].to_pylist()

    # Vectorized per-row pieces (round-12, guide §4.2): Arrow's %S prints
    # the full fractional second for timestamp[us], so pc.strftime yields
    # byte-identical output to the former per-row
    # datetime.strftime('%Y-%m-%dT%H:%M:%S.%f'); ts_ms is integer floor
    # division on the epoch-micros array. Both replace the two slowest
    # per-row operations of the loop below.
    import numpy as np

    ts_strs = pc.strftime(ts_us, format="%Y-%m-%dT%H:%M:%S").to_pylist()
    # numpy // is FLOOR division like the former datetime arithmetic
    # ((t - epoch) // 1ms); pc.divide would truncate toward zero instead
    ts_mss = (np.asarray(pc.cast(ts_us, pa.int64())) // 1000).tolist()

    offsets, topics, keys, values = [], [], [], []
    dumps = json.dumps
    for eid, etype, uid, val, pr, ts_str, ts_ms in zip(
        event_id, event_type, user_id, value, props, ts_strs, ts_mss
    ):
        table = EVENT_TYPE_TO_TABLE.get(etype, DEFAULT_TABLE)
        m10 = eid % 10
        if eid % 20 == 8:  # tombstone: delete marker with no value
            v = None
        elif eid % 97 == 0 and m10 < 8:  # DLQ fraction: broken JSON
            v = '{"malformed":' + str(eid)
        else:
            # Hand-rolled template of the former json.dumps(dict) call —
            # same key order, same separators, json.dumps kept exactly
            # where escaping/repr rules apply (strings, floats), so the
            # bytes are identical (pinned by
            # tests/test_pydatasource_wire_bytes.py) at ~1/4 the per-row
            # cost of serializing the nested dict.
            op = (
                "c" if m10 <= 4
                else ("u" if m10 <= 7 else ("d" if m10 == 8 else "r"))
            )
            row_image = (
                '{"event_id":%s,"ts":"%s+00:00","user_id":%s,'
                '"event_type":%s,"value":%s,"props":%s}'
                % (
                    eid,
                    ts_str,
                    "null" if uid is None else uid,
                    dumps(etype),
                    "null" if val is None else dumps(val),
                    "null" if pr is None else dumps(pr),
                )
            )
            v = (
                '{"schema":{"type":"struct","name":"%s%s.Envelope"},'
                '"payload":{"before":%s,"after":%s,'
                '"source":{"db":"pos_bi_db","table":"%s","ts_ms":%s},'
                '"op":"%s","ts_ms":%s}}'
                % (
                    TOPIC_PREFIX,
                    table,
                    row_image if op in ("u", "d") else "null",
                    row_image if op != "d" else "null",
                    table,
                    ts_ms,
                    op,
                    ts_ms,
                )
            )
        offsets.append(eid)
        topics.append(TOPIC_PREFIX + table)
        keys.append('{"payload":{"id":' + str(uid) + "}}")
        values.append(v)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(offsets, pa.int64()),
            pa.array(topics, pa.string()),
            pa.array([0] * len(offsets), pa.int32()),
            pa.array(keys, pa.string()),
            pa.array(values, pa.string()),
            ts_us,
        ],
        names=["offset", "topic", "partition", "key", "value", "timestamp"],
    )


class ChangelogStreamReader(DataSourceStreamReader):
    """Streaming side of the connector: offsets are global row positions in
    the backing file (the binlog-position analog), advanced at most
    ``maxRecordsPerBatch`` rows per micro-batch — the admission-control knob
    Kafka sources call maxOffsetsPerTrigger. ``partitions(start, end)``
    carves each micro-batch's row range into row-group-aligned chunks, so
    every micro-batch scans executor-parallel like the batch reader."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self._sizes = _row_group_sizes(self.path)
        self._total = sum(self._sizes)
        # Default admission quantum = half the log -> TWO micro-batches:
        # the minimal replay that still falsifies cross-batch state
        # merging (the same minimal-batch-count standard the file replays
        # use; was //4 — two extra Python-source round-trips per run that
        # proved nothing more). Callers wanting a longer replay pass
        # maxRecordsPerBatch explicitly (the multibatch pytest forces 7+).
        self._batch = int(
            options.get("maxRecordsPerBatch", max(1, -(-self._total // 2)))
        )
        self._pos = 0

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        self._pos = min(self._pos + self._batch, self._total)
        return {"pos": self._pos}

    def partitions(self, start: dict, end: dict):
        # A micro-batch's row range is at most one admission quantum, so a
        # batch-reader-sized chunk would put the whole trigger on ONE task
        # (the Python serialize is the per-task cost here). Carve each batch
        # into ~8 tasks instead, floored so tiny batches stay single-task.
        span = end["pos"] - start["pos"]
        chunk = min(_ROWS_PER_PARTITION, max(4096, -(-span // 8)))
        return _partitions_for_rows(self._sizes, start["pos"], end["pos"], chunk)

    def read(self, partition: ChangelogPartition):
        return _emit_changelog_batch(self.path, partition)

    def commit(self, end: dict) -> None:
        pass


class ChangelogDataSource(DataSource):
    """``spark.read.format("cdc_changelog").option("path", ...)``: the
    deterministic Debezium changelog as a custom Python data source —
    batch scan and micro-batched stream from the same emit path."""

    @classmethod
    def name(cls) -> str:
        return "cdc_changelog"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> ChangelogReader:
        return ChangelogReader(self.options)

    def streamReader(self, schema) -> ChangelogStreamReader:
        return ChangelogStreamReader(self.options)


class DlqCommitMessage(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


class DlqJsonWriter(DataSourceWriter):
    """Task-side writer: each task streams its rows to one
    ``part-<uuid>.jsonl`` file and reports it in its commit message; the
    driver-side ``commit`` publishes the manifest (``_SUCCESS``) listing
    exactly the committed files — the same two-phase rename-free protocol
    cloud object stores need (no file is visible until the manifest names
    it), and ``abort`` leaves nothing published."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator):
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return DlqCommitMessage(name, n)

    def commit(self, messages):
        import os

        manifest = {
            "files": sorted(m.filename for m in messages),
            "n_rows": sum(m.n_rows for m in messages),
        }
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write(json.dumps(manifest))

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.filename))
            except OSError:
                pass


class DlqJsonSink(DataSource):
    """``df.write.format("dlq_jsonl").option("path", ...)``: a Python
    DataSource WRITER — the DLQ audit sink as a custom connector (the
    write-side twin of ``cdc_changelog``)."""

    @classmethod
    def name(cls) -> str:
        return "dlq_jsonl"

    def writer(self, schema, overwrite: bool) -> DlqJsonWriter:
        return DlqJsonWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "DlqStreamWriter":
        return DlqStreamWriter(self.options)


class DlqStreamWriter(DataSourceStreamWriter):
    """STREAMING twin of DlqJsonWriter: every micro-batch's tasks write
    uuid part files, and the driver-side ``commit(messages, batchId)``
    publishes a PER-BATCH manifest ``_batch-<id>.json`` naming exactly the
    committed files. Idempotence: a replayed batch (restart after a crash
    between write and checkpoint commit) REPLACES its manifest atomically,
    so the orphaned first-attempt files are never visible to readers —
    manifest-listed files are the only readable set, which is exactly the
    exactly-once contract a transactional object-store sink provides."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator):
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return DlqCommitMessage(name, n)

    def commit(self, messages, batchId: int) -> None:
        import os
        import tempfile

        manifest = {
            "batch_id": batchId,
            "files": sorted(m.filename for m in messages if m is not None),
            "n_rows": sum(m.n_rows for m in messages if m is not None),
        }
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(manifest))
        os.replace(tmp, os.path.join(self.path, f"_batch-{batchId}.json"))

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is None:
                continue
            try:
                os.remove(os.path.join(self.path, m.filename))
            except OSError:
                pass


def committed_stream_files(path: str) -> list:
    """Reader-side manifest resolution: only files named by a per-batch
    manifest exist; orphans from aborted/replayed attempts are invisible."""
    import glob
    import os

    files = []
    for mf in sorted(glob.glob(os.path.join(path, "_batch-*.json"))):
        with open(mf) as f:
            files.extend(
                os.path.join(path, name) for name in json.load(f)["files"]
            )
    return files
