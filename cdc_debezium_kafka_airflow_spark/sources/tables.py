"""Parquet table source (``scan_parquet``).

The reference's source universe is 9 MySQL tables mirrored 1:1 into Postgres
(reference register-mysql-connector.json:12, register-postgres-sink.json:9-10);
our batch tables are the driver-provided parquet fixtures (TESTDATA.md).

Scale notes: `spark.read.parquet` gives vectorized columnar scans with
predicate pushdown + column pruning for free — callers must `select`/`filter`
declaratively (never collect-then-filter) so pruning reaches the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


def normalize_ts(df: DataFrame, cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Canonicalize timestamp columns to ``TimestampType`` regardless of the
    fixture's on-disk encoding — dtype-dispatched so every consumer (batch,
    file-stream, oracle) sees ONE type:

      - LongType (TIMESTAMP(NANOS) read via legacy ``parquet.nanosAsLong``,
        the round-1 fixture encoding): integer ``div 1000`` to micros, which
        matches DuckDB's ns->us truncation.
      - TimestampNTZType (parquet timestamp[us] without timezone, the current
        fixture encoding): plain cast — identity on the wall clock under the
        pinned UTC session timezone (session.py RUNTIME_CONFS).
      - TimestampType: already canonical, no-op.
    """
    for c in cols:
        field = next((f for f in df.schema.fields if f.name == c), None)
        if field is None:
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


#: (sf_dir, table, file fingerprint) -> StructType. Schema inference
#: reads parquet footers through 1-2 tiny scheduled jobs PER
#: spark.read.parquet call; across a 344-query session that is hundreds
#: of pure-scheduler-floor round trips (round-10 audit: plain 2-table
#: joins showed 4 construction jobs each). The first load of each table
#: infers and caches; every later load passes the explicit schema and
#: constructs job-free — which is also the idiomatic production posture
#: (schemas pinned, not re-inferred per query). The key carries the
#: on-disk (size, mtime_ns) fingerprint (ADVICE r10), so a fixture
#: re-encoded IN-SESSION at the same path re-infers instead of silently
#: reading renamed/added columns back as nulls through a stale schema;
#: cross-session staleness was already impossible (process-local dict).
_SCHEMA_CACHE: dict[tuple[str, str, tuple], T.StructType] = {}


def _file_fingerprint(path: str, _depth: int = 2) -> tuple:
    """Cheap identity of the parquet file/dir at ``path``: (size,
    mtime_ns) for a file; for a directory, the sorted (name, fingerprint)
    of its entries, recursing up to two levels so one partition layer
    (``key=value/part-*.parquet``) is content-fingerprinted too — an
    in-place rewrite deep inside a partition dir that reuses file names
    still changes (size, mtime_ns) at the leaf (ADVICE r11). A local
    os.scandir walk, no Spark job; deeper nesting degrades to the
    subdirectory's own (size, mtime_ns), which mtime-bumps on any entry
    add/remove but not on a same-name in-place rewrite — the fixture
    layout is at most one partition layer, so the leaf stat applies. A
    vanished path fingerprints as () and lets Spark raise its own error
    on read."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns)
        if _depth <= 0:
            return (st.st_size, st.st_mtime_ns)
        return tuple(
            sorted(
                (e.name,) + _file_fingerprint(e.path, _depth - 1)
                for e in os.scandir(path)
            )
        )
    except OSError:
        return ()


def table_path(sf_dir: str, name: str) -> str:
    """The on-disk store of fixture table ``name``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table: ``{sf_dir}/{name}.parquet``."""
    path = table_path(sf_dir, name)
    key = (sf_dir, name, _file_fingerprint(path))
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
