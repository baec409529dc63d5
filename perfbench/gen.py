"""Deterministic input tiers for the benchmark.

A tier is a directory of the eight parquet tables the benchmark's ops read
(``region`` ... ``lineitem`` and ``events``), generated from a seed alone:
the same ``(seed, spec)`` always gives byte-identical files. Row counts
follow the fixture scale factor ``sf`` except ``events``, whose size is
chosen per workload.

The benchmark runs without the fixtures of FIXTURES.md, so it cannot copy
them; it draws tables with the fixtures' shape instead. Every parameter
below was measured on the sf0.001, sf0.01 and sf0.1 fixtures, and
``tests/test_gen.py`` checks a generated tier against those measurements:

==========================  =============================================
row counts                  customer 150k*sf, supplier 10k*sf, part
                            200k*sf, orders 1.5M*sf, lineitem 6M*sf,
                            events 10M*sf (a tier sets its own events)
``events.event_id``         0 .. n-1, dense; ``ts`` rises with it over
                            2024-01-01 .. 2024-01-31
``events.user_id``          uniform over n/66.67 keys (66.67 events per
                            key, per-key count std 8.2-8.4: multinomial)
``events.event_type``       click/view/purchase/signup/error, each
                            0.198-0.203 (uniform)
``events.value``            exponential, mean 49.6-50.1, std 47.6-49.6,
                            rounded to cents (min 0.0)
``events.props``            ``{"k": K}``, K uniform over 0..99
``l_orderkey``              uniform over orders (sf0.01: 14743 of 15000
                            orders have lines)
``l_linenumber``            uniform 1..7, independent of the order
                            ((l_orderkey, l_linenumber) is not a key)
``l_extendedprice``          uniform over 900.00 .. 105000.00 like the
                            fixtures, but in steps of 4 cents where the
                            fixtures use 1 cent (``_PRICE_STEP_CENTS``)
other columns               uniform over the fixtures' value domains
                            (min/max/distinct values as in the fixtures)
==========================  =============================================

The change log the write path consumes is derived from ``events`` by pure
arithmetic on ``event_id`` (``sources/cdc_fixture.py``: op c/u/d/r by
``event_id % 10``, tombstones and malformed/DLQ envelopes by ``event_id``
modulus), so its op mix, delete share and DLQ share are the fixtures' for
any dense ``event_id`` range; what the generator sets is the key
distribution (events per key) and the row-image values.

The program keys its replay and sink directories (``.cache/changelog_<tag>``,
``duckdb_sink_<tag>.db`` ...) on the tier directory's basename, so every
tier gets a basename no fixture uses: ``pb_<workload>_s<seed>_e<events>``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
_NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_US_PER_DAY = 86_400_000_000
#: ``l_extendedprice`` is a multiple of this many cents. The queries round
#: sums of ``l_extendedprice * (1 - l_discount)`` (exact at 4 decimals) to
#: cents; with arbitrary cents one such sum in 100 lands exactly on a half
#: cent, where Spark's and DuckDB's summation orders may round it apart.
#: With multiples of 4 cents every such sum is a multiple of 4 in units of
#: 0.0001 and never ends in 50, so no half-cent ties arise.
_PRICE_STEP_CENTS = 4


@dataclass(frozen=True)
class TierSpec:
    """Sizes of one tier. ``sf`` scales the star schema like the fixtures
    (sf0.01: 60k lineitem, 1.5k customers); ``events`` is the change-log
    size; ``users`` follows the fixtures' ratio of one key per 66.67
    events, so every key sees dozens of updates."""

    sf: float
    events: int

    @property
    def users(self) -> int:
        return max(1, self.events * 3 // 200)


def tier_name(workload: str, seed: int, spec: TierSpec) -> str:
    return f"pb_{workload}_s{seed}_e{spec.events}"


def _ts(base: str, us: np.ndarray) -> pa.Array:
    """Naive (UTC) ``timestamp[us]`` values ``us`` microseconds after ``base``."""
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def build_tables(seed: int, spec: TierSpec) -> dict[str, pa.Table]:
    """All eight tables as Arrow tables. Each table draws from its own child
    generator, so changing one table's size leaves the others' bytes alone."""
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    n_cust = max(10, int(150_000 * spec.sf))
    n_supp = max(5, int(10_000 * spec.sf))
    n_part = max(10, int(200_000 * spec.sf))
    n_ord = max(10, int(1_500_000 * spec.sf))
    n_line = max(10, int(6_000_000 * spec.sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rng["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, _SEGMENTS, n_cust),
    })

    r = rng["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = rng["part"]
    keys = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.asarray(_COLORS)[r.integers(0, 8, n_part)], " "),
        np.asarray(_NOUNS)[r.integers(0, 8, n_part)],
    )
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names.astype(object)),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, _PTYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    r = rng["orders"]
    order_days = r.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * _US_PER_DAY),
        "o_orderpriority": _pick(r, _PRIORITIES, n_ord),
    })

    r = rng["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        # whole multiples of 4 cents: see _PRICE_STEP_CENTS
        "l_extendedprice": np.round(
            r.integers(900_00 // _PRICE_STEP_CENTS, 105_000_00 // _PRICE_STEP_CENTS, n_line)
            * (_PRICE_STEP_CENTS / 100.0), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["O", "F"], n_line),
        "l_shipdate": _ts("1995-01-02", r.integers(0, 2499, n_line) * _US_PER_DAY),
    })

    out["events"] = events_table(rng["events"], spec.events, spec.users)
    return out


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """The change stream: ``event_id`` is the total order (the changelog
    offset) and ``ts`` rises with it over 30 days; ``user_id`` is the key
    the changelog upserts on."""
    ts_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", ts_us),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_tier(path: str, seed: int, spec: TierSpec) -> None:
    """Write the tier to ``path`` (replaced if present). Files are written
    to a sibling temp dir and renamed into place, so a reader never sees a
    half-written tier."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed, spec).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
