"""Merged query/oracle registry (the __spark_entry__.py contract)."""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_debezium_kafka_airflow_spark.queries import (
    cdc_queries,
    ext_queries,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    tpch_decision,
    format_queries,
    streaming_queries,
    surface_queries,
    surface2_queries,
)
from cdc_debezium_kafka_airflow_spark.sources.cache_util import REPO_ROOT

_MODULES = [
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    tpch_decision,
    cdc_queries,
    ext_queries,
    format_queries,
    streaming_queries,
    surface_queries,
    surface2_queries,
]

# Registry insertion order is a correctness-visibility contract: external
# verification harnesses sample the FIRST N entries. Rounds 1-5 pinned one
# flagship per SURVEY.md §2 op id (42 names, all now multiply driver-green
# across CORRECTNESS_r01-r05); that spent 42 of 50 slots every round
# re-confirming what was already confirmed. From round 6 the pinned head is
# a ~10-name SENTINEL SPINE — one canary per §2 family (serialization, CDC
# materialization, DLQ sink, monitoring, streaming merge sink, dedup,
# similarity, multimodal) — and the other ~40 slots rotate through the
# never-driver-checked remainder so driver confirmation accumulates at
# ~40 names/round instead of 8.
_PRIORITY = [
    # §2.A/§2.B serialization + CDC canaries
    "ser_json_schema",
    "de_json_schema_unwrap",
    "upsert_materialize",
    "snk_dlq_audit",
    # §2.C monitoring canaries
    "cdc_integrity_check",
    "monitor_lag",
    # §2.D streaming sink canary (snk_jdbc_upsert shape)
    "stream_foreachbatch_upsert",
    # §2.D LLM-pipeline canaries: dedup / similarity / multimodal
    "ext_dedup_minhash",
    "ext_sim_topk",
    "ext_multimodal_cols",
]

_ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
for _m in _MODULES:
    for _k in _m.QUERIES:
        if _k in _ALL_QUERIES:
            raise ValueError(f"duplicate query name: {_k}")
    _ALL_QUERIES.update(_m.QUERIES)
    ORACLES.update(_m.ORACLES)

_missing = [name for name in _PRIORITY if name not in _ALL_QUERIES]
if _missing:
    raise ValueError(f"priority entries not registered: {_missing}")

#: external harnesses sample this many head entries per round
VERIFIED_WINDOW = 50


def _round_key() -> int:
    """Deterministic round counter: rounds leave one CORRECTNESS_r*.json
    each in the repo root, so ``1 + count`` is the CURRENT round. Purely a
    rotation seed — any stable integer works; 1 when none are present."""
    return 1 + len(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")))


def _row_green(row: object) -> bool:
    """A driver row counts as confirmation only when every comparison the
    harness ran actually PASSED. ``hash_match`` may be None for the weaker
    rows-only check (non-SQL-expressible ops) — that still counts — but a
    red/None rows_match, schema mismatch, or any ``err`` (e.g. the r05
    ``no_oracle`` row for ext_bpe_tokenize) does not."""
    if not isinstance(row, dict):
        return False
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") in (True, None)
        and not row.get("err")
    )


def _already_verified() -> tuple[set[str], set[str]]:
    """(green, red) name sets from committed CORRECTNESS_r*.json files.
    ``green`` = names with at least one PASSING past driver row; ``red`` =
    names the driver has checked but NEVER seen pass. Round 6's version
    counted mere *presence* as seen, so a name whose only row was red
    (ext_bpe_tokenize, r05) could not re-enter the ring until the whole
    unseen pool drained — red names now jump the queue instead. Still a
    pure function of repo state: driver and re-runs compute one window."""
    green: set[str] = set()
    checked: set[str] = set()
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        try:
            with open(path) as fh:
                data = json.load(fh)
            if not isinstance(data, dict):
                raise ValueError("not a JSON object")
        except (OSError, ValueError) as exc:
            # malformed artifact: the rotation goes on without its rows
            print(f"REGISTRY-CORRECTNESS-SKIPPED: {path}: {exc}", file=sys.stderr)
            continue
        for name, row in data.items():
            checked.add(name)
            if _row_green(row):
                green.add(name)
    return green, checked - green


def _compute_rotation(
    pool: list[str],
    green: set[str],
    red: set[str],
    module_cov: dict[str, float],
    name_module: dict[str, str],
    slots: int,
    round_key: int,
) -> list[str]:
    """Pure rotation-window selection — the entire policy in one testable
    function of (pool, past driver results, module coverage, slot count,
    round counter). Three branches, all pinned by tests/test_registry_order:

    1. Ever-red-never-green names take GUARANTEED leading slots: a failed
       driver row means the fix needs a fresh row NOW, not after the
       unseen pool drains (and the ring offset must not skip them).
    2. Never-checked names drain next, in ascending order of their
       MODULE's historical driver coverage (VERDICT r08 task #1) — a flat
       alphabetical ring let heavily-covered ext_* crowd out streaming.
       No offset needed: names that turn green leave the unseen set, so
       the head advances by itself each round.
    3. Ring top-up (ADVICE r09): when slots remain — the pool is fully
       drained OR the unseen pool was non-empty but SMALLER than the open
       slots (the 0 < unseen < slots state r11 entered) — an offset ring
       over the WHOLE pool, keyed by the round counter, backfills.
       Skip-and-continue: a ring entry colliding with an already-placed
       name is skipped and the next entry backfills, else the window
       underfills by up to len(rotation) names.
    """
    rotation: list[str] = sorted(k for k in pool if k in red)[:slots]
    slots_left = slots - len(rotation)
    unseen = sorted(
        (k for k in pool if k not in green and k not in red),
        key=lambda k: (module_cov[name_module[k]], name_module[k], k),
    )
    for cand in unseen:
        if slots_left <= 0:
            break
        if cand not in rotation:
            rotation.append(cand)
            slots_left -= 1
    if slots_left and pool:
        off = ((round_key - 1) * slots) % len(pool)
        i = 0
        while slots_left > 0 and i < len(pool):
            cand = pool[(off + i) % len(pool)]
            i += 1
            if cand not in rotation:
                rotation.append(cand)
                slots_left -= 1
    return rotation


# Window slots not pinned to a sentinel ROTATE round-by-round through
# every remaining ORACLE-BACKED query, so external driver confirmation
# accumulates across rounds instead of re-checking the same head forever.
# The pool is filtered to names in ORACLES — a query without an oracle
# can only produce an `err=no_oracle` driver row (the one red row of
# r05), so it never earns a rotation slot. Within one round the selection
# is a pure function of (registry contents, committed CORRECTNESS files)
# — the driver and any re-run see the same window.
_rotation_pool = sorted(
    k for k in _ALL_QUERIES if k not in set(_PRIORITY) and k in ORACLES
)
_green, _red = _already_verified()
_module_cov: dict[str, float] = {}
_name_module: dict[str, str] = {}
for _m in _MODULES:
    _mnames = [n for n in _m.QUERIES if n in ORACLES]
    _module_cov[_m.__name__] = (
        sum(1 for n in _mnames if n in _green) / len(_mnames) if _mnames else 1.0
    )
    for _n in _mnames:
        _name_module[_n] = _m.__name__
ROTATION: list[str] = _compute_rotation(
    _rotation_pool,
    _green,
    _red,
    _module_cov,
    _name_module,
    max(0, VERIFIED_WINDOW - len(_PRIORITY)),
    _round_key(),
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _ALL_QUERIES[name] for name in _PRIORITY
}
for _k in ROTATION:
    QUERIES[_k] = _ALL_QUERIES[_k]
for _k, _fn in _ALL_QUERIES.items():
    if _k not in QUERIES:
        QUERIES[_k] = _fn


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    return dict(ORACLES)
