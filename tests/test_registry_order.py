"""Registry-order invariants.

External verification harnesses sample the FIRST 50 queries() entries. From
round 6 the head is a ~10-name sentinel spine (one canary per SURVEY.md §2
family, each already multiply driver-green across CORRECTNESS_r01-r05) and
the other ~40 slots rotate through the rest by a round-keyed offset. This
test pins that contract so a refactor can't silently shrink the rotation,
and pins the one registration decorator every query goes through.
"""

import pytest

from cdc_debezium_kafka_airflow_spark.queries import common, registry

WINDOW = 50

# the sentinel spine: one canary per §2 family; see registry._PRIORITY for
# the authoritative order
REQUIRED_IN_WINDOW = {
    "ser_json_schema",
    "de_json_schema_unwrap",
    "upsert_materialize",
    "snk_dlq_audit",
    "cdc_integrity_check",
    "monitor_lag",
    "stream_foreachbatch_upsert",
    "ext_dedup_minhash",
    "ext_sim_topk",
    "ext_multimodal_cols",
}


def test_priority_names_all_registered():
    assert set(registry._PRIORITY) <= set(registry.QUERIES)


def test_window_covers_every_required_sentinel():
    window = list(registry.QUERIES)[:WINDOW]
    missing = REQUIRED_IN_WINDOW - set(window)
    assert not missing, f"sentinels outside the verified window: {sorted(missing)}"


def test_priority_block_leads_registry():
    head = list(registry.QUERIES)[: len(registry._PRIORITY)]
    assert head == registry._PRIORITY


def test_spine_is_small_so_rotation_is_wide():
    """The whole point of the round-6 change: >= 35 window slots rotate."""
    assert len(registry._PRIORITY) <= 15
    assert registry.VERIFIED_WINDOW - len(registry._PRIORITY) >= 35


def test_no_duplicates_and_oracle_keys_subset():
    """Every query carries an oracle, and no oracle lacks its query."""
    names = list(registry.QUERIES)
    assert len(names) == len(set(names)) == 344
    assert registry.ORACLES.keys() == registry.QUERIES.keys()


def test_duplicate_query_name_raises():
    """The one decorator refuses a second query under a registered name,
    and leaves the registered query and its oracle as they were."""
    name = "upsert_materialize"
    before = (common.QUERIES[name], common.ORACLES[name])
    with pytest.raises(ValueError, match=f"duplicate query name: {name}"):

        @common.q(name, "SELECT 1")
        def again(spark, sf_dir):
            raise AssertionError("never registered")

    assert (common.QUERIES[name], common.ORACLES[name]) == before


def test_query_applies_session_tuning_once_per_call(spark, sf_dir, monkeypatch):
    """A registered query that loads six tables applies the session tuning
    once, in the registered callable, not once per table load."""
    calls = []
    real = common.apply_runtime_confs

    def counting(session):
        calls.append(session)
        return real(session)

    monkeypatch.setattr(common, "apply_runtime_confs", counting)
    registry.QUERIES["q5_regional_volume"](spark, sf_dir)
    assert calls == [spark]


def test_rotation_slots_are_oracle_backed():
    """A name without an oracle can only yield err=no_oracle — it must
    never occupy a rotation slot (the one red row of CORRECTNESS_r05)."""
    assert set(registry.ROTATION) <= set(registry.ORACLES)


#: the rotation window of the committed repo state: the ring's slice of
#: the pool at round key 14 (one plus the 13 committed CORRECTNESS files).
#: A new CORRECTNESS file moves the ring; re-pin this list with it.
PINNED_ROTATION = [
    "fn_transpose", "fn_unpivot", "fn_variant",
    "fn_variant_shred", "fn_xml_roundtrip", "funnel_conversion",
    "funnel_window", "graph_assortativity", "graph_bfs_hops",
    "graph_connected_components", "graph_degree_distribution",
    "graph_link_prediction", "graph_pagerank", "graph_triangles",
    "join_anti", "join_aqe_skew", "join_asof_nearest", "join_asof_tolerance",
    "join_bloom_pruned", "join_broadcast", "join_bucketed", "join_cross",
    "join_dpp_pruned", "join_full_outer", "join_inner_hash", "join_lateral",
    "join_left", "join_null_safe", "join_range_asof", "join_range_interval",
    "join_semi", "join_skew_salted", "join_theta", "monitor_any_failed",
    "monitor_dlq_rate", "monitor_fanout_config", "monitor_heartbeat",
    "monitor_slo_burn_rate", "monitor_status_health", "perf_cache_table",
]


def test_rotation_fills_window_and_is_deterministic():
    """The non-sentinel window slots rotate: a round-keyed offset ring over
    the whole pool fills them. A re-import selects the same set (pure
    function of repo state), and for the committed state that set is
    pinned."""
    head = list(registry.QUERIES)[: len(registry._PRIORITY)]
    rotation = list(registry.QUERIES)[
        len(registry._PRIORITY) : registry.VERIFIED_WINDOW
    ]
    assert rotation == registry.ROTATION == PINNED_ROTATION
    assert not set(rotation) & set(registry._PRIORITY)
    assert len(head) + len(rotation) == registry.VERIFIED_WINDOW
    pool = sorted(k for k in registry.QUERIES if k not in set(registry._PRIORITY))
    slots = registry.VERIFIED_WINDOW - len(registry._PRIORITY)
    # the selection must be exactly the pure policy function applied to
    # the committed repo state — import-time wiring adds nothing
    assert rotation == registry._compute_rotation(
        pool, slots, registry._round_key()
    )
    # window always fills as long as the pool is at least slot-sized
    if len(pool) >= slots:
        assert len(rotation) == slots


def test_compute_rotation_drained_pool_rings_whole_pool():
    """The ring walks the pool by round offset so successive rounds
    re-confirm different names, and the window stays exactly slot-sized."""
    pool = [f"q{i:02d}" for i in range(9)]
    seen_windows = set()
    for rk in range(1, 5):
        got = registry._compute_rotation(pool, 4, rk)
        assert len(got) == len(set(got)) == 4
        assert set(got) <= set(pool)
        seen_windows.add(tuple(got))
    assert len(seen_windows) > 1, "ring must rotate across rounds"


def test_compute_rotation_small_pool_never_overfills():
    """Pool smaller than the window: every pool name appears exactly once."""
    pool = ["a", "b", "c"]
    got = registry._compute_rotation(pool, 10, 3)
    assert sorted(got) == pool
