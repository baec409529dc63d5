"""Registry-order invariants.

External verification harnesses sample the FIRST 50 queries() entries. From
round 6 the head is a ~10-name sentinel spine (one canary per SURVEY.md §2
family, each already multiply driver-green across CORRECTNESS_r01-r05) and
the other ~40 slots rotate through never-driver-checked ORACLE-BACKED names
so driver confirmation accumulates at ~40 names/round. This test pins that
contract so a refactor can't silently shrink the rotation or let a
no-oracle name burn a slot.
"""

from cdc_debezium_kafka_airflow_spark.queries import registry

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
    names = list(registry.QUERIES)
    assert len(names) == len(set(names))
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_rotation_slots_are_oracle_backed():
    """A name without an oracle can only yield err=no_oracle — it must
    never occupy a rotation slot (the one red row of CORRECTNESS_r05)."""
    assert set(registry.ROTATION) <= set(registry.ORACLES)


def test_rotation_fills_window_and_is_deterministic():
    """The non-sentinel window slots rotate: ever-red-never-green names
    take GUARANTEED leading slots (a failed driver row needs a fresh one
    NOW), the rest drain the NEVER-GREEN oracle-backed pool in ascending
    order of each name's MODULE driver coverage — so the families with
    the thinnest external evidence fill the window first (VERDICT r08
    task #1) — with a round-keyed offset ring over the whole pool topping
    up any slots the unseen pool can't fill (pool drained, OR
    0 < unseen < slots — the state r11 left the repo in). A re-import
    selects the same set (pure function of repo state)."""
    head = list(registry.QUERIES)[: len(registry._PRIORITY)]
    rotation = list(registry.QUERIES)[
        len(registry._PRIORITY) : registry.VERIFIED_WINDOW
    ]
    assert rotation == registry.ROTATION
    assert not set(rotation) & set(registry._PRIORITY)
    assert len(head) + len(rotation) == registry.VERIFIED_WINDOW
    pool = sorted(
        k
        for k in registry.QUERIES
        if k not in set(registry._PRIORITY) and k in registry.ORACLES
    )
    green, red = registry._already_verified()
    slots = registry.VERIFIED_WINDOW - len(registry._PRIORITY)
    # the selection must be exactly the pure policy function applied to
    # the committed repo state — import-time wiring adds nothing
    assert rotation == registry._compute_rotation(
        pool,
        green,
        red,
        registry._module_cov,
        registry._name_module,
        slots,
        registry._round_key(),
    )
    # window always fills as long as the pool is at least slot-sized
    if len(pool) >= slots:
        assert len(rotation) == slots
    unseen = {k for k in pool if k not in green and k not in red}
    # while never-green names exist, every one of them (up to capacity)
    # must occupy a slot before any ring top-up re-checks a green name
    assert len(unseen & set(rotation)) == min(
        len(unseen), slots - len(sorted(k for k in pool if k in red)[:slots])
    )
    if len(unseen) >= slots:
        assert not set(rotation) & green


def _cov(pool, name_module, green):
    """Synthetic module-coverage map for _compute_rotation tests."""
    mods = {}
    for n in pool:
        mods.setdefault(name_module[n], []).append(n)
    return {
        m: sum(1 for n in ns if n in green) / len(ns) for m, ns in mods.items()
    }


def test_compute_rotation_unseen_exceeds_slots():
    """Branch 1+2: red names lead, then lowest-covered-module unseen;
    no ring entry may appear while unseen names overflow the window."""
    pool = [f"q{i:02d}" for i in range(12)]
    name_module = {n: ("m_a" if i < 6 else "m_b") for i, n in enumerate(pool)}
    green = {"q00", "q01", "q02"}  # m_a coverage 0.5, m_b coverage 0
    red = {"q03"}
    cov = _cov(pool, name_module, green)
    got = registry._compute_rotation(pool, green, red, cov, name_module, 4, 7)
    # red first, then m_b (cov 0) unseen before m_a (cov .5) unseen
    assert got == ["q03", "q06", "q07", "q08"]
    assert not set(got) & green


def test_compute_rotation_partial_unseen_tops_up_from_ring():
    """Branch 3, the r11 state (0 < unseen < slots): all unseen names get
    slots, and the REMAINING slots backfill from the round-keyed ring,
    skipping collisions — the window must still fill completely."""
    pool = [f"q{i:02d}" for i in range(10)]
    name_module = {n: "m" for n in pool}
    green = set(pool) - {"q04", "q09"}
    red = set()
    cov = _cov(pool, name_module, green)
    for rk in range(1, 8):
        got = registry._compute_rotation(pool, green, red, cov, name_module, 6, rk)
        assert len(got) == 6, f"window underfilled at round_key={rk}"
        assert len(set(got)) == 6
        assert got[:2] == ["q04", "q09"], "unseen names must lead the top-up"
        # ring order from the round-keyed offset, collisions backfilled
        off = ((rk - 1) * 6) % len(pool)
        expect, i = [], 0
        while len(expect) < 4 and i < len(pool):
            cand = pool[(off + i) % len(pool)]
            i += 1
            if cand not in ("q04", "q09") and cand not in expect:
                expect.append(cand)
        assert got[2:] == expect


def test_compute_rotation_drained_pool_rings_whole_pool():
    """Branch 3, fully drained: the ring walks the pool by round offset so
    successive rounds re-confirm different names; dedup + backfill keep
    the window exactly slot-sized."""
    pool = [f"q{i:02d}" for i in range(9)]
    name_module = {n: "m" for n in pool}
    green = set(pool)
    cov = _cov(pool, name_module, green)
    seen_windows = set()
    for rk in range(1, 5):
        got = registry._compute_rotation(pool, green, set(), cov, name_module, 4, rk)
        assert len(got) == len(set(got)) == 4
        assert set(got) <= set(pool)
        seen_windows.add(tuple(got))
    assert len(seen_windows) > 1, "ring must rotate across rounds"


def test_compute_rotation_small_pool_never_overfills():
    """Pool smaller than the window: every pool name appears exactly once
    and the loop terminates (no infinite ring walk)."""
    pool = ["a", "b", "c"]
    name_module = {n: "m" for n in pool}
    got = registry._compute_rotation(
        pool, {"a"}, {"b"}, _cov(pool, name_module, {"a"}), name_module, 10, 3
    )
    assert sorted(got) == pool
    assert got[0] == "b"  # red jumps the queue even in a tiny pool


def test_rotation_prefers_least_covered_modules():
    """While the unseen pool is non-empty, the rotated slots must be the
    unseen names whose modules have the LOWEST historical driver
    coverage — a flat alphabetical ring let ext_* crowd out streaming
    (the r08 judge's top complaint)."""
    green, red = registry._already_verified()
    pool = set(registry.ROTATION) | {
        k
        for k in registry.ORACLES
        if k not in set(registry._PRIORITY) and k not in green and k not in red
    }
    unseen_in = [k for k in registry.ROTATION if k not in green and k not in red]
    if not unseen_in:  # drained-pool fallback: nothing to assert
        return
    picked_cov = max(registry._module_cov[registry._name_module[k]] for k in unseen_in)
    skipped = [k for k in pool - set(registry.ROTATION) if k not in green and k not in red]
    for k in skipped:
        assert registry._module_cov[registry._name_module[k]] >= picked_cov - 1e-12


def test_red_rows_do_not_count_as_seen():
    """Round-6 regression: a name whose ONLY driver row failed (r05's
    ext_bpe_tokenize err=no_oracle) must re-enter the window immediately,
    not after the unseen pool drains."""
    assert not registry._row_green({"rows_match": None, "err": "no_oracle"})
    assert not registry._row_green(
        {"rows_match": True, "schema_match": True, "hash_match": False,
         "err": None}
    )
    # rows-only weaker check (hash_match None, no err) still counts green
    assert registry._row_green(
        {"rows_match": True, "schema_match": True, "hash_match": None,
         "err": None}
    )
    green, red = registry._already_verified()
    assert not green & red


def test_malformed_correctness_file_is_named_and_skipped(
    tmp_path, monkeypatch, capsys
):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        '{"q": {"rows_match": true, "schema_match": true}}'
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text('{"q": ')
    monkeypatch.setattr(registry, "REPO_ROOT", str(tmp_path))
    assert registry._already_verified() == ({"q"}, set())
    err = capsys.readouterr().err
    assert f"REGISTRY-CORRECTNESS-SKIPPED: {tmp_path / 'CORRECTNESS_r02.json'}: " in err
    assert "CORRECTNESS_r01" not in err
