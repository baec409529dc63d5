"""Property-based checks for registry._compute_rotation: for ARBITRARY
(pool, red, slots, round_key) states the selection must satisfy the
window invariants the external driver contract depends on — full fill,
no duplicates, red-jumps-queue, and determinism.
These complement the branch-pinning cases in test_registry_order.py with
fuzzed states (the r11 red test was exactly an unmodeled state)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from cdc_debezium_kafka_airflow_spark.queries.registry import _compute_rotation


@st.composite
def rotation_state(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    pool = [f"q{i:02d}" for i in range(n)]
    red_flags = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    red = {p for p, r in zip(pool, red_flags) if r}
    slots = draw(st.integers(min_value=0, max_value=50))
    round_key = draw(st.integers(min_value=1, max_value=30))
    return pool, red, slots, round_key


@given(rotation_state())
@settings(max_examples=300, deadline=None)
def test_rotation_invariants(state):
    pool, red, slots, round_key = state
    got = _compute_rotation(pool, red, slots, round_key)
    # window fills to min(slots, pool) and never duplicates or invents names
    assert len(got) == min(slots, len(pool))
    assert len(set(got)) == len(got)
    assert set(got) <= set(pool)
    # deterministic: same state -> same window
    assert got == _compute_rotation(pool, red, slots, round_key)
    # red names lead, in sorted order, up to capacity
    expected_red = sorted(p for p in pool if p in red)[:slots]
    assert got[: len(expected_red)] == expected_red
