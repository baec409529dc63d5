"""Property-based checks for registry._compute_rotation: for ARBITRARY
(pool, slots, round_key) states the selection must satisfy the window
invariants the external driver contract depends on — full fill, no
duplicates, an offset slice of the sorted pool, and determinism.
These complement the branch-pinning cases in test_registry_order.py with
fuzzed states."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from cdc_debezium_kafka_airflow_spark.queries.registry import _compute_rotation


@st.composite
def rotation_state(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    pool = [f"q{i:02d}" for i in range(n)]
    slots = draw(st.integers(min_value=0, max_value=50))
    round_key = draw(st.integers(min_value=1, max_value=30))
    return pool, slots, round_key


@given(rotation_state())
@settings(max_examples=300, deadline=None)
def test_rotation_invariants(state):
    pool, slots, round_key = state
    got = _compute_rotation(pool, slots, round_key)
    # window fills to min(slots, pool) and never duplicates or invents names
    assert len(got) == min(slots, len(pool))
    assert len(set(got)) == len(got)
    assert set(got) <= set(pool)
    # deterministic: same state -> same window
    assert got == _compute_rotation(pool, slots, round_key)
    # consecutive names of the sorted pool, wrapping at its end
    if got:
        start = pool.index(got[0])
        assert got == [pool[(start + i) % len(pool)] for i in range(len(got))]
