import sys
import threading
import types

import pytest

from tracing import PKG, Spans, layer_of, op_layers, streaming_figures


def test_layer_names_follow_modules():
    assert layer_of(f"{PKG}.sources.tables") == "sources"
    assert layer_of(f"{PKG}.operators.cdc") == "operators.cdc"
    assert layer_of(f"{PKG}.streaming.jobs") == "streaming"
    assert layer_of(f"{PKG}.queries.cdc_queries") is None
    assert layer_of("pyspark.sql") is None


@pytest.fixture
def fake_package():
    """A layer module with two public functions (one calling the other)
    and a queries module that imported one of them by name."""
    ops = types.ModuleType(f"{PKG}.operators.fake")
    exec(
        "def inner(x):\n    return x + 1\n"
        "def outer(x):\n    return inner(x) * 2\n"
        "def _private(x):\n    return x\n",
        ops.__dict__,
    )
    for fn in (ops.inner, ops.outer, ops._private):
        fn.__module__ = ops.__name__
    qmod = types.ModuleType(f"{PKG}.queries.fake")
    qmod.outer = ops.outer
    sys.modules[ops.__name__] = ops
    sys.modules[qmod.__name__] = qmod
    yield ops, qmod
    del sys.modules[ops.__name__], sys.modules[qmod.__name__]


def test_install_wraps_and_rebinds_imported_names(fake_package):
    ops, qmod = fake_package
    original = ops.outer
    spans = Spans()
    assert spans.install() == 2  # inner, outer; _private is skipped
    try:
        assert qmod.outer is ops.outer is not original
        assert qmod.outer(1) == 4  # untraced outside an op
        assert spans.spans == []
        spans.open_op("op#1", "op")
        assert qmod.outer(1) == 4
        got = spans.close_op()
    finally:
        spans.uninstall()
    assert qmod.outer is original and ops.outer is original
    root, inner, outer = got[0], *sorted(got[1:], key=lambda s: s["name"])
    assert root["layer"] == "op" and root["parent"] is None
    assert outer["name"] == "operators.fake.outer" and outer["parent"] == root["id"]
    assert inner["parent"] == outer["id"]
    assert all(s["op"] == "op#1" for s in got)


def test_spans_from_another_thread_attach_to_the_op(fake_package):
    ops, _ = fake_package
    spans = Spans()
    spans.install()
    try:
        spans.open_op("op#2", "op")
        t = threading.Thread(target=ops.inner, args=(1,))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        got = spans.close_op()
    finally:
        spans.uninstall()
    assert [s["parent"] for s in got[1:]] == [got[0]["id"]]


def _progress(start, trigger_ms, add_ms, query="q", batch=0, rows=10, state=5):
    return {"query": query, "batch": batch, "start": start, "rows": rows,
            "ms": {"triggerExecution": trigger_ms, "addBatch": add_ms},
            "state_rows": state, "state_bytes": 100 * state}


def test_sink_driver_time_is_add_batch_minus_jobs_inside_the_trigger():
    events = [_progress(10.0, 2000, 1500, batch=0), _progress(20.0, 1000, 800, batch=1, state=7)]
    jobs = [(10.2, 10.7), (20.1, 20.4), (30.0, 31.0)]
    f = streaming_figures(events, jobs)
    assert f["streaming.sink_driver_s"] == pytest.approx((1.5 - 0.5) + (0.8 - 0.3))
    assert f["streaming.triggers"] == 2
    assert f["streaming.input_rows"] == 20
    assert f["streaming.add_batch_s"] == pytest.approx(2.3)
    assert f["streaming.state_rows"] == 7  # the last trigger's state, not a sum over triggers


def test_op_layers_split_and_layer_time():
    spans = [
        {"id": 1, "parent": None, "name": "op", "layer": "op", "op": "o", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "operators.cdc.upsert_materialize",
         "layer": "operators.cdc", "op": "o", "start": 1.0, "end": 6.0},
    ]
    stage = {"tasks": 4, "task_s": 2.0, "task_cpu_s": 1.5, "gc_s": 0.1, "input_bytes": 10,
             "shuffle_read_bytes": 3, "shuffle_write_bytes": 3,
             "spill_bytes": 0, "output_bytes": 7, "skew": 2.0}
    jobs = [{"id": 0, "submit": 102.0, "complete": 104.0, "stages": [stage]},
            {"id": 1, "submit": 107.0, "complete": 108.0, "stages": []}]
    f = op_layers(spans, jobs, [], epoch0=100.0)
    assert f["spark.pre_job_s"] == pytest.approx(2.0)
    assert f["spark.in_job_s"] == pytest.approx(3.0)
    assert f["spark.gap_s"] == pytest.approx(3.0)
    assert f["spark.post_job_s"] == pytest.approx(2.0)
    assert f["operators.cdc.call_s"] == pytest.approx(5.0)
    assert f["operators.cdc.self_s"] == pytest.approx(5.0)
    assert f["spark.tasks"] == 4 and f["spark.stage_skew"] == 2.0
    assert f["spark.output_bytes"] == 7
    assert f["streaming.triggers"] == 0
