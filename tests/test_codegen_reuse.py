"""Repeated queries reuse their compiled classes (session.py sizes
``spark.sql.codegen.cache.maxEntries``).

At Spark's 100-entry default, one pass over the twelve warehouse reads
compiles more classes than the cache holds, so the LRU cycles and a repeat
of any query runs Janino again. With the cache sized to the query surface,
a second round of the same queries compiles nothing."""

from __future__ import annotations

import types

import __spark_entry__ as entrymod
from cdc_debezium_kafka_airflow_spark import session as session_mod
from cdc_debezium_kafka_airflow_spark.operators.similarity import clear_model_memos

OPS = (
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_regional_volume", "q6_forecast_revenue", "q7_volume_shipping",
    "q10_returned_items", "q13_customer_distribution", "q14_promo_effect",
    "q17_small_qty_revenue", "q19_disjunctive_revenue",
    "q22_dormant_customers",
    "upsert_materialize", "snk_dlq_audit", "e2e_reference_pipeline",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_round_compiles_nothing(spark, sf_dir):
    queries = entrymod.queries()
    assert spark.conf.get(session_mod.CODEGEN_CACHE_CONF) == str(
        session_mod.CODEGEN_CACHE_ENTRIES
    )
    per_round = []
    for _ in range(2):
        before = _compiles(spark)
        for op in OPS:
            queries[op](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            clear_model_memos()
        per_round.append(_compiles(spark) - before)
    # round 1 may hit classes earlier tests compiled; round 2 must hit all
    assert per_round[1] == 0, per_round


def _stub_session(app_id: str, max_entries: str):
    conf = types.SimpleNamespace(get=lambda key: max_entries)
    ctx = types.SimpleNamespace(applicationId=app_id)
    return types.SimpleNamespace(conf=conf, sparkContext=ctx)


def test_small_cache_named_once_per_session_on_stderr(capsys):
    small = _stub_session("app-codegen-small", "100")
    session_mod._check_codegen_cache(small)
    session_mod._check_codegen_cache(small)
    out, err = capsys.readouterr()
    assert out == ""
    line = (
        f"CODEGEN-CACHE: maxEntries=100 < {session_mod.CODEGEN_CACHE_ENTRIES}; "
        "set it when building the session\n"
    )
    assert err == line

    session_mod._check_codegen_cache(_stub_session("app-codegen-other", "100"))
    assert capsys.readouterr().err == line


def test_sized_cache_prints_nothing(capsys):
    sized = _stub_session(
        "app-codegen-sized", str(session_mod.CODEGEN_CACHE_ENTRIES)
    )
    session_mod._check_codegen_cache(sized)
    assert capsys.readouterr() == ("", "")
