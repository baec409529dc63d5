"""CDC operator invariants beyond the oracle comparison."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.sources.tables import load_table
from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import build_changelog
from cdc_debezium_kafka_airflow_spark.operators.cdc import (
    parse_envelope,
    scd2_history,
    schema_evolve,
    split_dlq,
    unwrap,
    upsert_materialize,
)


def _changelog(spark, sf_dir):
    return build_changelog(load_table(spark, sf_dir, "events"))


def test_changelog_spec_counts(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    ch = _changelog(spark, sf_dir)
    n = events.count()
    assert ch.count() == n
    n_tomb = ch.filter(F.col("value").isNull()).count()
    assert n_tomb == events.filter(F.col("event_id") % 20 == 8).count()
    n_bad = ch.filter(F.col("value").startswith('{"malformed')).count()
    assert n_bad == events.filter(
        (F.col("event_id") % 97 == 0) & (F.col("event_id") % 10 < 8)
    ).count()


def test_envelope_roundtrip_lossless(spark, sf_dir):
    """ser -> de -> unwrap must reproduce the exact source rows for creates."""
    events = load_table(spark, sf_dir, "events")
    main, _ = split_dlq(parse_envelope(_changelog(spark, sf_dir)))
    u = unwrap(main).filter(F.col("op").isin("c", "u", "r"))
    back = u.select("after.*")
    assert back.schema == events.schema
    # symmetric difference empty <=> lossless round-trip (minus DLQ'd rows)
    kept = events.filter(
        ~((F.col("event_id") % 97 == 0) & (F.col("event_id") % 10 < 8))
        & ~(F.col("event_id") % 10 == 8)
    )
    assert back.exceptAll(kept).count() == 0
    assert kept.exceptAll(back).count() == 0


def test_split_dlq_is_partition(spark, sf_dir):
    parsed = parse_envelope(_changelog(spark, sf_dir))
    main, dlq = split_dlq(parsed)
    assert main.count() + dlq.count() == parsed.count()
    # tombstones stay on main
    assert main.filter(F.col("value").isNull()).count() > 0
    assert dlq.filter(F.col("value").isNull()).count() == 0


def test_upsert_deletes_drop_keys(spark, sf_dir):
    u = unwrap(split_dlq(parse_envelope(_changelog(spark, sf_dir)))[0])
    state = upsert_materialize(u)
    # every (table, key) whose LAST valid record is a delete must be absent
    last = (
        u.groupBy("table_name", "key_id")
        .agg(F.max_by("is_delete", "offset").alias("last_del"))
    )
    deleted = last.filter(F.col("last_del"))
    joined = state.join(
        deleted,
        on=[
            state.table_name == deleted.table_name,
            state.user_id == deleted.key_id,
        ],
    )
    assert joined.count() == 0
    # and state has exactly one row per surviving key
    assert state.groupBy("table_name", "user_id").count().filter("count > 1").count() == 0


def test_scd2_current_equals_upsert_state(spark, sf_dir):
    """SCD2 invariants: the open intervals ARE the upsert-materialized state,
    and per key the intervals chain without gaps or overlaps."""
    u = unwrap(split_dlq(parse_envelope(_changelog(spark, sf_dir)))[0])
    hist = scd2_history(u).persist()
    state = upsert_materialize(u)
    cur = hist.filter("is_current").select(
        "table_name", F.col("key_id").alias("user_id"),
        F.col("valid_from_offset").alias("last_offset"),
    )
    st = state.select("table_name", "user_id", "last_offset")
    assert cur.exceptAll(st).count() == 0
    assert st.exceptAll(cur).count() == 0
    # at most one open interval per key
    assert (
        hist.filter("is_current").groupBy("table_name", "key_id").count()
        .filter("count > 1").count() == 0
    )
    # closed intervals never end before they start
    assert hist.filter("valid_to_offset < valid_from_offset").count() == 0
    hist.unpersist()


def test_python_datasource_changelog_matches_native(spark, sf_dir):
    """The Python DataSource connector must emit a changelog that parses to
    EXACTLY the native build_changelog rows — full after-image including
    round-tripped timestamps — and must scan with row-group partitioning."""
    import os

    from cdc_debezium_kafka_airflow_spark.sources.pydatasource import (
        ChangelogDataSource,
        ChangelogReader,
    )

    spark.dataSource.register(ChangelogDataSource)
    py_ch = (
        spark.read.format("cdc_changelog")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .load()
    )
    py_rows = unwrap(split_dlq(parse_envelope(py_ch))[0]).select(
        "offset", "table_name", "op", "is_delete", "key_id", "after.*"
    )
    native = unwrap(split_dlq(parse_envelope(_changelog(spark, sf_dir)))[0]).select(
        "offset", "table_name", "op", "is_delete", "key_id", "after.*"
    )
    assert py_rows.exceptAll(native).count() == 0
    assert native.exceptAll(py_rows).count() == 0
    # partitions are row-group/slice aligned (scan parallelism is real)
    parts = ChangelogReader(
        {"path": os.path.join(sf_dir, "events.parquet")}
    ).partitions()
    assert len(parts) >= 1
    assert all(p.end > p.start for p in parts)


def test_schema_evolve_widens_with_nulls(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    v1 = o.limit(10).select("o_orderkey")
    v2 = o.limit(5).select("o_orderkey", "o_orderpriority")
    widened = schema_evolve(v1, v2)
    assert set(widened.columns) == {"o_orderkey", "o_orderpriority"}
    assert widened.filter(F.col("o_orderpriority").isNull()).count() == 10


def test_incremental_snapshot_dedup_rule_fires(spark, sf_dir):
    """cdc_incremental_snapshot: the DBLog dedup rule must actually be
    EXERCISED by the fixture (some chunk rows discarded because their key
    has a streamed event inside the chunk's watermark window) — otherwise
    the oracle match proves nothing about the race the algorithm handles —
    and the reconciled state must equal the straight materialization."""
    from pyspark.sql import functions as F
    from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import _unwrapped
    from cdc_debezium_kafka_airflow_spark.queries.registry import QUERIES
    from cdc_debezium_kafka_airflow_spark.operators.cdc import (
        upsert_materialize,
    )

    u = _unwrapped(spark, sf_dir)
    n_chunks = 8
    b = u.agg(
        F.floor(F.max("offset") / 4).alias("s0"),
        F.max("offset").alias("max_off"),
        F.max("key_id").alias("max_key"),
    )
    uk = u.join(F.broadcast(b))
    chunk = F.least(
        F.lit(n_chunks - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("key_id") - 1) * n_chunks / F.col("max_key")),
        ),
    )
    step = F.floor((F.col("max_off") - F.col("s0")) / (2 * n_chunks))
    tagged = (
        uk.withColumn("lo", F.col("s0") + chunk * step)
        .withColumn("hi", F.col("s0") + (chunk + 1) * step)
    )
    # keys whose chunk read races a streamed event (the dedup rule's input)
    n_win = (
        tagged.filter(
            (F.col("offset") > F.col("lo")) & (F.col("offset") <= F.col("hi"))
        )
        .select("table_name", "key_id")
        .distinct()
        .count()
    )
    assert n_win > 0, "fixture never exercises the watermark-window race"

    got = QUERIES["cdc_incremental_snapshot"](spark, sf_dir)
    want = upsert_materialize(u)
    sym = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert sym == 0
    assert got.count() == want.count()
