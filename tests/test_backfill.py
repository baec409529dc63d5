"""ctl_backfill: the Airflow catch-up semantic — idempotent, partition-scoped."""

from __future__ import annotations

import os
import glob

from pyspark.sql import functions as F


def _part_files(path: str, day: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, f"day_str={day}", "*.parquet"))
    }


def test_backfill_flags_and_dynamic_overwrite_is_partition_scoped(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.queries.format_queries import (
        ctl_backfill,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import cache_path

    out = ctl_backfill(spark, sf_dir).collect()
    days = sorted(r.day_str for r in out)
    flags = {r.day_str: r.backfilled for r in out}
    # the first half of the calendar came from the initial run, the rest
    # from the backfill
    n_initial = sum(1 for v in flags.values() if not v)
    assert 0 < n_initial < len(days)
    assert not flags[days[0]]
    assert flags[days[-1]]

    # dynamic partition overwrite must be partition-scoped: rewriting ONE
    # late day leaves every other partition's files untouched
    path = cache_path(sf_dir, "backfill_warehouse")
    before_first = _part_files(path, days[0])
    before_last = _part_files(path, days[-1])
    assert before_first and before_last

    one_day = (
        spark.read.parquet(path)
        .select(
            F.col("day_str").cast("string").alias("day_str"),
            "n_events",
            "sum_value",
            "backfilled",
        )
        .where(F.col("day_str") == days[-1])
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        one_day.write.mode("overwrite").partitionBy("day_str").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    assert _part_files(path, days[0]) == before_first  # untouched
    assert _part_files(path, days[-1]) != before_last  # rewritten

    # and the warehouse content is unchanged by the idempotent re-write
    again = {
        (r.day_str, r.n_events, r.sum_value, r.backfilled)
        for r in ctl_backfill(spark, sf_dir).collect()
    }
    assert again == {
        (r.day_str, r.n_events, r.sum_value, r.backfilled) for r in out
    }


def test_sorted_export_layout_has_disjoint_file_ranges(spark, sf_dir):
    """The sorted export's parquet footers must carry non-overlapping
    o_orderdate ranges across files (the data-skipping contract), and a
    date filter on the read-back must push down to the scan."""
    import glob
    import os

    import pyarrow.parquet as pq

    from cdc_debezium_kafka_airflow_spark.queries.format_queries import (
        snk_sorted_export,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import cache_path

    snk_sorted_export(spark, sf_dir).collect()  # ensure written
    path = cache_path(sf_dir, "sorted_export")
    ranges = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }["o_orderdate"]
        lo = min(
            md.row_group(g).column(idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(idx).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # disjoint (boundary ties allowed)

    pruned = spark.read.parquet(path).where(
        "o_orderdate >= TIMESTAMP '1999-01-01'"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderdate" in plan, plan


def test_zorder_export_bounds_both_dims(spark, sf_dir):
    """The Z-order layout's whole point vs a 1-D sort: every file's footer
    bounds BOTH cluster dimensions. Assert each file covers well under the
    full span on o_custkey AND o_orderdate, and that the mean footer
    rectangle is a small fraction of the 2-D domain (a random or 1-D-sorted
    layout has mean area ~1.0 or ~1/nfiles on one dim with ~1.0 on the
    other)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from cdc_debezium_kafka_airflow_spark.queries.format_queries import (
        snk_zorder_export,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import cache_path

    snk_zorder_export(spark, sf_dir).collect()  # ensure written
    path = cache_path(sf_dir, "zorder_export")
    per_file = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}

        def rng(col):
            lo = min(
                md.row_group(g).column(idx[col]).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx[col]).statistics.max
                for g in range(md.num_row_groups)
            )
            return lo, hi

        per_file.append((rng("o_custkey"), rng("o_orderdate")))
    assert len(per_file) >= 4
    cspan = max(c[1] for c, _ in per_file) - min(c[0] for c, _ in per_file)
    dspan = (
        max(d[1] for _, d in per_file) - min(d[0] for _, d in per_file)
    ).total_seconds()
    cfracs = [(c[1] - c[0]) / cspan for c, _ in per_file]
    dfracs = [
        (d[1] - d[0]).total_seconds() / dspan for _, d in per_file
    ]
    areas = [cf * df for cf, df in zip(cfracs, dfracs)]
    assert sum(cfracs) / len(cfracs) < 0.75, cfracs
    assert sum(dfracs) / len(dfracs) < 0.75, dfracs
    assert sum(areas) / len(areas) < 0.40, areas


def test_wap_valid_candidate_advances_and_invalid_preserves(spark, sf_dir, tmp_path):
    """WAP protocol unit contract: a passing v2 advances the manifest; a
    failing v3 leaves v2 published AND still readable in full."""
    from cdc_debezium_kafka_airflow_spark.operators import publish as wap
    from cdc_debezium_kafka_airflow_spark.queries.common import t as load

    root = str(tmp_path / "wap")
    orders = load(spark, sf_dir, "orders")

    assert wap.write_audit_publish(orders, root, "v1", "o_orderkey")
    assert wap.current_version(root) == "v1"

    v2 = orders.filter("o_orderstatus != 'P'")
    assert wap.write_audit_publish(v2, root, "v2", "o_orderkey")
    assert wap.current_version(root) == "v2"
    n_v2 = v2.count()

    from pyspark.sql import functions as F

    bad = orders.select(*[
        c if c != "o_orderkey"
        else F.lit(None).cast("long").alias("o_orderkey")
        for c in orders.columns
    ])
    assert not wap.write_audit_publish(bad, root, "v3", "o_orderkey")
    assert wap.current_version(root) == "v2"
    assert wap.read_published(spark, root).count() == n_v2


def test_bloom_parquet_bigger_than_plain(spark, sf_dir):
    """The bloom-filter write option must physically add filters: the
    bloomed files carry measurably more bytes than a plain write of the
    same data (bloom bitsets live after the data pages)."""
    import glob
    import os
    import shutil

    from cdc_debezium_kafka_airflow_spark.queries.common import t as load
    from cdc_debezium_kafka_airflow_spark.queries.format_queries import (
        snk_bloom_parquet,
    )
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import cache_path

    snk_bloom_parquet(spark, sf_dir).collect()
    bloom_path = cache_path(sf_dir, "bloom_orders")
    plain_path = cache_path(sf_dir, "bloom_orders_plain")
    shutil.rmtree(plain_path, ignore_errors=True)
    load(spark, sf_dir, "orders").write.parquet(plain_path)

    def total(p):
        return sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet"))
        )

    assert total(bloom_path) > total(plain_path) + 4096


def test_wap_vacuum_never_removes_published(spark, sf_dir, tmp_path):
    """Vacuum removes failed/superseded candidates but NEVER the published
    version, which must stay fully readable afterward."""
    from cdc_debezium_kafka_airflow_spark.operators import publish as wap
    from cdc_debezium_kafka_airflow_spark.queries.common import t as load

    root = str(tmp_path / "wapv")
    orders = load(spark, sf_dir, "orders")
    assert wap.write_audit_publish(orders, root, "v1", "o_orderkey")
    corrupted = orders.unionAll(orders.limit(5))
    assert not wap.write_audit_publish(corrupted, root, "v2", "o_orderkey")
    n_published = wap.read_published(spark, root).count()

    removed = wap.vacuum_unpublished(root, keep=0)
    assert removed == ["v2"]  # the failed candidate goes, v1 stays
    assert wap.current_version(root) == "v1"
    assert wap.read_published(spark, root).count() == n_published
