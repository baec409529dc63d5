"""Engine self-monitoring: StreamingQueryListener captures per-micro-batch
progress — the live replacement for the reference's side-consumer lag DAGs."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.streaming import jobs
from cdc_debezium_kafka_airflow_spark.streaming.monitor import (
    ProgressCapture,
    progress_metrics,
)


def test_listener_captures_microbatch_progress(spark, sf_dir):
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    capture = ProgressCapture()
    spark.streams.addListener(capture)
    try:
        # multi-batch run so the listener sees several progress events: two
        # micro-batches whatever the wire log's file count
        per_trigger = -(-jobs.changelog_files(spark, sf_dir) // 2)
        jobs.streaming_upsert_state(spark, sf_dir, max_files_per_trigger=per_trigger)
        # listener delivery is async — wait until all input is accounted for
        for _ in range(80):
            if sum(p["num_input_rows"] for p in capture.progress) >= n_events:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(capture)

    assert len(capture.progress) >= 2
    m = progress_metrics(spark, capture)
    rows = m.collect()
    assert {r.batch_id for r in rows} == set(range(len(rows)))
    # every input row of the replay log is accounted for exactly once
    total = m.agg(F.sum("num_input_rows")).collect()[0][0]
    assert total == n_events
