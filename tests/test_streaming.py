"""Streaming twins: state-store upsert == batch materialize; watermarked
append mode emits only closed windows."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_debezium_kafka_airflow_spark.streaming import jobs
from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import upsert_materialize_q


def test_streaming_upsert_equals_batch(spark, sf_dir):
    stream_state = jobs.streaming_upsert_state(spark, sf_dir)
    batch_state = upsert_materialize_q(spark, sf_dir)
    assert stream_state.exceptAll(batch_state).count() == 0
    assert batch_state.exceptAll(stream_state).count() == 0


def test_foreachbatch_upsert_equals_batch(spark, sf_dir):
    fb_state = jobs.foreach_batch_upsert(spark, sf_dir)
    batch_state = upsert_materialize_q(spark, sf_dir)
    assert fb_state.exceptAll(batch_state).count() == 0
    assert batch_state.exceptAll(fb_state).count() == 0


def test_multibatch_state_store_upsert_equals_batch(spark, sf_dir):
    """maxFilesPerTrigger forces many micro-batches over the 32-file replay
    log — cross-batch state merging must still converge to the batch result."""
    stream_state = jobs.streaming_upsert_state(spark, sf_dir, max_files_per_trigger=5)
    batch_state = upsert_materialize_q(spark, sf_dir)
    assert stream_state.exceptAll(batch_state).count() == 0
    assert batch_state.exceptAll(stream_state).count() == 0


def test_multibatch_foreachbatch_upsert_equals_batch(spark, sf_dir):
    fb = jobs.foreach_batch_upsert(spark, sf_dir, max_files_per_trigger=5)
    batch_state = upsert_materialize_q(spark, sf_dir)
    assert fb.exceptAll(batch_state).count() == 0
    assert batch_state.exceptAll(fb).count() == 0


def test_multibatch_stateful_pandas_upsert_equals_batch(spark, sf_dir):
    st = jobs.stateful_upsert_apply_in_pandas(spark, sf_dir, max_files_per_trigger=5)
    batch_state = upsert_materialize_q(spark, sf_dir)
    assert st.exceptAll(batch_state).count() == 0
    assert batch_state.exceptAll(st).count() == 0


def test_pydatasource_stream_upsert_multibatch_equals_batch(spark, sf_dir):
    """The custom Python streaming source must (a) actually deliver the
    changelog across MULTIPLE micro-batches (bounded offset advance) and
    (b) leave the state store holding exactly the batch materialization."""
    progress: list = []
    streamed = jobs.pydatasource_stream_upsert(
        spark, sf_dir, progress_sink=progress
    )
    batch_state = upsert_materialize_q(spark, sf_dir)
    assert streamed.exceptAll(batch_state).count() == 0
    assert batch_state.exceptAll(streamed).count() == 0
    assert len(progress) >= 2, f"expected multi-batch delivery, got {progress}"


def test_stream_stream_join_equals_batch_join(spark, sf_dir):
    """The watermarked stream-stream interval join must produce exactly the
    batch interval-join aggregate (replayed history: nothing is late, so the
    watermark drops nothing)."""
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    streamed = jobs.stream_stream_interval_join(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    batch = (
        li.join(
            o,
            F.expr(
                "l_orderkey = o_orderkey AND l_shipdate >= o_orderdate"
                " AND l_shipdate <= o_orderdate + INTERVAL 120 DAYS"
            ),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_streaming_dlq_split_matches_batch(spark, sf_dir):
    """The errors-tolerant DLQ side output must quarantine exactly the same
    records in streaming as in batch."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.cdc import (
        hoist_field,
        parse_envelope,
        split_dlq,
    )

    stream_dlq = hoist_field(
        split_dlq(parse_envelope(jobs.changelog_stream(spark, sf_dir)))[1]
    )
    got = jobs._run_to_memory(stream_dlq, "append")
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    expected = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") % 97 == 0) & (F.col("event_id") % 10 < 8))
        .count()
    )
    assert got.count() == expected
    assert got.filter(~F.col("payload_json").startswith('{"malformed')).count() == 0


def test_rocksdb_state_store_upsert_equals_batch(spark, sf_dir):
    """The SCALE.md prescription for unbounded key spaces: RocksDB-backed
    state store — must produce the identical materialization."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream_state = jobs.streaming_upsert_state(
            spark, sf_dir, max_files_per_trigger=8
        )
        batch_state = upsert_materialize_q(spark, sf_dir)
        assert stream_state.exceptAll(batch_state).count() == 0
        assert batch_state.exceptAll(stream_state).count() == 0
    finally:
        if prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed restart: a sink crash mid-stream must not reprocess
    committed micro-batches after restart — every record lands exactly once
    across the two runs (the reference's Connect offset-topic semantics,
    carried by Spark's checkpointLocation)."""
    import shutil

    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ckpt")
    processed: list[tuple[int, list[int]]] = []

    class Boom(Exception):
        pass

    def make_sink(fail_after_batch: int):
        def sink(batch, batch_id):
            ids = [r.offset for r in batch.select("offset").collect()]
            processed.append((batch_id, ids))
            if batch_id >= fail_after_batch:
                raise Boom(f"injected failure at batch {batch_id}")

        return sink

    def run(fail_after_batch: int):
        # two micro-batches whatever the wire log's file count, so the
        # crash after batch 0 commits is reached
        per_trigger = -(-jobs.changelog_files(spark, sf_dir) // 2)
        src = jobs.changelog_stream(spark, sf_dir, max_files_per_trigger=per_trigger)
        q = (
            src.writeStream.foreachBatch(make_sink(fail_after_batch))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception:
            pass  # injected crash

    run(fail_after_batch=1)   # commits batch 0, dies in batch 1
    n_after_crash = len(processed)
    assert n_after_crash >= 2
    run(fail_after_batch=10**9)  # restart: must resume, not replay batch 0

    # batch 1 was attempted twice (crashed before commit) — dedupe attempts,
    # then every changelog record must appear exactly once
    seen: dict[int, set[int]] = {}
    for batch_id, ids in processed:
        if batch_id in seen:
            # reprocessed batch must be byte-identical (same offsets)
            assert seen[batch_id] == set(ids)
        seen[batch_id] = set(ids)
    all_ids = [i for ids in seen.values() for i in ids]
    assert len(all_ids) == len(set(all_ids))  # no overlap between batches
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    assert len(all_ids) == load_table(spark, sf_dir, "events").count()
    # batch 0 must NOT have been re-run after restart
    batch0_runs = [b for b, _ in processed if b == 0]
    assert len(batch0_runs) == 1
    shutil.rmtree(ckpt, ignore_errors=True)


def test_foreachbatch_upsert_with_mid_stream_schema_evolution(spark, sf_dir):
    """Schema evolution INSIDE a stream: later micro-batches carry an extra
    column; the foreachBatch merge widens earlier state with NULLs
    (auto.evolve semantics applied per batch)."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.operators.cdc import schema_evolve

    state = {}

    def merge(batch, batch_id):
        prev = state.get("t")
        cur = batch
        if prev is not None:
            cur = schema_evolve(prev, cur)
        state["t"] = (
            cur.groupBy("key")
            .agg(F.max_by(F.struct(*[c for c in cur.columns if c != "key"]), "off").alias("m"))
            .select("key", "m.*")
            .localCheckpoint(eager=True)
        )

    # batch 1: v1 schema; batch 2: adds column `extra`
    b1 = spark.createDataFrame([(1, 10, "a"), (2, 11, "b")], "key long, off long, val string")
    b2 = spark.createDataFrame(
        [(2, 20, "b2", "x"), (3, 21, "c", "y")],
        "key long, off long, val string, extra string",
    )
    merge(b1, 0)
    merge(b2, 1)
    rows = {r.key: (r.val, r.extra) for r in state["t"].collect()}
    assert rows == {1: ("a", None), 2: ("b2", "x"), 3: ("c", "y")}


def test_watermarked_append_emits_closed_windows(spark, sf_dir):
    out = jobs.windowed_event_counts_watermarked(spark, sf_dir)
    rows = out.collect()
    # all-but-the-last day's windows close under a 1-day watermark
    complete = jobs.windowed_event_counts(spark, sf_dir)
    assert 0 < len(rows) <= complete.count()
    # emitted counts must agree with the complete-mode result
    comp = {
        (r.day_start, r.event_type): r.n_events for r in complete.collect()
    }
    for r in rows:
        assert comp[(r.day_start, r.event_type)] == r.n_events


def test_retry_absorbs_transient_faults_and_matches_batch(spark, sf_dir):
    """ctl_retry: first attempt of every merge batch fails mid-protocol
    (after staging, before MERGE); bounded retry must absorb every fault and
    the sink must equal the batch-mode materialization exactly."""
    log: list = []

    def flaky(batch_id: int, attempt: int) -> None:
        if attempt == 1:
            raise RuntimeError(f"injected b{batch_id}")

    out = jobs.foreach_batch_upsert(
        spark, sf_dir, max_files_per_trigger=1,
        fault_injector=flaky, max_attempts=3, attempt_log=log,
        db_suffix="_retrytest",
    )
    assert log and all(e["attempt"] == 1 for e in log)  # one retry per batch
    batch_ids = [e["batch_id"] for e in log]
    assert len(batch_ids) == len(set(batch_ids))  # no batch needed a 2nd retry
    expect = upsert_materialize_q(spark, sf_dir)
    got = {tuple(r) for r in out.collect()}
    want = {
        tuple(r)
        for r in expect.select(
            "table_name", "last_offset",
            "event_id", "ts", "user_id", "event_type", "value", "props",
        ).collect()
    }
    assert got == want


def test_duckdb_upsert_first_batch_failure_surfaces(spark, sf_dir, monkeypatch):
    """A failure in micro-batch 0, before the target table exists, must
    surface as the stream's own error (not as a missing-table error from
    reading the target back), and the store must still be closed."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cdc_debezium_kafka_airflow_spark.streaming.dialects import DuckDbStore

    orig_stage, orig_close = DuckDbStore.stage, DuckDbStore.close
    closed: list = []

    def failing_stage(self, df, table):
        if table == "CDC_TARGET":
            raise RuntimeError("injected batch-0 stage failure")
        orig_stage(self, df, table)

    def recording_close(self):
        closed.append(self)
        orig_close(self)

    monkeypatch.setattr(DuckDbStore, "stage", failing_stage)
    monkeypatch.setattr(DuckDbStore, "close", recording_close)
    with pytest.raises(StreamingQueryException) as err:
        jobs.foreach_batch_upsert(
            spark, sf_dir, engine="duckdb", db_suffix="_failfirst"
        )
    assert "injected batch-0 stage failure" in str(err.value)
    assert len(closed) == 1


def test_retry_exhaustion_propagates(spark, sf_dir):
    """Persistent faults must surface, not loop: with every attempt failing,
    the query fails after max_attempts and the log shows the full ladder."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    log: list = []

    def always_fail(batch_id: int, attempt: int) -> None:
        raise RuntimeError("persistent sink outage")

    with pytest.raises(StreamingQueryException):
        jobs.foreach_batch_upsert(
            spark, sf_dir, max_files_per_trigger=1,
            fault_injector=always_fail, max_attempts=2, attempt_log=log,
            db_suffix="_retryfail",
        )
    failing = [e for e in log if "persistent" in e["error"]]
    assert len(failing) == 2  # both attempts logged before surfacing


CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"


def _checkpoint_manager(session, path: str) -> str:
    """Class name of the manager a stream started in ``session`` would
    commit its checkpoint files through."""
    jvm = session._jvm
    hadoop_conf = session._jsparkSession.sessionState().newHadoopConf()
    manager = getattr(jvm, f"{CHECKPOINTING}.CheckpointFileManager").create(
        jvm.org.apache.hadoop.fs.Path(path), hadoop_conf
    )
    return manager.getClass().getName()


def test_checkpoints_commit_through_filesystem_manager(spark, sf_dir, tmp_path):
    """Checkpoint files commit through the FileSystem-based manager, whose
    rename forks no ``readlink`` helper: in the tuned session, and in an
    untuned one once it has run one registered query."""
    from cdc_debezium_kafka_airflow_spark.queries.registry import QUERIES

    fs_manager = f"{CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
    assert _checkpoint_manager(spark, str(tmp_path)) == fs_manager

    fresh = spark.newSession()
    assert _checkpoint_manager(fresh, str(tmp_path)) != fs_manager
    QUERIES["q6_forecast_revenue"](fresh, sf_dir)
    assert _checkpoint_manager(fresh, str(tmp_path)) == fs_manager


def test_cluster_session_keeps_default_checkpoint_manager():
    """Only a local[...] session gets the FileSystem-based manager: on HDFS
    or an object store its check-then-rename commit is weaker than
    FileContext's rename without overwrite."""
    import types

    from cdc_debezium_kafka_airflow_spark import session as session_mod

    key = "spark.sql.streaming.checkpointFileManagerClass"
    for master, gets_manager in [
        ("yarn", False), ("spark://head:7077", False), ("local[4]", True),
    ]:
        values: dict[str, str] = {}
        conf = types.SimpleNamespace(
            get=lambda k: str(session_mod.CODEGEN_CACHE_ENTRIES),
            set=values.__setitem__,
        )
        ctx = types.SimpleNamespace(
            master=master, applicationId=f"app-ckpt-{master}",
            addPyFile=lambda path: None,
        )
        session_mod.apply_runtime_confs(
            types.SimpleNamespace(conf=conf, sparkContext=ctx)
        )
        assert session_mod.RUNTIME_CONFS.items() <= values.items()
        assert (key in values) is gets_manager, master


def test_failed_runtime_conf_is_named_and_the_rest_still_set(capsys):
    """A conf the session refuses prints one RUNTIME-CONF-SKIPPED line on
    stderr; every other conf is still applied."""
    import types

    from cdc_debezium_kafka_airflow_spark import session as session_mod

    bad = "spark.sql.adaptive.enabled"
    values: dict[str, str] = {}

    def conf_set(k: str, v: str) -> None:
        if k == bad:
            raise RuntimeError("not settable here")
        values[k] = v

    conf = types.SimpleNamespace(
        get=lambda k: str(session_mod.CODEGEN_CACHE_ENTRIES), set=conf_set
    )
    ctx = types.SimpleNamespace(
        master="local[4]", applicationId="app-conf-skipped",
        addPyFile=lambda path: None,
    )
    session_mod.apply_runtime_confs(
        types.SimpleNamespace(conf=conf, sparkContext=ctx)
    )
    expected = session_mod.RUNTIME_CONFS | session_mod.LOCAL_RUNTIME_CONFS
    assert values == {k: v for k, v in expected.items() if k != bad}
    skipped = [line for line in capsys.readouterr().err.splitlines()
               if line.startswith("RUNTIME-CONF-SKIPPED")]
    assert skipped == [f"RUNTIME-CONF-SKIPPED: {bad}: RuntimeError: not settable here"]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_single_attempt_upsert_caches_nothing_and_coalesces(spark, sf_dir):
    """Without retries each micro-batch image is read once, by the stage
    write, so nothing is persisted, and AQE coalesces the collapse: no
    reduce stage runs at the session's full shuffle width (a persisted
    image is built at that width, one Derby connection per partition)."""
    from py4j.protocol import Py4JJavaError

    spark.catalog.clearCache()  # earlier tests' persisted frames
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()

    def job_frontier(start: int = 0) -> int:
        # job ids are sequential per context; this also counts the jobs of
        # streaming query threads
        i = start
        while tracker.getJobInfo(i) is not None:
            i += 1
        return i

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # two micro-batches: the create path and the stage + MERGE path
    per_trigger = -(-jobs.changelog_files(spark, sf_dir) // 2)
    j0 = job_frontier()
    out = jobs.foreach_batch_upsert(
        spark, sf_dir, max_files_per_trigger=per_trigger, db_suffix="_onceread"
    )
    j1 = job_frontier(j0)
    assert _cache_is_empty(spark)
    assert out.count() == upsert_materialize_q(spark, sf_dir).count()

    full_width_reduces = []
    for jid in range(j0, j1):
        for sid in tracker.getJobInfo(jid).stageIds:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            if stage.shuffleReadBytes() > 0 and stage.numTasks() == width:
                full_width_reduces.append((jid, sid))
    assert not full_width_reduces


def test_schema_evolving_stream_upsert_widens_additively(spark, sf_dir):
    """Mid-stream schema evolution: generation-2 batches add after.ingest_region;
    state widens additively and last-write-wins holds across generations.
    Expectation recomputed from the shared event_id-arithmetic contract."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import _table_col
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    got = {
        r.table_name: (r.n_live_keys, r.n_v2_images)
        for r in jobs.schema_evolving_stream_upsert(spark, sf_dir).collect()
    }

    e = load_table(spark, sf_dir, "events")
    src = e.filter(
        ~((F.col("event_id") % 20) == 8)
        & ~(((F.col("event_id") % 97) == 0) & ((F.col("event_id") % 10) < 8))
    ).select(_table_col().alias("table_name"), "user_id", "event_id")
    last = src.groupBy("table_name", "user_id").agg(
        F.max("event_id").alias("last_id")
    )
    want = {
        r.table_name: (r.n, r.v2)
        for r in last.filter(F.col("last_id") % 10 != 8)
        .groupBy("table_name")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("last_id") % 2 == 1).cast("long")).alias("v2"),
        )
        .collect()
    }
    assert got == want
    # both generations genuinely present in the final image
    assert all(0 < v2 < n for n, v2 in got.values())


def test_dual_sink_batch_replay_is_idempotent(spark, sf_dir):
    """Replaying a micro-batch through the dual-sink fan-out must REPLACE
    its own output, not duplicate it — call the foreachBatch body twice
    with the same batch id and assert bronze/silver contents are single."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.queries.common import t as load
    from cdc_debezium_kafka_airflow_spark.sources.cache_util import (
        process_scoped_scratch,
    )

    base = process_scoped_scratch("dual_sink_replay_test")
    shutil.rmtree(base, ignore_errors=True)
    bronze = os.path.join(base, "bronze")
    silver = os.path.join(base, "silver")
    batch = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(100)
    n = batch.count()

    def fan_out(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            os.path.join(bronze, f"batch={batch_id}")
        )
        batch_df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders")
        ).write.mode("overwrite").parquet(
            os.path.join(silver, f"batch={batch_id}")
        )

    fan_out(batch, 7)
    fan_out(batch, 7)  # the crash-replay
    assert spark.read.parquet(bronze).count() == n
    assert (
        spark.read.parquet(silver)
        .agg(F.sum("n_orders").alias("s"))
        .collect()[0]
        .s
        == n
    )


def test_session_timeout_emits_final_sessions_via_timeout(spark, sf_dir):
    """A user's FINAL session has no successor event, so it can only emit
    through the EventTimeTimeout path — its presence in the output proves
    the timeout machinery actually fired (not just in-data closes)."""
    from collections import defaultdict

    from cdc_debezium_kafka_airflow_spark.queries.streaming_queries import (
        stream_session_timeout,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = stream_session_timeout(spark, sf_dir).collect()
    assert rows
    last_emitted = defaultdict(lambda: None)
    for r in rows:
        cur = last_emitted[r.user_id]
        if cur is None or r.session_last > cur:
            last_emitted[r.user_id] = r.session_last
    # per-user true last event
    true_last = {
        r.user_id: r.mx
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("mx"))
        .collect()
    }
    # at least one user's emitted final session ENDS at their true last
    # event — that session had no successor, so only a timeout emitted it
    n_timeout_closed = sum(
        1 for u, ts in last_emitted.items() if true_last.get(u) == ts
    )
    assert n_timeout_closed > 0


def test_txn_gate_straddles_batch_boundary(spark, sf_dir):
    """The cross-batch pending buffer must actually be exercised: the
    chronological replay slices at offset quartiles, so unless every
    quartile bound is 16-aligned (it is not, asserted here), some source
    transaction has rows in two different micro-batches — held by the
    earlier one, drained by the later one. Combined with the oracle
    equality (stream twin == batch gate), this proves hold-then-drain
    loses and leaks nothing."""
    from pyspark.sql import functions as F

    from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import (
        cdc_txn_consistent,
    )
    from cdc_debezium_kafka_airflow_spark.queries.streaming_queries import (
        stream_txn_consistent,
    )
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    mx = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("event_id").alias("m"))
        .collect()[0]
        .m
    )
    bounds = [mx // 4, mx // 2, (3 * mx) // 4]
    assert any(b % 16 != 0 for b in bounds), (
        "all quartile bounds 16-aligned — no txn straddles a batch; "
        "change the txn width or slice count"
    )
    got = {
        r.table_name: r for r in stream_txn_consistent(spark, sf_dir).collect()
    }
    want = {
        r.table_name: r for r in cdc_txn_consistent(spark, sf_dir).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


def test_stream_stream_sinks_restore_session_confs(spark, sf_dir):
    """The r09 trims (parts=4, noDataMicroBatches off for inner/semi,
    foreachBatch partial-agg for the outers) are PER-QUERY overrides; a
    leaked conf would silently change every later streaming query in the
    session. Run all four and assert both knobs come back."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    jobs.stream_stream_interval_join(spark, sf_dir).collect()
    jobs.stream_stream_semi_anti_join(spark, sf_dir, "left_semi").collect()
    jobs.stream_stream_left_outer_join(spark, sf_dir).collect()
    jobs.stream_stream_full_outer_join(spark, sf_dir).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == prev_nd
    )


def test_outer_join_eviction_rows_still_emit_after_nodata_trim(spark, sf_dir):
    """Directional guard for the noDataMicroBatches trim: the skip is safe
    ONLY for match-emitting joins (inner/semi). The outer variants' proven
    -unmatched rows emit exclusively in the trailing no-data batch — if a
    refactor ever extends the skip to them, unmatched counts silently drop
    to zero. Pin that they stay populated, and that inner/semi (which run
    WITH the skip) still agree with their batch equivalents."""
    lo = jobs.stream_stream_left_outer_join(spark, sf_dir)
    assert (
        lo.agg(F.sum("n_unmatched_orders")).first()[0] > 0
    ), "left-outer eviction rows vanished - no-data batch wrongly skipped?"
    fo = jobs.stream_stream_full_outer_join(spark, sf_dir)
    assert fo.filter(F.col("o_orderpriority").isNull()).count() == 1, (
        "full-outer unmatched-lineitem group missing"
    )
    # inner runs with the skip: must equal the batch interval join
    import os

    inner = jobs.stream_stream_interval_join(spark, sf_dir)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    batch = (
        li.join(
            od,
            F.expr(
                "l_orderkey = o_orderkey AND l_shipdate >= o_orderdate"
                " AND l_shipdate <= o_orderdate + INTERVAL 120 DAYS"
            ),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
    assert inner.exceptAll(batch).count() == 0
    assert batch.exceptAll(inner).count() == 0


def test_txn_consistent_stream_zero_batch_source(spark, sf_dir, tmp_path):
    """ADVICE r11: a stream that delivers ZERO batches (empty events
    fixture) must yield the empty txn rollup with the real schema — not a
    None-path read error in the replay builder or the post-stream
    materialization."""
    import os

    src = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src.limit(0).write.parquet(str(tmp_path / "events.parquet"))
    out = jobs.txn_consistent_stream(spark, str(tmp_path))
    assert [f.name for f in out.schema.fields] == [
        "table_name",
        "n_live_keys",
        "last_applied_offset",
        "n_inflight_held",
    ]
    assert out.collect() == []
