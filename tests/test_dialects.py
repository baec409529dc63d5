"""Upsert-dialect dispatch (streaming/dialects.py): the Derby MERGE path is
exercised end-to-end by the sink queries (stream_foreachbatch_upsert /
ctl_retry_upsert oracles); these tests pin the dispatch and the exact SQL
each dialect renders — in particular that the Postgres statement is the
reference deployment's ON CONFLICT upsert (register-postgres-sink.json:15).
"""

import pytest

from cdc_debezium_kafka_airflow_spark.streaming.dialects import (
    SCD2_DDL,
    SCD2_INSERT_SQL,
    SCD2_REPAIR_SQL,
    DerbyMergeDialect,
    PostgresOnConflictDialect,
    UpsertDialect,
)

COLS = [
    "table_name", "key_id", "last_offset", "is_delete",
    "event_id", "ts", "user_id", "event_type", "value", "props",
]


def test_for_url_dispatch():
    assert isinstance(
        UpsertDialect.for_url("jdbc:derby:/x/y;create=true"),
        DerbyMergeDialect,
    )
    assert isinstance(
        UpsertDialect.for_url("jdbc:postgresql://host:5433/data_warehouse"),
        PostgresOnConflictDialect,
    )
    with pytest.raises(ValueError):
        UpsertDialect.for_url("jdbc:mysql://host/db")


def test_derby_merge_sql_exact():
    """Byte-identical to the statement the sink ran before the dialect
    refactor — the oracle-green MERGE must not drift."""
    sql = DerbyMergeDialect().upsert_sql(
        "CDC_TARGET", "CDC_STAGE", COLS, version_col="last_offset"
    )
    wcols = ["join_hash", *COLS]
    qcols = ", ".join(f'"{c}"' for c in wcols)
    expected = (
        'MERGE INTO CDC_TARGET t USING CDC_STAGE s '
        'ON t."join_hash" = s."join_hash" AND t."key_id" = s."key_id" '
        'AND CAST(t."table_name" AS VARCHAR(128)) = '
        'CAST(s."table_name" AS VARCHAR(128)) '
        'WHEN MATCHED AND s."last_offset" > t."last_offset" THEN UPDATE SET '
        + ", ".join(f'"{c}" = s."{c}"' for c in COLS[2:])
        + f" WHEN NOT MATCHED THEN INSERT ({qcols}) VALUES ("
        + ", ".join(f's."{c}"' for c in wcols)
        + ")"
    )
    assert sql == expected


def test_postgres_on_conflict_sql_shape():
    sql = PostgresOnConflictDialect().upsert_sql(
        "CDC_TARGET", "CDC_STAGE", COLS, version_col="last_offset"
    )
    # conflict target must exactly match the unique index the dialect creates
    assert 'ON CONFLICT ("join_hash", "table_name", "key_id")' in sql
    assert sql.startswith('INSERT INTO CDC_TARGET ("join_hash", "table_name"')
    # newer-wins idempotency guard via EXCLUDED
    assert (
        'WHERE EXCLUDED."last_offset" > CDC_TARGET."last_offset"' in sql
    )
    # every non-key business column is updated from the staged row
    for c in COLS[2:]:
        assert f'"{c}" = EXCLUDED."{c}"' in sql
    # key columns are never updated (identity of the row)
    assert '"table_name" = EXCLUDED' not in sql
    assert '"key_id" = EXCLUDED' not in sql
    idx = PostgresOnConflictDialect().key_index_sql("CDC_TARGET")
    assert idx == (
        'CREATE UNIQUE INDEX CDC_TARGET_KEY ON CDC_TARGET '
        '("join_hash", "table_name", "key_id")'
    )


def test_already_exists_detection():
    assert DerbyMergeDialect().is_already_exists(
        Exception("ERROR X0Y32: Index 'CDC_TARGET_KEY' already exists.")
    )
    assert not DerbyMergeDialect().is_already_exists(
        Exception("ERROR 42X05: Table does not exist.")
    )
    pg = PostgresOnConflictDialect()
    assert pg.is_already_exists(Exception('ERROR: relation "x" already exists'))
    assert pg.is_already_exists(Exception("SQLSTATE 42P07"))
    assert not pg.is_already_exists(Exception("deadlock detected"))


def test_postgres_dialect_drives_live_duckdb():
    """The rendered Postgres ON CONFLICT statement must RUN, not just
    render: DuckDB shares the dialect (unique-index conflict target,
    EXCLUDED, DO UPDATE ... WHERE), so the exact string executes against a
    live engine — newer-wins update, stale-version no-op, idempotent
    replay, and the engine's real 'already exists' error all verified."""
    import duckdb

    d = PostgresOnConflictDialect()
    cols = ["table_name", "key_id", "payload", "last_offset"]
    sql = d.upsert_sql("tgt", "stage", cols, "last_offset")
    con = duckdb.connect()
    con.execute(
        'CREATE TABLE tgt ("join_hash" BIGINT, "table_name" VARCHAR, '
        '"key_id" VARCHAR, "payload" VARCHAR, "last_offset" BIGINT)'
    )
    con.execute(d.key_index_sql("tgt"))
    con.execute("CREATE TABLE stage AS SELECT * FROM tgt LIMIT 0")
    con.execute(
        "INSERT INTO stage VALUES (1,'t','k1','v1',10),(2,'t','k2','v2',5)"
    )
    con.execute(sql)
    con.execute("DELETE FROM stage")
    con.execute(
        "INSERT INTO stage VALUES "
        "(1,'t','k1','v1-new',20),(2,'t','k2','v2-stale',3),"
        "(3,'t','k3','v3',7)"
    )
    con.execute(sql)
    want = [
        (1, "t", "k1", "v1-new", 20),  # newer offset won
        (2, "t", "k2", "v2", 5),  # stale offset was a no-op
        (3, "t", "k3", "v3", 7),  # fresh key inserted
    ]
    got = con.execute("SELECT * FROM tgt ORDER BY join_hash").fetchall()
    assert got == want
    con.execute(sql)  # replayed batch: fully idempotent
    assert (
        con.execute("SELECT * FROM tgt ORDER BY join_hash").fetchall()
        == want
    )
    try:
        con.execute(d.key_index_sql("tgt"))
        raise AssertionError("duplicate index DDL should fail")
    except Exception as exc:
        assert d.is_already_exists(exc)


def test_scd2_repair_protocol_out_of_order_batches():
    """The streaming SCD2 sink's accumulate+repair SQL (the production
    ``SCD2_*`` statements of jobs.foreach_batch_scd2) must converge to the
    whole-log SCD2 result under ARBITRARY batch order and replays. Planted
    scenario: one key's ops arrive as [later version], [replay], [earlier
    version + delete], [re-insert] — the late batch must splice in and
    repair its predecessor's valid_to in the same statement."""
    import duckdb

    con = duckdb.connect()
    con.execute(SCD2_DDL)
    # the stage carries the history's columns minus the two it derives
    stage_cols = (
        "join_hash, table_name, key_id, valid_from_offset, is_delete, "
        "event_id, ts, user_id, event_type, value, props"
    )
    # ops for key (t,1): v@10, v@20, d@30, v@40 (re-insert, current)
    # and key (t,2): v@15, d@25 (deleted key, no current row)
    batches = [
        [(1, "t", 1, 40, False, "k1-v40"), (2, "t", 2, 15, False, "k2-v15")],
        [(1, "t", 1, 40, False, "k1-v40")],  # replayed batch
        [(1, "t", 1, 10, False, "k1-v10"), (1, "t", 1, 30, True, "k1-d30"),
         (2, "t", 2, 25, True, "k2-d25")],  # LATE batch: earlier offsets
        [(1, "t", 1, 20, False, "k1-v20")],  # later still: splice mid-chain
    ]
    for rows in batches:
        con.execute(
            f"CREATE OR REPLACE TABLE SCD2_STAGE AS SELECT {stage_cols} "
            "FROM SCD2_HISTORY LIMIT 0"
        )
        # the planted payload rides in event_type
        con.executemany(
            "INSERT INTO SCD2_STAGE (join_hash, table_name, key_id, "
            "valid_from_offset, is_delete, event_type) "
            "VALUES (?, ?, ?, ?, ?, ?)",
            rows,
        )
        con.execute(SCD2_INSERT_SQL)
        con.execute(SCD2_REPAIR_SQL)
    got = con.execute(
        "SELECT key_id, valid_from_offset, valid_to_offset, is_current "
        "FROM SCD2_HISTORY WHERE NOT is_delete ORDER BY key_id, "
        "valid_from_offset"
    ).fetchall()
    assert got == [
        (1, 10, 19, False),
        (1, 20, 29, False),
        (1, 40, None, True),
        (2, 15, 24, False),
    ]
    # delete markers carry intervals too but are never current
    assert con.execute(
        "SELECT count(*) FROM SCD2_HISTORY WHERE is_delete AND is_current"
    ).fetchone()[0] == 0
