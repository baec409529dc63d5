"""The CDC database sinks' staged-upsert protocol: one protocol, two
stores, two dialects.

The reference sink is Kafka Connect's JDBC sink in upsert mode against
Postgres (``insert.mode=upsert`` + ``pk.mode=record_key``, reference
register-postgres-sink.json:15-17); Connect renders the statement per
database dialect — ``INSERT ... ON CONFLICT ... DO UPDATE`` on Postgres,
``MERGE`` on engines that have it. ``streaming/jobs.foreach_batch_upsert``
runs that protocol once per micro-batch: collapse to the latest image per
key, stage it, then one set-based upsert with a ``last_offset``
idempotency guard.

- Two stores, one seam (stage, execute, read, close) over a foreign
  transport: ``DerbyStore`` is embedded Apache Derby over JDBC (the
  engine shipped with Spark); ``DuckDbStore`` is a DuckDB file over
  DB-API, staged through Arrow->pandas (the harness stand-in for the JDBC
  wire to a served Postgres).
- Two dialects: ``DerbyMergeDialect`` renders ``MERGE INTO``;
  ``PostgresOnConflictDialect`` renders the Postgres ``ON CONFLICT``
  statement, which runs verbatim on DuckDB (same dialect: unique-index
  conflict target, EXCLUDED pseudo-row, DO UPDATE ... WHERE guard). Each
  store carries the dialect it speaks.
- The streaming SCD2 history sink (``jobs.foreach_batch_scd2``) uses the
  DuckDB store with the ``SCD2_*`` statements below.

Shared semantics every dialect must preserve:
  - conflict key = (join_hash, table_name, key_id): the numeric surrogate
    hash drives the index lookup, the raw string keys stay as residual
    equality so hash collisions cannot corrupt the sink;
  - a matched row updates ONLY when the staged ``last_offset`` is newer —
    replayed micro-batches (at-least-once delivery, ctl_retry re-runs)
    become no-ops, which is what makes the sink effectively exactly-once.
"""

from __future__ import annotations

import os


class UpsertDialect:
    """One JDBC engine's rendering of the staged-upsert protocol."""

    name: str = "base"
    jdbc_prefixes: tuple[str, ...] = ()

    @staticmethod
    def for_url(url: str) -> "UpsertDialect":
        for dialect_cls in (DerbyMergeDialect, PostgresOnConflictDialect):
            if any(url.startswith(p) for p in dialect_cls.jdbc_prefixes):
                return dialect_cls()
        raise ValueError(
            f"no upsert dialect for JDBC url {url!r} — "
            "known: derby (MERGE), postgresql (ON CONFLICT)"
        )

    def upsert_sql(
        self, target: str, stage: str, cols: list[str], version_col: str
    ) -> str:
        """Set-based upsert of every staged row into ``target``.

        ``cols`` is the business column list with the two key columns first
        (table_name, key_id); the surrogate ``join_hash`` column is implied.
        ``version_col`` guards updates (newer-wins)."""
        raise NotImplementedError

    def key_index_sql(self, target: str) -> str:
        """DDL creating the index/constraint the upsert's key lookup needs."""
        raise NotImplementedError

    def is_already_exists(self, exc: Exception) -> bool:
        """True if ``exc`` is this engine's 'object already exists' (the one
        benign DDL failure — anything else must surface, or the upsert runs
        unindexed and silently slow)."""
        raise NotImplementedError


class DerbyMergeDialect(UpsertDialect):
    """Apache Derby: standard ``MERGE INTO``.

    Derby-specific: Spark's Derby dialect maps StringType to CLOB, and Derby
    cannot compare CLOB to CLOB in a join predicate without a cast — so
    ``table_name`` equality is evaluated through VARCHAR casts, and only as
    a residual on ``join_hash``-index-matched candidates."""

    name = "derby"
    jdbc_prefixes = ("jdbc:derby:",)

    def upsert_sql(
        self, target: str, stage: str, cols: list[str], version_col: str
    ) -> str:
        wcols = ["join_hash", *cols]
        qcols = ", ".join(f'"{c}"' for c in wcols)
        update_cols = [c for c in cols[2:]]
        return (
            f"MERGE INTO {target} t USING {stage} s "
            'ON t."join_hash" = s."join_hash" AND t."key_id" = s."key_id" '
            'AND CAST(t."table_name" AS VARCHAR(128)) = '
            'CAST(s."table_name" AS VARCHAR(128)) '
            f'WHEN MATCHED AND s."{version_col}" > t."{version_col}" '
            "THEN UPDATE SET "
            + ", ".join(f'"{c}" = s."{c}"' for c in update_cols)
            + f" WHEN NOT MATCHED THEN INSERT ({qcols}) VALUES ("
            + ", ".join(f's."{c}"' for c in wcols)
            + ")"
        )

    def key_index_sql(self, target: str) -> str:
        return (
            f'CREATE INDEX {target}_KEY ON {target} ("join_hash", "key_id")'
        )

    def is_already_exists(self, exc: Exception) -> bool:
        return "X0Y32" in str(exc)  # Derby SQLState: object already exists


class PostgresOnConflictDialect(UpsertDialect):
    """PostgreSQL: ``INSERT ... ON CONFLICT ... DO UPDATE`` — the statement
    the reference deployment runs (Connect JDBC sink in upsert mode against
    jdbc:postgresql://.../data_warehouse, register-postgres-sink.json:10,15).

    ON CONFLICT requires a UNIQUE index on the exact conflict target, so
    ``key_index_sql`` creates one over (join_hash, table_name, key_id);
    EXCLUDED carries the staged row inside DO UPDATE, and the WHERE clause
    is the same newer-wins guard MERGE expresses in WHEN MATCHED AND."""

    name = "postgresql"
    jdbc_prefixes = ("jdbc:postgresql:",)

    def upsert_sql(
        self, target: str, stage: str, cols: list[str], version_col: str
    ) -> str:
        wcols = ["join_hash", *cols]
        qcols = ", ".join(f'"{c}"' for c in wcols)
        update_cols = [c for c in cols[2:]]
        return (
            f"INSERT INTO {target} ({qcols}) "
            f"SELECT {qcols} FROM {stage} "
            'ON CONFLICT ("join_hash", "table_name", "key_id") '
            "DO UPDATE SET "
            + ", ".join(f'"{c}" = EXCLUDED."{c}"' for c in update_cols)
            + f' WHERE EXCLUDED."{version_col}" > {target}."{version_col}"'
        )

    def key_index_sql(self, target: str) -> str:
        return (
            f"CREATE UNIQUE INDEX {target}_KEY ON {target} "
            '("join_hash", "table_name", "key_id")'
        )

    def is_already_exists(self, exc: Exception) -> bool:
        # 42P07: duplicate_table (covers indexes); message fallback for
        # drivers that stringify without the SQLState
        s = str(exc)
        return "42P07" in s or "already exists" in s


class DerbyStore:
    """Embedded Derby at ``path`` over JDBC. Staging is Spark's JDBC writer
    in truncate-overwrite mode: an existing table is TRUNCATEd and reused,
    not dropped and re-created per micro-batch, so the database and its
    tables persist across runs of one process."""

    dialect = DerbyMergeDialect()

    def __init__(self, spark, path: str) -> None:
        self.spark = spark
        self.url = f"jdbc:derby:{path};create=true"
        self.props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def stage(self, df, table: str) -> None:
        df.write.option("truncate", "true").jdbc(
            self.url, table, mode="overwrite", properties=self.props
        )

    def execute(self, sql: str) -> None:
        conn = self.spark._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            st.executeUpdate(sql)
            st.close()
        finally:
            conn.close()

    def read(self, sql: str, schema: str):
        """The rows of ``sql`` as a lazy Spark JDBC scan typed ``schema``."""
        return (
            self.spark.read.option("customSchema", schema)
            .jdbc(self.url, f"({sql}) AS q", properties=self.props)
        )

    def close(self) -> None:
        pass  # every statement opens and closes its own connection


class DuckDbStore:
    """A DuckDB file at ``path`` over DB-API, emptied when opened. Staging
    moves the frame through the driver (``toPandas``; volume is bounded by
    the micro-batch) into ``CREATE OR REPLACE TABLE``."""

    dialect = PostgresOnConflictDialect()

    def __init__(self, spark, path: str) -> None:
        import duckdb

        for suffix in ("", ".wal"):
            try:
                os.remove(path + suffix)
            except OSError:
                pass
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.spark = spark
        self.con = duckdb.connect(path)

    def stage(self, df, table: str) -> None:
        self.con.register("stage_df", df.toPandas())
        try:
            self.con.execute(
                f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM stage_df"
            )
        finally:
            self.con.unregister("stage_df")

    def execute(self, sql: str) -> None:
        self.con.execute(sql)

    def read(self, sql: str, schema: str):
        """The rows of ``sql``, fetched now, as a Spark frame typed ``schema``."""
        return self.spark.createDataFrame(self.con.execute(sql).fetch_df(), schema)

    def close(self) -> None:
        self.con.close()


#: The streaming SCD2 history table (``jobs.foreach_batch_scd2``): one row
#: per op, delete markers included; the unique key makes re-staged ops
#: no-ops.
SCD2_DDL = """
    CREATE TABLE SCD2_HISTORY (
      join_hash BIGINT, table_name VARCHAR, key_id BIGINT,
      valid_from_offset BIGINT, is_delete BOOLEAN,
      valid_to_offset BIGINT, is_current BOOLEAN,
      event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
      event_type VARCHAR, value DOUBLE, props VARCHAR);
    CREATE UNIQUE INDEX SCD2_KEY ON SCD2_HISTORY
      (join_hash, table_name, key_id, valid_from_offset)
"""

#: ACCUMULATE: every staged op lands once; a replayed op is a no-op.
SCD2_INSERT_SQL = """
    INSERT INTO SCD2_HISTORY
    SELECT join_hash, table_name, key_id, valid_from_offset,
           is_delete, NULL, FALSE,
           event_id, ts, user_id, event_type, value, props
    FROM SCD2_STAGE
    ON CONFLICT DO NOTHING
"""

#: REPAIR: recompute the validity-interval chain of the keys the batch
#: touched. The UPDATE joins on rowid (computed and applied within ONE
#: statement, so rowids are stable): measured 15x over the 4-column key
#: equality join (2.7s -> 0.18s for the sf0.1 protocol); the changed-row
#: guard reads the pre-update values captured in r.
SCD2_REPAIR_SQL = """
    UPDATE SCD2_HISTORY h
    SET valid_to_offset = r.valid_to_offset, is_current = r.is_current
    FROM (
      SELECT rowid AS rid,
             lead(valid_from_offset) OVER w - 1 AS valid_to_offset,
             (lead(valid_from_offset) OVER w IS NULL
              AND NOT is_delete) AS is_current,
             valid_to_offset AS old_to, is_current AS old_cur
      FROM SCD2_HISTORY
      WHERE join_hash IN (SELECT DISTINCT join_hash FROM SCD2_STAGE)
      WINDOW w AS (PARTITION BY join_hash, table_name, key_id
                   ORDER BY valid_from_offset)
    ) r
    WHERE h.rowid = r.rid
      AND (r.old_to IS DISTINCT FROM r.valid_to_offset
           OR r.old_cur IS DISTINCT FROM r.is_current)
"""
