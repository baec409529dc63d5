"""CDC envelope operators — the semantics the reference declares in its
Kafka Connect SMT/sink configs, re-expressed as DataFrame transformations.

Reference parity (file:line into /root/reference):
  parse_envelope     JsonConverter deserialization
                     (register-mysql-connector.json:22-25)
  split_dlq          errors.tolerance=all + DLQ routing
                     (register-postgres-sink.json:18-21)
  unwrap             io.debezium.transforms.ExtractNewRecordState
                     (register-postgres-sink.json:22-24)
  route_topic        RegexRouter 'mysql-server.pos_bi_db.(.*)' -> '$1'
                     (register-postgres-sink.json:25-27)
  hoist_field        HoistField$Value -> payload_json
                     (register-dlq-sink.json:15-17)
  upsert_materialize insert.mode=upsert + pk.mode=record_key +
                     delete.enabled=true, last-write-wins by log order
                     (register-postgres-sink.json:15-17)
  schema_evolve      auto.evolve=true additive column evolution
                     (register-postgres-sink.json:13-14)

Scale notes are inline per operator; the headline one: ``upsert_materialize``
uses ``max_by`` hash aggregation (one shuffle, map-side partial aggregation)
instead of a sort-based window — at 100 TB the partial agg collapses each
key's history locally before the shuffle, which a row_number() window cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cdc_debezium_kafka_airflow_spark.schemas import ENVELOPE_SCHEMA, KEY_SCHEMA
from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import JSON_TS_OPTS

TOPIC_ROUTE_PATTERN = r"mysql-server\.pos_bi_db\.(.*)"


def parse_envelope(changelog: DataFrame) -> DataFrame:
    """``de_json_schema``: typed columns out of the JSON key/value.

    Adds:
      parsed   struct  -- envelope (NULL when value is NULL or unparseable)
      key_id   long    -- primary key from the record key

    Each record's value is parsed exactly once. ``split_dlq`` filters on
    the parse result, and without a guard Catalyst pushes that filter below
    this projection and inlines ``from_json`` into it: the value is then
    parsed twice, once in the Filter and once in the Project (a parquet
    scan even carries the parse as a DataFilter). The CASE WHEN
    spark_partition_id() wrapper is value-identical (partition ids are
    never negative, so the branch is always taken) but marks the column
    non-deterministic, which the optimizer never re-evaluates below or
    inlines into its consumers -- the guard ``build_changelog`` puts on the
    serialize. Batch and stream consumers both go through here.
    """
    envelope = F.from_json(F.col("value"), ENVELOPE_SCHEMA, JSON_TS_OPTS)
    return changelog.withColumns(
        {
            "parsed": F.when(F.spark_partition_id() >= F.lit(-1), envelope),
            "key_id": F.from_json(F.col("key"), KEY_SCHEMA)["payload"]["id"],
        }
    )


def is_dlq_record() -> F.Column:
    """``split_dlq``'s routing predicate over a parsed record: it has a
    value that failed envelope parsing. Tombstones have no value and are
    legitimate delete markers, so they stay on the main path."""
    return F.col("value").isNotNull() & F.col("parsed.payload").isNull()


def change_op() -> F.Column:
    """``unwrap``'s op over a parsed main-path record; tombstones (no
    envelope) surface as 'd' delete markers."""
    return F.coalesce(F.col("parsed.payload.op"), F.lit("d"))


def split_dlq(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``xf_errors_tolerant`` + ``snk_dlq``: (main, dlq) two-way split.

    A record goes to the DLQ when ``is_dlq_record``. Both branches share
    one scan (Spark reuses the exchange); neither shuffles.
    """
    is_bad = is_dlq_record()
    return parsed.filter(~is_bad), parsed.filter(is_bad)


def hoist_field(dlq: DataFrame, field: str = "payload_json") -> DataFrame:
    """``xf_hoistfield``: whole raw value -> single named column, the shape
    the DLQ audit sink appends to Postgres ``kafka_dlq``."""
    return dlq.select(F.col("value").alias(field))


def route_topic(df: DataFrame, topic_col: str = "topic") -> F.Column:
    """``xf_regexrouter``: topic -> bare destination table name."""
    return F.regexp_replace(F.col(topic_col), TOPIC_ROUTE_PATTERN, r"$1")


def unwrap(main: DataFrame) -> DataFrame:
    """``xf_unwrap`` + ``xf_tombstone``: envelope -> flat row + op metadata.

    Output: offset, table_name, op, is_delete, key_id, and the flattened
    ``after`` image columns (NULL for deletes/tombstones).
    Tombstones (value IS NULL) surface as op='d' delete markers, matching
    delete.enabled=true + drop.tombstones=false.
    """
    op = change_op()
    return main.select(
        F.col("offset"),
        route_topic(main).alias("table_name"),
        op.alias("op"),
        (op == "d").alias("is_delete"),
        F.col("key_id"),
        F.col("parsed.payload.after").alias("after"),
    )


def latest_images(unwrapped: DataFrame) -> DataFrame:
    """Latest image per (table_name, key_id) by log ``offset``: ``last`` is
    the winning (is_delete, after) struct, ``last_offset`` its offset.

    The one latest-image aggregate of the package: the batch upsert, the
    state-store stream and the database sinks all collapse through it.
    The expressions and their order are the state-store layout that
    ``jobs.state_store_audit`` reads back (``value.max``,
    ``value.valueWithExtremumOrdering``)."""
    return unwrapped.groupBy("table_name", "key_id").agg(
        F.max_by(F.struct("is_delete", "after"), "offset").alias("last"),
        F.max("offset").alias("last_offset"),
    )


def live_images(latest: DataFrame) -> DataFrame:
    """``latest_images`` minus the keys whose latest record is a delete,
    flattened to table_name, last_offset and the ``after`` columns."""
    return latest.filter(~F.col("last.is_delete")).select(
        "table_name", "last_offset", "last.after.*"
    )


def upsert_materialize(unwrapped: DataFrame) -> DataFrame:
    """The core CDC operator: changelog -> current warehouse state.

    Latest image per (table_name, key) by log ``offset``; keys whose latest
    record is a delete/tombstone are absent, i.e. last-write-wins upsert with
    delete propagation (insert.mode=upsert, delete.enabled=true).

    Physical plan: single hash-aggregate shuffle keyed on (table_name, key_id)
    with map-side partial ``max_by`` — each executor collapses its slice of a
    key's history to one candidate before the exchange. On skewed keys AQE
    skew handling applies; there is no sort and no per-key row explosion, so
    the plan survives 100x data growth.
    """
    return live_images(latest_images(unwrapped))


def scd2_history(unwrapped: DataFrame) -> DataFrame:
    """Slowly-changing-dimension Type 2 materialization of the changelog.

    Where ``upsert_materialize`` keeps only the latest image (the reference
    sink's insert.mode=upsert, register-postgres-sink.json:15-17), this keeps
    EVERY version as a validity interval — the standard downstream consumer
    pattern for a Debezium history table:

      valid_from_offset  the offset that opened this version
      valid_to_offset    next change's offset - 1 (NULL = open interval)
      is_current         open interval, key never subsequently deleted

    Delete events (including tombstones) close the prior version but are not
    versions themselves.

    Physical plan: one shuffle on (table_name, key_id) + per-key sort for the
    ``lead`` window. Unlike the upsert (where ``max_by`` avoids the sort),
    SCD2 inherently needs each key's full ordered history, so a window is the
    minimal plan; per-key history is bounded by change frequency, not corpus
    size, and AQE skew-join/partition splitting handles hot keys at 100 TB.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("table_name", "key_id").orderBy("offset")
    return (
        unwrapped.withColumn("next_off", F.lead("offset").over(w))
        .filter(~F.col("is_delete"))
        .select(
            "table_name",
            "key_id",
            F.col("offset").alias("valid_from_offset"),
            (F.col("next_off") - 1).alias("valid_to_offset"),
            F.col("next_off").isNull().alias("is_current"),
            "after.*",
        )
    )


def schema_evolve(old: DataFrame, new: DataFrame) -> DataFrame:
    """``xf_schema_evolve``: additive column evolution at the sink.

    Rows written before a DDL change lack the new columns; the union widens
    them with NULLs (auto.evolve=true's additive semantics). Pure union — no
    shuffle; on parquet/delta sinks pair with ``mergeSchema``.
    """
    return old.unionByName(new, allowMissingColumns=True)
