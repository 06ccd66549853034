"""Change-data source (SURVEY.md §2.A1/A2/A9).

The engine's CDC source is a Debezium-JSON event log read either as a
batch DataFrame or a Structured Stream.  A directory of JSON-lines files
stands in for the broker (file source ≙ Kafka/NATS source — swap
``format("json")`` for ``format("kafka")`` + the same ``from_json`` parse;
nothing downstream changes).  Offset persistence = Structured Streaming
checkpointing (reference: Debezium offset file,
config/debezium/application.properties:5-6).

Every table's changes share ONE log directory, as every table's subject
shares the reference's one ``HCM`` JetStream stream (SURVEY.md A5/A6).
A reader takes a LIST of tables and parses each line once against the
union of their row schemas (``schemas.union_row_schema``): ``before`` /
``after`` carry every field any of the tables declares, and a consumer
narrows them to one table's own struct (``streaming/pipeline.py``).  A
one-table list parses with exactly that table's envelope schema.  Under
``spark.sql.json.enablePartialResults`` (on by default) a bad value in a
field that belongs to ANOTHER table reads NULL alone and is dropped by
the narrowing, so the union parse of a row equals its own table's parse.
maxFilesPerTrigger bounds micro-batch size (reference "Batch Processing"
backpressure knob, docs/design.md:898).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import envelope_schema, union_row_schema
from .fixtures import DB, TOPIC_PREFIX, subject_for


def _table_list(tables: str | Sequence[str]) -> list[str]:
    return [tables] if isinstance(tables, str) else list(tables)


def _envelope(tables: list[str]):
    """The one envelope schema every line of ``tables`` parses with."""
    return envelope_schema(union_row_schema(tables))


def _with_subject_and_time(df: DataFrame) -> DataFrame:
    """Derive the NATS-style subject + event-time columns (A4, G3)."""
    return (
        df.withColumn(
            "subject",
            F.concat_ws(
                ".",
                F.lit(TOPIC_PREFIX),
                F.col("payload.source.db"),
                F.col("payload.source.table"),
            ),
        )
        .withColumn("ts_ms", F.col("payload.ts_ms"))
        .withColumn("event_time", F.timestamp_millis(F.col("payload.ts_ms")))
    )


def _of_tables(df: DataFrame, tables: list[str]) -> DataFrame:
    # a one-element isin is optimized to an equality
    return _with_subject_and_time(
        df.filter(F.col("payload.source.table").isin(tables)))


def read_change_log(spark: SparkSession, path: str,
                    tables: str | Sequence[str]) -> DataFrame:
    """Batch read of a Debezium-JSON event log for one or more tables."""
    tables = _table_list(tables)
    return _of_tables(spark.read.schema(_envelope(tables)).json(path), tables)


def read_change_stream(
    spark: SparkSession,
    path: str,
    tables: str | Sequence[str],
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of the same log (readStream; checkpoint at the sink).
    Each line is parsed once, whichever of ``tables`` it belongs to."""
    tables = _table_list(tables)
    reader = spark.readStream.schema(_envelope(tables))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _of_tables(reader.json(path), tables)


# ------------------------------------------------- broker-record source --

# The exact column set Spark's Kafka source yields (and the shape the
# reference's Debezium server publishes to NATS: per-table topic, record
# key = serialized PK, record value = the JSON envelope —
# config/debezium/application.properties:20-27).  A directory of parquet
# files with this schema is the container stand-in for the broker; against
# a real deployment only the reader line changes:
#   spark.readStream.format("kafka")
#        .option("subscribe", subject_for(table)).load()
# and parse_broker_records consumes it unchanged.
BROKER_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def parse_broker_records(records: DataFrame,
                         tables: str | Sequence[str]) -> DataFrame:
    """Kafka-record rows -> typed change envelopes for one or more tables.

    Dispatch is broker-native: filter on the tables' TOPICS first (the
    reference's one-subject-per-table routing) so other tables' records
    are dropped on a cheap string compare BEFORE any JSON parsing, then
    deserialize each value once against the tables' union envelope.
    """
    tables = _table_list(tables)
    env = (
        records.filter(F.col("topic").isin([subject_for(t) for t in tables]))
        .select(
            F.from_json(
                F.col("value").cast("string"), _envelope(tables)
            ).alias("e")
        )
        .select("e.*")
    )
    return _with_subject_and_time(env)


def read_broker_log(spark: SparkSession, path: str,
                    tables: str | Sequence[str]) -> DataFrame:
    """Batch read of a broker-record directory for one or more tables."""
    return parse_broker_records(
        spark.read.schema(BROKER_RECORD_SCHEMA).parquet(path), tables
    )


def read_broker_stream(
    spark: SparkSession,
    path: str,
    tables: str | Sequence[str],
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of a broker-record directory (A1 adapter path)."""
    reader = spark.readStream.schema(BROKER_RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return parse_broker_records(reader.parquet(path), tables)
