"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference CDC pipeline (mike840609/debezium-nats-cdc).

The reference is an HR change-data-capture pipeline: MariaDB binlog ->
Debezium -> NATS JetStream -> event transformer service -> ClickHouse
columnar event store (see SURVEY.md). This package re-expresses
that surface Spark-first:

- the "broker" is a DataFrame/table of envelopes with a ``subject`` column
- transformer rules are pure ``DataFrame -> DataFrame`` functions
- streaming is Structured Streaming with ``foreachBatch`` sinks
- the event store is month-partitioned Parquet with clustered sort
- enrichment lookups are broadcast stream-static joins, not per-row JDBC

Layout:
    schemas        Debezium/domain envelope StructTypes (FIXTURES.md)
    session        SparkSession factory tuned for local[N] and cluster
    io             testdata loaders (ns-timestamp handling)
    functions/     subject globs, scalar helpers, vector & text functions
    sources/       CDC source (Debezium-JSON batch/stream) + fixtures
    operators/     unwrap, rules, enrich, materialize, audit, dedup,
                   similarity, validate, retention, analytics
    streaming/     readStream pipeline assembly, checkpointed sinks
    plans/         explain/plan-assertion helpers (pushdown, broadcast)
    catalog        the driver-facing query registry + DuckDB oracles
"""

__version__ = "0.1.0"
