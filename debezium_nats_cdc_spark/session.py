"""SparkSession factory.

Scale stance: these configs are chosen so the same code runs on local[32]
for tests and on a 1000-executor cluster unchanged — AQE handles runtime
re-planning (partition coalescing, skew joins, broadcast demotion), and
shuffle partition count is the only knob that should differ per deployment.

Fixed cost per micro-batch: two confs cut the CPU every epoch of every
streaming query pays whatever its size:
  - offset, commit and state-store files are published through the
    Hadoop FileSystem API (one ``rename(2)`` each), not the FileContext
    default, which forks a ``chmod`` / ``readlink`` child process per
    create and rename when the JVM has no native Hadoop library;
  - the generated-class cache holds the pipeline's whole working set,
    so a steady-state micro-batch runs Janino (and the JIT behind it)
    only for the classes whose source really changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime SQL confs we need even when the caller (e.g. the driver) owns the
# session.  All of these are settable post-creation via spark.conf.set.
RUNTIME_CONFS: dict[str, str] = {
    # driver testdata events.parquet uses TIMESTAMP(NANOS) which Spark's
    # parquet reader rejects; read as long and convert (io.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # event-time correctness vs the DuckDB oracle (SURVEY.md §4 knobs)
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # TIMESTAMP_MICROS (not the INT96 legacy default): INT96 carries NO
    # parquet min/max statistics, which silently disables the footer-
    # based file skipping the clustered store layout exists for
    # (store.optimize_zorder / sortWithinPartitions row-group pruning)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # event store writes: zstd ≙ reference's s2/ClickHouse compression
    # (config/nats/stream.json:15) at much better ratios than snappy.
    "spark.sql.parquet.compression.codec": "zstd",
    # keep event_month='202601' a STRING on read-back (directory partition
    # values would otherwise be inferred as int)
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # State-store partitions for stateful streaming ops (pinned into each
    # checkpoint at first start), decoupled from batch shuffle parallelism.
    # The HDFS-backed store pays a fixed per-partition commit cost every
    # micro-batch — at 32 partitions that was 14 s per 500k-event batch vs
    # 0.4 s at 8 (measured with bench.py's streaming micro-bench).
    # Default is 4: the r6 interleaved A/B (BENCHLOG round 6) measured
    # median micro-batch P50 1.256 s / P95 1.588 s at 4 vs 1.388/1.645
    # at 8 — the commit tail is pure per-partition overhead at
    # single-node key volumes.  A real cluster sizes this ≈ total cores
    # before the FIRST run against a fresh checkpoint.
    "spark.sql.streaming.internal.stateStore.partitions": os.environ.get(
        "SPARK_GRAFT_STATE_PARTITIONS", "4"
    ),
    # Offset, commit and state-store files go through the Hadoop
    # FileSystem API.  The default FileContext manager, on a JVM without
    # libhadoop, forks a child process for every create (``chmod``) and
    # every rename (``FileUtil.readLink``): ~300 forks and 3.3-3.7 CPU s
    # per five-table drain.  On a POSIX directory a FileSystem rename is
    # one rename(2), which is atomic, so a reader sees either no file or
    # the whole file, as Structured Streaming's log protocol requires.
    # The engine forces this manager on every session it touches
    # (get_session and apply_runtime_confs), so setting another one on
    # the session has no effect: an object-store deployment (S3/GCS/ABFS)
    # edits this constant to a manager whose publish is atomic there.
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}

# Entries in Spark's generated-class cache (static conf, default 100, LRU).
# The five-table pipeline alone generates ~167 distinct classes per drain,
# so at 100 every steady-state drain re-ran Janino ~190 times and C2
# re-JITted the fresh classes (8-10 CPU s per drain).  1,000 holds that
# working set about six times over, leaving room for the catalog and the
# monitors in the same JVM; the bound keeps Metaspace and the code cache
# finite in a session that runs arbitrary queries.
CODEGEN_CACHE_ENTRIES = 1000


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-owned session.

    Memoized per session object: ``load_table`` calls this on EVERY
    table load (the driver owns the session, so the engine cannot
    assume the confs were ever set), and the ~11 ``conf.set`` py4j
    round trips cost ~10 ms per load — a measurable tax across a
    100-query bench for confs that never change (r16).  Engine code
    that flips a conf mid-session (``_overwrite_mode``) restores it and
    touches keys outside this static set, so a one-shot apply is safe.
    """
    if getattr(spark, "_graft_runtime_confs_applied", False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build — rely on session defaults
    spark._graft_runtime_confs_applied = True
    return spark


def get_session(app_name: str = "debezium-nats-cdc-spark",
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a session tuned for this engine.

    local[N]: one JVM; shuffle partitions default to the core count so tiny
    scale factors don't over-parallelize.  On a real cluster, set
    spark.sql.shuffle.partitions ≈ 2-3× total cores externally; AQE coalesces
    down after each shuffle so over-provisioning is safe.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # ContextCleaner frees localCheckpoint blocks, shuffle files, and
        # terminated queries' state-store providers only after a JVM GC;
        # Spark's periodic-GC default is 30 MINUTES, so a long-lived
        # session accumulates until streaming throughput collapses
        # (measured here: 30k -> 5k events/s over two bench runs; with a
        # 30 s interval the same pipeline holds 75-100k events/s flat).
        .config("spark.cleaner.periodicGC.interval", "30s")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
