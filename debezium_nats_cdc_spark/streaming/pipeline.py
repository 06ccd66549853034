"""The streaming CDC pipeline (SURVEY.md §3.1 Spark lifecycle).

readStream(change log) -> unwrap -> watermarked dedup -> foreachBatch:
    rules fan-out -> validate/DLQ split -> event store append
    field-diff -> audit trail append
    latest-state merge -> materialized current-state table

One streaming query per source table; offset bookkeeping is Structured
Streaming checkpointing (reference: Debezium offset file + JetStream
redelivery, SURVEY §2.A1/F5).  Sinks are EXACTLY-ONCE under micro-batch
replay: every append publishes through streaming/txn.py's epoch-keyed
commit protocol (staging dir -> token-tagged rename -> atomic marker),
so a batch replayed after a mid-fan-out crash re-publishes the exact
same files instead of duplicating rows, and an already-committed sink
is skipped outright.

Scale notes: the micro-batch is persisted once and shared by all rule
branches (multicast F2 — one source scan, N filters); the only shuffles
are the watermark dedup and the per-key reduction, both hash-partitioned
on keys that scale with executors.  On a cluster, add
``.repartition("aggregateId")`` before stateful per-key ops to pin
per-aggregate ordering (H5, docs/design.md:511).
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.audit import field_diff
from ..operators.materialize import (
    batch_latest_with_deletes,
    current_rows,
    expire_tombstones,
    initial_state,
    reduce_state,
)
from ..operators.rules import OPTIONAL_SOURCE_TABLES, RULES, apply_rules
from ..operators.unwrap import unwrap
from ..operators.validate import with_validation
from ..registry import default_registry
from ..schemas import TABLE_SCHEMAS
from ..sources.cdc import read_broker_stream, read_change_stream
from .. import store
from .state_backend import LocalFSBackend, StateBackend

log = logging.getLogger(__name__)

DEDUP_WATERMARK = "120 seconds"  # broker duplicate_window, config/nats/stream.json:14


@dataclass
class PipelineDirs:
    events: str
    audit: str
    dead_letter: str
    state: str
    checkpoints: str
    txn: str
    # All durable-storage operations route through this object; swap it
    # for a table-format backend to run the identical pipeline logic on
    # a cluster store (see state_backend.StateBackend's mapping guide).
    backend: StateBackend = field(default_factory=LocalFSBackend)

    @classmethod
    def under(cls, root: str,
              backend: StateBackend | None = None) -> "PipelineDirs":
        d = cls(
            events=os.path.join(root, "hr_events"),
            audit=os.path.join(root, "audit_trail"),
            dead_letter=os.path.join(root, "dead_letter"),
            state=os.path.join(root, "state"),
            checkpoints=os.path.join(root, "_checkpoints"),
            # commit markers + staging live OUTSIDE the sink dirs so
            # state compaction/swap rewrites never erase commit history
            txn=os.path.join(root, "_txn"),
            backend=backend or LocalFSBackend(),
        )
        for p in (d.events, d.audit, d.dead_letter, d.state, d.checkpoints,
                  d.txn):
            d.backend.ensure_dir(p)
        return d


COMPACT_FILE_THRESHOLD = 48
TOMBSTONE_HORIZON_MS = 10 * 60 * 1000  # broker dedup window 120 s + slack


def _maybe_compact(spark: SparkSession, state_dir: str,
                   backend: StateBackend) -> None:
    """Compact the state log once its file count passes the threshold:
    one winner row per key, tombstones past the redelivery horizon
    dropped.  Amortized O(state) off the per-batch hot path — the
    MergeTree-background-merge analog (AQE coalesces each small batch
    append to ~1 file, so the threshold ≈ batches between compactions).

    The horizon is EVENT time, anchored to the newest version in the
    state (a watermark, like the dedup operator's) — wall clock would
    mis-expire when replaying historical logs."""
    backend.recover(state_dir)
    if backend.data_file_count(state_dir) < COMPACT_FILE_THRESHOLD:
        return
    # mergeSchema: the log may span schema versions (A3) — older files
    # lack newly-added nullable columns
    reduced = reduce_state(
        spark.read.option("mergeSchema", "true").parquet(state_dir)
    )
    max_ts = reduced.agg(F.max("_ts_ms")).first()[0]
    if max_ts is not None:
        reduced = expire_tombstones(reduced, TOMBSTONE_HORIZON_MS, max_ts)
    backend.swap_write(reduced, state_dir)


# Below this row count a micro-batch's sink outputs coalesce to ONE
# task/file each: the events frame is a 6-15-way union of rule branches,
# so an uncoalesced write launches that many tiny tasks and leaves that
# many sub-MB files per sink per epoch (more tasks now, more compaction
# churn later).  Large batches keep parallel writes — on a cluster a
# backfill batch can carry millions of rows.
SMALL_BATCH_ROWS = 100_000


def _one_file_if_small(df: DataFrame, small: bool) -> DataFrame:
    return df.coalesce(1) if small else df


def _sink_events(batch: DataFrame, table: str, dirs: PipelineDirs,
                 epoch_id: int | None, registry=None,
                 small: bool = False) -> None:
    """Rules fan-out -> validate -> event store + DLQ.  The validate
    split checks envelope structure AND the registry's versioned payload
    contracts (A3/F4): a producer emitting a payload that violates the
    latest registered schema for its eventType — required field missing
    or unparseable — lands in dead_letter with a
    ``schema:<subject>:v<N>:<fields>`` reason and a ``schema_version``
    stamp, instead of poisoning the event store.

    The VALIDATED frame is what persists (not the raw rule output): the
    valid append and the DLQ check then read the reason column from
    cache instead of each re-executing the rule branches AND the
    contract expression — the latter is the expensive part of this
    sink's per-batch plan (see registry.violation_expr)."""
    events = with_validation(apply_rules(batch, table), registry).persist()
    try:
        valid = _one_file_if_small(
            events.filter(F.col("invalid_reason").isNull())
            .drop("invalid_reason"), small)
        dlq = events.filter(F.col("invalid_reason").isNotNull())
        # coalesce BEFORE the clustering sort: one globally-sorted file
        # per month beats N task-local sorted slivers for row-group
        # min/max skipping
        _append(store.clustered_store_rows(valid), dirs.events,
                f"events-{table}", epoch_id, dirs, ["event_month"])
        # isEmpty, not limit(1).count(): codegen names each LIMIT
        # counter from a JVM-global id, so every limit(1).count() is
        # fresh source text that Janino compiles again per batch
        if not dlq.isEmpty():
            _append(_one_file_if_small(dlq, small), dirs.dead_letter,
                    f"dlq-{table}", epoch_id, dirs)
    finally:
        events.unpersist()


def _sink_audit(batch: DataFrame, table: str, dirs: PipelineDirs,
                epoch_id: int | None, small: bool = False) -> None:
    """Field-level audit trail (F6)."""
    cols = [f.name for f in TABLE_SCHEMAS[table].fields
            if f.name not in ("created_at", "updated_at")]
    rows = _one_file_if_small(field_diff(batch, cols), small)
    _append(rows, dirs.audit, f"audit-{table}", epoch_id, dirs)


def _sink_state(spark: SparkSession, batch: DataFrame, table: str,
                dirs: PipelineDirs, epoch_id: int | None,
                small: bool = False) -> None:
    """Materialized current state — LSM-shaped: APPEND this batch's
    newest-per-key rows (O(batch)), compact when the log grows.  A full
    read-merge-rewrite here would be O(state) per micro-batch and was
    the latency ceiling (P95 10 s vs the < 2 s SLO).  The epoch-keyed
    append makes replays exact even across a compaction boundary (a
    replayed already-committed epoch is skipped, so compacted-away rows
    are not re-introduced); reduce_state additionally collapses any
    legacy duplicates, so the queryable view converges either way (F5)."""
    latest = batch_latest_with_deletes(batch)
    state_dir = os.path.join(dirs.state, table)
    # heal a compaction crash BEFORE appending: if the state dir is
    # missing (crash between swap_write's renames), the txn publish
    # would otherwise recreate it holding only this epoch's rows, and
    # the next compaction would overwrite the orphaned full-state
    # staging copy — silently losing all prior state
    dirs.backend.recover(state_dir)
    _append(_one_file_if_small(initial_state(latest), small), state_dir,
            f"state-{table}", epoch_id, dirs)
    _maybe_compact(spark, state_dir, dirs.backend)


def _append(df: DataFrame, final_dir: str, sink: str, epoch_id: int | None,
            dirs: PipelineDirs, partition_by: list[str] | None = None) -> None:
    """Epoch-committed append when running under a streaming epoch;
    plain append for ad-hoc batch callers (no replay to guard against).
    Concurrent per-table queries are safe either way: every txn staging
    write has a private output path, and the ad-hoc path is only used
    single-threaded (snapshot seeding, tests)."""
    if epoch_id is None:
        dirs.backend.append(df, final_dir, partition_by)
    else:
        dirs.backend.append_exactly_once(df, final_dir, f"{sink}-{epoch_id}",
                                         dirs.txn, partition_by)


def process_batch(spark: SparkSession, batch: DataFrame, table: str,
                  dirs: PipelineDirs, epoch_id: int | None = None,
                  registry=None) -> None:
    """The foreachBatch body — also callable on a batch DataFrame
    directly (the A2 snapshot path uses it for op='r' seeding).

    The micro-batch is materialized ONCE via localCheckpoint before the
    multi-sink fan-out.  Each action inside foreachBatch otherwise
    re-executes the full incremental plan INCLUDING the upstream stateful
    dedup — measured: 6 state-store instances per shuffle partition and
    6× state writes for this body's 6 actions; plain persist() does not
    help because every action spawns a fresh IncrementalExecution whose
    plan never cache-matches.  Lineage is cut, so a lost executor fails
    the micro-batch and Structured Streaming replays it from the
    checkpoint (the sinks are idempotent — module docstring).

    The three sinks are independent and run CONCURRENTLY (threads just
    submit Spark jobs; the scheduler interleaves them across cores).
    Per-micro-batch wall = max(sink) instead of sum(sink): P50 trigger
    latency 3.5 s -> 1.9 s at 1k-event batches, meeting the reference's
    < 2 s end-to-end SLO (docs/system-design.md:328)."""
    batch = batch.localCheckpoint(eager=True)
    # ONE count() on the checkpointed batch (~10 ms) answers both
    # questions the fan-out asks: whether to run at all, and the write
    # shape (small batches coalesce each sink's output to one task/file)
    n_rows = batch.count()
    if n_rows == 0:
        # availableNow fires a final empty batch to advance the watermark;
        # the state commit still happens upstream — skip the sink fan-out
        # (6 no-op jobs + parquet writes, ~4 s per table, measured).
        return
    if registry is None:
        registry = default_registry()
    small = n_rows <= SMALL_BATCH_ROWS
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(_sink_events, batch, table, dirs, epoch_id, registry,
                        small),
            pool.submit(_sink_audit, batch, table, dirs, epoch_id, small),
            pool.submit(_sink_state, spark, batch, table, dirs, epoch_id,
                        small),
        ]
        for f in futures:
            f.result()  # re-raise sink failures -> batch retries


def _reset_stale_txn_markers(dirs: PipelineDirs, table: str) -> None:
    """Epoch ids restart at 0 when a query starts from a FRESH checkpoint
    (reset/deleted/new location).  Old commit markers would then match
    the new run's epochs and silently skip every batch's publish.  A
    fresh checkpoint has no offsets log yet — clear the table's markers
    so the new run re-publishes from scratch; an existing checkpoint
    (crash restart) keeps its markers, preserving exactly-once replay.

    RESET CONTRACT: resetting or deleting a checkpoint while KEEPING the
    sink data is not a supported state.  The rerun's epochs may batch
    rows differently, so token-named files published by the previous run
    never get overwritten and events/audit/state rows duplicate.  To
    reprocess, clear the sink dirs together with the checkpoint (or
    point the rerun at a fresh root).  We detect the hazardous half-reset
    and log a loud warning rather than refuse — a deliberate
    append-reprocess may be intended (e.g. replaying into a downstream
    that dedups on eventId)."""
    if dirs.backend.checkpoint_established(os.path.join(dirs.checkpoints,
                                                        table)):
        return  # established checkpoint: markers are live replay state
    cleared = dirs.backend.clear_markers(
        dirs.txn, [f"{sink}-{table}-" for sink in
                   ("events", "dlq", "audit", "state")]
    )
    if cleared:
        kept = [d for d in (dirs.events, dirs.audit, dirs.dead_letter,
                            os.path.join(dirs.state, table))
                if dirs.backend.has_data(d)]
        if kept:
            log.warning(
                "fresh checkpoint for table %r but %d commit markers were "
                "cleared while sink dirs %s still hold data: the rerun will "
                "APPEND (previously published epoch files are not replaced "
                "if the rerun batches rows differently). Clear the sinks "
                "too if you intended a clean reprocess.",
                table, len(cleared), kept,
            )


def start_table_pipeline(
    spark: SparkSession,
    log_dir: str,
    table: str,
    dirs: PipelineDirs,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    source: str = "json",
    per_key_partitions: int | None = None,
    registry=None,
):
    """Start the checkpointed streaming query for one source table.

    ``source="json"`` reads the Debezium-JSON file log; ``source="broker"``
    reads Kafka-record-shaped files through the A1 adapter
    (sources/cdc.py BROKER_RECORD_SCHEMA) — everything downstream of the
    envelope parse is identical.

    ``per_key_partitions`` (H5, docs/design.md:511): hash-partition the
    micro-batch on the aggregate key so all events of one aggregate land
    in one task — the per-aggregate ordering the reference pins via
    JetStream subject partitioning.  Size it to the executor count on a
    cluster; leave None locally (the per-key groupBys in the sinks
    already co-locate per key for correctness)."""
    _reset_stale_txn_markers(dirs, table)
    if registry is None:
        # one registry per query, built once — its Column expressions are
        # re-instantiated per batch but the contract map is not
        registry = default_registry()
    read = read_broker_stream if source == "broker" else read_change_stream
    stream = read(spark, log_dir, table, max_files_per_trigger)
    deduped = (
        unwrap(stream)
        .withWatermark("event_time", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["change_key"])
    )
    if per_key_partitions is not None:
        deduped = deduped.repartition(
            per_key_partitions,
            F.coalesce(F.col("after.id"), F.col("before.id")),
        )
    writer = (
        deduped.writeStream.queryName(f"cdc-{table}")
        .option("checkpointLocation", os.path.join(dirs.checkpoints, table))
        .foreachBatch(
            lambda b, epoch: process_batch(spark, b, table, dirs, epoch,
                                           registry))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_state(spark: SparkSession, dirs: PipelineDirs, table: str) -> DataFrame:
    """Materialized current state of one source table (live rows only —
    the physical table also holds versioned tombstones; see
    operators/materialize.py)."""
    state_dir = os.path.join(dirs.state, table)
    # Read-side healing is safe against a concurrent compaction: if this
    # reader promotes the compactor's staging dir during the missing-dir
    # swap window, the compactor's own final rename observes the healed
    # dir and treats it as success (state_backend.swap_write).
    dirs.backend.recover(state_dir)
    # mergeSchema: state logs written across schema versions (A3)
    return current_rows(
        spark.read.option("mergeSchema", "true").parquet(state_dir)
    )


def run_pipeline_until_done(spark: SparkSession, log_dir: str, root: str,
                            tables: list[str] | None = None,
                            concurrent: bool = False,
                            source: str = "json",
                            backend: StateBackend | None = None,
                            registry=None) -> PipelineDirs:
    """Process everything currently in the change log, then stop.

    Per-table queries are independent (separate checkpoints, state dirs,
    and event-store partitions are append-only), so ``concurrent=True``
    starts them all and awaits together — the production shape, where N
    source tables share the cluster instead of serializing.  Sequential
    remains the default for deterministic test output ordering."""
    dirs = PipelineDirs.under(root, backend=backend)
    # default: every rule table whose source the reference actually
    # ships; source-optional tables (bonuses, stock_grants) run only
    # when asked for explicitly
    names = tables or [t for t in RULES if t not in OPTIONAL_SOURCE_TABLES]
    if concurrent:
        queries = [start_table_pipeline(spark, log_dir, t, dirs, source=source,
                                        registry=registry)
                   for t in names]
        for q in queries:
            q.awaitTermination()
    else:
        for t in names:
            q = start_table_pipeline(spark, log_dir, t, dirs, source=source,
                                     registry=registry)
            q.awaitTermination()
    return dirs
