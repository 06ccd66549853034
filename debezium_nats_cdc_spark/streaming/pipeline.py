"""The streaming CDC pipeline (SURVEY.md §3.1 Spark lifecycle).

readStream(change log) -> unwrap -> watermarked dedup -> foreachBatch:
    narrow before/after to each table's row struct, then per epoch
    rules fan-out of every table -> validate/DLQ split -> ONE event
    store append (+ one DLQ append)
    field-diff of every table -> ONE audit trail append
    latest-state merge -> one materialized state append PER TABLE

ONE streaming query serves a whole list of source tables, as the
reference's one ``HCM`` JetStream stream carries every table's subject
(SURVEY.md A5/A6): the change log is parsed once against the union of
the tables' row schemas, one watermark dedup state serves every table
(``change_key`` already holds the table), and the epoch — not the
table — is the unit of commit (*Structured Streaming*, SIGMOD 2018).
The query, its checkpoint and the shared sinks' commit tokens are named
by the sorted table names joined with ``+``, so a one-table query keeps
the per-table names (``cdc-employees``, ``_checkpoints/employees``,
``events-employees-<epoch>``).  Only the state sink stays per table
(``state/<table>``, token ``state-<table>-<epoch>``): each table's state
files keep that table's schema.

Offset bookkeeping is Structured Streaming checkpointing (reference:
Debezium offset file + JetStream redelivery, SURVEY §2.A1/F5).  Sinks
are EXACTLY-ONCE under micro-batch replay: every append publishes
through streaming/txn.py's epoch-keyed commit protocol (staging dir ->
token-tagged rename -> atomic marker), so a batch replayed after a
mid-fan-out crash re-publishes the exact same files instead of
duplicating rows, and an already-committed sink is skipped outright.
A query refuses to start over a root whose established checkpoint
belongs to a DIFFERENT table set sharing a table: that table's rows
would be published by both.

Scale notes: the micro-batch is persisted once and shared by all rule
branches of all tables (multicast F2 — one source scan, N filters); the
only shuffles are the watermark dedup and the per-key reduction, both
hash-partitioned on keys that scale with executors.  On a cluster, add
``.repartition("aggregateId")`` before stateful per-key ops to pin
per-aggregate ordering (H5, docs/design.md:511).
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial, reduce

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

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
from ..speccache import per_context
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


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _sink_events(parts: dict[str, DataFrame], name: str, dirs: PipelineDirs,
                 epoch_id: int | None, registry=None,
                 small: bool = False) -> None:
    """Rules fan-out of every table -> validate -> ONE event store append
    + at most one DLQ append per epoch.  The validate split checks
    envelope structure AND the registry's versioned payload contracts
    (A3/F4): a producer emitting a payload that violates the latest
    registered schema for its eventType — required field missing or
    unparseable — lands in dead_letter with a
    ``schema:<subject>:v<N>:<fields>`` reason and a ``schema_version``
    stamp, instead of poisoning the event store.  One table's bad rows
    go to the DLQ while the other tables' events commit in the same
    append.

    The VALIDATED frame is what persists (not the raw rule output): the
    valid append and the DLQ check then read the reason column from
    cache instead of each re-executing the rule branches AND the
    contract expression — the latter is the expensive part of this
    sink's per-batch plan (see registry.violation_expr)."""
    events = with_validation(
        _union([apply_rules(b, t) for t, b in parts.items()]),
        registry).persist()
    try:
        valid = _one_file_if_small(
            events.filter(F.col("invalid_reason").isNull())
            .drop("invalid_reason"), small)
        dlq = events.filter(F.col("invalid_reason").isNotNull())
        # coalesce BEFORE the clustering sort: one globally-sorted file
        # per month beats N task-local sorted slivers for row-group
        # min/max skipping
        _append(store.clustered_store_rows(valid), dirs.events,
                f"events-{name}", epoch_id, dirs, ["event_month"])
        # isEmpty, not limit(1).count(): codegen names each LIMIT
        # counter from a JVM-global id, so every limit(1).count() is
        # fresh source text that Janino compiles again per batch
        if not dlq.isEmpty():
            _append(_one_file_if_small(dlq, small), dirs.dead_letter,
                    f"dlq-{name}", epoch_id, dirs)
    finally:
        events.unpersist()


def _sink_audit(parts: dict[str, DataFrame], name: str, dirs: PipelineDirs,
                epoch_id: int | None, small: bool = False) -> None:
    """Field-level audit trail (F6): every table's field diffs in ONE
    append per epoch (the audit rows have one schema for all tables)."""
    rows = _union([
        field_diff(b, [f.name for f in TABLE_SCHEMAS[t].fields
                       if f.name not in ("created_at", "updated_at")])
        for t, b in parts.items()])
    _append(_one_file_if_small(rows, small), dirs.audit, f"audit-{name}",
            epoch_id, dirs)


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
    The concurrent sink threads are safe either way: every txn staging
    write has a private output path, and on the ad-hoc path (snapshot
    seeding, tests) each thread appends to a different directory."""
    if epoch_id is None:
        dirs.backend.append(df, final_dir, partition_by)
    else:
        dirs.backend.append_exactly_once(df, final_dir, f"{sink}-{epoch_id}",
                                         dirs.txn, partition_by)


def pipeline_name(tables: list[str]) -> str:
    """The name of a table set's query, checkpoint and shared-sink
    tokens: its sorted table names joined with ``+``."""
    return "+".join(sorted(set(tables)))


def _table_rows(batch: DataFrame, table: str, only: bool) -> DataFrame:
    """``table``'s rows of the epoch with ``before`` / ``after`` narrowed
    from the union struct to the table's own row struct — what a parse
    with its ``ENVELOPE_SCHEMAS`` entry gives, field for field.  A NULL
    image stays NULL (``when`` without ``otherwise``)."""
    rows = batch if only else batch.filter(F.col("table") == table)
    own = TABLE_SCHEMAS[table]
    if batch.schema["after"].dataType == own:
        return rows  # a one-table query's parse is already the table's own

    def build() -> dict[str, F.Column]:
        return {c: F.when(F.col(c).isNotNull(),
                          F.struct(*[F.col(c)[f].alias(f)
                                     for f in own.fieldNames()]))
                for c in ("before", "after")}

    return rows.withColumns(
        per_context(("narrow", table, tuple(own.fieldNames())), build))


def process_tables_batch(spark: SparkSession, batch: DataFrame,
                         tables: list[str], dirs: PipelineDirs,
                         epoch_id: int | None = None,
                         registry=None) -> None:
    """The foreachBatch body of the query over ``tables`` — also callable
    on a batch DataFrame directly (the A2 snapshot path uses it for
    op='r' seeding).

    The micro-batch is materialized ONCE via localCheckpoint before the
    multi-sink fan-out.  Each action inside foreachBatch otherwise
    re-executes the full incremental plan INCLUDING the upstream stateful
    dedup — measured: 6 state-store instances per shuffle partition and
    6× state writes for this body's 6 actions; plain persist() does not
    help because every action spawns a fresh IncrementalExecution whose
    plan never cache-matches.  Lineage is cut, so a lost executor fails
    the micro-batch and Structured Streaming replays it from the
    checkpoint (the sinks are idempotent — module docstring).

    The sinks are independent and run CONCURRENTLY (threads just submit
    Spark jobs; the scheduler interleaves them across cores): one events
    (+DLQ) and one audit append for the whole epoch, one state append per
    table present.  Per-micro-batch wall = max(sink) instead of
    sum(sink).  Each sink thread inherits the calling thread's Spark
    local properties, so its jobs carry the query's job group."""
    # the checkpoint's own pass observes what the fan-out asks, with no
    # job of its own: whether to run at all, which tables are present,
    # and the write shape (small batches coalesce each sink's output to
    # one task/file)
    seen = Observation()
    batch = batch.observe(seen, F.count(F.lit(1)).alias("n"),
                          F.collect_set("table").alias("tables")
                          ).localCheckpoint(eager=True)
    n_rows, found = seen.get["n"], seen.get["tables"]
    present = sorted(set(found) & set(tables))
    if not present:
        # availableNow fires a final empty batch to advance the watermark;
        # the state commit still happens upstream — skip the sink fan-out
        # (6 no-op jobs + parquet writes, ~4 s per table, measured).
        return
    if registry is None:
        registry = default_registry()
    name = pipeline_name(tables)
    small = n_rows <= SMALL_BATCH_ROWS
    only = len(found) == 1
    parts = {t: _table_rows(batch, t, only) for t in present}
    sinks = [
        partial(_sink_events, parts, name, dirs, epoch_id, registry, small),
        partial(_sink_audit, parts, name, dirs, epoch_id, small),
    ] + [partial(_sink_state, spark, b, t, dirs, epoch_id, small)
         for t, b in parts.items()]
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futures = [pool.submit(inherit(s)) for s in sinks]
        for f in futures:
            f.result()  # re-raise sink failures -> batch retries


def process_batch(spark: SparkSession, batch: DataFrame, table: str,
                  dirs: PipelineDirs, epoch_id: int | None = None,
                  registry=None) -> None:
    """``process_tables_batch`` for one table: the foreachBatch body of
    that table's own query."""
    process_tables_batch(spark, batch, [table], dirs, epoch_id, registry)


def _refuse_overlapping_checkpoint(dirs: PipelineDirs, tables: list[str],
                                   name: str) -> None:
    """Exactly-once across table sets: a root whose established
    checkpoint belongs to a DIFFERENT set sharing a table would have
    both queries publish that table's rows (each from its own offsets),
    so the new query refuses to start."""
    for other in dirs.backend.established_checkpoints(dirs.checkpoints):
        shared = set(other.split("+")) & set(tables)
        if other != name and shared:
            raise ValueError(
                f"checkpoint {os.path.join(dirs.checkpoints, other)!r} "
                f"already consumes {sorted(shared)} for table set "
                f"{other!r}; a query over {name!r} would publish those "
                f"tables' rows twice. Restart with the same tables, or "
                f"use a fresh root.")


def _reset_stale_txn_markers(dirs: PipelineDirs, name: str,
                             tables: list[str]) -> None:
    """Epoch ids restart at 0 when a query starts from a FRESH checkpoint
    (reset/deleted/new location).  Old commit markers would then match
    the new run's epochs and silently skip every batch's publish.  A
    fresh checkpoint has no offsets log yet — clear the query's markers
    (``events-/dlq-/audit-<name>-`` and ``state-<table>-`` per table) so
    the new run re-publishes from scratch; an existing checkpoint (crash
    restart) keeps its markers, preserving exactly-once replay.

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
                                                        name)):
        return  # established checkpoint: markers are live replay state
    cleared = dirs.backend.clear_markers(
        dirs.txn, [f"{sink}-{name}-" for sink in ("events", "dlq", "audit")]
        + [f"state-{t}-" for t in tables]
    )
    if cleared:
        kept = [d for d in [dirs.events, dirs.audit, dirs.dead_letter]
                + [os.path.join(dirs.state, t) for t in tables]
                if dirs.backend.has_data(d)]
        if kept:
            log.warning(
                "fresh checkpoint for %r but %d commit markers were "
                "cleared while sink dirs %s still hold data: the rerun will "
                "APPEND (previously published epoch files are not replaced "
                "if the rerun batches rows differently). Clear the sinks "
                "too if you intended a clean reprocess.",
                name, len(cleared), kept,
            )


def start_pipeline(
    spark: SparkSession,
    log_dir: str,
    tables: list[str],
    dirs: PipelineDirs,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    source: str = "json",
    per_key_partitions: int | None = None,
    registry=None,
):
    """Start the ONE checkpointed streaming query for a list of source
    tables (module docstring: naming, shared sinks, per-table state).

    ``source="json"`` reads the Debezium-JSON file log; ``source="broker"``
    reads Kafka-record-shaped files through the A1 adapter
    (sources/cdc.py BROKER_RECORD_SCHEMA): subject filter, then one
    ``from_json`` with the union envelope — everything downstream of the
    envelope parse is identical.

    One query has one watermark: a change arriving in a later
    micro-batch more than ``DEDUP_WATERMARK`` behind the newest event
    time of ANY of its tables is dropped as late, as the reference's
    one stream-wide duplicate window would (OPERATIONS.md §2).  A table
    whose sink fails stops the whole query.

    ``per_key_partitions`` (H5, docs/design.md:511): hash-partition the
    micro-batch on the aggregate key so all events of one aggregate land
    in one task — the per-aggregate ordering the reference pins via
    JetStream subject partitioning.  Size it to the executor count on a
    cluster; leave None locally (the per-key groupBys in the sinks
    already co-locate per key for correctness)."""
    tables = sorted(set(tables))
    name = pipeline_name(tables)
    _refuse_overlapping_checkpoint(dirs, tables, name)
    read = read_broker_stream if source == "broker" else read_change_stream
    # the union schema is checked here, before any marker is touched
    stream = read(spark, log_dir, tables, max_files_per_trigger)
    _reset_stale_txn_markers(dirs, name, tables)
    if registry is None:
        # one registry per query, built once — its Column expressions are
        # re-instantiated per batch but the contract map is not
        registry = default_registry()
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
        deduped.writeStream.queryName(f"cdc-{name}")
        .option("checkpointLocation", os.path.join(dirs.checkpoints, name))
        .foreachBatch(
            lambda b, epoch: process_tables_batch(spark, b, tables, dirs,
                                                  epoch, registry))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_table_pipeline(spark: SparkSession, log_dir: str, table: str,
                         dirs: PipelineDirs, **kwargs):
    """``start_pipeline`` for one table (query ``cdc-<table>``,
    checkpoint ``_checkpoints/<table>``)."""
    return start_pipeline(spark, log_dir, [table], dirs, **kwargs)


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

    Starts ONE query over all ``tables`` (``start_pipeline``) and awaits
    it: the log is parsed once and each shared sink is written once per
    epoch, whatever the number of tables.  ``concurrent`` changes
    nothing; it stays so that callers written for the former one query
    per table keep working."""
    dirs = PipelineDirs.under(root, backend=backend)
    # default: every rule table whose source the reference actually
    # ships; source-optional tables (bonuses, stock_grants) run only
    # when asked for explicitly
    names = tables or [t for t in RULES if t not in OPTIONAL_SOURCE_TABLES]
    start_pipeline(spark, log_dir, names, dirs, source=source,
                   registry=registry).awaitTermination()
    return dirs
