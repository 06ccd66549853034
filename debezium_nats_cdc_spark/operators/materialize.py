"""CDC materialization — latest-state-per-key (SURVEY.md §2.H1/E2).

THE semantic heart of CDC: apply a c/u/d/r change stream to maintain the
queryable current state of each source table (reference op semantics
docs/cdc-guide.md:137-149; event-sourcing goal docs/system-design.md:718).

Batch form: one window (partition by pk, order by event-time desc) —
a single hash shuffle on the key, no global sort, linear in executors.

Incremental form (foreachBatch): reduce the micro-batch to its last
event per key, then merge into the state table.  The state table carries
version columns (_ts_ms, _change_key) and the merge is VERSION-AWARE:
a row only wins if its version is newer than the stored one.  This is
load-bearing under at-least-once delivery — a stale duplicate redelivered
in a LATER micro-batch must not overwrite newer state (found by the
model-based property test, tests/test_materialize_property.py).

Without Delta/Iceberg MERGE, the streaming state table is an LSM: each
micro-batch appends its reduced rows (streaming/pipeline._sink_state),
and past a file-count threshold the table is compacted to one row per
key and rewritten through ``StateBackend.swap_write``
(pipeline._maybe_compact); re-processing any batch converges to the
same state (F5 contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

VERSION_COLS = ["_ts_ms", "_change_key"]


def _reduce_last_per_key(df: DataFrame) -> DataFrame:
    """Last event per key by (ts_ms, change_key) — deterministic total
    order even when redeliveries tie on ts_ms."""
    from ..speccache import per_context

    rn = per_context("materialize.reduce_rn", lambda: F.row_number().over(
        W.partitionBy("pk").orderBy(F.desc("_ts_ms"), F.desc("_change_key"))
    ))
    return df.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")


def batch_latest_with_deletes(unwrapped: DataFrame) -> DataFrame:
    """Micro-batch reduced to its newest event per key, deletes kept —
    the merge_state input.  Columns: pk, op, after, _ts_ms, _change_key.
    Select-list cached per SparkContext (per-micro-batch path —
    speccache.py)."""
    from ..speccache import per_context

    cols = per_context("materialize.batch_latest", lambda: [
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("pk"),
        F.col("op"),
        F.col("after"),
        F.col("ts_ms").alias("_ts_ms"),
        F.col("change_key").alias("_change_key"),
    ])
    return _reduce_last_per_key(unwrapped.select(*cols))


def latest_state(unwrapped: DataFrame) -> DataFrame:
    """One-shot materialization: current rows only (no version columns)."""
    return (
        batch_latest_with_deletes(unwrapped)
        .filter(F.col("op") != "d")
        .select("after.*")
    )


def initial_state(batch_latest: DataFrame) -> DataFrame:
    """Batch candidates -> state-LOG rows (row fields + version +
    tombstone flag).  Deletes are KEPT as tombstones: under at-least-once
    delivery a stale insert redelivered later must find the newer delete
    and lose — dropping tombstones would resurrect deleted keys (found by
    the property test).  GC them after the redelivery window via
    expire_tombstones."""
    return batch_latest.select(
        "after.*",
        F.col("pk").alias("_pk"),
        *VERSION_COLS,
        (F.col("op") == "d").alias("_deleted"),
    )


META_COLS = ["_pk", *VERSION_COLS, "_deleted"]


def reduce_state(state: DataFrame) -> DataFrame:
    """Collapse a state LOG to its newest row/tombstone per key.

    The physical state table is LSM-shaped: each micro-batch APPENDS its
    initial_state rows (O(batch), never O(state) — the reference SLO is
    < 2 s per micro-batch, docs/system-design.md:328), duplicates from
    at-least-once replays included; this reduction is run at read time
    and at compaction.  Idempotent: reducing a reduced state is a no-op.
    Exact replay duplicates tie on (_ts_ms, _change_key) and are
    identical rows, so either winner yields the same state."""
    w = W.partitionBy("_pk").orderBy(F.desc("_ts_ms"), F.desc("_change_key"))
    return (
        state.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def current_rows(state: DataFrame) -> DataFrame:
    """The queryable view of a state table/log: newest version per key,
    live rows only, no meta columns."""
    return reduce_state(state).filter(~F.col("_deleted")).drop(*META_COLS)


def merge_state(current: DataFrame, batch_latest: DataFrame) -> DataFrame:
    """Version-aware MERGE: among {stored rows/tombstones, batch
    candidates} per key, the newest (_ts_ms, _change_key) wins — one
    union + the same last-per-key reduction, one shuffle on the key."""
    return reduce_state(current.unionByName(initial_state(batch_latest)))


def expire_tombstones(state: DataFrame, older_than_ms: int,
                      now_ms: int) -> DataFrame:
    """Drop tombstones past the redelivery horizon (the broker's 120 s
    duplicate window plus slack) — bounds state growth; a delete older
    than the horizon can no longer be contradicted by a redelivery."""
    return state.filter(
        ~F.col("_deleted") | (F.col("_ts_ms") > now_ms - older_than_ms)
    )
