"""Shared kernel for the swap-state monitors (the ``_ingest_base.py``
precedent): funnel, engagement, cohort, volume anomaly, approx
engagement and TF-IDF.

All six share one state discipline:

  * ONE swap-written parquet table per monitor: value rows plus a
    single meta row (the meta discriminator column IS NULL).  Value
    rows are NULL in every column outside ``_VALUE_COLS``; the meta row
    holds those columns — ``last_epoch`` always, plus any monitor-level
    scalar (the TF-IDF monitor's ``n_docs``).  State and meta swap
    atomically, so there is no window where the rows reflect an epoch
    the meta does not;
  * exactly-once fold: a replayed micro-batch compares its epoch id
    against ``last_epoch`` and no-ops; an ad-hoc fold (no epoch id)
    keeps ``last_epoch``.  The distinct and HLL-union merges are also
    idempotent, so even an ad-hoc double-fold cannot corrupt them; the
    count-summing merges (anomaly, TF-IDF) rely on the epoch guard
    alone;
  * memoized meta row: every state mutation goes through one instance,
    so ``last_epoch`` (and the TF-IDF ``meta``) run no Spark job after
    the first read, and none at all on a root with no state yet;
  * fresh-checkpoint half-reset (``reset_epoch_guard``): a stream
    restarted from a NEW checkpoint (epoch ids restart at 0) keeps
    folding into the accumulated state;
  * ``start``: foreachBatch wiring with the checkpoint-established
    guard.

Subclasses define the state shape (``_STATE_SCHEMA`` /
``_VALUE_COLS`` / ``_META_COL``), the per-batch projection
(``_batch_rows``) and the scoring; ``_post_merge`` carries the
merge itself where a distinct is not it (funnel dominance pruning,
anomaly / TF-IDF count sums, approx HLL union).  The TF-IDF monitor
keeps its own ``process_batch`` body (drift report, ``n_docs``) around
the shared ``_new_batch`` guard and ``_fold``.  The monitor-specific
state bounds (``compact`` / ``expire_before``) stay in the subclasses —
their exactness arguments are monitor-specific — but write back
through the shared ``_swap_state``.

``TopKMonitor`` is deliberately not a subclass: its state has no meta
row and no epoch guard (see its module docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DataType

from ..io import local_frame
from .state_backend import LocalFSBackend, StateBackend


class SwapStateMonitor:
    """State plumbing shared by the swap-state monitors.  Class
    attributes each subclass pins:

    ``_STATE_SUBDIR``  state directory name under the monitor root
    ``_QUERY_NAME``    writeStream queryName
    ``_STATE_SCHEMA``  DDL of value columns, then the meta columns
                       (``last_epoch`` and any monitor-level scalar)
    ``_VALUE_COLS``    the value column names
    ``_META_COL``      value column whose NULL marks the meta row
    """

    _STATE_SUBDIR: str
    _QUERY_NAME: str
    _STATE_SCHEMA: str
    _VALUE_COLS: tuple[str, ...]
    _META_COL: str

    def __init__(self, root: str, backend: StateBackend | None = None,
                 ts_col: str = "ts", user_col: str = "user_id"):
        self.backend = backend or LocalFSBackend()
        self.state_dir = os.path.join(root, self._STATE_SUBDIR)
        self.checkpoint_dir = os.path.join(root, "_checkpoints")
        self.ts_col = ts_col
        self.user_col = user_col
        # single-writer meta memo: every state mutation goes through
        # this instance (_swap_state), so after the first read the
        # guard needs no per-batch Spark job over the state parquet — a
        # measured ~1-2 s of pure scheduling per micro-batch (BENCHLOG
        # round-12).  A fresh instance (restart, concurrent reader)
        # starts cold and reads the state file, the single source of
        # truth.
        self._meta_memo: dict | None = None

    # -- reads ---------------------------------------------------------
    def _state(self, spark: SparkSession) -> DataFrame:
        self.backend.recover(self.state_dir)
        if not self.backend.has_data(self.state_dir):
            return local_frame(spark, [], self._STATE_SCHEMA)
        return self._read_state(spark)

    def _read_state(self, spark: SparkSession) -> DataFrame:
        # schema given: the kernel wrote the file with exactly this
        # schema, so a read skips parquet's schema-inference job (one
        # per read, three per fold of the publish queries)
        return spark.read.schema(self._STATE_SCHEMA).parquet(self.state_dir)

    def state_rows(self, spark: SparkSession) -> DataFrame:
        """The accumulated value rows (meta row excluded)."""
        return (self._state(spark)
                .filter(F.col(self._META_COL).isNotNull())
                .select(*self._VALUE_COLS))

    def _meta(self, spark: SparkSession) -> dict:
        """The meta row as {meta column: value};
        ``{"last_epoch": -1}`` before the first state write."""
        if self._meta_memo is None:
            self.backend.recover(self.state_dir)
            # fresh monitor: no state table yet, so skip the Spark job
            # entirely — a .first() even on the EMPTY substitute frame
            # costs ~0.8-1.1 s of pure job machinery (measured r13,
            # BENCHLOG); the missing meta row means exactly the default
            row = None
            if self.backend.has_data(self.state_dir):
                row = (self._read_state(spark)
                       .filter(F.col(self._META_COL).isNull())
                       .drop(*self._VALUE_COLS).first())
            self._meta_memo = row.asDict() if row else {"last_epoch": -1}
        return self._meta_memo

    def last_epoch(self, spark: SparkSession) -> int:
        return self._meta(spark)["last_epoch"]

    # -- subclass hooks --------------------------------------------------
    def _batch_rows(self, events: DataFrame) -> DataFrame:
        """One micro-batch projected to the state's value columns."""
        raise NotImplementedError

    def _post_merge(self, merged: DataFrame) -> DataFrame:
        """Hook between the union (plus distinct, see
        ``_MERGE_DISTINCT``) and the state write: the funnel's dominance
        pruning, the count sums, the HLL union; identity elsewhere."""
        return merged

    # -- writes ----------------------------------------------------------
    def _swap_state(self, spark: SparkSession, rows: DataFrame,
                    **meta) -> None:
        """Atomically replace the state with ``rows`` + the meta row,
        updated by ``meta`` (no ``meta`` keeps it as is) — the one
        write path every state mutation (fold, compaction, expiry,
        guard reset) goes through."""
        meta = {**self._meta(spark), **meta}
        schema = DataType.fromDDL(self._STATE_SCHEMA)
        meta_row = local_frame(
            spark, [tuple(meta.get(c) for c in schema.names)], schema)
        # The meta row is a LocalRelation (``local_frame``).  Built by
        # createDataFrame on a Python list it was a pickled Python RDD
        # whose Python-worker tasks ran on every swap: 1.4-1.6 worker
        # CPU-s per fold of the monitor_*_publish queries (sf0.1, 4
        # cores, ``tools/opt_probe.py --jobs``), now 0.
        # repartition(1), NOT coalesce(1): coalescing a union of a
        # shuffle branch and that pickled meta frame measured ~4.7 s per
        # micro-batch vs ~0.6 s with an explicit 1-partition shuffle —
        # same single state file either way (BENCHLOG round-12); not
        # re-measured over the LocalRelation.
        # No lineage break before the write: every backend stages the
        # new generation to a FRESH path (LocalFS ``.staging`` dir /
        # a new generation dir) before atomically installing it, so the
        # plan's read of the current state parquet races nothing — the
        # eager localCheckpoint this replaced was a full extra
        # materialization pass per micro-batch (~0.4 s, BENCHLOG
        # round-12).  allowMissingColumns NULLs the meta columns on the
        # value rows.
        self.backend.swap_write(
            rows.select(*self._VALUE_COLS)
            .unionByName(meta_row, allowMissingColumns=True)
            .repartition(1),
            self.state_dir)
        self._meta_memo = meta

    #: whether the fold needs an explicit distinct between the union and
    #: ``_post_merge`` — monitors whose ``_post_merge`` already collapses
    #: duplicates (the funnel's per-user collect_set) or must not lose
    #: them (count sums) opt out; skipping it saves a full exchange per
    #: fold (two operations keyed the same way share one exchange)
    _MERGE_DISTINCT = True

    def _new_batch(self, spark: SparkSession, events: DataFrame,
                   epoch_id: int | None) -> DataFrame | None:
        """``events`` lazily checkpointed, or None when the batch is
        empty or a replay of an already-folded epoch."""
        # LAZY checkpoint: the batch is consumed at most twice (the
        # emptiness probe's limit-1 scan, then the merge's full pass,
        # which materializes the cache as it goes) — the eager form
        # paid a dedicated full materialization job per fold before
        # either consumer ran (~0.15 s of pure scheduling at sf0.1)
        events = events.localCheckpoint(eager=False)
        if events.isEmpty():
            return None
        if epoch_id is not None and epoch_id <= self.last_epoch(spark):
            return None  # replayed micro-batch: already folded into state
        return events

    def _fold(self, spark: SparkSession, batch: DataFrame,
              epoch_id: int | None, **meta) -> None:
        """Merge value rows ``batch`` into the state.  Ad-hoc
        (epoch-less) folds PRESERVE ``last_epoch``: resetting it would
        let a later replay of an already-folded epoch pass the guard."""
        merged = self.state_rows(spark).unionByName(batch)
        if self._MERGE_DISTINCT:
            merged = merged.distinct()
        if epoch_id is not None:
            meta["last_epoch"] = epoch_id
        self._swap_state(spark, self._post_merge(merged), **meta)

    def process_batch(self, spark: SparkSession, events: DataFrame,
                      epoch_id: int | None = None) -> None:
        events = self._new_batch(spark, events, epoch_id)
        if events is not None:
            self._fold(spark, self._batch_rows(events), epoch_id)

    def reset_epoch_guard(self, spark: SparkSession) -> None:
        """Clear ``last_epoch`` so a stream restarted from a FRESH
        checkpoint (epoch ids restart at 0) keeps folding into the
        accumulated state — the _ingest_base half-reset contract."""
        self.backend.recover(self.state_dir)
        if self.backend.has_data(self.state_dir):
            self._swap_state(spark, self.state_rows(spark), last_epoch=-1)

    def start(self, spark: SparkSession, stream: DataFrame,
              available_now: bool = True):
        if not self.backend.checkpoint_established(self.checkpoint_dir):
            self.reset_epoch_guard(spark)
        writer = (
            stream.writeStream.queryName(self._QUERY_NAME)
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(lambda b, e: self.process_batch(spark, b, e))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
