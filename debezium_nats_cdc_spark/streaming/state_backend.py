"""Pluggable persistence backend for pipeline state and exactly-once sinks.

The streaming pipeline's durability machinery — the LSM-shaped state log
with compaction swap, crash healing, and the epoch-keyed exactly-once
commit protocol (SURVEY §2.H1/F5) — is expressed against this small
interface instead of the POSIX filesystem directly.  ``pipeline.py`` and
``corpus_dedup.py`` perform no filesystem operations of their own, so
replacing this object is the entire porting surface for a cluster store.

Backend mapping guide:

- ``LocalFSBackend`` (default, this container): atomic POSIX renames.
  ``swap_write`` is a staging-dir swap, ``append_exactly_once`` publishes
  token-named files guarded by marker files (streaming/txn.py).
- A table-format backend (Delta / Iceberg / Hudi) at cluster scale:
  ``swap_write`` becomes REPLACE TABLE (one metadata commit),
  ``append_exactly_once`` a transactional append carrying the token as
  idempotency key in commit metadata (skip if a commit with the token
  exists), ``recover`` a no-op (readers can never observe a torn swap
  under snapshot isolation), and ``data_file_count`` reads the format's
  own file statistics.  Markers live in the table's commit log, so
  ``clear_markers`` maps to nothing — epoch tokens are naturally scoped
  to the table's history.
"""

from __future__ import annotations

import abc
import glob
import os
import shutil

from pyspark.sql import DataFrame

from . import txn as _txn


class StateBackend(abc.ABC):
    """Contract between the streaming pipeline and durable storage.

    All paths are opaque table identifiers chosen by the pipeline; only
    the backend interprets them (directories here, table names on a
    catalog-backed implementation).
    """

    @abc.abstractmethod
    def ensure_dir(self, path: str) -> None:
        """Create the storage location if absent (idempotent)."""

    @abc.abstractmethod
    def data_file_count(self, table_dir: str) -> int:
        """Number of data files in a state log — the compaction trigger.
        0 when the table does not exist."""

    @abc.abstractmethod
    def data_rows(self, table_dir: str) -> int:
        """Total row count of the table from STORAGE METADATA only —
        parquet footers here, a catalog statistic on a table-format
        backend; 0 when the table does not exist.  Must not run a
        Spark job: this is the state-size guard's per-fold poll
        (``EngagementMonitor.maybe_handoff``), the ``maybe_compact``
        names-only cheapness discipline."""

    @abc.abstractmethod
    def swap_write(self, df: DataFrame, table_dir: str) -> None:
        """Atomically replace the table's contents with ``df``.
        Must be crash-safe: a reader either sees the old or the new
        generation, never a partial write, and a crash mid-swap is
        healed by ``recover``."""

    @abc.abstractmethod
    def recover(self, table_dir: str) -> None:
        """Heal a crash inside a previous ``swap_write`` (no-op when the
        table is healthy or the backend's swaps are naturally atomic)."""

    @abc.abstractmethod
    def append_exactly_once(self, df: DataFrame, table_dir: str, token: str,
                            txn_dir: str,
                            partition_by: list[str] | None = None) -> bool:
        """Append ``df`` at most once per ``token`` (micro-batch replay
        re-publishes identical content or is skipped).  Returns False
        when the token was already committed."""

    @abc.abstractmethod
    def append(self, df: DataFrame, table_dir: str,
               partition_by: list[str] | None = None) -> None:
        """Plain append for ad-hoc batch callers (no replay to guard)."""

    @abc.abstractmethod
    def committed(self, token: str, txn_dir: str) -> bool:
        """Whether ``token`` has a commit record."""

    @abc.abstractmethod
    def checkpoint_established(self, checkpoint_dir: str) -> bool:
        """Whether a Structured Streaming checkpoint at this location has
        recorded at least one offsets entry (i.e. epoch ids will resume,
        not restart at 0)."""

    @abc.abstractmethod
    def established_checkpoints(self, checkpoints_root: str) -> list[str]:
        """Names of the established checkpoints (``checkpoint_established``)
        directly under ``checkpoints_root``, sorted; [] when it does not
        exist."""

    @abc.abstractmethod
    def clear_markers(self, txn_dir: str, prefixes: list[str]) -> list[str]:
        """Remove commit markers/staging whose token starts with any of
        ``prefixes``.  Returns what was removed (for caller logging)."""

    @abc.abstractmethod
    def has_data(self, table_dir: str) -> bool:
        """Whether the table currently holds any data files."""


class LocalFSBackend(StateBackend):
    """POSIX-rename implementation (single-node / shared-FS deployments).

    Stateless: safe to share one instance across tables and threads —
    atomicity comes from the filesystem primitives, not object state.
    """

    def ensure_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def data_file_count(self, table_dir: str) -> int:
        try:
            return sum(1 for f in os.listdir(table_dir)
                       if f.endswith(".parquet"))
        except FileNotFoundError:
            return 0

    def data_rows(self, table_dir: str) -> int:
        import pyarrow.parquet as pq

        # recursive, like has_data: a table written with
        # append(partition_by=...) keeps its files in partition
        # subdirectories, and the contract promises the TABLE's count,
        # not the top level's (code-review r15).  `_`/`.`-prefixed
        # dirs and files are PRUNED: Spark's committer stages in-flight
        # task files under `_temporary/` with half-written footers a
        # concurrent poll must not open (only atomically-committed
        # names count — the index_fs count_files convention).
        # followlinks stays False so a subdir cycle cannot loop.
        n = 0
        for r, dirs, files in os.walk(table_dir):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            n += sum(
                pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
                for f in files
                if f.endswith(".parquet")
                and not f.startswith(("_", ".")))
        return n

    def swap_write(self, df: DataFrame, table_dir: str) -> None:
        """Overwrite via staging-dir swap (idempotent publish).

        Writing to the directory being read is unsafe; write to a
        sibling staging dir, then swap.  Crash-safe: a stale ``.old``
        from a prior crash is cleared before the swap (rename onto it
        would fail ENOTEMPTY), and the brief missing-dir window between
        the two renames is healed by ``recover``.  A CONCURRENT reader
        that observes that window may promote our completed staging dir
        itself (its read path calls ``recover``) — the final rename then
        finds staging gone with the table already in place, which is
        success, not failure.
        """
        staging = table_dir + ".staging"
        old = table_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
        df.write.mode("overwrite").parquet(staging)
        if os.path.exists(table_dir):
            os.rename(table_dir, old)
        try:
            os.rename(staging, table_dir)
        except FileNotFoundError:
            if not os.path.exists(table_dir):
                raise  # staging truly lost — surface it, don't swallow
        shutil.rmtree(old, ignore_errors=True)

    def recover(self, table_dir: str) -> None:
        """If the table dir is missing (crash between ``swap_write``'s
        renames), restore the complete staging generation (preferred —
        it is newer; ``_SUCCESS`` proves the write finished) or the
        displaced ``.old``."""
        if os.path.exists(table_dir):
            return
        staging = table_dir + ".staging"
        old = table_dir + ".old"
        if os.path.exists(os.path.join(staging, "_SUCCESS")):
            os.rename(staging, table_dir)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.exists(old):
            os.rename(old, table_dir)

    def append_exactly_once(self, df: DataFrame, table_dir: str, token: str,
                            txn_dir: str,
                            partition_by: list[str] | None = None) -> bool:
        return _txn.append_exactly_once(df, table_dir, token, txn_dir,
                                        partition_by)

    def append(self, df: DataFrame, table_dir: str,
               partition_by: list[str] | None = None) -> None:
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(table_dir)

    def committed(self, token: str, txn_dir: str) -> bool:
        return _txn.committed(token, txn_dir)

    def checkpoint_established(self, checkpoint_dir: str) -> bool:
        offsets = os.path.join(checkpoint_dir, "offsets")
        return os.path.isdir(offsets) and bool(os.listdir(offsets))

    def established_checkpoints(self, checkpoints_root: str) -> list[str]:
        try:
            names = sorted(os.listdir(checkpoints_root))
        except FileNotFoundError:
            return []
        return [n for n in names if self.checkpoint_established(
            os.path.join(checkpoints_root, n))]

    def clear_markers(self, txn_dir: str, prefixes: list[str]) -> list[str]:
        removed: list[str] = []
        for prefix in prefixes:
            for p in glob.glob(os.path.join(txn_dir, glob.escape(prefix) + "*")):
                (shutil.rmtree if os.path.isdir(p) else os.remove)(p)
                removed.append(p)
        return removed

    def has_data(self, table_dir: str) -> bool:
        try:
            return any(
                f.endswith(".parquet") for _, _, fs in os.walk(table_dir)
                for f in fs
            )
        except FileNotFoundError:
            return False

