"""Transactional micro-batch appends (SURVEY.md §2.F5 delivery contract).

Structured Streaming replays a failed micro-batch from the last
checkpoint.  A plain ``mode("append")`` sink then re-commits rows that
already landed before the crash — at-least-once, not the store-first
exactly-once ordering the reference promises (docs/design.md:570-583:
events are durable in the store exactly once before downstream fan-out).

This module closes that gap with an epoch-keyed commit protocol, the
local-FS analog of a Delta/Iceberg transactional append.  Per
``(sink, table, epoch_id)`` token:

1. commit marker exists -> no-op (the batch already fully published);
2. write the batch to a private staging dir (``mode=overwrite`` — a
   replayed half-written staging is simply rewritten);
3. delete any final files carrying this token (a crashed half-publish);
4. move staged files into the final layout under deterministic
   token-tagged names (``os.replace``, partition dirs preserved);
5. atomically create the marker (write-temp + rename).

A crash between any two steps converges on replay: before the marker
exists the whole publish re-runs idempotently (steps 3-4 are cleanup +
atomic renames), after it exists the append is skipped.  Readers can
observe a mid-publish prefix of a batch's files; the pre-existing
append path had the same visibility window (Spark's file committer
renames task files one by one), so this is no weaker for readers and
strictly stronger for replays.

Because every staging write targets its own directory, concurrent
sink threads (and queries over disjoint table sets) never share an
output path — the shared ``_temporary`` corruption that forced the old
driver-side sink lock cannot occur, and the lock is gone.

At cluster scale the same protocol is one ``MERGE``/transactional
append on a table format; the token doubles as the idempotency key.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame


def append_exactly_once(
    df: DataFrame,
    final_dir: str,
    token: str,
    txn_dir: str,
    partition_by: list[str] | None = None,
) -> bool:
    """Publish ``df`` into ``final_dir`` exactly once for this token.

    Returns True if the batch was published, False if the token was
    already committed (micro-batch replay).  ``txn_dir`` holds staging
    dirs and commit markers; it must live OUTSIDE ``final_dir`` so
    state-table compaction/swap rewrites never erase commit history.
    """
    os.makedirs(txn_dir, exist_ok=True)
    marker = os.path.join(txn_dir, token + ".commit")
    if os.path.exists(marker):
        return False
    staging = os.path.join(txn_dir, token + ".staging")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    _publish(staging, final_dir, token)
    _write_marker(marker)
    return True


def committed(token: str, txn_dir: str) -> bool:
    return os.path.exists(os.path.join(txn_dir, token + ".commit"))


def _publish(staging: str, final_dir: str, token: str) -> None:
    src_root = Path(staging)
    dest_root = Path(final_dir)
    if dest_root.exists():
        # a crashed prior publish of this token left a file prefix —
        # remove it so the republish is exact, not additive
        for stale in dest_root.rglob(token + "-*"):
            stale.unlink()
    files = sorted(
        p for p in src_root.rglob("*")
        if p.is_file() and not p.name.startswith(("_", "."))
    )
    for i, src in enumerate(files):
        dest_dir = dest_root / src.parent.relative_to(src_root)
        dest_dir.mkdir(parents=True, exist_ok=True)
        os.replace(src, dest_dir / f"{token}-{i:05d}.parquet")
    shutil.rmtree(staging, ignore_errors=True)


def _write_marker(marker: str) -> None:
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8"):
        pass
    os.replace(tmp, marker)
