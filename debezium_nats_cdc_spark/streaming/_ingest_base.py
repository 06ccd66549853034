"""Shared scaffolding for the incremental dedup ingest pipelines.

corpus_dedup (text, MinHash band index) and embedding_dedup (vectors,
hyperplane bucket index) each own four things: a sketch, a probe join
against the index, a score column and a threshold.  Everything else
lives here ONCE, so a fix in either ingest path (the r6 review found two
bugs duplicated across both) cannot drift from the other: the batch
resolve (_resolve_batch — intra-batch pairs from the batch dedup
operators' capped kernel, operators/dedup._candidate_pairs, best-of
over probe and intra matches, pointer-jumped dup chains), a
format-stamped append-only index with torn-compaction healing, three
exactly-once sinks through the txn/StateBackend seam, threshold
compaction and a stale-marker reset contract at start.
"""

from __future__ import annotations

import logging
import os
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .state_backend import LocalFSBackend, StateBackend

log = logging.getLogger(__name__)


def pointer_jump(best: DataFrame) -> DataFrame:
    """Rewrite (doc_id, dup_of, score) rows until every non-NULL dup_of
    is terminal within the set.  Converges because intra-batch targets
    strictly decrease (keeper < member within a pair) and probe targets
    are already-accepted index entries.  Materializes ONCE up front and
    after each jump: every convergence probe is a Spark action, and an
    un-checkpointed frame would re-run the whole probe-join +
    pair-expansion lineage per probe AND again at the caller's final
    action (r6 review finding)."""
    best = best.localCheckpoint(eager=True)
    for _ in range(8):
        targets = best.filter(F.col("dup_of").isNotNull()).select(
            F.col("doc_id").alias("t_id"), F.col("dup_of").alias("t_dup"))
        jumped = best.join(targets, best["dup_of"] == targets["t_id"], "left")
        if jumped.filter(F.col("t_dup").isNotNull()).isEmpty():
            break
        best = jumped.withColumn(
            "dup_of", F.coalesce("t_dup", F.col("dup_of"))
        ).drop("t_id", "t_dup").localCheckpoint(eager=True)
    return best


def _best_of(matches: DataFrame, score_name: str) -> DataFrame:
    # best match = highest score, ties to the lowest target id
    return matches.groupBy("doc_id").agg(
        F.max_by("dup_of", F.struct(F.col(score_name), -F.col("dup_of"))
                 ).alias("dup_of"),
        F.max(score_name).alias(score_name),
    )


def _resolve_batch(rows: DataFrame, key_cols: list[str], extras: list[str],
                   probe: DataFrame | None, score_name: str, score: Column,
                   threshold: float, op: str) -> DataFrame:
    """Resolve one ingest batch: (doc_id, dup_of, <score_name>) with
    dup_of NULL for accepted docs.

    ``rows`` are the batch's bucket rows (key_cols…, doc_id, extras…);
    ``probe`` is the caller's batch-vs-index equi-join as pairs
    (doc_a = index id, doc_b = batch id, a_<extra>…, b_<extra>…), or
    None before the first accepted batch.  ``score`` is one Column over
    the a_*/b_* pair columns, kept where it reaches ``threshold``.

    Intra-batch pairs come from the batch dedup operators' capped kernel
    (operators/dedup._candidate_pairs): an over-cap bucket degrades to
    ANCHOR pairing (every member vs the bucket's min-id doc, O(k) as a
    plain projection) and is never dropped, because an ingest dedup must
    not let duplicates through; ``bucket_drop_stats(op)`` reports that
    fallback.  An intra dup's keeper is its lowest-id match; a probe
    hit's target is its best index match (the index doc always wins —
    it arrived first).

    dup_of must point at an ACCEPTED doc, but the best match can still
    target a doc that is itself quarantined this batch: the anchor-capped
    case (a member's only pair is its bucket anchor, and the anchor
    duplicates the index) and the cross-bucket case (the member's keeper
    was matched through a DIFFERENT bucket).  pointer_jump rewrites both
    until every target is terminal.  The recorded score stays the
    member's own score against its direct match — a proxy for
    member-vs-final-target (both cleared the threshold against a shared
    near-identical item)."""
    from ..operators.dedup import _candidate_pairs

    def scored(pairs: DataFrame) -> DataFrame:
        return (pairs.dropDuplicates(["doc_a", "doc_b"])
                .withColumn(score_name, score)
                .filter(F.col(score_name) >= threshold))

    matches = scored(_candidate_pairs(rows, key_cols, extras, op)).groupBy(
        F.col("doc_b").alias("doc_id")).agg(
        F.min("doc_a").alias("dup_of"),
        F.max(score_name).alias(score_name),
    )
    if probe is not None:
        probe_best = _best_of(scored(probe).select(
            F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("dup_of"),
            score_name), score_name)
        matches = probe_best.unionByName(matches)
    all_ids = rows.select("doc_id").distinct()
    return all_ids.join(pointer_jump(_best_of(matches, score_name)),
                        "doc_id", "left")


class FormatStampedIndexIngest:
    """Base for foreachBatch dedup ingests with an on-disk sketch index.

    Subclasses set ``QUERY_NAME``, ``INDEX_DIR_NAME``, ``INDEX_NOUN``
    and implement ``process_batch`` plus ``_format()`` /
    ``_compact_threshold()`` (reading their module globals so tests can
    monkeypatch them)."""

    QUERY_NAME: str = "dedup-ingest"
    INDEX_DIR_NAME: str = "index"
    INDEX_NOUN: str = "sketch index"
    FORMAT_NOUN: str = "sketch format"

    def __init__(self, root: str, backend: StateBackend | None = None):
        self.root = root
        self.index_dir = os.path.join(root, self.INDEX_DIR_NAME)
        self.accepted_dir = os.path.join(root, "accepted")
        self.quarantine_dir = os.path.join(root, "quarantine")
        self.checkpoint_dir = os.path.join(root, "_checkpoints")
        self.txn_dir = os.path.join(root, "_txn")
        self.backend = backend or LocalFSBackend()

    # -- subclass contract -------------------------------------------
    def _format(self) -> str:
        raise NotImplementedError

    def _compact_threshold(self) -> int:
        raise NotImplementedError

    def process_batch(self, spark: SparkSession, df: DataFrame,
                      epoch_id: int | None = None) -> None:
        raise NotImplementedError

    # -- shared machinery --------------------------------------------
    def _index(self, spark: SparkSession) -> DataFrame | None:
        if not self.backend.has_data(self.index_dir):
            return None
        marker = Path(self.index_dir, "._format")
        stamped = marker.read_text() if marker.exists() else "<none>"
        if stamped != self._format():
            raise ValueError(
                f"{self.INDEX_NOUN} at {self.index_dir} was built with "
                f"{self.FORMAT_NOUN} {stamped!r}, engine now uses "
                f"{self._format()!r} — sketches from different families "
                "never collide, so probing would silently accept every "
                "near-duplicate. Rebuild the index (reprocess the corpus) "
                "or pin the old engine."
            )
        return spark.read.parquet(self.index_dir)

    def _stamp_format(self) -> None:
        marker = Path(self.index_dir, "._format")
        if not marker.exists():
            marker.parent.mkdir(parents=True, exist_ok=True)
            marker.write_text(self._format())

    def _maybe_compact_dir(self, spark: SparkSession, d: str) -> bool:
        """Coalesce an append-only state dir (the index, or a sibling
        such as the vectors-once store) once its file count passes the
        threshold.  Safe under epoch replay: exactly-once is keyed on
        commit MARKERS in txn_dir (outside the data dirs), so a replayed
        epoch after compaction is skipped, not re-appended; the format
        stamp is re-written because swap_write replaces the directory.
        Coalesce explicitly: Spark's leaf parallelism floor keeps tiny
        files in separate partitions, so an un-coalesced rewrite would
        preserve the file count.  ~8x per compaction amortizes to O(log)
        rewrites of any prefix.  Returns True iff a compaction ran —
        callers gate post-compaction audits (e.g. embedding_dedup strict
        consistency) on it so the audit cost is paid only when the
        directory was actually replaced."""
        n_files = self.backend.data_file_count(d)
        if n_files < self._compact_threshold():
            return False
        target = max(1, n_files // 8)
        self.backend.swap_write(
            spark.read.parquet(d).coalesce(target), d,
        )
        if d == self.index_dir:
            self._stamp_format()
        return True

    def _append(self, df: DataFrame, final_dir: str, sink: str,
                epoch_id: int | None) -> None:
        if epoch_id is None:  # ad-hoc batch call — no replay to guard
            self.backend.append(df, final_dir)
        else:
            self.backend.append_exactly_once(df, final_dir,
                                             f"{sink}-{epoch_id}",
                                             self.txn_dir)

    def start(self, spark: SparkSession, stream: DataFrame,
              available_now: bool = True):
        # fresh checkpoint => epoch ids restart at 0; stale commit
        # markers from a previous run would silently skip every publish.
        # Same reset contract as pipeline._reset_stale_txn_markers: a
        # checkpoint reset that KEEPS sink/index data is a half-reset —
        # warn, because rerun epochs that batch differently will append
        # alongside the old token files instead of replacing them.
        if not self.backend.checkpoint_established(self.checkpoint_dir):
            cleared = self.backend.clear_markers(self.txn_dir, [""])
            if cleared:
                kept = [d for d in (self.accepted_dir, self.quarantine_dir,
                                    self.index_dir)
                        if self.backend.has_data(d)]
                if kept:
                    log.warning(
                        "fresh %s checkpoint but %d commit markers were "
                        "cleared while %s still hold data: the rerun will "
                        "APPEND. Clear those dirs too for a clean "
                        "reprocess.", self.QUERY_NAME, len(cleared), kept,
                    )
        writer = (
            stream.writeStream.queryName(self.QUERY_NAME)
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(lambda b, e: self.process_batch(spark, b, e))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
