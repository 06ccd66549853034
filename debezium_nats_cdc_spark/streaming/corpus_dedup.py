"""Streaming corpus dedup: incremental MinHash-LSH over a document stream.

The batch dedup operators (operators/dedup.py) answer "which docs in
this corpus are near-dups of each other".  A training-data INGEST
pipeline asks the streaming form: as new documents arrive, which are
near-dups of anything seen before — emit the fresh ones, quarantine the
duplicates, and grow the index.  This is the content-addressed analog of
the reference's broker dedup window (config/nats/stream.json:14), with
"same message id" generalized to "same-enough text", and the window
widened to forever.

Design (scales like the batch LSH path — no cross join anywhere):
- The accumulated state is a BAND INDEX: (band_id, band_hash, doc_id,
  sig) rows for every accepted document, stored as an append-only
  parquet log partitioned the same way every batch's probe join shuffles
  — at 100 TB this is a bucketed table co-located with the probe.
- Per micro-batch: signature the batch once (md5 double-hashed
  minhashes, operators/dedup.py) and probe the index with an equi-join
  on (band_id, band_hash) — candidate pairs only materialize for band
  collisions, verified by signature Jaccard.  Batch-internal dups come
  from the batch operators' capped candidate-pair kernel
  (dedup._candidate_pairs, lowest doc_id wins, over-cap buckets degrade
  to anchor pairing), and the shared _ingest_base._resolve_batch picks
  each doc's best match and resolves dup chains.
- Survivors' bands APPEND to the index (O(batch) like the CDC state
  log); duplicates append to a quarantine table with their match.
- EXACTLY-ONCE under micro-batch replay: all three appends publish
  through streaming/txn.py's epoch-keyed commit protocol, so a replayed
  batch re-publishes identical files (or is skipped if already
  committed) instead of duplicating accepted/quarantine/index rows.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import N_BANDS, N_HASHES, minhash_signatures
from ._ingest_base import FormatStampedIndexIngest, _resolve_batch

log = logging.getLogger(__name__)

EST_JACCARD_THRESHOLD = 0.5
_ROWS_PER_BAND = N_HASHES // N_BANDS


def _bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig) -> one row per band: (band_id, band_hash, doc_id, sig).
    The ~(7 x N_BANDS)-node explode builds once per SparkContext — this
    runs per micro-batch in foreachBatch (speccache.py / BENCHLOG r6)."""
    from ..speccache import per_context

    band_col = per_context("corpus_dedup.bands", lambda: F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.xxhash64(
                        *[F.element_at("sig", b * _ROWS_PER_BAND + r + 1)
                          for r in range(_ROWS_PER_BAND)]
                    ).alias("band_hash"),
                )
                for b in range(N_BANDS)
            ]
        )
    ).alias("band"))
    return sigs.select("doc_id", "sig", band_col).select(
        "band.band_id", "band.band_hash", "doc_id", "sig")


def _est_jaccard(sig_a: str, sig_b: str):
    """Estimated Jaccard from two signature COLUMN NAMES (names, not
    Columns, so the built lambda tree caches per name pair)."""
    from ..speccache import per_context

    def build():
        matches = F.aggregate(
            F.zip_with(F.col(sig_a), F.col(sig_b),
                       lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        return matches / F.lit(N_HASHES)

    return per_context(("corpus_dedup.est_jaccard", sig_a, sig_b), build)


def dedup_batch_against_index(batch_bands: DataFrame,
                              index_bands: DataFrame | None) -> DataFrame:
    """Resolve one batch: returns (doc_id, dup_of, est_jaccard) with
    dup_of NULL for accepted docs.  The probe is an equi-join of the
    batch's bands against the index on the band key, so candidate pairs
    only materialize for band collisions; the index doc's ``sig`` rides
    in its band rows.  Intra-batch pairs, scoring and chain resolution
    are _ingest_base._resolve_batch."""
    probe = None
    if index_bands is not None:
        probe = (
            batch_bands.alias("b")
            .join(
                index_bands.alias("i"),
                (F.col("b.band_id") == F.col("i.band_id"))
                & (F.col("b.band_hash") == F.col("i.band_hash"))
                # replay guard: after a partially-committed batch the index
                # may already hold this batch's own docs — never self-match
                & (F.col("b.doc_id") != F.col("i.doc_id")),
            )
            .select(
                F.col("i.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("i.sig").alias("a_sig"),
                F.col("b.sig").alias("b_sig"),
            )
        )
    return _resolve_batch(
        batch_bands, ["band_id", "band_hash"], ["sig"], probe,
        "est_jaccard", _est_jaccard("a_sig", "b_sig"),
        EST_JACCARD_THRESHOLD, "corpus_ingest")


# the signature family persisted in the band index; bump whenever the
# hash derivation changes (a stale index would match NOTHING from new
# batches — near-dups of previously-accepted docs would silently pass)
INDEX_FORMAT = "minhash-md5km-16x4"

# band-index file count that triggers compaction: every epoch appends
# one small token file, so an uncompacted index degrades probe reads to
# thousands-of-tiny-files at scale. Index rows are immutable, so
# compaction is pure file coalescing (Spark's small-file packing
# collapses the read into few partitions), swapped in atomically
# through the StateBackend seam like the CDC state log.
INDEX_COMPACT_THRESHOLD = 48


class CorpusDedupPipeline(FormatStampedIndexIngest):
    """foreachBatch-driven incremental dedup with an on-disk band index.
    Resolve/index/sink/compaction/start machinery lives in _ingest_base;
    this class owns only the text sketch and its probe join."""

    QUERY_NAME = "corpus-dedup"
    INDEX_DIR_NAME = "band_index"
    INDEX_NOUN = "band index"
    FORMAT_NOUN = "signature format"

    def _format(self) -> str:
        return INDEX_FORMAT  # module global: test-monkeypatchable

    def _compact_threshold(self) -> int:
        return INDEX_COMPACT_THRESHOLD

    def process_batch(self, spark: SparkSession, docs: DataFrame,
                      epoch_id: int | None = None) -> None:
        docs = docs.localCheckpoint(eager=True)
        if docs.isEmpty():
            return
        # Heal a compaction crash FIRST: _maybe_compact_dir swap-rewrites
        # index_dir, and a crash mid-swap leaves it torn.  Recovering
        # only before the append (as earlier revisions did) is too late —
        # _index() would read the torn dir, has_data() would see nothing,
        # and the replayed batch would probe against NO index, silently
        # accepting near-dups of already-indexed docs.
        self.backend.recover(self.index_dir)
        self._stamp_format()
        bands = _bands(minhash_signatures(docs)).localCheckpoint(eager=True)
        verdict = dedup_batch_against_index(bands, self._index(spark))
        verdict = verdict.localCheckpoint(eager=True)

        dup_ids = verdict.filter(F.col("dup_of").isNotNull())
        accepted_ids = verdict.filter(F.col("dup_of").isNull()).select("doc_id")

        self._append(docs.join(dup_ids, "doc_id", "inner"),
                     self.quarantine_dir, "quarantine", epoch_id)
        self._append(docs.join(accepted_ids, "doc_id", "left_semi"),
                     self.accepted_dir, "accepted", epoch_id)
        self._append(bands.join(accepted_ids, "doc_id", "left_semi"),
                     self.index_dir, "index", epoch_id)
        self._maybe_compact_dir(spark, self.index_dir)
