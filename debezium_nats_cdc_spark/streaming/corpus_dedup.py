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
  minhashes, operators/dedup.py), probe the index with an equi-join on
  (band_id, band_hash) — candidate
  pairs only materialize for band collisions, verified by signature
  Jaccard — and resolve batch-internal dups with the same
  group-then-expand used in batch mode (lowest doc_id wins).
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
from ._ingest_base import FormatStampedIndexIngest, pointer_jump

log = logging.getLogger(__name__)

EST_JACCARD_THRESHOLD = 0.5
_ROWS_PER_BAND = N_HASHES // N_BANDS

# intra-batch bucket size above which pair expansion falls back from
# all-pairs (O(k²)) to anchor matching (O(k)); see
# dedup_batch_against_index
INTRA_BUCKET_CAP = 1000


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
    dup_of NULL for accepted docs.

    Two candidate sources, both equi-joins on the band key:
    1. probe: batch vs index — any index hit at/above threshold is a dup
       (the index doc always wins; it arrived first).
    2. intra-batch: group-then-expand on the batch's own bands — lowest
       doc_id wins.  A doc that duplicates the index can still appear as
       a batch-mate's keeper; the post-aggregation pointer-jump below
       rewrites such chains so dup_of always lands on an ACCEPTED doc.
    """
    probe_matches = None
    if index_bands is not None:
        cand = (
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
                F.col("b.doc_id").alias("doc_id"),
                F.col("i.doc_id").alias("dup_of"),
                F.col("b.sig").alias("sig_b"),
                F.col("i.sig").alias("sig_i"),
            )
            .dropDuplicates(["doc_id", "dup_of"])
        )
        probe_matches = (
            cand.withColumn("est_jaccard", _est_jaccard("sig_b", "sig_i"))
            .filter(F.col("est_jaccard") >= EST_JACCARD_THRESHOLD)
            .groupBy("doc_id")
            .agg(
                # best match = highest jaccard, ties to lowest doc id
                F.max_by(
                    "dup_of", F.struct(F.col("est_jaccard"), -F.col("dup_of"))
                ).alias("dup_of"),
                F.max("est_jaccard").alias("est_jaccard"),
            )
        )

    # intra-batch pairs via group-then-expand (see operators/dedup.py);
    # the pair-expansion tree (~80 nodes of nested HOF lambdas) builds
    # once per SparkContext (speccache.py — per-micro-batch path)
    from ..speccache import per_context

    grouped = (
        batch_bands.groupBy("band_id", "band_hash")
        .agg(F.collect_list(F.struct(F.col("doc_id").alias("id"), "sig")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )

    def build_pair_arr():
        ds = F.col("ds")
        full_pairs = F.flatten(
            F.transform(
                ds,
                lambda x: F.transform(
                    F.filter(ds, lambda y: y["id"] > x["id"]),
                    lambda y: F.struct(
                        x["id"].alias("keeper"),
                        y["id"].alias("doc_id"),
                        x["sig"].alias("sig_a"),
                        y["sig"].alias("sig_b"),
                    ),
                ),
            )
        )
        # Skew guard — DIFFERENT from the batch ops' drop-the-bucket cap:
        # a dedup INGEST must not let duplicates through, so an over-cap
        # bucket degrades to ANCHOR matching (every member vs the
        # bucket's minimum-id doc, O(k) instead of O(k²)) rather than
        # being dropped.  Degenerate buckets are near-identical
        # boilerplate, exactly where anchor matching is lossless; a pair
        # is only missed if one side matches some mid-id member but NOT
        # the bucket minimum.
        anchor = F.element_at(F.array_sort(ds), 1)  # struct sorts by id 1st
        anchor_pairs = F.transform(
            F.filter(ds, lambda y: y["id"] > anchor["id"]),
            lambda y: F.struct(
                anchor["id"].alias("keeper"),
                y["id"].alias("doc_id"),
                anchor["sig"].alias("sig_a"),
                y["sig"].alias("sig_b"),
            ),
        )
        return F.when(F.size(ds) <= INTRA_BUCKET_CAP, full_pairs).otherwise(
            anchor_pairs
        )

    # cap in the key: the built tree freezes the cap value, so a changed
    # (or test-monkeypatched) INTRA_BUCKET_CAP must build a fresh tree
    pair_arr = per_context(("corpus_dedup.pair_arr", INTRA_BUCKET_CAP),
                           build_pair_arr)
    intra = (
        grouped.select(F.explode_outer(pair_arr).alias("p"))
        .select("p.keeper", "p.doc_id", "p.sig_a", "p.sig_b")
        .dropDuplicates(["keeper", "doc_id"])
        .withColumn("est_jaccard", _est_jaccard("sig_a", "sig_b"))
        .filter(F.col("est_jaccard") >= EST_JACCARD_THRESHOLD)
    )
    intra_matches = intra.groupBy("doc_id").agg(
        F.min("keeper").alias("dup_of"),
        F.max("est_jaccard").alias("est_jaccard"),
    )

    all_ids = batch_bands.select("doc_id").distinct()
    matches = (
        probe_matches.unionByName(intra_matches)
        if probe_matches is not None
        else intra_matches
    )
    best = matches.groupBy("doc_id").agg(
        F.max_by(
            "dup_of", F.struct(F.col("est_jaccard"), -F.col("dup_of"))
        ).alias("dup_of"),
        F.max("est_jaccard").alias("est_jaccard"),
    )

    # dup_of must point at an ACCEPTED doc, but best can still target a
    # doc that is itself quarantined this batch: the anchor-capped case
    # (a member's only pair is its bucket anchor, and the anchor
    # duplicates the index) and the cross-bucket case (the member's
    # keeper was matched through a DIFFERENT band bucket).  Resolve both
    # by pointer jumping over the batch-local match set until every
    # target is terminal.  Converges: intra targets strictly decrease
    # (keeper < doc_id within a pair) and probe targets are index docs,
    # which are terminal.  The recorded est_jaccard stays the member's
    # own estimate against its direct match — a proxy for
    # member-vs-final-target (both cleared the threshold against a
    # shared near-identical text).  Common case (no chains) costs one
    # small batch-local join per micro-batch.
    return all_ids.join(pointer_jump(best, "doc_id"), "doc_id", "left")


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
    Index/sink/compaction/start machinery lives in _ingest_base; this
    class owns only the text sketch + batch resolution."""

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
        # Heal a compaction crash FIRST: _maybe_compact_index swap-rewrites
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
        self._maybe_compact_index(spark)
