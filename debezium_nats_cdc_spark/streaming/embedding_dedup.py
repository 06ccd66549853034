"""Streaming embedding dedup: incremental cosine near-dup over a vector
stream (the K2 twin of streaming/corpus_dedup.py's text path).

An embedding INGEST pipeline asks, as new vectors arrive (document
embeddings, image features): which are near-duplicates — cosine above a
threshold — of anything already accepted?  Emit the fresh ones,
quarantine the dups with their match, and grow the index.  Batch-mode
`sim_embedding_neardup` (operators/similarity.py:268) answers the
within-corpus question; this class answers it against an unbounded,
continuously-growing corpus with exactly-once sinks.

Design (no cross join anywhere, mirrors corpus_dedup):
- Sketch each vector ONCE into T=4 hyperplane tables of B=8 planes
  (32 sign bits from one Arrow kernel pass, the same deterministic
  planes as the batch op but 8 bits/table: 256 buckets per table keeps
  per-bucket candidate counts bounded at ingest batch sizes; the batch
  op's 4-bit tables are tuned for one-shot self-joins at sf0.01).
- The accumulated state is a BUCKET INDEX, an append-only parquet log
  of ids-only (table_id, bucket, vec_id) rows, plus a vectors-once
  sibling store joined only for the COLLIDING candidates (the
  normalized layout won the r7 A/B, BENCHLOG r7, over one that kept
  the vector in every bucket row at x4 space).  At 100 TB both are
  bucketed tables co-located with the probe join.
- Per micro-batch: probe = equi-join batch sketches vs index on
  (table_id, bucket), verify candidates with an Arrow pair-cosine, keep
  matches >= threshold (the index vector always wins — it arrived
  first).  Intra-batch dups come from the batch operators' capped
  candidate-pair kernel (dedup._candidate_pairs: lowest vec_id wins,
  over-cap buckets degrade to anchor pairing, never dropped).
- The resolve is the text path's: _ingest_base._resolve_batch picks
  each vector's best match and pointer-jumps chains so dup_of always
  lands on an ACCEPTED vector (intra targets strictly decrease; index
  targets are terminal).
- EXACTLY-ONCE under micro-batch replay: accepted/quarantine/index all
  publish through the epoch-keyed commit protocol (streaming/txn.py via
  the StateBackend seam), and the index heals torn compactions BEFORE
  probing (the corpus_dedup crash lesson).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.vectors import l2_norm, plane_sign_word_arrow
from ..operators.similarity import _hyperplanes, _pair_cos_arrow
from ._ingest_base import FormatStampedIndexIngest, _resolve_batch

log = logging.getLogger(__name__)

N_TABLES = 4
PLANES_PER_TABLE = 8
COS_THRESHOLD = 0.92

# signature family persisted in the index; bump when planes/threshold
# derivation changes (stale sketches would match nothing — same failure
# mode as corpus_dedup.INDEX_FORMAT)
INDEX_FORMAT = f"hyperplane-{N_TABLES}x{PLANES_PER_TABLE}-v1"
INDEX_COMPACT_THRESHOLD = 48


def _sketch(vecs: DataFrame) -> DataFrame:
    """(vec_id, embedding) -> one row per table: (table_id, bucket,
    vec_id, embedding, norm).  All T*B plane signs come from ONE Arrow
    kernel pass; per-table buckets are integer slices of the sign word."""
    from ..speccache import per_context

    def build():
        word = plane_sign_word_arrow(
            "embedding", _hyperplanes(n_planes=N_TABLES * PLANES_PER_TABLE))
        tables = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_id"),
                        F.shiftrightunsigned("_w", t * PLANES_PER_TABLE)
                        .bitwiseAND(F.lit((1 << PLANES_PER_TABLE) - 1))
                        .alias("bucket"),
                    )
                    for t in range(N_TABLES)
                ]
            )
        ).alias("tb")
        pre = [F.col("vec_id"), F.col("embedding"),
               l2_norm(F.col("embedding")).alias("norm"), word.alias("_w")]
        mid = [F.col("vec_id"), F.col("embedding"), F.col("norm"), tables]
        out = [F.col("tb.table_id"), F.col("tb.bucket"), F.col("vec_id"),
               F.col("embedding"), F.col("norm")]
        return pre, mid, out

    pre, mid, out = per_context("embedding_dedup.sketch", build)
    return vecs.select(*pre).select(*mid).select(*out)


def dedup_batch_against_index(batch_sk: DataFrame,
                              index_sk: DataFrame | None,
                              index_vectors: DataFrame | None) -> DataFrame:
    """Resolve one batch: (vec_id, dup_of, cos_sim) with dup_of NULL for
    accepted vectors.  Candidates come only from bucket collisions —
    probe (batch vs index, below) and intra-batch
    (_ingest_base._resolve_batch) — each verified by true cosine, with
    the batch ops' Arrow pair-cosine, before any match is claimed.

    ``index_sk`` rows are ids-only (table_id, bucket, vec_id) and
    ``index_vectors`` holds each accepted vector ONCE — candidate ids
    join to the vector store before the cosine verify, so the index
    stores no vector x N_TABLES, at the cost of one extra equi-join
    over only the COLLIDING candidates (not the corpus).  Both are None
    before the first accepted batch.
    """
    rows = batch_sk.withColumnRenamed("vec_id", "doc_id")
    probe = None
    if index_sk is not None:
        probe = (
            rows.alias("b")
            .join(
                index_sk.alias("i"),
                (F.col("b.table_id") == F.col("i.table_id"))
                & (F.col("b.bucket") == F.col("i.bucket"))
                # replay guard: a partially-committed epoch may have
                # indexed this batch's own vectors already
                & (F.col("b.doc_id") != F.col("i.vec_id")),
            )
            .select(
                F.col("i.vec_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("b.embedding").alias("b_embedding"),
                F.col("b.norm").alias("b_norm"),
            )
            # OR across tables BEFORE the vector join, which then
            # fetches the index-side vector for the distinct colliding
            # candidates only.  The inner join also heals a torn epoch
            # where bucket rows committed before their vector-store rows
            # (the replayed epoch re-appends the missing vectors).  Any
            # OTHER missing vector (store loss/mutation) is silently
            # dropped here — EmbeddingDedupPipeline.check_consistency /
            # strict=True is the loud-failure path for that drift.
            .dropDuplicates(["doc_a", "doc_b"])
            .join(
                index_vectors.select(
                    F.col("vec_id").alias("doc_a"),
                    F.col("embedding").alias("a_embedding"),
                    F.col("norm").alias("a_norm"),
                ),
                "doc_a",
            )
        )
    cos = _pair_cos_arrow(F.col("a_embedding"), F.col("b_embedding"),
                          F.col("a_norm"), F.col("b_norm"))
    return _resolve_batch(
        rows, ["table_id", "bucket"], ["embedding", "norm"], probe,
        "cos_sim", cos, COS_THRESHOLD, "embedding_ingest",
    ).withColumnRenamed("doc_id", "vec_id")


class EmbeddingDedupPipeline(FormatStampedIndexIngest):
    """foreachBatch-driven incremental embedding dedup with an on-disk
    bucket index.  Resolve/index/sink/compaction/start machinery lives
    in _ingest_base; this class owns only the vector sketch, its probe
    join and the vectors-once store.

    It persists ids-only bucket rows plus a vectors-once store at
    ``vectors_dir``.  The format stamp carries the ``+norm`` layout
    suffix, so an index written by the retired layout that kept the
    vector in every bucket row (bare ``INDEX_FORMAT`` stamp) is refused
    instead of probed."""

    QUERY_NAME = "embedding-dedup"
    INDEX_DIR_NAME = "bucket_index"
    INDEX_NOUN = "bucket index"
    FORMAT_NOUN = "sketch format"

    def __init__(self, root: str, backend=None, strict: bool = False):
        super().__init__(root, backend)
        self.strict = strict
        self.vectors_dir = os.path.join(root, "vector_store")

    def check_consistency(self, spark: SparkSession) -> dict:
        """Drift probe: count distinct index vec_ids that have NO row in
        the vector store.

        The designed torn-epoch shapes heal through replay (the probe's
        own-id guard plus re-appended vectors), but any OTHER store/index
        inconsistency — partial data loss, external mutation — would
        otherwise degrade silently: the probe's inner join to the vector
        store drops the candidate and the pipeline accepts a
        near-duplicate instead of failing.  This check makes that drift
        loud.  Returns ``{"index_ids": n, "store_ids": n, "missing": n}``
        (all zero for an empty index).  With ``strict=True`` the pipeline
        runs it after any micro-batch in which a compaction actually ran
        (the directory-replacing operation the probe exists to audit)
        and raises on missing > 0 — a full ids-only scan of both stores,
        so it is a debug mode, not the production default.
        """
        out = {"index_ids": 0, "store_ids": 0, "missing": 0}
        # heal torn compactions first: invoked standalone after a crashed
        # swap_write this would otherwise read a half-swapped directory
        # and misreport drift (process_batch does the same before probing)
        self.backend.recover(self.index_dir)
        self.backend.recover(self.vectors_dir)
        if not self.backend.has_data(self.index_dir):
            return out
        idx_ids = (spark.read.parquet(self.index_dir)
                   .select("vec_id").distinct())
        if self.backend.has_data(self.vectors_dir):
            store_ids = (spark.read.parquet(self.vectors_dir)
                         .select("vec_id").distinct())
        else:
            store_ids = idx_ids.limit(0)
        out["index_ids"] = idx_ids.count()
        out["store_ids"] = store_ids.count()
        out["missing"] = idx_ids.join(store_ids, "vec_id", "left_anti").count()
        if self.strict and out["missing"] > 0:
            raise RuntimeError(
                f"embedding-dedup index/store drift: {out['missing']} of "
                f"{out['index_ids']} indexed vec_ids missing from the "
                f"vector store at {self.vectors_dir} — the probe would "
                "silently accept near-duplicates of these vectors")
        return out

    def _format(self) -> str:
        # module global: test-monkeypatchable.  The "+norm" suffix marks
        # the ids-only layout, so an index stamped with the bare format
        # (the retired vector-per-bucket-row layout) refuses loudly
        # instead of failing mid-probe
        return f"{INDEX_FORMAT}+norm"

    def _compact_threshold(self) -> int:
        return INDEX_COMPACT_THRESHOLD

    def process_batch(self, spark: SparkSession, vecs: DataFrame,
                      epoch_id: int | None = None) -> None:
        vecs = vecs.localCheckpoint(eager=True)
        if vecs.isEmpty():
            return
        # heal a torn compaction BEFORE probing (corpus_dedup lesson: a
        # torn index reads as empty and silently accepts near-dups)
        self.backend.recover(self.index_dir)
        self.backend.recover(self.vectors_dir)
        self._stamp_format()
        sk = _sketch(vecs).localCheckpoint(eager=True)
        index_sk = self._index(spark)
        index_vecs = None
        if index_sk is not None:
            if self.backend.has_data(self.vectors_dir):
                index_vecs = spark.read.parquet(self.vectors_dir)
            else:
                # torn first epoch: bucket rows committed, vector store
                # not.  Those rows are this batch's own ids (excluded by
                # the probe's id guard) — an empty store keeps the
                # store join well-formed and the replay re-appends them.
                index_vecs = sk.select("vec_id", "embedding", "norm").limit(0)
        verdict = dedup_batch_against_index(
            sk, index_sk, index_vecs).localCheckpoint(eager=True)

        dup_ids = verdict.filter(F.col("dup_of").isNotNull())
        accepted_ids = verdict.filter(F.col("dup_of").isNull()).select("vec_id")

        self._append(vecs.join(dup_ids, "vec_id", "inner"),
                     self.quarantine_dir, "quarantine", epoch_id)
        self._append(vecs.join(accepted_ids, "vec_id", "left_semi"),
                     self.accepted_dir, "accepted", epoch_id)
        accepted_sk = sk.join(accepted_ids, "vec_id", "left_semi")
        self._append(accepted_sk.select("table_id", "bucket", "vec_id"),
                     self.index_dir, "index", epoch_id)
        self._append(
            accepted_sk.dropDuplicates(["vec_id"])
            .select("vec_id", "embedding", "norm"),
            self.vectors_dir, "vectors", epoch_id)
        compacted = self._maybe_compact_dir(spark, self.index_dir)
        compacted |= self._maybe_compact_dir(spark, self.vectors_dir)
        # strict mode pays the full ids-only scan only when a compaction
        # actually replaced a directory this batch — the operation the
        # drift probe exists to audit
        if self.strict and compacted:
            self.check_consistency(spark)
