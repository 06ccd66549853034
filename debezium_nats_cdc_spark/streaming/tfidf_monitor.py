"""Streaming TF-IDF drift monitor (SURVEY §2.K3 + §2.H applied to term
salience — VERDICT r8 stretch item 10).

A training-data pipeline pages on CORPUS DRIFT: a crawler update or a
contaminated source suddenly floods the stream with terms that were
rare in everything ingested so far (spam vocabularies, boilerplate,
benchmark strings).  The batch operator `text_tfidf_topk` scores one
static corpus; this monitor maintains the same statistics — per-term
total term frequency ``tf``, document frequency ``df``, corpus size
``n_docs`` — INCREMENTALLY, one merge per micro-batch, and compares
each incoming batch's term distribution against the accumulated corpus
BEFORE folding it in.  The per-batch cost is O(|batch terms| +
|vocabulary|) — independent of how many documents were ever ingested,
where re-running the batch operator would rescan the whole corpus.

Tokenization is byte-for-byte `operators.text._tokens` (lowercase,
split on one literal space) — one token definition per corpus, shared
with every batch text operator and the TF-IDF oracle.

State is ONE swap-written parquet table: vocabulary rows (term, tf,
df) plus a single ``term IS NULL`` meta row carrying (n_docs,
last_epoch) — the shared ``_monitor_base.SwapStateMonitor`` state, whose
meta row holds every column outside the value columns.  Keeping the
meta in the same atomic swap is what makes micro-batch replay
exactly-once: a replayed epoch compares against ``last_epoch`` and
no-ops, and there is no window where the vocabulary reflects an epoch
the meta does not (the corpus_dedup lesson, applied to aggregate state
instead of an append log).

Scale shape: the merge is one hash shuffle keyed on term (map-side
combined); state size is the vocabulary, not the corpus; the drift
report joins the batch's terms (small) against the state (hash join on
term) and keeps only the top-N lifted terms via TakeOrdered.  At 100
TB of ingested text the vocabulary table is the only thing that grows,
and sub-linearly (Heaps' law).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import local_frame
from ..operators.text import _tokens
from ._monitor_base import SwapStateMonitor
from .state_backend import StateBackend

_STATE_SCHEMA = ("term string, tf bigint, df bigint, "
                 "n_docs bigint, last_epoch bigint")
_DRIFT_SCHEMA = ("term string, batch_tf bigint, batch_share double, "
                 "corpus_share double, lift double, is_new boolean")

# smoothing floor for lift when a term has never been seen: treats the
# corpus as if the term had appeared once, so "new term" lifts are
# large-but-finite and comparable (same idea as the +1 IDF smoothing)
_NEW_TERM_FLOOR = 1.0


class TfidfMonitor(SwapStateMonitor):
    """foreachBatch-driven incremental df/tf state with batch-vs-corpus
    drift reporting.  ``doc_col`` holds the raw text, ``id_col`` the
    document id (ids only count ``n_docs``; re-ingesting an id is the
    caller's dedup problem, as in the batch operator)."""

    _STATE_SUBDIR = "tfidf_state"
    _QUERY_NAME = "tfidf-monitor"
    _STATE_SCHEMA = _STATE_SCHEMA
    _VALUE_COLS = ("term", "tf", "df")
    _META_COL = "term"
    # counts add: the union is summed per term in _post_merge
    _MERGE_DISTINCT = False

    def __init__(self, root: str, backend: StateBackend | None = None,
                 id_col: str = "doc_id", doc_col: str = "text",
                 drift_top_n: int = 20):
        super().__init__(root, backend)
        self.drift_dir = os.path.join(root, "tfidf_drift")
        self.id_col = id_col
        self.doc_col = doc_col
        self.drift_top_n = drift_top_n

    def terms(self, spark: SparkSession) -> DataFrame:
        """Accumulated vocabulary: (term, tf, df) over every ingested doc."""
        return self.state_rows(spark)

    def meta(self, spark: SparkSession) -> tuple[int, int]:
        """(n_docs, last_epoch); (0, -1) before the first batch."""
        m = self._meta(spark)
        return m.get("n_docs") or 0, m["last_epoch"]

    def topk_salient(self, spark: SparkSession, k: int = 10) -> DataFrame:
        """Corpus-level top-k terms by total TF-IDF weight — the same
        smoothed idf as `text_tfidf_topk`, over the ACCUMULATED corpus."""
        n_docs, _ = self.meta(spark)
        score = F.round(
            F.col("tf") * (F.log((F.lit(n_docs) + F.lit(1.0))
                                 / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
            6).cast("double")
        return (self.terms(spark)
                .select("term", "tf", "df", score.alias("weight"))
                .orderBy(F.desc("weight"), F.asc("term")).limit(k))

    def latest_drift(self, spark: SparkSession) -> DataFrame:
        """The last batch's drift report: its top-N terms by LIFT =
        batch term share / corpus term share (smoothed for never-seen
        terms, which also carry ``is_new``).  A lift near 1 everywhere
        means the batch looks like the corpus; a large-lift spike is
        the drift alarm."""
        self.backend.recover(self.drift_dir)
        if not self.backend.has_data(self.drift_dir):
            return local_frame(spark, [], _DRIFT_SCHEMA)
        return spark.read.parquet(self.drift_dir).orderBy(
            F.desc("lift"), F.asc("term"))

    # -- writes --------------------------------------------------------
    def _batch_rows(self, docs: DataFrame) -> DataFrame:
        tok = docs.select(
            F.col(self.id_col).alias("_doc"),
            F.explode(_tokens(F.coalesce(F.col(self.doc_col), F.lit(""))))
             .alias("term"),
        ).filter(F.col("term") != "")
        per_doc = tok.groupBy("_doc", "term").agg(
            F.count("*").cast("bigint").alias("tf"))
        return per_doc.groupBy("term").agg(
            F.sum("tf").cast("bigint").alias("tf"),
            F.count("*").cast("bigint").alias("df"),
        )

    def _post_merge(self, merged: DataFrame) -> DataFrame:
        return merged.groupBy("term").agg(
            F.sum("tf").cast("bigint").alias("tf"),
            F.sum("df").cast("bigint").alias("df"))

    def process_batch(self, spark: SparkSession, docs: DataFrame,
                      epoch_id: int | None = None) -> None:
        docs = self._new_batch(spark, docs, epoch_id)
        if docs is None:
            return
        batch = self._batch_rows(docs).localCheckpoint(eager=True)
        # drift vs the corpus BEFORE this batch is folded in
        self._write_drift(spark, batch)
        self._fold(spark, batch, epoch_id,
                   n_docs=self.meta(spark)[0] + docs.count())

    def _write_drift(self, spark: SparkSession, batch: DataFrame) -> None:
        corpus = self.terms(spark)
        corpus_tokens = (corpus.agg(F.coalesce(F.sum("tf"), F.lit(0))
                                    .alias("_t")).first()._t)
        batch_tokens = (batch.agg(F.coalesce(F.sum("tf"), F.lit(0))
                                  .alias("_t")).first()._t)
        if batch_tokens == 0:
            return
        joined = batch.select(
            "term", F.col("tf").alias("batch_tf"),
        ).join(corpus.select("term", F.col("tf").alias("_ctf")),
               "term", "left")
        batch_share = F.col("batch_tf") / F.lit(float(batch_tokens))
        # never-seen terms: corpus tf floored at _NEW_TERM_FLOOR over
        # (corpus_tokens + 1) so lift stays finite and comparable
        corpus_share = (
            F.coalesce(F.col("_ctf").cast("double"),
                       F.lit(_NEW_TERM_FLOOR))
            / F.lit(float(corpus_tokens) + 1.0))
        report = (
            joined.select(
                "term", "batch_tf",
                F.round(batch_share, 8).alias("batch_share"),
                F.round(F.when(F.col("_ctf").isNull(), F.lit(0.0))
                        .otherwise(F.col("_ctf") /
                                   F.lit(float(corpus_tokens) + 1.0)),
                        8).alias("corpus_share"),
                F.round(batch_share / corpus_share, 4).alias("lift"),
                F.col("_ctf").isNull().alias("is_new"),
            )
            .orderBy(F.desc("lift"), F.asc("term"))
            .limit(self.drift_top_n)
        )
        self.backend.swap_write(report.coalesce(1), self.drift_dir)
