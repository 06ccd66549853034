"""IVF index LIFECYCLE under the driver oracle (VERDICT r12 task 1).

`sim_ivf_probe_topk` gives the IVF *search math* a driver row, and the
pytest suites pin the mutation ops (ingest exactly-once-by-layout,
rebalance, delete, compact byte-equal search) — but until this query
the lifecycle's END STATE had never been hashed by the driver itself.
`ann_search_after_lifecycle` closes that gap the way the r12
monitor-publish queries did for the streaming monitors: run the real
persisted-index lifecycle inside the query, then hand the driver the
final search result to verify against an independent DuckDB oracle.

Lifecycle exercised (all against a scratch index dir):
  1. `ivf_build`   — k-means + assignment over the BASE slice
                     (pmod(vec_id, 3) != 0 of the clean corpus);
  2. `IvfStreamIngest.process_batch` ×2 — the STREAM slice
     (pmod == 0) ingested as two deterministic epochs through the
     exactly-once-by-layout foreachBatch sink (epoch-guard sidecar,
     (cell, epoch) partition layout);
  3. `ivf_compact` — stream area folded into the base under unchanged
     centroids (claim+swap durability, generation bump);
  4. `ivf_search`  — FULL PROBE (nprobe = n_cells) over the compacted
     index for queries vec_id < 8.

Why the oracle is brute force: with every cell probed, IVF pruning is
a no-op and the search result is exactly the top-k cosine scan of
everything the lifecycle indexed — which is exactly the clean corpus,
because base ∪ stream partitions it and compaction rewrites without
dropping rows.  So ANY lost row (a torn compact swap, an epoch-guard
bug double- or under-delivering a batch, an assignment drop) breaks
the hash against an oracle that never saw the index at all.

Clean-lane contract (both engines, the emb_pca_project_check
discipline): NULL embeddings, off-width vectors, NULL/NaN/±1e30 lanes
and zero-norm vectors are excluded up front — build/add/search already
drop NULL/off-width rows, and pre-filtering keeps the remaining
degenerate cosines (NULL via try_divide) out of the top-k tiebreak.

Scale shape: identical to the production lifecycle — build shuffles
once on cell_id, each ingest epoch writes one file per touched cell,
compact is one partition-parallel rewrite, and the full-probe search
here is the sf-small verification mode (production probes nprobe/C of
the corpus through the same partition-pruned scan,
tests/test_ann_index.py pins the pruning).

Reference parity: the reference's GDPR/derived-store clause and
materialized-view sections (docs/system-design.md) motivate a
persisted, incrementally-maintained ANN index; this query is that
index's end-to-end driver check.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..catalog import register
from ..functions.vectors import l2_norm
from ..io import load_table, local_frame
from .ann_index import ivf_build, ivf_compact, ivf_search
from .similarity import _sql_cos

_D = 64          # embeddings.embedding width in the driver testdata
_N_CELLS = 8     # small coarse quantizer: full probe stays cheap
_N_QUERIES = 8   # vec_id < 8, the sim_* query-set convention
_K = 5

_CLEAN_SQL = f"""embedding IS NOT NULL AND len(embedding) = {_D}
      AND len(list_filter(embedding,
            x -> x IS NULL OR isnan(x) OR abs(CAST(x AS DOUBLE)) >= 1e30)) = 0
      AND sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
            x -> x * x))) > 0"""

_COS = _sql_cos("a.embedding", "q.embedding")

_RESULT_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType()),
    T.StructField("neighbor_id", T.LongType()),
    T.StructField("cos_sim", T.DoubleType()),
    T.StructField("rnk", T.IntegerType()),
])


def _clean_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    bad_lane = lambda x: (  # noqa: E731 — shared lane predicate
        x.isNull() | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) >= F.lit(1e30))
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull()
                & (F.size("embedding") == _D)
                & ~F.exists("embedding", bad_lane)
                & (l2_norm("embedding") > 0))
        .select("vec_id", "embedding")
    )


def _scratch_index_dir() -> str:
    """Fresh per-invocation index dir, reaped at process exit: the
    returned DataFrame reads the index LAZILY, so an inline cleanup
    would race the driver's collect — but without any cleanup a bench
    or probe session leaks one full index copy per invocation
    (code-review r13)."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix="ann_lifecycle_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@register(
    "ann_search_after_lifecycle",
    oracle=f"""
    WITH clean AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_CLEAN_SQL}
    )
    SELECT query_id, neighbor_id, CAST(cos_sim AS DOUBLE) AS cos_sim,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(ROUND({_COS}, 6) AS DECIMAL(10,6)) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY CAST(ROUND({_COS}, 6) AS DECIMAL(10,6)) DESC,
                        a.vec_id) AS rnk
      FROM clean q JOIN clean a ON a.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES})
    WHERE rnk <= {_K}
    """,
    survey_ids=["K2", "H4", "F5"],
    doc="Full-probe IVF search AFTER the persisted index's real "
        "lifecycle (build -> 2-epoch stream ingest -> compact) vs a "
        "brute-force cosine oracle that never sees the index: any row "
        "the lifecycle loses or duplicates breaks the driver hash "
        "(VERDICT r12 task 1 — K2's last pytest-only surface earns a "
        "driver row).",
)
def ann_search_after_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = _clean_embeddings(spark, sf_dir)
    # ONE aggregate answers both gates the lifecycle needs — any clean
    # rows at all, and any base-slice rows — where two emptiness probes
    # (here + run_lifecycle's base check) each cost their own take-
    # escalation jobs (r17, guide §1.2).  Equivalence: n_clean == 0 iff
    # clean.isEmpty(), the probe it replaces.
    counts = clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.count(F.when(~_is_stream_row(), 1)).alias("n_base")).first()
    if counts["n_clean"] == 0:
        return local_frame(spark, [], _RESULT_SCHEMA)
    index_dir = _scratch_index_dir()
    run_lifecycle(spark, clean, index_dir,
                  base_nonempty=counts["n_base"] > 0)
    queries = clean.filter(F.col("vec_id") < _N_QUERIES)
    return (
        ivf_search(spark, index_dir, queries, k=_K, nprobe=_N_CELLS)
        # repartition(1) + sortWithinPartitions == orderBy on this
        # k x |queries| bounded result (one globally sorted partition,
        # identical row order), without the range exchange's extra
        # sampling job per run (r17, guide §2.4)
        .repartition(1)
        .sortWithinPartitions("query_id", "rnk")
    )


def _is_stream_row() -> F.Column:
    """NULL-safe stream-slice predicate: NULL vec_ids go to the base
    slice (a bare ~(pmod == 0) would drop them from BOTH slices and the
    index would miss rows the oracle keeps)."""
    return F.coalesce(F.pmod(F.col("vec_id"), F.lit(3)) == 0, F.lit(False))


def run_lifecycle(spark: SparkSession, clean: DataFrame,
                  index_dir: str, base_nonempty: bool | None = None) -> None:
    """build -> 2-epoch stream ingest -> compact of the non-empty
    ``clean`` (vec_id, embedding) frame into ``index_dir`` — the exact
    mutation sequence the catalog query hashes (split out so tests can
    inspect the index dir the query otherwise scratches).
    ``base_nonempty`` lets a caller that already counted the base slice
    (the catalog query's combined gate aggregate) skip the emptiness
    probe; None keeps the self-contained check."""
    from ..streaming.ann_ingest import IvfStreamIngest

    is_stream = _is_stream_row()
    base, stream = clean.filter(~is_stream), clean.filter(is_stream)
    if base_nonempty is None:
        base_nonempty = not base.isEmpty()
    if not base_nonempty:
        # degenerate corpus (every clean id ≡ 0 mod 3): ivf_build needs
        # rows, so index everything at build time; search is unchanged
        base, stream = clean, None

    ivf_build(spark, base, index_dir, n_cells=_N_CELLS, kmeans_rounds=1)
    if stream is not None:
        ingest = IvfStreamIngest(index_dir)
        for epoch in (0, 1):
            chunk = stream.filter(
                F.pmod(F.col("vec_id"), F.lit(2)) == epoch)
            ingest.process_batch(spark, chunk, epoch_id=epoch)
        ivf_compact(spark, index_dir)
