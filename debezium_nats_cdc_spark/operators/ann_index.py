"""Persisted IVF index: build once, probe many (SURVEY §2.K2 scale path).

The catalog query `sim_ivf_probe_topk` (similarity.py:339) demonstrates
IVF search end-to-end inside ONE query — centroids, assignment, and
probe all recomputed per run, which is the right shape for an
oracle-checked benchmark but not for production, where the expensive
parts (k-means, corpus assignment) run once and every query batch pays
only the probe.  This module persists that split:

    ivf_build(spark, vectors, index_dir)   # k-means + assign + write
    ivf_add(spark, index_dir, new_vectors) # incremental: assign + append
    ivf_search(spark, index_dir, queries)  # nprobe cells only
    # live ingest: streaming/ann_ingest.IvfStreamIngest appends into a
    # vectors_stream/ area (cell_id leading, so probes prune it too);
    # search/stats/tuning read base + stream transparently

Physical layout IS the search structure (the 100 TB story):
- `centroids/` — n_cells rows (cell_id, c_emb, c_norm); always
  broadcast on probe.
- `vectors/` — (vec_id, embedding, _norm) written
  `partitionBy("cell_id")`: one directory per IVF cell.  A probe joins
  the scan to the broadcast probe frame on the raw cell_id, so dynamic
  partition pruning prunes it at run time to the probed directories —
  `.explain` shows `dynamicpruningexpression` in the PartitionFilters
  and the test pins it.  On a cluster the same layout is a bucketed /
  partitioned table and the probe touches ~nprobe/n_cells of the data.
- `_meta.json` — format stamp + dims; a probe against an index built
  by a different centroid FAMILY refuses loudly (wrong-family buckets
  match nothing and would silently return garbage neighbors — the dedup
  band indexes' failure mode), while dimension-mismatched or NULL
  vectors/queries are dropped by the same guard everywhere (build, add,
  search): one corrupt row must not fail or poison the index.

Determinism: seed centroids are the n_cells lowest vector ids, k-means
means accumulate in DECIMAL (associative — same centroids under any
partitioning), and every ranking breaks ties by id, so build+search are
bit-stable across runs and cluster sizes (the engine-wide oracle
discipline, even though this module is pytest-verified rather than
SQL-oracle-checked: the search result depends on the PERSISTED index
state, which SQL cannot see).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.vectors import l2_norm
from ..io import local_frame
from .similarity import _pair_cos, _with_norm

INDEX_FORMAT = "ivf-cos-decmean-v1"
# live adds from streaming/ann_ingest.py land here, partitioned
# (cell_id, _epoch) — cell_id leading so probe pruning works unchanged
_STREAM_SUBDIR = "vectors_stream"
_OVERWRITE_CONF_DELETE = "spark.sql.sources.partitionOverwriteMode"


def _overwrite_mode(session, mode: str):
    """Pin ``partitionOverwriteMode`` on the OWNING session for one
    write (context manager).  The ambient-conf hazard this guards: a
    caller leaving the session in the other mode silently flips an
    overwrite between truncating (static) and partition-scoped
    (dynamic) semantics.  One shared implementation for the five
    write sites (add / delete / ingest / PQ attach / PQ refresh —
    code-review r14); inside foreachBatch pass the BATCH frame's
    session (the micro-batch clone), never the outer one — a conf set
    elsewhere does not reach the clone's writer."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        prev = session.conf.get(_OVERWRITE_CONF_DELETE, "static")
        session.conf.set(_OVERWRITE_CONF_DELETE, mode)
        try:
            yield
        finally:
            session.conf.set(_OVERWRITE_CONF_DELETE, prev)

    return _cm()
# Live-rebalance claim marker (ADVICE r11): written into the LIVE index
# dir before the staging tree is built, so _recover_swap — which runs on
# every _load_meta, including concurrent readers' ivf_search /
# ivf_cell_stats — leaves a CLAIMED staging tree alone instead of
# deleting it out from under the builder.  The swap renames the live dir
# away, so a completed rebalance drops its claim atomically with the
# swap, and a torn swap's marker dies with the .old dir during healing.
_REBALANCE_MARKER = "_rebalance.lock"


def _meta_path(index_dir: str) -> Path:
    return Path(index_dir, "_meta.json")


def _cents_nested(cents: DataFrame) -> DataFrame:
    """The whole centroid set as ONE nested-array row — the broadcast-
    small-dims shape (n_cells is bounded by construction at every call
    site): `array_sort` makes the array order deterministic (cell_id
    leads the struct), though downstream argmax/sort consumers are
    order-independent anyway."""
    return cents.agg(F.array_sort(F.collect_list(
        F.struct("cell_id", "c_emb", "c_norm"))).alias("_cents"))


def _best_cell(emb_col: str, norm_col: str) -> F.Column:
    """argmax over the `_cents` nested array: max struct ordered
    (cos, -cell_id) reproduces the previous row_number window's
    ``desc(cos) NULLS LAST, asc(cell_id)`` pick exactly (verified side
    by side incl. NULL/NaN cosines and decimal ties)."""
    def scored(c):
        cos = F.round(
            _pair_cos(c["c_emb"], F.col(emb_col),
                      c["c_norm"], F.col(norm_col)), 6
        ).cast("decimal(10,6)")
        return F.struct(cos.alias("cos"),
                        (-c["cell_id"]).alias("_neg"),
                        c["cell_id"].alias("cell_id"))

    return F.array_max(F.transform(F.col("_cents"), scored))


def _assign(vectors: DataFrame, cents: DataFrame,
            id_col: str = "vec_id") -> DataFrame:
    """Nearest centroid per vector (6dp cosine, id tiebreak).

    The centroid set is bounded by n_cells at every call site (build's
    quantizer, add/ingest reading ``centroids/``, rebalance's split
    pairs), so it rides in as ONE broadcast nested-array row and the
    argmax happens per vector row as a projection.  The previous form
    paid a per-vector row_number window — an exchange of N x n_cells
    rows, embedding arrays included, at every build / add / ingest /
    rebalance call (guide §2.4: remove shuffles outright); this form
    broadcasts one row and shuffles nothing.  The final
    ``cell_id IS NOT NULL`` filter only fires for an EMPTY centroid
    set (array_max over zero scored structs), matching the old inner
    join's empty output there."""
    best = _best_cell("embedding", "_norm")
    return (
        vectors.join(F.broadcast(_cents_nested(cents)))
        .select(id_col, "embedding", "_norm",
                best["cell_id"].alias("cell_id"))
        .filter(F.col("cell_id").isNotNull())
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Deterministic per-cell mean: DECIMAL accumulation, position sort.

    Shape note (r17, measured): a single-shuffle rewrite — d independent
    ``sum(element_at(embedding, i))`` agg expressions per cell — was
    numerically identical but 2x SLOWER at d=64 (the 64 two-field
    DECIMAL buffers push the aggregate past codegen's field budget into
    the interpreted path; raising spark.sql.codegen.maxFields only
    recovered part of it).  The exploded form's extra exchange is 512
    partially-aggregated narrow rows (cells x dims) — noise — so the
    two-shuffle plan is the faster one at any realistic width and
    stays (guide §1.1: keep the measured winner)."""
    dims = assigned.select("cell_id", F.posexplode("embedding").alias("pos", "val"))
    m = dims.groupBy("cell_id", "pos").agg(
        F.sum(F.col("val").cast("decimal(28,12)")).alias("s"),
        F.count("*").alias("n"),
    )
    return (
        m.select("cell_id", "pos",
                 (F.col("s").cast("double") / F.col("n")).alias("mv"))
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda x: x["mv"],
            ).alias("c_emb")
        )
        .withColumn("c_norm", l2_norm(F.col("c_emb")))
    )


def ivf_build(spark: SparkSession, vectors: DataFrame, index_dir: str,
              n_cells: int = 16, kmeans_rounds: int = 2,
              id_col: str = "vec_id", emb_col: str = "embedding") -> None:
    """K-means (deterministic seed = lowest ids) + assignment + persist."""
    v = _with_norm(
        vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(emb_col).alias("embedding"))
        .filter(F.col("embedding").isNotNull())
    )
    first = v.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise ValueError("ivf_build: no non-NULL embeddings to index")
    dim = first["d"]
    # ragged vectors would poison centroids (positions mix across dims)
    # and skew the lowest cell via NULL-cosine assignment — drop them,
    # matching ivf_add's guard and the engine's dirty-input discipline
    v = v.filter(F.size("embedding") == dim)
    # Seed shape note (r17, measured): collecting the seeds driver-side
    # (TakeOrdered + LocalRelation) was tried to drop the in-chain
    # single-partition sort — it measured 6 jobs/10 stages vs this lazy
    # form's 4/7 (the collect and the parallelize each cost a job) and
    # was slower; the lazy subtree stays (guide §1.1).
    cents = v.orderBy("vec_id").limit(n_cells).select(
        F.row_number().over(W.orderBy("vec_id")).alias("cell_id"),
        F.col("embedding").alias("c_emb"),
        F.col("_norm").alias("c_norm"),
    )
    for _ in range(kmeans_rounds):
        assigned = _assign(v, cents)
        cents = _recompute_centroids(assigned)
    cents.write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    # assign against the JUST-WRITTEN centroids, not the lazy k-means
    # chain: the vectors write would otherwise re-execute every
    # assign/recompute round a second time (parquet round-trips the
    # double arrays bit-exactly, so assignments are identical —
    # measured ~0.5 s off a 2k-vector build, and one full chain
    # re-execution off any build, r13)
    assigned = _assign(v, _centroids(vectors.sparkSession, index_dir))
    (
        assigned.repartition("cell_id")
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(os.path.join(index_dir, "vectors"))
    )
    emb_type = v.schema["embedding"].dataType.elementType.simpleString()
    _meta_path(index_dir).write_text(json.dumps(
        {"format": INDEX_FORMAT, "n_cells": n_cells, "dim": dim,
         "emb_type": emb_type, "kmeans_rounds": kmeans_rounds}))


def _recover_swap(index_dir: str) -> None:
    """Heal a torn ``ivf_rebalance`` directory swap (the generation-
    pointer recovery discipline).  A ``.old`` dir with the live dir
    missing means the crash hit between the two renames — restore it;
    the rebalancer is dead by construction at that point, so its staging
    tree and in-progress marker are discarded as part of the healing.
    An UNCLAIMED ``.rebalancing`` staging dir (no ``_rebalance.lock``
    marker in the live dir) is a leftover from a builder that crashed
    before the swap claim protocol existed, and is discarded; a CLAIMED
    one belongs to a possibly-live ``ivf_rebalance`` and is left alone —
    concurrent readers calling ``_load_meta`` mid-rebalance must never
    delete the staging tree out from under the builder (ADVICE r11).  A
    stale claim (builder crashed mid-build) costs only disk until the
    next ``ivf_rebalance``, which clears and re-claims the staging path
    itself; it can never install an incomplete index, because only the
    builder performs the swap."""
    import shutil as _sh

    staging, old = index_dir + ".rebalancing", index_dir + ".old"
    marker = os.path.join(index_dir, _REBALANCE_MARKER)
    if os.path.isdir(old) and not os.path.isdir(index_dir):
        os.rename(old, index_dir)
        # genuine crash healing: the swap was torn, the builder is gone
        _sh.rmtree(staging, ignore_errors=True)
        try:
            os.remove(marker)
        except FileNotFoundError:
            pass
    if os.path.isdir(old) and os.path.isdir(index_dir):
        _sh.rmtree(old, ignore_errors=True)
    if os.path.isdir(staging) and not os.path.exists(marker):
        _sh.rmtree(staging, ignore_errors=True)


def _load_meta(index_dir: str) -> dict:
    _recover_swap(index_dir)
    p = _meta_path(index_dir)
    if not p.exists():
        raise ValueError(f"no IVF index at {index_dir} (missing _meta.json)")
    meta = json.loads(p.read_text())
    if meta.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"IVF index at {index_dir} has format {meta.get('format')!r}, "
            f"engine expects {INDEX_FORMAT!r} — centroid families don't "
            "mix; rebuild the index or pin the old engine."
        )
    return meta


def _centroids(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "centroids"))


def _vector_scan(spark: SparkSession, index_dir: str) -> DataFrame:
    """The index's full vector set: the build/add area plus, when the
    streaming sink has landed anything, the ``vectors_stream/`` area
    (same columns; the stream's ``_epoch`` partition level dropped).
    Both scans keep ``cell_id`` as a raw partition column, so the
    probe's dynamic partition pruning prunes each area independently;
    with no stream area the plan is byte-identical to the
    pre-streaming one (the explain-pinned tests build without
    streaming)."""
    base = spark.read.parquet(os.path.join(index_dir, "vectors"))
    sdir = os.path.join(index_dir, _STREAM_SUBDIR)
    if os.path.isdir(sdir) and any(
            e.name.startswith("cell_id=") for e in os.scandir(sdir)):
        stream = spark.read.parquet(sdir).select(*base.columns)
        base = base.unionByName(stream)
    return base


def _area_typed(emb: F.Column, meta: dict) -> F.Column:
    """Cast an incoming embedding column to the index area's stored
    element type (recorded in the meta since r13): appending an
    array<double> frame into an array<float> area writes a parquet
    file every subsequent scan of that cell FAILS to read
    (PARQUET_COLUMN_DATA_TYPE_MISMATCH) — one mis-typed producer must
    not poison the index.  Pre-r13 indexes without the key keep the
    old caller-beware behavior."""
    t = meta.get("emb_type")
    return emb.cast(f"array<{t}>") if t else emb


def _guarded(frame: DataFrame, id_col: str, emb: F.Column, dim: int,
             id_as: str = "vec_id") -> DataFrame:
    """(``id_as``, embedding, _norm) rows of ``frame`` with NULL and
    dimension-mismatched embeddings dropped — the one dirty-input guard
    add, stream ingest and both probe reads share.  A ragged or NULL
    vector would otherwise land in the lowest cell by id tiebreak
    (every cosine NULL), and a ragged query would probe nprobe cells
    that way and return k NULL-cos_sim "neighbors"."""
    return _with_norm(
        frame.select(F.col(id_col).alias(id_as), emb.alias("embedding"))
        .filter(F.col("embedding").isNotNull())
        .filter(F.size("embedding") == dim)
    )


def ivf_add(spark: SparkSession, index_dir: str, vectors: DataFrame,
            id_col: str = "vec_id", emb_col: str = "embedding") -> None:
    """Incremental ingest: assign new vectors to the EXISTING centroids
    and append into their cell partitions (no rebuild; centroids drift
    is handled by periodic ivf_build off the hot path, like every other
    compaction in this engine)."""
    meta = _load_meta(index_dir)
    v = _guarded(vectors, id_col, _area_typed(F.col(emb_col), meta),
                 meta["dim"])
    assigned = _assign(v, _centroids(spark, index_dir))
    area = os.path.join(index_dir, "vectors")
    # an erasure that emptied the whole base area leaves a zero-row flat
    # sentinel file (see ivf_delete) — appending partition dirs beside
    # it would give the next read conflicting layouts, so a
    # partition-less area is overwritten back into partitioned form
    has_parts = os.path.isdir(area) and any(
        e.name.startswith("cell_id=") for e in os.scandir(area))
    writer = (
        assigned.repartition("cell_id")
        .write.mode("append" if has_parts else "overwrite")
        .partitionBy("cell_id")
    )
    if has_parts:
        writer.parquet(area)
    else:
        # the restore-overwrite must truncate the WHOLE area (static
        # semantics) even if an ambient caller left the session in
        # dynamic partition-overwrite mode
        with _overwrite_mode(spark, "static"):
            writer.parquet(area)


def _probe(spark: SparkSession, index_dir: str, meta: dict,
           queries: DataFrame, nprobe: int, id_col: str,
           emb_col: str) -> tuple[DataFrame, DataFrame]:
    """The one probe-selection kernel of every IVF read: returns the
    guarded queries (query_id, q_emb, q_norm) and the probe frame
    (query_id, q_emb, q_norm, cell_id) with one row per probed cell.

    Probe selection is a projection over the ONE broadcast nested-
    centroid row: per query, sort the (pcos, -cell_id) struct array
    desc and take the first nprobe — the `desc(pcos) NULLS LAST,
    asc(cell_id)` top-nprobe without a query_id window, which would
    shuffle Q x n_cells embedding rows (guide §2.4).  An empty
    centroid set yields an empty scored array, and the inner explode
    drops the query row.  ``cell_id`` is a STRING, the raw type of the
    partition column it joins (the engine session disables partition
    type inference; casting the scan side would hide it from dynamic
    partition pruning)."""
    q = _guarded(queries, id_col, F.col(emb_col), meta["dim"],
                 "query_id").select("query_id",
                                    F.col("embedding").alias("q_emb"),
                                    F.col("_norm").alias("q_norm"))

    def _scored(c):
        pcos = F.round(
            _pair_cos(c["c_emb"], F.col("q_emb"),
                      c["c_norm"], F.col("q_norm")), 6
        ).cast("decimal(10,6)")
        return F.struct(pcos.alias("pcos"),
                        (-c["cell_id"]).alias("_neg"),
                        c["cell_id"].alias("cell_id"))

    probe_cells = F.transform(
        F.slice(F.sort_array(F.transform(F.col("_cents"), _scored),
                             asc=False),
                1, nprobe),
        lambda s: s["cell_id"].cast("string"))
    probes = (
        q.join(F.broadcast(_cents_nested(_centroids(spark, index_dir))))
        .select("query_id", "q_emb", "q_norm",
                F.explode(probe_cells).alias("cell_id"))
    )
    return q, probes


def _exact_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of (query_id, neighbor_id, q_emb, q_norm,
    embedding, _norm) candidate pairs: (query_id, neighbor_id, cos_sim,
    rnk) — 6dp cosine desc, neighbor id tiebreak, k rows per query,
    the query itself excluded."""
    cos = F.round(
        _pair_cos(F.col("q_emb"), F.col("embedding"),
                  F.col("q_norm"), F.col("_norm")), 6
    ).cast("decimal(10,6)")
    w_topk = W.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbor_id"))
    return (
        pairs
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w_topk))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
        .withColumn("cos_sim", F.col("cos_sim").cast("double"))
    )


def ivf_search(spark: SparkSession, index_dir: str, queries: DataFrame,
               k: int = 5, nprobe: int = 4,
               id_col: str = "vec_id",
               emb_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors per query, scanning only nprobe cells.

    No driver collect: the vectors scan joins the broadcast probe frame
    on the raw string ``cell_id``, and dynamic partition pruning
    rewrites the scan's partition filter from the broadcast side at run
    time (the plan's PartitionFilters carries
    `dynamicpruningexpression(cell_id IN dynamicpruning#..)`;
    tests/test_ann_index.py pins it), so the scan reads only the
    probed cells of both vector areas.
    """
    meta = _load_meta(index_dir)
    _q, probes = _probe(spark, index_dir, meta, queries, nprobe,
                        id_col, emb_col)
    joined = _vector_scan(spark, index_dir).join(F.broadcast(probes),
                                                 "cell_id")
    return _exact_topk(
        joined.withColumnRenamed("vec_id", "neighbor_id"), k)


def ivf_cell_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-cell health report for a persisted IVF index: (cell_id,
    n_vectors, share, balance_ratio) — the ``ivf_add`` drift
    diagnostic.  ivf_add assigns new vectors to FROZEN centroids, so a
    drifting ingest distribution concentrates into few cells and probe
    cost creeps toward a full scan; ops watch ``balance_ratio`` (cell
    share x n_cells: 1.0 = perfectly balanced, n_cells = everything in
    one cell) and trigger an off-hot-path ``ivf_build`` rebuild past a
    threshold (same compaction trade as the dedup band indexes).

    Cost: a column-pruned scan of the partition column only — no vector
    payload is read, but it IS a task-per-file groupBy/count, not a pure
    metadata/footer listing (a row-count-off-footers variant would save
    the task launch; not worth the bespoke reader for a diagnostic).
    """
    meta = _load_meta(index_dir)
    counts = (
        _vector_scan(spark, index_dir)
        .groupBy(F.col("cell_id").cast("int").alias("cell_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    )
    tot = counts.agg(F.sum("n_vectors").cast("bigint").alias("_total"))
    share = F.col("n_vectors") / F.col("_total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "cell_id",
            "n_vectors",
            F.round(share, 6).cast("decimal(10,6)").cast("double")
            .alias("share"),
            F.round(share * meta["n_cells"], 4).cast("decimal(12,4)")
            .cast("double").alias("balance_ratio"),
        )
        .orderBy(F.desc("n_vectors"), F.asc("cell_id"))
    )


def recommend_nprobe(spark: SparkSession, index_dir: str,
                     target_recall: float, k: int = 10,
                     sample_stride: int = 17,
                     candidates: list[int] | None = None) -> dict:
    """Auto-tune ``nprobe`` (VERDICT r10 stretch 9): measure the
    recall curve (OPERATIONS.md §5.8) on a deterministic held-out
    sample of THIS index's own vectors and return the cheapest nprobe
    whose recall@k meets ``target_recall``.  With
    ``target_recall=1.0`` the returned ``curve`` is the recall curve
    up to the first candidate that matches the full scan.

    Method: every ``sample_stride``-th indexed vec_id self-probes the
    index; ground truth is ``ivf_search`` at nprobe = n_cells (scans
    every cell — pinned equal to brute force in tests/test_ann_index.py).
    Candidates are walked cheapest-first, so the returned operating
    point is the minimal scan fraction meeting the target; if nothing
    short of a full scan does (the near-isotropic corpus case in the
    OPERATIONS.md table), the answer IS n_cells — i.e. "switch this
    workload to the exact path", exactly the §5.8 tuning rule.

    Driver-side cost is bounded by the SAMPLE (n_vectors /
    sample_stride query rows collected per candidate), never the
    corpus — this is an offline tuning helper, run once per rebuild.

    Returns ``{"nprobe", "recall", "scan_fraction", "target_recall",
    "n_queries", "curve": {nprobe: recall, ...}}``.
    """
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], "
                         f"got {target_recall}")
    meta = _load_meta(index_dir)
    n_cells = meta["n_cells"]
    vecs = _vector_scan(spark, index_dir).select("vec_id", "embedding")
    queries = vecs.filter(F.col("vec_id") % sample_stride == 0)

    def topk_sets(df) -> dict:
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk_sets(ivf_search(spark, index_dir, queries, k=k,
                                 nprobe=n_cells))
    n_queries = len(exact)
    ladder = sorted({c for c in (candidates or (1, 2, 4, 8, 12))
                     if 0 < c < n_cells})
    curve: dict[int, float] = {}
    for nprobe in ladder:
        approx = topk_sets(ivf_search(spark, index_dir, queries, k=k,
                                      nprobe=nprobe))
        recalls = [len(approx.get(q, set()) & hits) / len(hits)
                   for q, hits in exact.items() if hits]
        recall = sum(recalls) / len(recalls) if recalls else 1.0
        curve[nprobe] = round(recall, 4)
        if recall >= target_recall:
            return {"nprobe": nprobe, "recall": curve[nprobe],
                    "scan_fraction": round(nprobe / n_cells, 3),
                    "target_recall": target_recall,
                    "n_queries": n_queries, "curve": curve}
    curve[n_cells] = 1.0  # full scan == ground truth by construction
    return {"nprobe": n_cells, "recall": 1.0, "scan_fraction": 1.0,
            "target_recall": target_recall, "n_queries": n_queries,
            "curve": curve}


def ivf_rebalance(spark: SparkSession, index_dir: str,
                  max_balance_ratio: float = 4.0,
                  kmeans_rounds: int = 2) -> dict:
    """Split oversized IVF cells in place — the skew remediation between
    ``ivf_add`` drift and a full ``ivf_build`` rebuild.

    At 100 TB the IVF failure mode is CELL SKEW: frozen centroids +
    drifting ingest concentrate vectors into few cells, and every probe
    that touches a fat cell pays its whole directory — probe cost creeps
    toward a full scan while ``balance_ratio`` climbs.  A full rebuild
    re-clusters the entire corpus; this op re-clusters ONLY the fat
    cells (balance_ratio > ``max_balance_ratio``, measured over base +
    stream areas combined — what probes actually pay): each is 2-means
    split (deterministic seeds = its two lowest vec_ids, DECIMAL-mean
    recompute — the build kernel's determinism discipline), its members
    re-assigned between the two children, everything else copied
    untouched.

    Durability is the engine's generation-pointer pattern: the new
    index materializes beside the live one (``.rebalancing``), then two
    renames swap it in; ``_recover_swap`` (run by every ``_load_meta``)
    heals any crash window — readers only ever see a complete index.

    The STREAM area is rewritten with the same (cell, _epoch) layout
    and the epoch sidecar is copied verbatim, so a stopped
    ``IvfStreamIngest`` resumes its OLD checkpoint safely: a replayed
    epoch re-assigns against the new centroids and dynamic-overwrites
    exactly the child partitions the rebalance created for it.  Run
    with ingest STOPPED (swap-vs-append is a directory race, same
    contract as every compaction in this engine).  Concurrent READS are
    safe during the build phase — the ``_rebalance.lock`` claim keeps
    their ``_recover_swap`` off the staging tree (ADVICE r11) — with
    one residual microsecond window: a reader's crash-healer racing the
    two swap renames themselves can restore ``.old`` between them,
    failing the builder's second rename loudly (staging intact; re-run
    the rebalance).  It can never install an incomplete index.

    Returns ``{"split_cells": [...], "n_cells": N, "max_share": post}``.
    ``max_share`` — the corpus fraction the heaviest single cell holds,
    i.e. what a probe touching it pays — is the cross-split skew metric
    (``balance_ratio`` = share x n_cells rises MECHANICALLY when a split
    grows n_cells, so it only compares within one layout); a no-op
    (nothing fat, or fat cells too degenerate to split) reports the
    live stats unchanged.
    """
    meta = _load_meta(index_dir)
    stats = ivf_cell_stats(spark, index_dir).collect()
    fat = [r["cell_id"] for r in stats
           if r["balance_ratio"] > max_balance_ratio and r["n_vectors"] >= 2]
    if not fat:
        return {"split_cells": [], "n_cells": meta["n_cells"],
                "max_share": max(
                    (r["share"] for r in stats), default=0.0)}

    cents = _centroids(spark, index_dir)
    combined = _vector_scan(spark, index_dir).withColumn(
        "cell_id", F.col("cell_id").cast("int"))
    next_id = max(r["cell_id"] for r in cents.select("cell_id").collect()) + 1
    child_cents = []
    assign_map = None  # (vec_id, cell_id) for every fat-cell member
    for x in sorted(fat):
        members = (combined.filter(F.col("cell_id") == x)
                   .select("vec_id", "embedding", "_norm")
                   .localCheckpoint(eager=True))
        s1 = members.orderBy("vec_id").limit(1).collect()
        if not s1:
            continue
        s1 = s1[0]
        # deterministic farthest-point seeding: seed 2 is the member
        # LEAST cosine-similar to seed 1 (id tiebreak) — two-lowest-ids
        # seeding can land both seeds in the same sub-cluster and the
        # split then never separates the drifted mass (caught by the
        # skew-reduction test)
        s1_emb = F.array(*[F.lit(float(v)) for v in s1["embedding"]])
        far = (
            members.withColumn(
                "_cos", F.round(_pair_cos(s1_emb, F.col("embedding"),
                                          F.lit(float(s1["_norm"])),
                                          F.col("_norm")), 6))
            .orderBy(F.asc("_cos"), F.asc("vec_id")).limit(1).collect()
        )
        seeds = [s1, far[0]] if far and far[0]["vec_id"] != s1["vec_id"] \
            else []
        if len(seeds) < 2:
            continue
        pair = local_frame(
            spark,
            [(x, seeds[0]["embedding"], seeds[0]["_norm"]),
             (next_id, seeds[1]["embedding"], seeds[1]["_norm"])],
            "cell_id int, c_emb array<double>, c_norm double")
        for _ in range(kmeans_rounds):
            assigned = _assign(members, pair)
            recomputed = _recompute_centroids(assigned)
            if recomputed.count() < 2:
                break  # degenerate (identical members): keep last split
            pair = recomputed
        assigned = _assign(members, pair).select("vec_id", "cell_id")
        child_cents.append(pair)
        assign_map = (assigned if assign_map is None
                      else assign_map.unionByName(assigned))
        next_id += 1
    if assign_map is None:
        return {"split_cells": [], "n_cells": meta["n_cells"],
                "max_share": max(r["share"] for r in stats)}
    assign_map = assign_map.localCheckpoint(eager=True)

    staging = index_dir + ".rebalancing"
    # claim the staging path BEFORE building it (see _REBALANCE_MARKER):
    # from here on, a concurrent reader's _recover_swap leaves the
    # staging tree alone, so reads need not be quiesced during the build
    Path(index_dir, _REBALANCE_MARKER).write_text(
        json.dumps({"pid": os.getpid()}))
    if os.path.isdir(staging):
        import shutil as _sh
        _sh.rmtree(staging, ignore_errors=True)
    new_cents = cents.filter(~F.col("cell_id").isin(fat))
    for pc in child_cents:
        new_cents = new_cents.unionByName(pc)
    new_cents = new_cents.localCheckpoint(eager=True)
    n_cells = new_cents.count()
    new_cents.write.mode("overwrite").parquet(
        os.path.join(staging, "centroids"))

    def _rewrite(src_dir: str, out_dir: str, part_cols: list[str]) -> None:
        rows = spark.read.parquet(src_dir)
        keep = rows.filter(~F.col("cell_id").cast("int").isin(fat))
        moved = (
            rows.filter(F.col("cell_id").cast("int").isin(fat))
            .drop("cell_id")
            .join(assign_map, "vec_id")
        ).select(*rows.columns)
        (
            keep.unionByName(moved)
            .withColumn("cell_id", F.col("cell_id").cast("int"))
            .repartition("cell_id")
            .write.mode("overwrite").partitionBy(*part_cols)
            .parquet(out_dir)
        )

    _rewrite(os.path.join(index_dir, "vectors"),
             os.path.join(staging, "vectors"), ["cell_id"])
    sdir = os.path.join(index_dir, _STREAM_SUBDIR)
    if os.path.isdir(sdir) and any(
            e.name.startswith("cell_id=") for e in os.scandir(sdir)):
        _rewrite(sdir, os.path.join(staging, _STREAM_SUBDIR),
                 ["cell_id", "_epoch"])
    sidecar = os.path.join(index_dir, "_stream_epoch.json")
    if os.path.exists(sidecar):
        import shutil as _sh
        _sh.copy2(sidecar, os.path.join(staging, "_stream_epoch.json"))
    ckpt = os.path.join(index_dir, "_stream_checkpoints")
    if os.path.isdir(ckpt):
        import shutil as _sh
        # preserved so a stopped IvfStreamIngest resumes its offsets
        # instead of re-delivering the whole source after the swap
        _sh.copytree(ckpt, os.path.join(staging, "_stream_checkpoints"))
    _meta_path(staging).write_text(json.dumps({**meta, "n_cells": n_cells}))

    old = index_dir + ".old"
    os.rename(index_dir, old)
    os.rename(staging, index_dir)
    import shutil as _sh
    _sh.rmtree(old, ignore_errors=True)
    post = ivf_cell_stats(spark, index_dir).collect()
    return {"split_cells": sorted(fat), "n_cells": n_cells,
            "max_share": max(r["share"] for r in post)}


def ivf_compact(spark: SparkSession, index_dir: str) -> dict:
    """Fold the stream area into the base area — the FILE-COUNT
    remediation between live ingest and a full re-cluster.

    Exactly-once-by-layout ingest writes one (cell, epoch) partition
    per touched cell per micro-batch, so stream-area files accumulate
    ~n_cells per batch and probe latency grows with them (measured
    1.6 s -> 2.3 s over 10 epochs / 160 files — BENCHLOG round-12,
    "streaming ANN ingest under load").  An ``ivf_build`` rebuild bounds this
    but re-clusters the whole corpus; this op only REWRITES: base ∪
    stream lands as one file set per cell under the UNCHANGED
    centroids, assignments verbatim (nothing numeric is recomputed —
    centroids and meta are byte-copied).

    Durability is the rebalance's claim+swap machinery reused
    verbatim: the ``_rebalance.lock`` claim keeps concurrent readers'
    crash healing off the staging tree, ``_recover_swap`` heals a torn
    swap, and the staging dir carries the checkpoint dir so a stopped
    ``IvfStreamIngest`` resumes its offsets afterwards.

    Ingest contract: run with ingest STOPPED CLEANLY (sidecar
    committed — the same swap-vs-append race contract as rebalance,
    plus one compaction-specific hazard: the compacted rows live in
    the base, so a crash-window replay of a pre-compaction epoch with
    a rolled-back sidecar would re-add them).  The sidecar's
    ``last_epoch`` is PRESERVED, so an engine-level redelivery of the
    last committed batch after resume no-ops on the epoch guard, and
    ``generation`` is bumped so post-compaction epochs can never
    collide with any orphan of the pre-compaction lineage.

    Returns ``{"compacted": n_stream_rows, "n_cells": N}``.
    """
    import shutil as _sh

    meta = _load_meta(index_dir)
    sdir = os.path.join(index_dir, _STREAM_SUBDIR)
    if not (os.path.isdir(sdir) and any(
            e.name.startswith("cell_id=") for e in os.scandir(sdir))):
        return {"compacted": 0, "n_cells": meta["n_cells"]}
    # report size from parquet FOOTERS, not a Spark count job — the
    # stream area's committed files carry exact row counts in metadata
    # (the LocalFSBackend.data_rows / maybe_compact names-only
    # cheapness discipline); `_`/`.`-prefixed entries are pruned so an
    # in-flight committer staging file is never opened
    import pyarrow.parquet as _pq

    n_stream = 0
    for r, dirs, files in os.walk(sdir):
        # Spark's hidden-path rule: `_`/`.`-prefixed entries are skipped
        # UNLESS they contain '=' (partition dirs like `_epoch=0-0`)
        dirs[:] = [d for d in dirs
                   if "=" in d or not d.startswith(("_", "."))]
        n_stream += sum(
            _pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", ".")))

    staging = index_dir + ".rebalancing"
    Path(index_dir, _REBALANCE_MARKER).write_text(
        json.dumps({"pid": os.getpid()}))
    if os.path.isdir(staging):
        _sh.rmtree(staging, ignore_errors=True)
    (
        _vector_scan(spark, index_dir)
        .withColumn("cell_id", F.col("cell_id").cast("int"))
        .repartition("cell_id")
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(os.path.join(staging, "vectors"))
    )
    # centroids byte-copied: compaction must not perturb a single bit
    # of the quantizer (the determinism discipline)
    _sh.copytree(os.path.join(index_dir, "centroids"),
                 os.path.join(staging, "centroids"))
    sidecar = os.path.join(index_dir, "_stream_epoch.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            side = json.load(f)
        with open(os.path.join(staging, "_stream_epoch.json"), "w") as f:
            json.dump({"generation": side["generation"] + 1,
                       "last_epoch": side["last_epoch"]}, f)
    ckpt = os.path.join(index_dir, "_stream_checkpoints")
    if os.path.isdir(ckpt):
        _sh.copytree(ckpt, os.path.join(staging, "_stream_checkpoints"))
    _meta_path(staging).write_text(json.dumps(meta))

    old = index_dir + ".old"
    os.rename(index_dir, old)
    os.rename(staging, index_dir)
    _sh.rmtree(old, ignore_errors=True)
    return {"compacted": n_stream, "n_cells": meta["n_cells"]}


def ivf_delete(spark: SparkSession, index_dir: str, ids,
               id_col: str = "vec_id") -> dict:
    """Erase vectors from a persisted IVF index by id — the ANN leg of
    the PII erasure cascade (SURVEY §2.B7): erasing a user from the
    tables (`pii_erasure_cascade`) must also reach every DERIVED store,
    and an embedding index is exactly such a store (reference GDPR
    clause, `docs/system-design.md` compliance section).

    Cost shape: only the CELLS that contain a hit are rewritten — the
    hit set is joined against the partition column first, so untouched
    cell directories are never read or written (at 100 TB an erasure
    batch touches a handful of cells, not the corpus).  Partially
    emptied (cell[, epoch]) partitions are rewritten via dynamic
    partition overwrite; fully emptied ones — which an overwrite write
    would never visit — are removed directly.  Centroids are left as
    built (a centroid is an aggregate over many vectors, not personal
    data; re-centering happens at the next ivf_build/ivf_rebalance).

    Idempotent by construction (deleting absent ids is a no-op), so the
    crash contract is RE-RUN: a crash mid-way leaves some hit cells
    rewritten and others not — re-running converges, and no crash
    window can resurrect an erased row.  Run with streaming ingest
    stopped (same swap-vs-append race contract as ivf_rebalance);
    erased ids re-arriving through a later stream REPLAY of an old
    epoch would be re-added — re-run the erasure after restarting
    ingest from a fresh checkpoint if the source itself was scrubbed.

    ``ids``: list/tuple of ids or a single-column DataFrame.  Returns
    ``{"deleted": n, "cells_rewritten": [...], "partitions_removed": N}``.
    """
    import shutil as _sh

    _load_meta(index_dir)
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias("vec_id")).distinct()
    else:
        ids_df = local_frame(
            spark, [(int(i),) for i in ids], "vec_id bigint").distinct()
    # Type guard (ADVICE r11): a DataFrame of ids whose column type
    # differs from the index's vec_id would make the semi join match
    # nothing and the erasure silently delete 0 rows — the worst failure
    # mode for a GDPR cascade leg.  Cast to the index's type and raise
    # LOUDLY if any id is lost to the cast (e.g. non-numeric strings vs
    # a bigint index); a lossless cast (int vs bigint ids) proceeds.
    vec_type = spark.read.parquet(
        os.path.join(index_dir, "vectors")).schema["vec_id"].dataType
    if ids_df.schema["vec_id"].dataType != vec_type:
        n_in = ids_df.filter(F.col("vec_id").isNotNull()).count()
        # try_cast, not cast: ANSI mode would abort the job mid-stage on
        # the first malformed id — the guard below raises with a count
        ids_df = ids_df.select(
            F.col("vec_id").try_cast(vec_type).alias("vec_id")).distinct()
        n_cast = ids_df.filter(F.col("vec_id").isNotNull()).count()
        if n_cast < n_in:
            raise ValueError(
                f"ivf_delete: {n_in - n_cast} of {n_in} ids do not cast "
                f"to the index's vec_id type {vec_type.simpleString()} — "
                "refusing an erasure that would silently skip them"
            )
    ids_df = ids_df.localCheckpoint(eager=True)

    deleted = 0
    cells_rewritten: set = set()
    parts_removed = 0
    areas = [(os.path.join(index_dir, "vectors"), ["cell_id"])]
    sdir = os.path.join(index_dir, _STREAM_SUBDIR)
    if os.path.isdir(sdir) and any(
            e.name.startswith("cell_id=") for e in os.scandir(sdir)):
        areas.append((sdir, ["cell_id", "_epoch"]))
    for area, part_cols in areas:
        rows = spark.read.parquet(area)
        hits = rows.join(ids_df, "vec_id", "left_semi")
        hit_parts = [tuple(r) for r in
                     hits.select(*part_cols).distinct().collect()]
        if not hit_parts:
            continue
        deleted += hits.count()
        hit_cells = sorted({p[0] for p in hit_parts})
        cells_rewritten.update(int(c) for c in hit_cells)
        in_hit_cells = rows.filter(F.col("cell_id").isin(hit_cells))
        remaining = in_hit_cells.join(ids_df, "vec_id", "left_anti")
        # break lineage before writing back to the path being read
        # (the swap_write discipline — an overwrite whose plan still
        # scans the target path is refused by Spark)
        remaining = remaining.localCheckpoint(eager=True)
        # partitions the overwrite will rewrite vs ones it would skip
        # (fully emptied: no surviving row ever writes there again)
        kept_parts = {tuple(r) for r in
                      remaining.select(*part_cols).distinct().collect()}
        with _overwrite_mode(spark, "dynamic"):
            if kept_parts:
                (
                    remaining.withColumn("cell_id",
                                         F.col("cell_id").cast("int"))
                    .repartition("cell_id")
                    .write.mode("overwrite").partitionBy(*part_cols)
                    .parquet(area)
                )
        for p in hit_parts:
            if p not in kept_parts:
                d = os.path.join(
                    area, *[f"{c}={v}" for c, v in zip(part_cols, p)])
                if os.path.isdir(d):
                    _sh.rmtree(d, ignore_errors=True)
                    if os.path.isdir(d):
                        # verify, don't trust (the ivf_refresh_pq
                        # dead-cell discipline, r15): a swallowed
                        # removal failure here would report PII rows
                        # as deleted while their partition stays
                        # readable — raise instead; the erasure is
                        # idempotent, so re-run converges
                        raise ValueError(
                            f"ivf_delete: failed to remove emptied "
                            f"partition {d} — erasure incomplete; "
                            "re-run")
                    parts_removed += 1
        # Fully-emptied partitions (ADVICE r11): the loop above removes
        # the leaf dirs, which can leave empty cell_id= shells (stream
        # area: a cell whose every _epoch emptied) or a bare area with
        # no partition dirs at all — and a later read of a file-less
        # directory fails schema inference.
        if area == sdir:
            # prune empty cell shells; if nothing survives at all,
            # _vector_scan's has-partitions guard then skips the area
            # (the epoch sidecar stays — it still fences old-epoch
            # replays from resurrecting erased rows)
            for e in os.scandir(area):
                if (e.name.startswith("cell_id=") and e.is_dir()
                        and not os.listdir(e.path)):
                    _sh.rmtree(e.path, ignore_errors=True)
        elif not any(e.name.startswith("cell_id=")
                     for e in os.scandir(area)):
            # the base area is always read: leave a zero-row,
            # schema-bearing flat file (cell_id becomes a data column
            # of an empty frame — probe filters still apply as plain
            # filters); the next ivf_add restores the partitioned
            # layout by overwriting a partition-less area instead of
            # appending
            (
                remaining.limit(0)
                .withColumn("cell_id", F.col("cell_id").cast("int"))
                .coalesce(1)
                .write.mode("overwrite").parquet(area)
            )
    return {"deleted": deleted, "cells_rewritten": sorted(cells_rewritten),
            "partitions_removed": parts_removed}


def maybe_compact(spark: SparkSession, index_dir: str,
                  files_per_cell: float = 50.0) -> dict:
    """OPERATIONS.md §11's file-count compaction trigger as code
    (VERDICT r12 stretch #8): run ``ivf_compact`` iff the stream area
    has accumulated more than ``files_per_cell x n_cells`` data files.

    Exactly-once-by-layout ingest writes one (cell, epoch) partition
    per touched cell per micro-batch, so stream files grow ~n_cells
    per batch and probe latency grows with them (measured 1.6 -> 2.3 s
    over 10 epochs / 160 files, BENCHLOG round-12).  The ~50x default
    is that measured knee's order of magnitude with headroom; tune per
    deployment from the same bench.

    Safety: skipped (never queued) while another maintenance op holds
    the ``_rebalance.lock`` claim — ``ivf_compact`` would otherwise
    steal the claim and delete a live rebalance's staging tree.  Like
    every base-area rewrite, call it with streaming ingest STOPPED
    CLEANLY (the swap-vs-append contract in ``ivf_compact``'s
    docstring); the trigger itself reads only filenames and the meta,
    so polling it on a schedule is free.

    Returns ``{"ran": bool, "reason": str, "stream_files": n,
    "threshold": t}`` (plus ``ivf_compact``'s fields when it ran).
    """
    from ..index_fs import get_index_fs

    meta = _load_meta(index_dir)
    threshold = int(files_per_cell * meta["n_cells"])
    fs = get_index_fs()
    if fs.exists(os.path.join(index_dir, _REBALANCE_MARKER)):
        return {"ran": False, "reason": "rebalance-lock-held",
                "stream_files": -1, "threshold": threshold}
    # the poll reads NAMES only (one LIST through the index_fs seam)
    n_files = fs.count_files(os.path.join(index_dir, _STREAM_SUBDIR))
    if n_files <= threshold:
        return {"ran": False, "reason": "below-threshold",
                "stream_files": n_files, "threshold": threshold}
    out = ivf_compact(spark, index_dir)
    out.update({"ran": True, "reason": "file-count",
                "stream_files": n_files, "threshold": threshold})
    return out


def maybe_rebalance(spark: SparkSession, index_dir: str,
                    max_balance_ratio: float = 3.0) -> dict:
    """OPERATIONS.md §11's skew trigger as code — the ``maybe_compact``
    twin for the OTHER maintenance axis: run ``ivf_rebalance`` iff the
    heaviest cell's ``balance_ratio`` (share x n_cells) exceeds
    ``max_balance_ratio``.  The 3.0 default is the documented policy: a
    probe touching the hot cell pays 3x its fair share and the §5.8
    nprobe/recall operating points drift accordingly.

    Cost of the poll: one column-pruned partition-column scan
    (``ivf_cell_stats``) collapsed to its heaviest row — no vector
    payload is read.  Safety mirrors ``maybe_compact``: skipped while
    the ``_rebalance.lock`` claim is held, and the rebalance itself
    must run with streaming ingest STOPPED CLEANLY (the swap-vs-append
    contract in ``ivf_rebalance``'s docstring).

    Returns ``{"ran": bool, "reason": str, "max_balance_ratio": x,
    "threshold": t}`` plus ``ivf_rebalance``'s report when it ran.
    """
    from ..index_fs import get_index_fs

    _load_meta(index_dir)
    if get_index_fs().exists(os.path.join(index_dir, _REBALANCE_MARKER)):
        return {"ran": False, "reason": "rebalance-lock-held",
                "max_balance_ratio": -1.0,
                "threshold": max_balance_ratio}
    top = ivf_cell_stats(spark, index_dir).first()
    observed = float(top["balance_ratio"]) if top is not None else 0.0
    if observed <= max_balance_ratio:
        return {"ran": False, "reason": "below-threshold",
                "max_balance_ratio": observed,
                "threshold": max_balance_ratio}
    out = ivf_rebalance(spark, index_dir,
                        max_balance_ratio=max_balance_ratio)
    # a rebalance can legitimately split NOTHING (a hot cell of
    # identical duplicate vectors has no farthest-point seed pair) —
    # report that honestly so a poll loop doesn't log "remediated"
    # forever while the skew persists (code-review r13)
    ran = bool(out.get("split_cells"))
    out.update({"ran": ran,
                "reason": "cell-skew" if ran else "skew-unsplittable",
                "max_balance_ratio": observed,
                "threshold": max_balance_ratio})
    return out
