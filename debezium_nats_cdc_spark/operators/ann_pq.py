"""IVF-PQ: product-quantized codes attached to the persisted IVF index
(`operators/ann_index.py` + `operators/pq.py` — the standard pairing;
Jégou et al., TPAMI 2011 / the FAISS IVF-PQ layout, public literature).

Layout under ``<index_dir>/pq/``:
  * ``codes/``      (vec_id, codes) parquet, ``partitionBy(cell_id)`` —
                    the SAME partition key as the vector areas, so the
                    probe frame prunes the codes scan exactly like the
                    vector scan;
  * ``model.json``  codebooks + dims + the attachment fingerprint.

Read path (``ivf_search_pq``): ``ivf_search``'s probe kernel picks
the same nprobe cells per query, an ADC scan of ONLY the probed
cells' CODES gives a per-query shortlist, and ``ivf_search``'s exact
re-rank scores just the |queries| × shortlist pairs against the
vector area.  Both scans are pruned at run time by dynamic partition
pruning off a broadcast semi-join with the probe frame — no probe
collect.  At scale the scan side therefore
touches nprobe/n_cells of ~8-16 B/vector instead of nprobe/n_cells of
256 B/vector — the two pruning axes (IVF partitions × PQ bytes)
multiply.

Snapshot contract (the important honesty): codes are an ATTACHMENT,
not maintained state.  Every index mutation — ``ivf_add``, stream
ingest, ``ivf_delete`` (PII erasure must reach THIS derived store
too), ``ivf_compact``, ``ivf_rebalance`` (cell ids change!) — leaves
the attachment stale, so ``ivf_attach_pq`` records a fingerprint of
the vector areas + centroids + stream sidecar, and ``ivf_search_pq``
REFUSES loudly when it no longer matches (re-attach after
maintenance, exactly like rebalance wants ingest stopped).  A stale
quantized read silently returning deleted or mis-bucketed neighbors
is the failure mode this guard exists to make impossible.

Remediation is tiered (r14): in-place mutations are re-synced
INCREMENTALLY by ``ivf_refresh_pq`` — the fingerprint's per-cell
listings localize staleness, so only the touched cells re-encode
(cost ∝ touched cells); ``ivf_attach_pq`` is the full rebuild, with
``model=`` reuse to skip retraining.

Two refusal shapes, both loud, by mutation kind: in-place mutations
(add / ingest / delete) leave the attachment behind with a
no-longer-matching fingerprint → the "snapshot" error; SWAP-based
maintenance (compact / rebalance) rebuilds the index directory from
a staging tree and therefore DROPS the attachment wholesale → the
"run ivf_attach_pq first" error (pinned over the ingest-hook path in
tests/test_ann_stream_ingest.py).  Carrying codes through a swap
would be wasted I/O: the attachment is effectively always stale at
compact time (ingest is what grows the stream area that triggers
compaction), and after a rebalance the cell ids the codes are
partitioned by no longer exist.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index_fs import get_index_fs
from ..io import local_frame
from .ann_index import (
    _REBALANCE_MARKER,
    _STREAM_SUBDIR,
    _exact_topk,
    _load_meta,
    _overwrite_mode,
    _probe,
    _vector_scan,
)
from .pq import PqModel, pq_encode, pq_search_adc, pq_train
from .similarity import _with_norm

PQ_FORMAT = "ivf-pq-l2adc-v1"


def _pq_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "pq")


def _index_fingerprint(index_dir: str) -> dict:
    """Cheap, Spark-free snapshot id of everything a PQ attachment
    depends on: the (name, size) listing of the vector + centroid
    areas and the stream sidecar.  Any add/ingest/delete/compact/
    rebalance changes at least one component.  All I/O routes through
    the ``index_fs`` seam (LIST + one small GET — object-store-native
    operations); the listing shape is pinned by the seam's contract
    so fingerprints compare across backends."""
    fs = get_index_fs()
    return {
        "vectors": fs.listing(os.path.join(index_dir, "vectors")),
        "stream": fs.listing(os.path.join(index_dir, _STREAM_SUBDIR)),
        "centroids": fs.listing(os.path.join(index_dir, "centroids")),
        "sidecar": fs.read_json(
            os.path.join(index_dir, "_stream_epoch.json")),
    }


def pq_model_of(index_dir: str) -> PqModel:
    """The current attachment's trained quantizer, fingerprint-free —
    for reuse across re-attaches (see ``ivf_attach_pq``'s ``model``
    parameter).  Read it BEFORE running maintenance: swap-based ops
    drop the attachment wholesale (module docstring)."""
    model, _fp = _load_pq(index_dir)
    return model


def ivf_attach_pq(spark: SparkSession, index_dir: str,
                  m: int = 16, k: int = 64, rounds: int = 5,
                  sample_stride: int | None = None,
                  model: PqModel | None = None) -> dict:
    """Train codebooks on the index's own vectors and write per-cell
    codes — run AFTER maintenance, with ingest stopped (the rebalance
    contract; the ``_rebalance.lock`` claim is refused like the other
    maintenance pollers).

    ``model``: pass a previously trained quantizer (``pq_model_of``
    reads the live one) to SKIP training — the attach then costs one
    map-only encode pass plus the codes write.  This is the standard
    train-once / encode-forever deployment (Jégou et al. train on a
    sample once; FAISS reuses a trained index factory): in the
    production maintenance loop (ingest → compact → re-attach) the
    corpus distribution drifts slowly, so re-training every re-attach
    buys nothing while re-running the driver-side k-means each cycle.
    Retrain (``model=None``) when drift is suspected — recall floors
    in tests are the regression signal.  The reused model's ``dim``
    must match the index's.

    The training sample stride defaults to pq_train's auto mode
    (derived from a cheap count so the driver collect is capped —
    attaching to a production-sized index never pulls the corpus).
    The recorded fingerprint is captured BEFORE the vector scan and
    re-verified just before ``model.json`` lands: a mutation racing
    the attach (a contract violation — exactly what the snapshot
    guard exists to catch) fails the attach instead of stamping
    pre-mutation codes with a post-mutation fingerprint that
    ``ivf_search_pq`` would accept as fresh.
    """
    meta = _load_meta(index_dir)
    if get_index_fs().exists(os.path.join(index_dir, _REBALANCE_MARKER)):
        raise ValueError("ivf_attach_pq: rebalance lock held — "
                         "finish maintenance first")
    if model is not None and model.dim != meta["dim"]:
        raise ValueError(
            f"ivf_attach_pq: reused model dim {model.dim} != index "
            f"dim {meta['dim']} — train a new one (model=None)")
    fp = _index_fingerprint(index_dir)
    vecs = (
        _vector_scan(spark, index_dir)
        .withColumn("cell_id", F.col("cell_id").cast("int"))
        .select("vec_id", "embedding", "cell_id")
    )
    if model is None:
        model = pq_train(vecs, m=m, k=k, rounds=rounds,
                         sample_stride=sample_stride)
    codes = (
        pq_encode(vecs.select("vec_id", "embedding"), model)
        .join(vecs.select("vec_id", "cell_id"), "vec_id")
    )
    pq_root = _pq_dir(index_dir)
    codes_dir = os.path.join(pq_root, "codes")
    # invalidate any PREVIOUS attachment before its codes are
    # overwritten: a crash (or the racing-mutation raise below)
    # mid-re-attach must not leave the old model.json paired with
    # codes from a DIFFERENT quantizer — every read path refuses
    # through the whole rebuild window (code-review r14)
    get_index_fs().remove(os.path.join(pq_root, "model.json"))
    # pin static overwrite: under an ambient dynamic conf this write
    # would only touch partitions present in the NEW data, leaving a
    # fully-erased cell's old codes alive through a "fresh" re-attach
    # — the same ambient-conf hazard ivf_add/ivf_delete pin against
    with _overwrite_mode(spark, "static"):
        (
            codes.repartition("cell_id")
            .write.mode("overwrite").partitionBy("cell_id")
            .parquet(codes_dir)
        )
    # count the WRITTEN files — recounting the lazy plan would run the
    # whole encode a second time (code-review r14).  A zero-row encode
    # (reused model over a fully-erased index) writes a file-less dir;
    # reading it would die on schema inference AFTER the previous
    # model.json was already invalidated, so sentinel it to n=0 — the
    # same empty-store shape ivf_search_pq reads back (ADVICE r14)
    if get_index_fs().count_files(codes_dir) == 0:
        n = 0
    else:
        n = spark.read.parquet(codes_dir).count()
    if _index_fingerprint(index_dir) != fp:
        # no model.json present -> every read refuses the torn attach
        raise ValueError(
            "ivf_attach_pq: the index mutated during the attach — "
            "codes were trained on pre-mutation data; stop "
            "ingest/maintenance and re-run")
    _write_model(index_dir, model, fp)
    return {"attached": n, "m": model.m, "k": model.k,
            "n_cells": meta["n_cells"]}


def _write_model(index_dir: str, model: PqModel, fp: dict) -> None:
    """Single writer for ``model.json`` (attach + refresh share it, so
    the payload can never drift from ``_load_pq``'s reader)."""
    get_index_fs().write_json_atomic(
        os.path.join(_pq_dir(index_dir), "model.json"),
        {"format": PQ_FORMAT, "dim": model.dim, "m": model.m,
         "k": model.k, "codebooks": model.codebooks,
         "fingerprint": fp})


def _cells_of(listing: list[list]) -> dict[int, list]:
    """Group a fingerprint area listing by its leading ``cell_id=N``
    path component → {cell: [[relpath, size], ...]}.  Entries not
    under a cell partition (e.g. ``_SUCCESS`` at the area root) are
    ignored — they carry no per-cell state."""
    out: dict[int, list] = {}
    for path, size in listing:
        head = path.split(os.sep, 1)[0]
        if head.startswith("cell_id="):
            out.setdefault(int(head.split("=", 1)[1]),
                           []).append([path, size])
    return out


def ivf_refresh_pq(spark: SparkSession, index_dir: str) -> dict:
    """Incrementally re-sync a stale attachment after IN-PLACE
    mutations (``ivf_add`` / stream ingest / ``ivf_delete``) — the
    routine maintenance path at scale.

    The recorded fingerprint already carries per-cell file listings
    of both vector areas, so staleness is LOCALIZED: diff old vs live
    listings per cell, re-encode ONLY the touched cells with the
    attachment's OWN quantizer (the train-once discipline —
    ``pq_encode`` is a map-only Arrow kernel over a scan pruned to
    those cells), dynamic-partition-overwrite exactly those code
    partitions, and drop code partitions whose cells no longer exist
    (the PII erasure cascade reaches this derived store through the
    refresh too).  Cost ∝ touched cells: one ``ivf_add`` batch or one
    ingest epoch touches a handful of cells out of thousands, so the
    refresh moves kilobytes where ``ivf_attach_pq`` would re-encode
    the corpus.

    ``ivf_attach_pq`` remains the full (re)build: first attachment,
    after swap-based maintenance (which drops the attachment anyway),
    after any centroid rewrite (cell geometry moved — refresh refuses
    so the RETRAIN decision stays with the operator), or when drift
    warrants new codebooks.

    Crash contract: code partitions are rewritten BEFORE the
    fingerprint commits, so a crash mid-refresh leaves ``model.json``
    carrying the old fingerprint — reads still refuse, and re-running
    the refresh converges (encode is deterministic; the same stale
    set rewrites the same partitions).  The same mechanism is the
    READ FENCE: throughout the refresh window the committed
    fingerprint matches neither the pre- nor mid-rewrite directory,
    so a concurrent ``ivf_search_pq`` refuses rather than racing the
    partition overwrites (the staleness guard doubles as the fence —
    no lock needed on the read side).  Refuses under the rebalance
    lock and on a mutation racing the refresh (the attach-time
    fingerprint discipline).  A fresh attachment is a no-op.
    """
    _load_meta(index_dir)
    fs = get_index_fs()
    if fs.exists(os.path.join(index_dir, _REBALANCE_MARKER)):
        raise ValueError("ivf_refresh_pq: rebalance lock held — "
                         "finish maintenance first")
    model, old_fp = _load_pq(index_dir)
    new_fp = _index_fingerprint(index_dir)
    if new_fp == old_fp:
        return {"refreshed_cells": [], "removed_cells": [],
                "noop": True}
    if new_fp["centroids"] != old_fp["centroids"]:
        raise ValueError(
            "ivf_refresh_pq: centroids changed since the attachment — "
            "cell geometry moved (rebuild); run ivf_attach_pq and "
            "decide whether to retrain")
    old_cells: dict[int, list] = {}
    new_cells: dict[int, list] = {}
    for area in ("vectors", "stream"):
        for cell, entries in _cells_of(old_fp[area]).items():
            old_cells.setdefault(cell, []).extend(entries)
        for cell, entries in _cells_of(new_fp[area]).items():
            new_cells.setdefault(cell, []).extend(entries)
    stale = sorted(c for c in new_cells
                   if sorted(new_cells[c]) != sorted(old_cells.get(c, [])))
    dead = sorted(set(old_cells) - set(new_cells))
    codes_dir = os.path.join(_pq_dir(index_dir), "codes")
    if stale:
        vecs = (
            _vector_scan(spark, index_dir)
            .filter(F.col("cell_id").isin([str(c) for c in stale]))
            .withColumn("cell_id", F.col("cell_id").cast("int"))
            .select("vec_id", "embedding", "cell_id")
        )
        codes = (
            pq_encode(vecs.select("vec_id", "embedding"), model)
            .join(vecs.select("vec_id", "cell_id"), "vec_id")
        )
        with _overwrite_mode(spark, "dynamic"):
            (
                codes.repartition("cell_id")
                .write.mode("overwrite").partitionBy("cell_id")
                .parquet(codes_dir)
            )
    for c in dead:
        # erasure-cascade removal through the seam (ADVICE r14): a
        # direct local rmtree would silently no-op on a non-local
        # backend, making full-cell erasure unrecoverable via refresh
        # there — remove_tree is LIST + batch DELETE everywhere
        p = os.path.join(codes_dir, f"cell_id={c}")
        fs.remove_tree(p)
        # exists(), not listing(): listing skips dot-prefixed names by
        # contract, so a removal failure leaving only dot-files behind
        # would pass a listing-based check with the directory still
        # present — weaker than the raise message claims (ADVICE r15)
        if fs.exists(p):
            # verify BEFORE the fingerprint commits: a swallowed
            # removal failure would otherwise stamp the attachment
            # fresh with PII-derived codes still on disk, and a
            # re-run would no-op on the matching fingerprint
            # (code-review r14)
            raise ValueError(
                f"ivf_refresh_pq: failed to remove dead codes "
                f"partition {p} — erasure cascade incomplete; re-run")
    if _index_fingerprint(index_dir) != new_fp:
        raise ValueError(
            "ivf_refresh_pq: the index mutated during the refresh — "
            "stop ingest/maintenance and re-run")
    _write_model(index_dir, model, new_fp)
    return {"refreshed_cells": stale, "removed_cells": dead,
            "noop": False}


def _load_pq(index_dir: str) -> tuple[PqModel, dict]:
    rec = get_index_fs().read_json(
        os.path.join(_pq_dir(index_dir), "model.json"))
    if rec is None:
        raise ValueError(f"no PQ attachment at {index_dir} — "
                         "run ivf_attach_pq first")
    if rec.get("format") != PQ_FORMAT:
        raise ValueError(
            f"PQ attachment format {rec.get('format')!r} != {PQ_FORMAT!r} "
            "— code families don't mix; re-attach")
    model = PqModel(dim=rec["dim"], m=rec["m"], k=rec["k"],
                    codebooks=rec["codebooks"])
    return model, rec["fingerprint"]


def ivf_search_pq(spark: SparkSession, index_dir: str,
                  queries: DataFrame, k: int = 10, nprobe: int = 4,
                  shortlist: int = 50,
                  id_col: str = "vec_id",
                  emb_col: str = "embedding") -> DataFrame:
    """Probe-pruned ADC shortlist + exact re-rank over the attachment.

    Refuses on a stale attachment (any index mutation since
    ``ivf_attach_pq`` — the snapshot contract in the module
    docstring).  Output matches ``ivf_search``: (query_id,
    neighbor_id, cos_sim, rnk), 6dp cosine desc, id tiebreak; with
    ``shortlist`` >= the probed cells' size it IS ``ivf_search``.
    """
    meta = _load_meta(index_dir)
    model, fp = _load_pq(index_dir)
    if _index_fingerprint(index_dir) != fp:
        raise ValueError(
            "ivf_search_pq: the index changed since ivf_attach_pq "
            "(add/ingest/delete/compact/rebalance) — the code "
            "attachment is a snapshot; re-run ivf_attach_pq")
    q, probes = _probe(spark, index_dir, meta, queries, nprobe,
                       id_col, emb_col)
    # both scans are pruned to the UNION of probe sets (one pass serves
    # the whole query batch) by DPP off this broadcast semi-join on the
    # raw string partition column; per-query probe semantics are
    # restored inside pq_search_adc via the probe pairs — a query only
    # ranks candidates from cells IT probed (ADVICE r13)
    cells = F.broadcast(probes.select("cell_id"))
    codes_dir = os.path.join(_pq_dir(index_dir), "codes")
    if get_index_fs().count_files(codes_dir) == 0:
        # a fully-erased corpus leaves a file-less codes store (every
        # dead partition removed by the refresh) — a fresh attachment
        # over nothing must return empty, not die on parquet schema
        # inference (ivf_delete's zero-row-sentinel shape for the
        # vectors area; code-review r14)
        codes = local_frame(
            spark, [], "vec_id bigint, codes array<int>, cell_id int")
    else:
        codes = (
            spark.read.parquet(codes_dir).join(cells, "cell_id", "left_semi")
            .select("vec_id", "codes", "cell_id")
        )
    short = pq_search_adc(
        spark,
        q.select(F.col("query_id").alias("vec_id"),
                 F.col("q_emb").alias("embedding")),
        codes, model, k=shortlist,
        probes=probes.select("query_id", "cell_id"),
    ).select("query_id", "neighbor_id")
    vecs = _with_norm(
        _vector_scan(spark, index_dir).join(cells, "cell_id", "left_semi")
        .select(F.col("vec_id").alias("neighbor_id"), "embedding")
    )
    return _exact_topk(
        short.join(vecs, "neighbor_id")   # Q×shortlist, probed cells only
        .join(F.broadcast(q), "query_id"), k)
