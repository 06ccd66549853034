"""IVF-PQ attachment (operators/ann_pq.py): probe-pruned ADC + re-rank
recall vs the exact ivf_search, and the snapshot-staleness contract —
every index mutation must invalidate the attachment loudly."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from debezium_nats_cdc_spark.io import load_table
from debezium_nats_cdc_spark.operators.ann_index import (
    _REBALANCE_MARKER,
    ivf_add,
    ivf_build,
    ivf_compact,
    ivf_delete,
    ivf_search,
)
from debezium_nats_cdc_spark.operators.ann_pq import (
    _pq_dir,
    ivf_attach_pq,
    ivf_search_pq,
)
from debezium_nats_cdc_spark.streaming.ann_ingest import IvfStreamIngest

SF = "/root/testdata/sf0.001"
N_CELLS = 8


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 8)


def _recall(exact_rows, got_rows):
    from collections import defaultdict

    ex, got = defaultdict(set), defaultdict(set)
    for r in exact_rows:
        ex[r.query_id].add(r.neighbor_id)
    for r in got_rows:
        got[r.query_id].add(r.neighbor_id)
    return sum(len(ex[q] & got[q]) / len(ex[q]) for q in ex) / len(ex)


@pytest.fixture()
def index_dir(spark, tmp_path):
    d = str(tmp_path / "ivf")
    ivf_build(spark, _emb(spark).filter(F.col("vec_id") % 2 == 0),
              d, n_cells=N_CELLS)
    ing = IvfStreamIngest(d)
    ing.process_batch(
        spark, _emb(spark).filter(F.col("vec_id") % 2 == 1), epoch_id=0)
    ivf_compact(spark, d)
    return d


def test_attach_and_search_recall(spark, index_dir):
    rep = ivf_attach_pq(spark, index_dir, m=16, k=64)
    assert rep["attached"] == _emb(spark).count()
    q = _queries(spark)
    # measured (BENCHLOG r13): 0.95 @ (nprobe=8, shortlist=50), 1.0 @
    # shortlist=100, 0.925 @ (nprobe=4, shortlist=50) — floors pinned
    # well below to catch kernel breakage, not codebook jitter
    exact_full = ivf_search(spark, index_dir, q, k=10,
                            nprobe=N_CELLS).collect()
    got_full = ivf_search_pq(spark, index_dir, q, k=10,
                             nprobe=N_CELLS, shortlist=100).collect()
    assert _recall(exact_full, got_full) >= 0.9
    exact_p = ivf_search(spark, index_dir, q, k=10, nprobe=4).collect()
    got_p = ivf_search_pq(spark, index_dir, q, k=10,
                          nprobe=4, shortlist=50).collect()
    assert _recall(exact_p, got_p) >= 0.7
    # search conventions: ranked 1..n per query, 6dp cosine desc
    per_q = {}
    for r in got_full:
        per_q.setdefault(r.query_id, []).append((r.rnk, r.cos_sim))
    for rows in per_q.values():
        rows.sort()
        assert [rnk for rnk, _ in rows] == list(range(1, len(rows) + 1))
        assert all(c is not None for _, c in rows)
        assert all(rows[i][1] >= rows[i + 1][1]
                   for i in range(len(rows) - 1))


def test_pq_probes_the_same_cells_as_ivf_search(spark, index_dir):
    """Both reads share one probe kernel: with a shortlist as large as
    the corpus the ADC stage drops nothing, so ivf_search_pq must equal
    ivf_search row for row at every nprobe — a query ranking a cell the
    other read did not probe (or missing one) breaks the equality."""
    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=2)
    q, n = _queries(spark), _emb(spark).count()
    for nprobe in (1, 3, N_CELLS):
        want = sorted(map(tuple, ivf_search(
            spark, index_dir, q, k=10, nprobe=nprobe).collect()))
        got = sorted(map(tuple, ivf_search_pq(
            spark, index_dir, q, k=10, nprobe=nprobe,
            shortlist=n).collect()))
        assert got == want and want, nprobe


def test_pq_scans_prune_dynamically_and_query_bound(spark, index_dir):
    """No probe collect: the codes scan and the vectors scan both carry
    a runtime partition filter (DPP off the broadcast probe frame) at
    nprobe < n_cells, and the driver-side LUT bound refuses a 65-query
    batch."""
    from debezium_nats_cdc_spark.plans.explain import formatted_plan

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    plan = formatted_plan(ivf_search_pq(spark, index_dir, _queries(spark),
                                        k=5, nprobe=3))
    scans = [b for b in plan.split("\n\n") if "Scan parquet" in b
             and "PartitionFilters" in b]
    for area in (os.path.join("pq", "codes"), "vectors"):
        hit = [b for b in scans if f"{area}]" in b]
        assert hit, f"no {area} scan in plan\n{plan}"
        for b in hit:
            filt = [ln for ln in b.splitlines() if "PartitionFilters" in ln]
            assert "dynamicpruningexpression(cell_id#" in filt[0], \
                f"{area} scan not DPP-pruned\n{b}"
    with pytest.raises(ValueError, match="more than 64 queries"):
        ivf_search_pq(spark, index_dir,
                      _emb(spark).filter(F.col("vec_id") < 100), k=5,
                      nprobe=3)


def test_every_mutation_staleness_guard(spark, index_dir):
    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=2)
    q = _queries(spark)
    assert ivf_search_pq(spark, index_dir, q, k=5,
                         nprobe=N_CELLS).count() > 0

    # array<float>, matching the index area's stored type — an
    # array<double> append would poison the parquet area for readers
    extra = spark.createDataFrame(
        [(9001, [float(i) for i in range(64)])],
        "vec_id bigint, embedding array<float>")
    ivf_add(spark, index_dir, extra)
    with pytest.raises(ValueError, match="snapshot"):
        ivf_search_pq(spark, index_dir, q, k=5)

    # re-attach heals; erasure then invalidates again AND the
    # re-attached codes no longer contain the erased id (the PII
    # cascade must reach this derived store too)
    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=2)
    ivf_delete(spark, index_dir, [9001])
    with pytest.raises(ValueError, match="snapshot"):
        ivf_search_pq(spark, index_dir, q, k=5)
    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=2)
    codes = spark.read.parquet(os.path.join(_pq_dir(index_dir), "codes"))
    assert codes.filter(F.col("vec_id") == 9001).count() == 0
    assert ivf_search_pq(spark, index_dir, q, k=5,
                         nprobe=N_CELLS).count() > 0


def test_attach_refuses_under_rebalance_lock(spark, index_dir):
    marker = os.path.join(index_dir, _REBALANCE_MARKER)
    with open(marker, "w") as f:
        json.dump({"pid": 0}, f)
    with pytest.raises(ValueError, match="rebalance lock"):
        ivf_attach_pq(spark, index_dir)
    os.remove(marker)


def test_format_guard(spark, index_dir):
    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    p = os.path.join(_pq_dir(index_dir), "model.json")
    with open(p) as f:
        rec = json.load(f)
    rec["format"] = "ivf-pq-somethingelse-v9"
    with open(p, "w") as f:
        json.dump(rec, f)
    with pytest.raises(ValueError, match="don't mix"):
        ivf_search_pq(spark, index_dir, _queries(spark), k=5)
    # a valid index with NO attachment points at the attach step
    import shutil

    shutil.rmtree(_pq_dir(index_dir))
    with pytest.raises(ValueError, match="run ivf_attach_pq"):
        ivf_search_pq(spark, index_dir, _queries(spark), k=5)


def test_attach_fails_on_racing_mutation(spark, index_dir, monkeypatch):
    """The fingerprint is captured BEFORE the vector scan and
    re-verified before model.json lands (ADVICE r13): a mutation
    racing the attach fails it instead of stamping pre-mutation codes
    with a post-mutation fingerprint the search would accept."""
    import debezium_nats_cdc_spark.operators.ann_pq as ann_pq_mod

    real_train = ann_pq_mod.pq_train

    def racing_train(*a, **kw):
        model = real_train(*a, **kw)
        # mutate the fingerprinted area mid-attach ("_"-prefixed so
        # Spark's parquet reader ignores it; the listing does not)
        with open(os.path.join(index_dir, "vectors", "_racer"), "w") as f:
            f.write("x")
        return model

    monkeypatch.setattr(ann_pq_mod, "pq_train", racing_train)
    with pytest.raises(ValueError, match="mutated during the attach"):
        ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    # torn attach left no model.json -> reads refuse at the load step
    with pytest.raises(ValueError, match="run ivf_attach_pq"):
        ivf_search_pq(spark, index_dir, _queries(spark), k=5)


def test_batched_probe_semantics_match_single_query(spark, index_dir):
    """Per-query probe semantics (ADVICE r13): a batched ivf_search_pq
    must equal running each query alone — the shortlist may not
    contain neighbors from cells the query never probed, even when
    the batch's union scan covers them."""
    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=2)
    q = _queries(spark)
    batch = ivf_search_pq(spark, index_dir, q, k=5, nprobe=1,
                          shortlist=20).collect()
    assert batch
    for qid in (0, 1, 2):
        single = ivf_search_pq(
            spark, index_dir, q.filter(F.col("vec_id") == qid),
            k=5, nprobe=1, shortlist=20).collect()
        got = sorted((r.neighbor_id, r.rnk) for r in batch
                     if r.query_id == qid)
        want = sorted((r.neighbor_id, r.rnk) for r in single)
        assert got == want


def test_attach_model_reuse_skips_training(spark, index_dir):
    """Train-once / encode-forever (r14): re-attach with a reused
    quantizer skips the driver-side k-means — the quantizer is
    byte-identical, every pre-mutation vector keeps byte-identical
    codes (deterministic encode), the new vector is coded, and the
    attachment is fresh again.  A dim-mismatched reuse refuses."""
    from debezium_nats_cdc_spark.operators.ann_pq import pq_model_of
    from debezium_nats_cdc_spark.operators.pq import PqModel

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=2)
    model = pq_model_of(index_dir)
    codes_path = os.path.join(_pq_dir(index_dir), "codes")
    before = {r.vec_id: tuple(r.codes)
              for r in spark.read.parquet(codes_path).collect()
              if r.codes is not None}

    extra = spark.createDataFrame(
        [(9050, [float(i) / 64 for i in range(64)])],
        "vec_id bigint, embedding array<float>")
    ivf_add(spark, index_dir, extra)
    with pytest.raises(ValueError, match="snapshot"):
        ivf_search_pq(spark, index_dir, _queries(spark), k=5)

    ivf_attach_pq(spark, index_dir, model=model)
    assert pq_model_of(index_dir).codebooks == model.codebooks
    after = {r.vec_id: tuple(r.codes)
             for r in spark.read.parquet(codes_path).collect()
             if r.codes is not None}
    assert 9050 in after
    for vid, c in before.items():
        assert after[vid] == c
    assert ivf_search_pq(spark, index_dir, _queries(spark), k=5,
                         nprobe=N_CELLS).count() > 0

    bad = PqModel(dim=32, m=8, k=16, codebooks=model.codebooks)
    with pytest.raises(ValueError, match="dim"):
        ivf_attach_pq(spark, index_dir, model=bad)


def test_refresh_reencodes_only_touched_cells(spark, index_dir):
    """ivf_refresh_pq (r14): after an in-place add, only the touched
    cells' code partitions are rewritten — untouched cells keep their
    exact files (proved by the codes-dir listing, not just content
    equality) — and the attachment is fresh again with the SAME
    quantizer.  A second refresh is a no-op."""
    from debezium_nats_cdc_spark.index_fs import get_index_fs
    from debezium_nats_cdc_spark.operators.ann_pq import (
        ivf_refresh_pq,
        pq_model_of,
    )

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=2)
    model = pq_model_of(index_dir)
    codes_dir = os.path.join(_pq_dir(index_dir), "codes")
    fs = get_index_fs()
    before = {tuple(e) for e in fs.listing(codes_dir)}

    extra = spark.createDataFrame(
        [(9070, [float(i) / 64 for i in range(64)])],
        "vec_id bigint, embedding array<float>")
    ivf_add(spark, index_dir, extra)
    with pytest.raises(ValueError, match="snapshot"):
        ivf_search_pq(spark, index_dir, _queries(spark), k=5)

    rep = ivf_refresh_pq(spark, index_dir)
    assert rep["noop"] is False
    assert 1 <= len(rep["refreshed_cells"]) < N_CELLS
    assert rep["removed_cells"] == []
    after = {tuple(e) for e in fs.listing(codes_dir)}
    touched = {f"cell_id={c}" for c in rep["refreshed_cells"]}
    for path, size in before:
        if path.split(os.sep, 1)[0] not in touched \
                and not path.endswith("_SUCCESS"):
            assert (path, size) in after  # untouched partitions intact
    assert pq_model_of(index_dir).codebooks == model.codebooks
    codes = spark.read.parquet(codes_dir)
    assert codes.filter(F.col("vec_id") == 9070).count() == 1
    assert ivf_search_pq(spark, index_dir, _queries(spark), k=5,
                         nprobe=N_CELLS).count() > 0
    assert ivf_refresh_pq(spark, index_dir) == {
        "refreshed_cells": [], "removed_cells": [], "noop": True}


def test_refresh_erasure_cascade_and_refusals(spark, index_dir):
    """Erasure reaches the codes through the refresh (the deleted id
    is gone without a full re-attach); a centroid rewrite refuses
    (retrain is the operator's call); the rebalance lock refuses."""
    import json

    from debezium_nats_cdc_spark.operators.ann_pq import ivf_refresh_pq

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    victim = 11  # odd -> arrived via the fixture's stream epoch
    codes_dir = os.path.join(_pq_dir(index_dir), "codes")
    assert spark.read.parquet(codes_dir) \
        .filter(F.col("vec_id") == victim).count() == 1
    ivf_delete(spark, index_dir, [victim])
    rep = ivf_refresh_pq(spark, index_dir)
    assert rep["noop"] is False
    assert spark.read.parquet(codes_dir) \
        .filter(F.col("vec_id") == victim).count() == 0
    assert ivf_search_pq(spark, index_dir, _queries(spark), k=5,
                         nprobe=N_CELLS).count() > 0

    # centroid rewrite -> refuse (fingerprinted area changed)
    with open(os.path.join(index_dir, "centroids", "_tweak"), "w") as f:
        f.write("x")
    with pytest.raises(ValueError, match="centroids changed"):
        ivf_refresh_pq(spark, index_dir)
    os.remove(os.path.join(index_dir, "centroids", "_tweak"))

    marker = os.path.join(index_dir, _REBALANCE_MARKER)
    with open(marker, "w") as f:
        json.dump({"pid": 0}, f)
    with pytest.raises(ValueError, match="rebalance lock"):
        ivf_refresh_pq(spark, index_dir)
    os.remove(marker)


def test_refresh_removes_dead_cell_partitions(spark, index_dir):
    """Deleting EVERY vector of a cell removes its vector partition;
    the refresh must then drop the matching codes partition too —
    the erasure cascade's directory-level leg."""
    from debezium_nats_cdc_spark.operators.ann_index import _vector_scan
    from debezium_nats_cdc_spark.operators.ann_pq import ivf_refresh_pq

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    counts = (_vector_scan(spark, index_dir)
              .groupBy("cell_id").count().collect())
    cell = min(counts, key=lambda r: r["count"])["cell_id"]
    victims = [r.vec_id for r in
               _vector_scan(spark, index_dir)
               .filter(F.col("cell_id") == cell)
               .select("vec_id").collect()]
    ivf_delete(spark, index_dir, victims)
    rep = ivf_refresh_pq(spark, index_dir)
    assert int(cell) in rep["removed_cells"]
    codes_dir = os.path.join(_pq_dir(index_dir), "codes")
    assert not os.path.isdir(os.path.join(codes_dir, f"cell_id={cell}"))
    got = spark.read.parquet(codes_dir)
    assert got.filter(F.col("vec_id").isin(victims)).count() == 0
    assert ivf_search_pq(spark, index_dir, _queries(spark), k=5,
                         nprobe=N_CELLS).count() > 0


def test_torn_reattach_invalidates_previous_attachment(
        spark, index_dir, monkeypatch):
    """Code-review r14: a torn RE-attach (crash or racing-mutation
    raise after the codes overwrite) must not leave the PREVIOUS
    model.json paired with codes from a different quantizer — the old
    attachment is invalidated before its codes are touched, so every
    read path refuses through the whole rebuild window."""
    import debezium_nats_cdc_spark.operators.ann_pq as ann_pq_mod
    from debezium_nats_cdc_spark.operators.ann_pq import ivf_refresh_pq

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)  # attachment A
    real_train = ann_pq_mod.pq_train

    def racing_train(*a, **kw):
        model = real_train(*a, **kw)
        with open(os.path.join(index_dir, "vectors", "_racer2"),
                  "w") as f:
            f.write("x")
        return model

    monkeypatch.setattr(ann_pq_mod, "pq_train", racing_train)
    with pytest.raises(ValueError, match="mutated during the attach"):
        ivf_attach_pq(spark, index_dir, m=16, k=64, rounds=1)
    # attachment A is GONE, not resurrected over quantizer-B codes
    with pytest.raises(ValueError, match="run ivf_attach_pq"):
        ivf_search_pq(spark, index_dir, _queries(spark), k=5)
    with pytest.raises(ValueError, match="run ivf_attach_pq"):
        ivf_refresh_pq(spark, index_dir)


def test_reattach_truncates_erased_cells_under_ambient_dynamic_conf(
        spark, index_dir):
    """Code-review r14: with the session left in dynamic
    partition-overwrite mode, the attach write must still be a FULL
    truncating overwrite — otherwise a fully-erased cell's old codes
    (PII-derived) survive a re-attach that is stamped fresh."""
    from debezium_nats_cdc_spark.operators.ann_index import _vector_scan

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    counts = (_vector_scan(spark, index_dir)
              .groupBy("cell_id").count().collect())
    cell = min(counts, key=lambda r: r["count"])["cell_id"]
    victims = [r.vec_id for r in
               _vector_scan(spark, index_dir)
               .filter(F.col("cell_id") == cell)
               .select("vec_id").collect()]
    ivf_delete(spark, index_dir, victims)

    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf, "static")
    spark.conf.set(conf, "dynamic")  # the ambient hazard
    try:
        ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    finally:
        spark.conf.set(conf, prev)
    codes_dir = os.path.join(_pq_dir(index_dir), "codes")
    assert not os.path.isdir(os.path.join(codes_dir, f"cell_id={cell}"))
    got = spark.read.parquet(codes_dir)
    assert got.filter(F.col("vec_id").isin(victims)).count() == 0
    assert ivf_search_pq(spark, index_dir, _queries(spark), k=5,
                         nprobe=N_CELLS).count() > 0


def test_refresh_full_erasure_leaves_readable_empty_store(
        spark, index_dir):
    """Code-review r14: erasing the ENTIRE corpus and refreshing
    removes every codes partition — the quantized read must then
    return an empty typed frame, not die on parquet schema inference
    over a file-less directory."""
    from debezium_nats_cdc_spark.operators.ann_index import _vector_scan
    from debezium_nats_cdc_spark.operators.ann_pq import ivf_refresh_pq

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    everyone = [r.vec_id for r in
                _vector_scan(spark, index_dir)
                .select("vec_id").collect()]
    ivf_delete(spark, index_dir, everyone)
    rep = ivf_refresh_pq(spark, index_dir)
    assert rep["refreshed_cells"] == []
    assert len(rep["removed_cells"]) >= 1
    out = ivf_search_pq(spark, index_dir, _queries(spark), k=5,
                        nprobe=N_CELLS)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["query_id", "neighbor_id", "cos_sim", "rnk"]


def test_attach_model_reuse_over_erased_index_attaches_empty(
        spark, index_dir):
    """ADVICE r14: re-attaching a reused quantizer over a fully-erased
    index used to die on parquet schema inference over the file-less
    codes dir — AFTER the previous model.json was already invalidated,
    so the failed attach destroyed the previous attachment too.  It
    must instead land the empty-store shape: attached=0, quantized
    reads return the empty typed frame."""
    from debezium_nats_cdc_spark.operators.ann_index import _vector_scan
    from debezium_nats_cdc_spark.operators.ann_pq import pq_model_of

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    model = pq_model_of(index_dir)
    everyone = [r.vec_id for r in _vector_scan(spark, index_dir)
                .select("vec_id").collect()]
    ivf_delete(spark, index_dir, everyone)
    rep = ivf_attach_pq(spark, index_dir, model=model)
    assert rep["attached"] == 0
    out = ivf_search_pq(spark, index_dir, _queries(spark), k=5,
                        nprobe=N_CELLS)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["query_id", "neighbor_id", "cos_sim", "rnk"]


def test_refresh_dead_cell_removal_routes_through_seam(
        spark, index_dir):
    """ADVICE r14: the refresh's dead-partition removal went through a
    direct local rmtree, which silently no-ops on a non-local backend
    and makes full-cell erasure unrecoverable via refresh there — it
    must route through IndexFS.remove_tree like every other metadata
    operation (the erasure-cascade completability contract)."""
    from debezium_nats_cdc_spark.index_fs import set_index_fs
    from debezium_nats_cdc_spark.operators.ann_index import _vector_scan
    from debezium_nats_cdc_spark.operators.ann_pq import ivf_refresh_pq
    from tests.test_index_fs import _Recording

    ivf_attach_pq(spark, index_dir, m=8, k=16, rounds=1)
    counts = (_vector_scan(spark, index_dir)
              .groupBy("cell_id").count().collect())
    cell = min(counts, key=lambda r: r["count"])["cell_id"]
    victims = [r.vec_id for r in
               _vector_scan(spark, index_dir)
               .filter(F.col("cell_id") == cell)
               .select("vec_id").collect()]
    ivf_delete(spark, index_dir, victims)
    rec = _Recording()
    prev = set_index_fs(rec)
    try:
        rep = ivf_refresh_pq(spark, index_dir)
    finally:
        set_index_fs(prev)
    assert int(cell) in rep["removed_cells"]
    dead = os.path.join(_pq_dir(index_dir), "codes", f"cell_id={cell}")
    assert ("remove_tree", dead) in rec.calls
    assert not os.path.isdir(dead)
