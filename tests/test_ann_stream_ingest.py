"""IvfStreamIngest (streaming/ann_ingest.py): exactly-once streaming
adds into a persisted IVF index — stream-area layout, epoch-guard +
crash-window idempotency via dynamic partition overwrite, search/stats
equivalence with the proven batch ivf_add path, fresh-lineage reset.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_nats_cdc_spark.io import load_table
from debezium_nats_cdc_spark.operators.ann_index import (
    _vector_scan,
    ivf_add,
    ivf_build,
    ivf_cell_stats,
    ivf_search,
)
from debezium_nats_cdc_spark.streaming.ann_ingest import IvfStreamIngest

SF = "/root/testdata/sf0.001"
N_CELLS, NPROBE, K = 8, 3, 5


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def _base(spark):
    return _emb(spark).filter(F.col("vec_id") % 3 == 0)


def _b1(spark):
    return _emb(spark).filter(F.col("vec_id") % 3 == 1)


def _b2(spark):
    return _emb(spark).filter(F.col("vec_id") % 3 == 2)


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 8)


def _search_rows(spark, d):
    return sorted(map(tuple, ivf_search(
        spark, d, _queries(spark), k=K, nprobe=NPROBE).collect()))


def test_stream_adds_equal_batch_adds(spark, tmp_path):
    """Same base + same two add batches: the streaming sink and the
    proven batch ivf_add path must yield identical searches and
    identical cell stats."""
    d_stream, d_batch = str(tmp_path / "s"), str(tmp_path / "b")
    for d in (d_stream, d_batch):
        ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    ing = IvfStreamIngest(d_stream)
    ing.process_batch(spark, _b1(spark), epoch_id=0)
    ing.process_batch(spark, _b2(spark), epoch_id=1)
    ivf_add(spark, d_batch, _b1(spark))
    ivf_add(spark, d_batch, _b2(spark))
    assert _search_rows(spark, d_stream) == _search_rows(spark, d_batch)
    assert sorted(map(tuple, ivf_cell_stats(spark, d_stream).collect())) == \
        sorted(map(tuple, ivf_cell_stats(spark, d_batch).collect()))


def test_replay_and_crash_window_are_exactly_once(spark, tmp_path):
    """A replayed epoch no-ops via the guard; a crash BETWEEN the data
    write and the sidecar update (simulated by rolling the sidecar
    back) re-runs the write, which dynamic partition overwrite makes
    rewrite-in-place — no duplicate vectors either way."""
    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    ing = IvfStreamIngest(d)
    ing.process_batch(spark, _b1(spark), epoch_id=0)
    n = _vector_scan(spark, d).count()
    snap = _search_rows(spark, d)

    ing.process_batch(spark, _b1(spark), epoch_id=0)  # guard replay
    assert _vector_scan(spark, d).count() == n

    ing._write_sidecar({"generation": ing.generation(),
                        "last_epoch": -1})  # crash before sidecar update
    ing.process_batch(spark, _b1(spark), epoch_id=0)  # retry re-writes
    assert _vector_scan(spark, d).count() == n
    assert _search_rows(spark, d) == snap
    assert ing.last_epoch() == 0


def test_streaming_entrypoint_and_fresh_lineage_reset(spark, tmp_path):
    """writeStream E2E (two files, maxFilesPerTrigger=1); then a FRESH
    checkpoint re-delivers the source — start() must reset the stream
    area (append-shaped state cannot idempotently refold) and the
    rebuilt index must still equal the batch-add reference."""
    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    src = tmp_path / "src"
    src.mkdir()
    _b1(spark).coalesce(1).write.parquet(f"{src}/f0")
    _b2(spark).coalesce(1).write.parquet(f"{src}/f1")
    schema = _emb(spark).schema
    ing = IvfStreamIngest(d)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/f*/*"))
    ing.start(spark, stream).awaitTermination()
    gen1 = ing.generation()

    d_batch = str(tmp_path / "b")
    ivf_build(spark, _base(spark), d_batch, n_cells=N_CELLS)
    ivf_add(spark, d_batch, _b1(spark))
    ivf_add(spark, d_batch, _b2(spark))
    assert _search_rows(spark, d) == _search_rows(spark, d_batch)

    # fresh checkpoint lineage: the same source replays from scratch
    ing2 = IvfStreamIngest(d)
    ing2.checkpoint_dir = str(tmp_path / "ckpt2")
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{src}/f*/*"))
    ing2.start(spark, stream2).awaitTermination()
    assert ing2.generation() == gen1 + 1
    assert _search_rows(spark, d) == _search_rows(spark, d_batch)

def test_maintenance_hook_fires_after_available_now(spark, tmp_path):
    """VERDICT r13 task 5: start(maintenance=...) awaits the
    availableNow drain (ingest stopped cleanly) then runs the policy
    triggers.  A crossed file-count threshold compacts; the PQ
    attachment's staleness guard must refuse the post-maintenance
    index until re-attach — over the HOOK path, not just direct
    ivf_compact calls."""
    import pytest

    from debezium_nats_cdc_spark.operators.ann_pq import (
        ivf_attach_pq,
        ivf_search_pq,
    )

    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
    src = tmp_path / "src"
    src.mkdir()
    _b1(spark).coalesce(1).write.parquet(f"{src}/f0")
    _b2(spark).coalesce(1).write.parquet(f"{src}/f1")
    ing = IvfStreamIngest(d)
    stream = (spark.readStream.schema(_emb(spark).schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/f*/*"))
    q = ing.start(spark, stream, maintenance={"files_per_cell": 0.0})
    assert not q.isActive  # the hook awaited termination
    rep = ing.last_maintenance
    assert rep["compact"]["ran"] is True
    assert rep["compact"]["reason"] == "file-count"
    assert rep["compact"]["compacted"] == \
        _b1(spark).count() + _b2(spark).count()
    assert rep["rebalance"]["reason"] in (
        "below-threshold", "cell-skew", "skew-unsplittable")

    # the compacted index still equals the batch-add reference
    d_batch = str(tmp_path / "b")
    ivf_build(spark, _base(spark), d_batch, n_cells=N_CELLS)
    ivf_add(spark, d_batch, _b1(spark))
    ivf_add(spark, d_batch, _b2(spark))
    assert _search_rows(spark, d) == _search_rows(spark, d_batch)

    # hook-run maintenance blocks quantized reads until re-attach:
    # swap-based ops rebuild the index dir and DROP the attachment
    # wholesale (the ann_pq module-docstring contract — the in-place
    # mutations' "snapshot" refusal is pinned in test_ann_pq.py)
    with pytest.raises(ValueError, match="run ivf_attach_pq"):
        ivf_search_pq(spark, d, _queries(spark), k=K)
    ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
    assert ivf_search_pq(spark, d, _queries(spark), k=K,
                         nprobe=N_CELLS).count() > 0


def test_maintenance_hook_thresholds_lock_and_trigger_guard(
        spark, tmp_path):
    """Defaults leave a 2-epoch ingest below both thresholds (no-op
    reported honestly); a held rebalance lock skips both triggers; a
    continuous trigger refuses the hook outright (the ops'
    ingest-stopped contract)."""
    import json
    import os

    import pytest

    from debezium_nats_cdc_spark.operators.ann_index import \
        _REBALANCE_MARKER

    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    src = tmp_path / "src"
    src.mkdir()
    _b1(spark).coalesce(1).write.parquet(f"{src}/f0")
    ing = IvfStreamIngest(d)
    stream = (spark.readStream.schema(_emb(spark).schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/f*/*"))
    ing.start(spark, stream, maintenance={})
    rep = ing.last_maintenance
    assert rep["compact"] == {
        "ran": False, "reason": "below-threshold",
        "stream_files": rep["compact"]["stream_files"],
        "threshold": 50 * N_CELLS}
    assert 0 < rep["compact"]["stream_files"] <= 50 * N_CELLS
    assert rep["rebalance"]["ran"] is False

    marker = os.path.join(d, _REBALANCE_MARKER)
    with open(marker, "w") as f:
        json.dump({"pid": 0}, f)
    rep = ing.run_maintenance(spark, files_per_cell=0.0,
                              max_balance_ratio=0.0)
    assert rep["compact"]["reason"] == "rebalance-lock-held"
    assert rep["rebalance"]["reason"] == "rebalance-lock-held"
    os.remove(marker)

    with pytest.raises(ValueError, match="available_now=True"):
        ing.start(spark, stream, available_now=False, maintenance={})


def test_maintenance_hook_refreshes_pq_attachment(spark, tmp_path):
    """refresh_pq in the completion hook (r14): ingest epochs leave
    the attachment stale; when no swap ran, the hook re-syncs it
    incrementally so quantized reads are fresh the moment the drain
    completes — and when compaction DID run (attachment dropped by
    the swap), the refresh skips with that reason instead."""
    import pytest

    from debezium_nats_cdc_spark.operators.ann_pq import (
        ivf_attach_pq,
        ivf_search_pq,
    )

    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
    src = tmp_path / "src"
    src.mkdir()
    _b1(spark).coalesce(1).write.parquet(f"{src}/f0")
    _b2(spark).coalesce(1).write.parquet(f"{src}/f1")
    ing = IvfStreamIngest(d)
    stream = (spark.readStream.schema(_emb(spark).schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/f*/*"))
    ing.start(spark, stream, maintenance={"refresh_pq": True})
    rep = ing.last_maintenance
    assert rep["compact"]["ran"] is False  # default threshold
    assert rep["pq_refresh"]["noop"] is False
    assert rep["pq_refresh"]["refreshed_cells"]
    # quantized reads are fresh with NO operator re-attach, and the
    # quantized result covers the streamed-in vectors
    out = ivf_search_pq(spark, d, _queries(spark), k=K,
                        nprobe=N_CELLS, shortlist=100)
    assert out.count() > 0
    streamed = {r.vec_id for r in _b1(spark).select("vec_id").collect()}
    got = {r.neighbor_id for r in out.collect()}
    assert got & streamed  # stream epochs are searchable via codes

    # swap path: a forced compact drops the attachment -> skip reason
    ing2 = IvfStreamIngest(d)
    ing2.checkpoint_dir = str(tmp_path / "ckpt2")
    stream2 = (spark.readStream.schema(_emb(spark).schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{src}/f*/*"))
    ing2.start(spark, stream2, maintenance={"files_per_cell": 0.0,
                                            "refresh_pq": True})
    rep2 = ing2.last_maintenance
    assert rep2["compact"]["ran"] is True
    assert rep2["pq_refresh"] == {
        "skipped": "swap-maintenance-dropped-attachment"}
    with pytest.raises(ValueError, match="run ivf_attach_pq"):
        ivf_search_pq(spark, d, _queries(spark), k=K)


def test_maintenance_refresh_skips_under_lock(spark, tmp_path):
    """Code-review r14: the refresh leg must skip-never-raise under a
    held rebalance lock, like the two pollers — an exception out of
    the completion hook would lose the whole maintenance report."""
    import json
    import os

    from debezium_nats_cdc_spark.operators.ann_index import \
        _REBALANCE_MARKER
    from debezium_nats_cdc_spark.operators.ann_pq import ivf_attach_pq

    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
    ing = IvfStreamIngest(d)
    marker = os.path.join(d, _REBALANCE_MARKER)
    with open(marker, "w") as f:
        json.dump({"pid": 0}, f)
    rep = ing.run_maintenance(spark, refresh_pq=True)
    assert rep["compact"]["reason"] == "rebalance-lock-held"
    assert rep["rebalance"]["reason"] == "rebalance-lock-held"
    assert rep["pq_refresh"] == {"skipped": "rebalance-lock-held"}
    os.remove(marker)


def test_maintenance_refresh_reports_refusals(spark, tmp_path):
    """Code-review r14: ANY refresh refusal (here: an in-place
    ivf_build rewrote the centroids under a surviving attachment) is
    reported as a skip, never raised out of the completion hook."""
    from debezium_nats_cdc_spark.operators.ann_pq import ivf_attach_pq

    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
    # drift remediation: in-place rebuild rewrites centroids/vectors
    # but leaves pq/ behind
    ivf_build(spark, _emb(spark), d, n_cells=N_CELLS)
    ing = IvfStreamIngest(d)
    rep = ing.run_maintenance(spark, refresh_pq=True)
    assert "centroids changed" in rep["pq_refresh"]["skipped"]


def test_maintenance_refresh_reports_spark_side_failures(
        spark, tmp_path, monkeypatch):
    """ADVICE r14: the hook's skip-never-raise contract only caught
    ValueError — a Spark-side failure inside ivf_refresh_pq
    (AnalysisException / Py4JJavaError, e.g. a corrupt codes
    partition) propagated out of the completion hook and lost the
    compact/rebalance report.  ANY exception is now reported."""
    import debezium_nats_cdc_spark.operators.ann_pq as ann_pq
    from debezium_nats_cdc_spark.operators.ann_pq import ivf_attach_pq
    from pyspark.errors import AnalysisException

    d = str(tmp_path / "ivf")
    ivf_build(spark, _base(spark), d, n_cells=N_CELLS)
    ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
    # an ivf_add makes the attachment stale, so the hook's refresh leg
    # actually reaches the ivf_refresh_pq call
    ivf_add(spark, d, _emb(spark).filter(F.col("vec_id") % 2 == 1))

    def _boom(*_a, **_k):
        raise AnalysisException("[CANNOT_READ] corrupt codes partition")

    monkeypatch.setattr(ann_pq, "ivf_refresh_pq", _boom)
    ing = IvfStreamIngest(d)
    rep = ing.run_maintenance(spark, refresh_pq=True)
    # the report survives, with the failure recorded on the leg
    assert rep["compact"]["ran"] is False
    assert "corrupt codes partition" in rep["pq_refresh"]["skipped"]
    assert ing.last_maintenance is rep
