"""The index_fs seam (VERDICT r13 task 6): the ANN index layer's
metadata I/O — fingerprints, sidecar/model JSON, maintenance polls,
marker checks — routes through one IndexFS interface (the
state_backend.py backend-split pattern).  LocalIndexFS is the one
shipped implementation; recording fakes installed with set_index_fs
pin that no metadata call bypasses the seam, and the contract suite
pins the listing/count semantics any implementation must keep.  The
data-plane swap machinery deliberately stays rename-based
(OPERATIONS.md §11 records the constraint + table-format mapping)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from debezium_nats_cdc_spark.index_fs import (
    IndexFS,
    LocalIndexFS,
    get_index_fs,
    set_index_fs,
)
from debezium_nats_cdc_spark.io import load_table
from debezium_nats_cdc_spark.operators.ann_index import (
    ivf_build,
    maybe_compact,
    maybe_rebalance,
)
from debezium_nats_cdc_spark.operators.ann_pq import (
    ivf_attach_pq,
    ivf_search_pq,
)
from debezium_nats_cdc_spark.streaming.ann_ingest import IvfStreamIngest

SF = "/root/testdata/sf0.001"


def check_index_fs_contract(fs: IndexFS, tmp_path) -> None:
    """The full IndexFS contract.  Fixtures are materialized on the
    LOCAL filesystem, so this runs verbatim against any backend that
    resolves local paths (LocalIndexFS and delegating wrappers); an
    implementation over other storage must port the fixture setup to
    its own write primitive and then assert the same contract before
    being installed with set_index_fs."""
    root = tmp_path / "area"
    (root / "cell_id=0").mkdir(parents=True)
    (root / "cell_id=0" / "part-0.parquet").write_bytes(b"abc")
    (root / "cell_id=0" / ".hidden.crc").write_bytes(b"x")
    (root / "_SUCCESS").write_bytes(b"")
    (root / "_stream_epoch.json").write_bytes(b"{}")
    listing = fs.listing(str(root))
    # sorted flat [relpath, size] lists, dot-files skipped — the
    # fingerprint payload shape, pinned as a compatibility surface
    assert listing == sorted(listing)
    assert [os.path.join("cell_id=0", "part-0.parquet"), 3] in listing
    assert all(not os.path.basename(p).startswith(".")
               for p, _size in listing)
    # the listing/count asymmetry is LOAD-BEARING (ADVICE/VERDICT
    # r14): `_`-prefixed bookkeeping names ARE fingerprint payload —
    # the epoch sidecar advancing is what invalidates a stale PQ
    # attachment — so listing MUST include them...
    assert [os.path.join(".", "_SUCCESS"), 0] in listing
    assert any(os.path.basename(p) == "_stream_epoch.json"
               for p, _size in listing)
    # ...while count_files sizes DATA fragmentation and MUST skip them
    assert fs.count_files(str(root)) == 1
    assert fs.count_files(str(tmp_path / "missing")) == 0
    assert fs.listing(str(tmp_path / "missing")) == []
    # a root that exists as a regular FILE lists empty, like a missing
    # one — backends must not raise (code-review r15 parity pin)
    assert fs.listing(str(root / "_SUCCESS")) == []
    assert fs.count_files(str(root / "_SUCCESS")) == 0
    # JSON: None on absent, atomic publish leaves no tmp behind
    doc = str(tmp_path / "side.json")
    assert fs.read_json(doc) is None
    fs.write_json_atomic(doc, {"generation": 3, "last_epoch": 7})
    assert fs.read_json(doc) == {"generation": 3, "last_epoch": 7}
    assert not os.path.exists(doc + ".tmp")
    assert fs.exists(doc) and not fs.exists(doc + ".nope")
    fs.remove(doc)
    fs.remove(doc)  # idempotent on absence
    assert not fs.exists(doc)
    # remove_tree: recursive, raises-not-swallows semantics verified
    # by emptiness, idempotent on absence (the erasure-cascade leg)
    fs.remove_tree(str(root / "cell_id=0"))
    assert fs.count_files(str(root)) == 0
    assert not any(p.startswith("cell_id=0") for p, _s in
                   fs.listing(str(root)))
    fs.remove_tree(str(root / "cell_id=0"))  # idempotent


def test_local_index_fs_contract(tmp_path):
    check_index_fs_contract(LocalIndexFS(), tmp_path)


def test_recording_backend_contract(tmp_path):
    check_index_fs_contract(_Recording(), tmp_path)


class _SymmetricSkipFS(LocalIndexFS):
    """A plausible-but-WRONG implementation: skips `_`-prefixed names
    in listing "for symmetry" with count_files — the exact staleness
    hole the contract docstrings warn an object-store implementer
    against (VERDICT r14 task 4)."""

    def listing(self, root):
        return [[p, s] for p, s in super().listing(root)
                if not os.path.basename(p).startswith("_")]


def test_contract_rejects_symmetric_skip_implementation(tmp_path):
    import pytest

    with pytest.raises(AssertionError):
        check_index_fs_contract(_SymmetricSkipFS(), tmp_path)


class _Recording(IndexFS):
    """Delegates to LocalIndexFS, recording (method, path) calls."""

    def __init__(self):
        self.inner = LocalIndexFS()
        self.calls: list[tuple[str, str]] = []

    def listing(self, root):
        self.calls.append(("listing", root))
        return self.inner.listing(root)

    def count_files(self, root, suffix=".parquet"):
        self.calls.append(("count_files", root))
        return self.inner.count_files(root, suffix)

    def read_json(self, path):
        self.calls.append(("read_json", path))
        return self.inner.read_json(path)

    def write_json_atomic(self, path, rec):
        self.calls.append(("write_json_atomic", path))
        return self.inner.write_json_atomic(path, rec)

    def exists(self, path):
        self.calls.append(("exists", path))
        return self.inner.exists(path)

    def remove(self, path):
        self.calls.append(("remove", path))
        return self.inner.remove(path)

    def remove_tree(self, root):
        self.calls.append(("remove_tree", root))
        return self.inner.remove_tree(root)


def test_ann_metadata_io_routes_through_seam(spark, tmp_path):
    """Build -> ingest -> attach -> quantized search -> both
    maintenance polls, under a recording backend: every metadata
    surface the seam owns is exercised through it, and behavior is
    unchanged (the recording backend delegates to LocalIndexFS)."""
    emb = load_table(spark, SF, "embeddings")
    d = str(tmp_path / "ivf")
    rec = _Recording()
    prev = set_index_fs(rec)
    try:
        ivf_build(spark, emb.filter(F.col("vec_id") % 2 == 0),
                  d, n_cells=8)
        ing = IvfStreamIngest(d)
        ing.process_batch(
            spark, emb.filter(F.col("vec_id") % 2 == 1), epoch_id=0)
        ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
        out = ivf_search_pq(spark, d,
                            emb.filter(F.col("vec_id") < 4), k=3,
                            nprobe=8)
        assert out.count() > 0
        poll = maybe_compact(spark, d)  # names-only poll via the seam
        assert poll["reason"] == "below-threshold"
        assert poll["stream_files"] > 0
    finally:
        set_index_fs(prev)
    assert get_index_fs() is prev

    methods = {m for m, _p in rec.calls}
    assert methods == {"listing", "count_files", "read_json",
                       "write_json_atomic", "exists", "remove"}
    # the fingerprint listed all three fingerprinted areas
    listed = {p for m, p in rec.calls if m == "listing"}
    assert {os.path.join(d, "vectors"),
            os.path.join(d, "vectors_stream"),
            os.path.join(d, "centroids")} <= listed
    # the sidecar was written through the seam (ingest epoch commit)
    assert any(p.endswith("_stream_epoch.json")
               for m, p in rec.calls if m == "write_json_atomic")
    # the model.json publish went through the seam too
    assert any(p.endswith(os.path.join("pq", "model.json"))
               for m, p in rec.calls if m == "write_json_atomic")


def test_maintenance_polls_use_seam(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    d = str(tmp_path / "ivf")
    ivf_build(spark, emb, d, n_cells=4)
    rec = _Recording()
    prev = set_index_fs(rec)
    try:
        assert maybe_compact(spark, d)["ran"] is False
        assert maybe_rebalance(spark, d)["ran"] is False
    finally:
        set_index_fs(prev)
    assert ("count_files", os.path.join(d, "vectors_stream")) in rec.calls
    assert any(m == "exists" and p.endswith("_rebalance.lock")
               for m, p in rec.calls)


def test_ann_refresh_flow_over_uncompacted_stream_area(spark, tmp_path):
    """The real metadata flow end to end with no compaction in between:
    build -> stream ingest -> attach -> delete of streamed ids ->
    refresh -> quantized search.  The erased ids are gone from the
    refreshed codes and from every answer."""
    from debezium_nats_cdc_spark.operators.ann_index import ivf_delete
    from debezium_nats_cdc_spark.operators.ann_pq import (
        _pq_dir,
        ivf_refresh_pq,
    )

    emb = load_table(spark, SF, "embeddings")
    d = str(tmp_path / "ivf")
    ivf_build(spark, emb.filter(F.col("vec_id") % 2 == 0), d, n_cells=8)
    ing = IvfStreamIngest(d)
    ing.process_batch(
        spark, emb.filter(F.col("vec_id") % 2 == 1), epoch_id=0)
    ivf_attach_pq(spark, d, m=8, k=16, rounds=1)
    victims = [11, 13]  # odd -> live only in the stream area
    ivf_delete(spark, d, victims)
    rep = ivf_refresh_pq(spark, d)
    assert rep["noop"] is False
    codes = spark.read.parquet(os.path.join(_pq_dir(d), "codes"))
    assert codes.filter(F.col("vec_id").isin(victims)).count() == 0
    out = ivf_search_pq(spark, d, emb.filter(F.col("vec_id") < 4),
                        k=3, nprobe=8).collect()
    assert out and not {r.neighbor_id for r in out} & set(victims)
