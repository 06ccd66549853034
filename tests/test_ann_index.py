"""Persisted IVF index (operators/ann_index.py): build / add / search,
recall vs the exact baseline, and the partition-pruned probe scan."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Window as W, functions as F

from debezium_nats_cdc_spark.io import load_table
from debezium_nats_cdc_spark.operators.ann_index import (
    ivf_add,
    ivf_build,
    ivf_search,
    INDEX_FORMAT,
    _meta_path,
)
from debezium_nats_cdc_spark.operators.similarity import _pair_cos, _with_norm

SF = "/root/testdata/sf0.001"
N_CELLS, NPROBE, K = 8, 3, 5


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf") / "index")
    ivf_build(spark, load_table(spark, SF, "embeddings"), d, n_cells=N_CELLS)
    return d


def _queries(spark):
    return load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 8)


def _brute_topk(spark, k=K):
    e = _with_norm(load_table(spark, SF, "embeddings"))
    q = _queries(spark)
    qq = _with_norm(q).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"), F.col("_norm").alias("q_norm"))
    cos = F.round(_pair_cos(F.col("q_emb"), F.col("embedding"),
                            F.col("q_norm"), F.col("_norm")), 6) \
        .cast("decimal(10,6)")
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                          F.asc("neighbor_id"))
    return (
        qq.join(e.select("vec_id", "embedding", "_norm"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cos.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def test_exhaustive_probe_equals_brute_force(spark, index_dir):
    """nprobe = n_cells scans everything -> must equal the exact top-k."""
    got = {(r.query_id, r.neighbor_id, r.rnk) for r in
           ivf_search(spark, index_dir, _queries(spark), k=K,
                      nprobe=N_CELLS).collect()}
    want = {(r.query_id, r.neighbor_id, r.rnk) for r in
            _brute_topk(spark).collect()}
    assert got == want


def test_nprobe_recall_floor(spark, index_dir):
    got = ivf_search(spark, index_dir, _queries(spark), k=K, nprobe=NPROBE)
    want = _brute_topk(spark)
    hit = got.select("query_id", "neighbor_id").intersect(
        want.select("query_id", "neighbor_id")).count()
    recall = hit / want.count()
    assert recall >= 0.4, f"recall@{K} {recall:.2f} with nprobe={NPROBE}"


def _dpp_pruned_lines(df):
    from debezium_nats_cdc_spark.plans.explain import formatted_plan

    plan = formatted_plan(df)
    return plan, [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln
                  and "dynamicpruningexpression" in ln and "cell_id#" in ln]


def test_probe_scan_partition_prunes(spark, index_dir):
    """A single-query search must still partition-prune the vectors
    scan: the probe set reaches it as a runtime (DPP) filter, not as a
    driver-collected literal list."""
    plan, pruned = _dpp_pruned_lines(
        ivf_search(spark, index_dir, _queries(spark).limit(1), k=K,
                   nprobe=NPROBE))
    assert pruned, f"vectors scan not partition-pruned\n{plan}"


def test_join_probe_scan_prunes_dynamically(spark, index_dir):
    """The vectors scan must carry a runtime partition filter (DPP off
    the broadcast probe side) for a multi-query batch: with no driver
    collect the search still reads ~nprobe/n_cells of the corpus, not
    all of it."""
    plan, pruned = _dpp_pruned_lines(
        ivf_search(spark, index_dir, _queries(spark), k=K, nprobe=NPROBE))
    assert pruned, f"vectors scan not DPP-pruned\n{plan}"


def test_ivf_add_makes_new_vectors_searchable(spark, index_dir, tmp_path):
    base = load_table(spark, SF, "embeddings")
    # clone vector 3 under a fresh id: it must become its own top-1
    clone = base.filter(F.col("vec_id") == 3).select(
        F.lit(900001).cast("long").alias("vec_id"), "embedding", "label")
    ivf_add(spark, index_dir, clone)
    got = ivf_search(spark, index_dir,
                     base.filter(F.col("vec_id") == 3), k=1, nprobe=NPROBE)
    row = got.first()
    assert row.neighbor_id == 900001 and row.cos_sim >= 0.999999


def test_build_refuses_empty_and_drops_ragged(spark, tmp_path):
    from pyspark.sql import Row
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)

    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType()))])
    with pytest.raises(ValueError, match="no non-NULL"):
        ivf_build(spark, spark.createDataFrame(
            [Row(vec_id=1, embedding=None)], schema),
            str(tmp_path / "empty"))
    # ragged vectors are dropped at build; a ragged QUERY returns no rows
    base = load_table(spark, SF, "embeddings").limit(20)
    ragged = spark.createDataFrame(
        [Row(vec_id=777, embedding=[1.0, 2.0])], schema)
    d = str(tmp_path / "mixed")
    ivf_build(spark, base.select("vec_id", "embedding").unionByName(ragged),
              d, n_cells=4)
    import json
    assert json.loads(_meta_path(d).read_text())["dim"] == 64
    idx = spark.read.parquet(os.path.join(d, "vectors"))
    assert idx.filter(F.col("vec_id") == 777).count() == 0
    assert ivf_search(spark, d, ragged, k=3, nprobe=2).count() == 0


def test_format_guard_refuses_foreign_index(spark, index_dir):
    import json

    meta = json.loads(_meta_path(index_dir).read_text())
    try:
        _meta_path(index_dir).write_text(
            json.dumps({**meta, "format": "ivf-OTHER"}))
        with pytest.raises(ValueError, match="centroid families"):
            ivf_search(spark, index_dir, _queries(spark))
    finally:
        _meta_path(index_dir).write_text(
            json.dumps({**meta, "format": INDEX_FORMAT}))


def test_cell_stats_report_counts_and_balance(spark, index_dir):
    from debezium_nats_cdc_spark.operators.ann_index import ivf_cell_stats

    stats = ivf_cell_stats(spark, index_dir).collect()
    vectors = spark.read.parquet(os.path.join(index_dir, "vectors"))
    total = vectors.count()
    assert sum(r.n_vectors for r in stats) == total
    assert abs(sum(r.share for r in stats) - 1.0) < 1e-4
    # balance_ratio = share * n_cells; the mean over PRESENT cells is
    # >= 1.0 with equality iff every cell is present and equal
    assert all(r.balance_ratio > 0 for r in stats)
    assert max(r.balance_ratio for r in stats) >= 1.0
    # sorted heaviest-first, id tiebreak
    ns = [r.n_vectors for r in stats]
    assert ns == sorted(ns, reverse=True)


def test_cell_stats_flags_drifted_ingest(spark, tmp_path):
    """ivf_add into frozen centroids with a drifted distribution must
    surface as a hot cell in the report — the rebuild trigger."""
    from pyspark.sql import Row

    from debezium_nats_cdc_spark.operators.ann_index import ivf_cell_stats

    base = load_table(spark, SF, "embeddings")
    d = str(tmp_path / "drift")
    ivf_build(spark, base, d, n_cells=4)
    before = {r.cell_id: r.n_vectors for r in
              ivf_cell_stats(spark, d).collect()}
    # clone ONE vector 300x (one direction dominates the ingest)
    v = base.filter(F.col("vec_id") == 5).first()
    clones = spark.createDataFrame(
        [Row(vec_id=800_000 + i, embedding=v.embedding)
         for i in range(300)],
        "vec_id long, embedding array<float>")
    ivf_add(spark, d, clones)
    after = ivf_cell_stats(spark, d)
    top = after.first()
    assert top.n_vectors >= max(before.values()) + 300
    assert top.balance_ratio > 1.5


def test_recall_floor_at_default_nprobe_on_clustered_corpus(spark, tmp_path):
    """The documented default operating point (OPERATIONS.md §5.8,
    measured by ``recommend_nprobe(spark, idx, target_recall=1.0,
    candidates=(1, 2, 4, 8, 12))``): on a clusterable corpus —
    the shape real encoder output has — nprobe=4 of 16 cells must hold
    recall@10 >= 0.9 vs the exhaustive scan."""
    import numpy as np

    rng = np.random.RandomState(3)
    cents = rng.randn(16, 64)
    rows = [(i, [float(x) for x in cents[i % 16] + 0.25 * rng.randn(64)])
            for i in range(800)]
    vec = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = vec.filter("vec_id % 23 = 0")
    idx = str(tmp_path / "ivf-recall")
    ivf_build(spark, vec, idx, n_cells=16)

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk_sets(ivf_search(spark, idx, queries, k=10, nprobe=16))
    approx = topk_sets(ivf_search(spark, idx, queries, k=10, nprobe=4))
    recalls = [len(approx.get(q, set()) & hits) / len(hits)
               for q, hits in exact.items()]
    assert sum(recalls) / len(recalls) >= 0.9


def test_recommend_nprobe_meets_target_on_sf01(spark, tmp_path):
    """VERDICT r10 stretch 9: the auto-tuner's recommendation must
    actually deliver the target recall on the sf0.1 corpus (the
    near-isotropic shape from the OPERATIONS.md §5.8 operating table),
    verified INDEPENDENTLY by re-measuring recall at the returned
    nprobe against the full-scan ground truth — and the tuner must be
    minimal: every cheaper ladder step it measured fell short."""
    from debezium_nats_cdc_spark.operators.ann_index import recommend_nprobe

    d = str(tmp_path / "ivf01")
    vectors = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    ivf_build(spark, vectors, d, n_cells=16)

    target = 0.9
    rec = recommend_nprobe(spark, d, target_recall=target, k=10)
    assert rec["n_queries"] > 50  # the sample is real, not vacuous

    # independent re-measure at the recommended operating point
    q = (spark.read.parquet(f"{d}/vectors")
         .select("vec_id", "embedding")
         .filter(F.col("vec_id") % 17 == 0))
    exact: dict = {}
    for r in ivf_search(spark, d, q, k=10, nprobe=16).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx: dict = {}
    for r in ivf_search(spark, d, q, k=10, nprobe=rec["nprobe"]).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(approx.get(qid, set()) & hits) / len(hits)
               for qid, hits in exact.items() if hits]
    measured = sum(recalls) / len(recalls)
    assert measured >= target, (rec, measured)

    # minimality: every cheaper candidate the tuner walked was < target
    cheaper = {np_: r for np_, r in rec["curve"].items()
               if np_ < rec["nprobe"]}
    assert all(r < target for r in cheaper.values()), rec["curve"]

    # and an unreachable target must answer "full scan / exact path"
    rec_exact = recommend_nprobe(spark, d, target_recall=1.0, k=10,
                                 candidates=[1])
    assert rec_exact["nprobe"] == 16 and rec_exact["scan_fraction"] == 1.0


def test_add_casts_to_area_element_type(spark, tmp_path):
    """A producer handing ivf_add an array<double> frame must not
    poison a float-typed area: pre-r13 the append wrote a DOUBLE
    parquet file and every later scan of that cell died with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
    d = str(tmp_path / "ivf")
    ivf_build(spark, load_table(spark, SF, "embeddings"), d,
              n_cells=N_CELLS)
    wrong_typed = spark.createDataFrame(
        [(9001, [float(i) for i in range(64)])],
        "vec_id bigint, embedding array<double>")
    ivf_add(spark, d, wrong_typed)
    from debezium_nats_cdc_spark.operators.ann_index import _vector_scan

    got = _vector_scan(spark, d)
    assert got.filter(F.col("vec_id") == 9001).count() == 1
    assert got.count() == load_table(spark, SF, "embeddings").count() + 1


def test_assign_projection_matches_window_semantics(spark):
    """The r16 nested-broadcast argmax must reproduce the retired
    row_number window's pick — `desc(cos) NULLS LAST, asc(cell_id)` —
    on every edge class: clear winner, exact decimal tie (lowest cell
    wins), a NULL-cosine centroid (zero norm) losing to any scored one,
    and an all-NULL row (NULL/zero-norm vector) landing in the LOWEST
    cell.  A plain struct-ordering change in Spark would silently flip
    assignments; this pins the semantics, not just end-to-end search."""
    from debezium_nats_cdc_spark.operators.ann_index import _assign

    cents = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1.0),
            (2, [1.0, 0.0], 1.0),   # duplicate of cell 1: exact tie
            (3, [0.0, 1.0], 1.0),
            (4, [0.0, 0.0], 0.0),   # zero-norm: NULL cosine everywhere
        ],
        "cell_id int, c_emb array<double>, c_norm double")
    vecs = _with_norm(spark.createDataFrame(
        [
            (10, [2.0, 0.0]),    # ties cells 1 and 2 -> lowest (1)
            (11, [0.0, 3.0]),    # clear winner cell 3
            (12, [0.0, 0.0]),    # zero norm: all cosines NULL -> cell 1
        ],
        "vec_id bigint, embedding array<double>"))
    got = {r["vec_id"]: r["cell_id"]
           for r in _assign(vecs, cents).collect()}
    assert got == {10: 1, 11: 3, 12: 1}, got

    # empty centroid set: the old inner join produced NO rows
    empty = spark.createDataFrame([],
                                  "cell_id int, c_emb array<double>, "
                                  "c_norm double")
    assert _assign(vecs, empty).count() == 0
