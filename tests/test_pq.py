"""Product quantization (operators/pq.py): deterministic training,
dirty-input-safe encode, reconstruction-error ordering, ADC search and
the ADC recall floor vs brute-force cosine."""

from __future__ import annotations

import pytest

from pyspark.sql import Window as W, functions as F

from debezium_nats_cdc_spark.io import load_table
from debezium_nats_cdc_spark.operators.pq import (
    PqModel,
    pq_encode,
    pq_reconstruct,
    pq_search_adc,
    pq_train,
)
from debezium_nats_cdc_spark.operators.similarity import _pair_cos, _with_norm

SF = "/root/testdata/sf0.001"


def _normalized(spark):
    e = load_table(spark, SF, "embeddings").filter(
        F.col("embedding").isNotNull())
    norm = F.sqrt(F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double")))
    return e.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double") / norm).alias("embedding"),
    ).filter(norm > 0)


def _exact_topk(spark, corpus, queries, k):
    ew = _with_norm(corpus)
    qw = _with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("_norm").alias("q_norm"))
    cos = _pair_cos(F.col("q_emb"), F.col("embedding"),
                    F.col("q_norm"), F.col("_norm"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"),
                                          F.asc("neighbor_id"))
    return (
        ew.join(F.broadcast(qw), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _recall(exact_rows, got_rows):
    from collections import defaultdict

    ex, got = defaultdict(set), defaultdict(set)
    for r in exact_rows:
        ex[r.query_id].add(r.neighbor_id)
    for r in got_rows:
        got[r.query_id].add(r.neighbor_id)
    recs = [len(ex[q] & got[q]) / len(ex[q]) for q in ex]
    return sum(recs) / len(recs)


def test_train_is_deterministic(spark):
    en = _normalized(spark)
    a = pq_train(en, m=8, k=16, rounds=3)
    b = pq_train(en, m=8, k=16, rounds=3)
    assert a.codebooks == b.codebooks
    assert a.dim == 64 and a.dsub == 8 and len(a.codebooks) == 8
    assert all(len(bk) == 16 for bk in a.codebooks)


def test_encode_codes_valid_and_dirty_rows_null(spark):
    en = _normalized(spark)
    model = pq_train(en, m=8, k=16, rounds=2)
    dirty = en.unionByName(spark.createDataFrame(
        [(9001, None), (9002, [1.0, 2.0]),
         (9003, [float("nan")] * 64)],
        "vec_id bigint, embedding array<double>"))
    rows = pq_encode(dirty, model).collect()
    by_id = {r.vec_id: r.codes for r in rows}
    assert by_id[9001] is None and by_id[9002] is None \
        and by_id[9003] is None
    clean = [c for i, c in by_id.items() if i < 9000]
    assert len(clean) == en.count()
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in clean)


def test_reconstruction_error_shrinks_with_k(spark):
    import numpy as np

    en = _normalized(spark)
    orig = {r.vec_id: np.array(r.embedding) for r in en.collect()}

    def mse(model):
        rec = pq_reconstruct(pq_encode(en, model), model).collect()
        errs = [float(((np.array(r.embedding) - orig[r.vec_id]) ** 2).mean())
                for r in rec if r.embedding is not None]
        assert len(errs) == len(orig)
        return sum(errs) / len(errs)

    assert mse(pq_train(en, m=8, k=16, rounds=5)) < \
        mse(pq_train(en, m=8, k=2, rounds=5))


def test_adc_and_rerank_recall_floors(spark):
    """Measured on this corpus (BENCHLOG r13): plain ADC@10 recall
    0.55 at m=16/k=64.  The floor is pinned WELL below the measured
    value — it exists to catch a broken kernel (recall collapsing
    toward random ~2 %), not to flake on codebook jitter.  The
    ADC-shortlist + exact re-rank floor is pinned on the production
    read, tests/test_ann_pq.py::test_attach_and_search_recall."""
    en = _normalized(spark)
    q = en.filter(F.col("vec_id") < 8)
    exact = _exact_topk(spark, en, q, 10).collect()
    model = pq_train(en, m=16, k=64, rounds=5)
    codes = pq_encode(en, model)

    adc = pq_search_adc(spark, q, codes, model, k=10).collect()
    assert _recall(exact, adc) >= 0.35


def test_guards(spark):
    en = _normalized(spark)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(en, m=7)
    with pytest.raises(ValueError, match="no valid vectors"):
        pq_train(spark.createDataFrame(
            [], "vec_id bigint, embedding array<double>"))
    model = pq_train(en, m=8, k=16, rounds=1)
    codes = pq_encode(en, model)
    too_many = en.limit(65).select(
        F.monotonically_increasing_id().alias("vec_id"), "embedding")
    with pytest.raises(ValueError, match="chunk the query set"):
        pq_search_adc(spark, too_many, codes, model)
    # empty/invalid query set -> empty typed frame, not an error
    out = pq_search_adc(
        spark,
        spark.createDataFrame([(1, None)],
                              "vec_id bigint, embedding array<double>"),
        codes, model)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["query_id", "neighbor_id", "adc_dist", "rnk"]


def test_train_sample_is_capped(spark):
    """The driver-side sample is bounded (VERDICT r13): auto mode
    derives the stride from a cheap count (deterministic — equal to
    passing ceil(n/max_sample) explicitly), and an explicit stride
    that defeats the cap hard-fails at the 2x gate instead of
    collecting the corpus."""
    import math

    en = _normalized(spark)
    n = en.count()
    a = pq_train(en, m=8, k=4, rounds=2, max_sample=10)
    b = pq_train(en, m=8, k=4, rounds=2, max_sample=10)
    assert a.codebooks == b.codebooks
    c = pq_train(en, m=8, k=4, rounds=2,
                 sample_stride=max(1, math.ceil(n / 10)))
    assert a.codebooks == c.codebooks
    with pytest.raises(ValueError, match="exceeds"):
        pq_train(en, m=8, k=4, rounds=1, sample_stride=1,
                 max_sample=max(1, n // 4))


def test_adc_out_of_range_codes_are_skipped(spark):
    """A stored code >= k used to IndexError the whole stage and a
    negative one silently wrapped to the wrong centroid (ADVICE r13)
    — corrupt rows now yield no candidates, like _stack_valid."""
    en = _normalized(spark)
    model = pq_train(en, m=8, k=16, rounds=1)
    codes = pq_encode(en, model).unionByName(spark.createDataFrame(
        [(9101, [99] * 8), (9102, [-1] + [0] * 7)],
        "vec_id bigint, codes array<int>"))
    q = en.filter(F.col("vec_id") < 2)
    rows = pq_search_adc(spark, q, codes, model, k=10_000).collect()
    ids = {r.neighbor_id for r in rows}
    assert 9101 not in ids and 9102 not in ids
    # clean candidates all still scored (k over-asks the corpus)
    assert len([r for r in rows if r.query_id == 0]) == en.count() - 1


def test_adc_probes_restrict_per_query(spark):
    """With a probes frame, each query ranks ONLY candidates from its
    own probed cells — one scan serving a query batch no longer leaks
    neighbors across probe sets (ADVICE r13)."""
    en = _normalized(spark)
    model = pq_train(en, m=8, k=16, rounds=1)
    codes = pq_encode(en, model).withColumn(
        "cell_id", F.pmod("vec_id", F.lit(2)).cast("int"))
    q = en.filter(F.col("vec_id").isin([0, 1]))
    probes = spark.createDataFrame(
        [(0, 0), (1, 1)], "query_id bigint, cell_id int")
    rows = pq_search_adc(spark, q, codes, model, k=10_000,
                         probes=probes).collect()
    assert rows
    for r in rows:
        assert r.neighbor_id % 2 == r.query_id


def test_skew_aligned_ids_halve_driver_side_to_cap(spark):
    """ADVICE r14 + code-review r15: an id distribution aligned with
    the derived stride (<= 2x overage) used to hand up to 2x
    max_sample rows to training despite the docstring's <= max_sample
    claim.  The overage is now halved DRIVER-SIDE by id-order position
    — distribution-free, so it can neither spuriously empty the sample
    (ids ≡ s mod 2s would match NOTHING under a doubled-stride pmod)
    nor silently train a degenerate near-empty codebook (one stray
    2s-multiple would have been the whole sample)."""
    from debezium_nats_cdc_spark.operators.pq import _clean_sample

    def frame(ids):
        rows = [(i, [float(i % 7) + j for j in range(8)]) for i in ids]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>")

    # ids all even, stride 2 -> 16 rows pass the pmod (> cap 10) -> 8
    even = [2 * i for i in range(16)]
    S, dim = _clean_sample(frame(even), "vec_id", "embedding",
                           sample_stride=2, cap=10)
    assert S.shape[0] == 8 and dim == 8
    # same shape through the public auto-stride path (ceil(16/10) = 2)
    model = pq_train(frame(even), m=8, k=2, rounds=1, max_sample=10)
    assert model.dim == 8
    # the doubled-stride failure modes (code-review r15, reproduced
    # against the re-stride variant):
    # (a) ids ≡ 2 (mod 4): a doubled pmod stride matched NOTHING ->
    #     "no valid vectors"; positional halving keeps 8
    odd_aligned = [4 * i + 2 for i in range(16)]
    S, _ = _clean_sample(frame(odd_aligned), "vec_id", "embedding",
                         sample_stride=2, cap=10)
    assert S.shape[0] == 8
    # (b) same set plus one multiple of 4: the doubled stride trained
    #     a silently degenerate 1-row sample; halving keeps 9 of 17
    S, _ = _clean_sample(frame(odd_aligned + [4]), "vec_id",
                         "embedding", sample_stride=2, cap=10)
    assert S.shape[0] == 9
    # > 2x cap still hard-fails at the collect gate (never oversamples)
    with pytest.raises(ValueError, match="exceeds"):
        _clean_sample(frame(list(range(0, 64, 2))), "vec_id",
                      "embedding", sample_stride=2, cap=10)
