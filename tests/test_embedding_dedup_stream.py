"""Streaming incremental embedding dedup (streaming/embedding_dedup.py)."""

from __future__ import annotations

import math
import os
import random

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from debezium_nats_cdc_spark.streaming.embedding_dedup import (
    INDEX_FORMAT,
    N_TABLES,
    EmbeddingDedupPipeline,
)

VEC_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

DIM = 64


def _unit(seed: int) -> list[float]:
    rng = random.Random(seed)
    v = [rng.uniform(-1.0, 1.0) for _ in range(DIM)]
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def _scaled(vec: list[float], k: float) -> list[float]:
    return [x * k for x in vec]  # same direction: cosine exactly 1


V1, V2, V5 = _unit(101), _unit(202), _unit(505)


@pytest.fixture
def pipeline_run(spark, tmp_path):
    """Two micro-batches through the dedup stream; returns the pipeline."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    root = str(tmp_path / "emb-dedup")

    batch1 = [
        Row(vec_id=1, embedding=V1),
        Row(vec_id=2, embedding=V2),               # independent direction
        Row(vec_id=3, embedding=_scaled(V1, 2.0)),  # intra-batch dup of 1
    ]
    batch2 = [
        Row(vec_id=4, embedding=_scaled(V1, 0.5)),  # cross-batch dup of 1
        Row(vec_id=5, embedding=V5),                # fresh direction
    ]
    spark.createDataFrame(batch1, VEC_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "b1"))

    pipe = EmbeddingDedupPipeline(root)
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(in_dir, "*"))
    )
    pipe.start(spark, stream).awaitTermination()

    spark.createDataFrame(batch2, VEC_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "b2"))
    pipe.start(spark, stream).awaitTermination()
    return pipe


def test_incremental_embedding_dedup(spark, pipeline_run):
    pipe = pipeline_run
    accepted = {r.vec_id for r in
                spark.read.parquet(pipe.accepted_dir).collect()}
    quarantined = {r.vec_id: r.dup_of for r in
                   spark.read.parquet(pipe.quarantine_dir).collect()}
    assert accepted == {1, 2, 5}
    assert quarantined == {3: 1, 4: 1}
    # quarantined rows carry a verified cosine at/above the threshold
    q = spark.read.parquet(pipe.quarantine_dir)
    assert q.filter(F.col("cos_sim") < 0.92).count() == 0


def test_index_holds_only_accepted_sketches(spark, pipeline_run):
    pipe = pipeline_run
    idx = spark.read.parquet(pipe.index_dir)
    assert {r.vec_id for r in idx.select("vec_id").distinct().collect()} \
        == {1, 2, 5}
    # one row per (vector, table)
    assert idx.count() == 3 * N_TABLES
    per_vec = idx.groupBy("vec_id").count().collect()
    assert all(r["count"] == N_TABLES for r in per_vec)


def test_restart_does_not_duplicate_sinks(spark, tmp_path, pipeline_run):
    pipe = pipeline_run
    before = spark.read.parquet(pipe.accepted_dir).count()
    # restarting with the established checkpoint finds no new input and
    # must publish nothing new
    in_dir = str(tmp_path / "in")
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(in_dir, "*"))
    )
    pipe.start(spark, stream).awaitTermination()
    assert spark.read.parquet(pipe.accepted_dir).count() == before


def test_dirty_embeddings_pass_through_without_matching(spark, tmp_path):
    """NULL / wrong-dimension vectors: un-sketchable (NULL sign word ->
    NULL buckets, dropped by every equi-join and every cosine filter),
    so they are accepted as-is and can never quarantine a real vector —
    one corrupt row at 100 TB must not fail or poison the ingest."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    batch = [
        Row(vec_id=1, embedding=V1),
        Row(vec_id=2, embedding=None),
        Row(vec_id=3, embedding=[1.0, 2.0]),        # ragged: wrong dim
        Row(vec_id=4, embedding=_scaled(V1, 3.0)),  # real dup of 1
    ]
    spark.createDataFrame(batch, VEC_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "b1"))
    pipe = EmbeddingDedupPipeline(str(tmp_path / "emb-dedup"))
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(in_dir, "*"))
    )
    pipe.start(spark, stream).awaitTermination()
    accepted = {r.vec_id for r in
                spark.read.parquet(pipe.accepted_dir).collect()}
    quarantined = {r.vec_id: r.dup_of for r in
                   spark.read.parquet(pipe.quarantine_dir).collect()}
    assert accepted == {1, 2, 3}
    assert quarantined == {4: 1}


def test_norm_layout_stores_each_vector_once(spark, pipeline_run):
    pipe = pipeline_run
    idx = spark.read.parquet(pipe.index_dir)
    # ids-only bucket rows + one vector-store row per accepted id
    assert "embedding" not in idx.columns
    vs = spark.read.parquet(pipe.vectors_dir)
    assert sorted(r.vec_id for r in vs.collect()) == [1, 2, 5]
    assert {"vec_id", "embedding", "norm"} <= set(vs.columns)


def test_layout_participates_in_format_stamp(spark, tmp_path):
    """An index stamped with the bare INDEX_FORMAT — the stamp of the
    retired layout that kept the vector in every bucket row — must be
    refused loudly: its bucket rows do not fit the ids-only probe."""
    from pathlib import Path

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    spark.createDataFrame([Row(vec_id=1, embedding=V1)], VEC_SCHEMA) \
        .coalesce(1).write.parquet(os.path.join(in_dir, "b1"))
    pipe = EmbeddingDedupPipeline(str(tmp_path / "emb-dedup"))
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(in_dir, "*"))
    )
    pipe.start(spark, stream).awaitTermination()
    assert pipe._index(spark) is not None
    Path(pipe.index_dir, "._format").write_text(INDEX_FORMAT)
    with pytest.raises(ValueError, match="sketch format"):
        pipe._index(spark)


def test_format_stamp_guards_stale_index(spark, pipeline_run):
    pipe = pipeline_run
    from pathlib import Path

    Path(pipe.index_dir, "._format").write_text("hyperplane-OLD")
    with pytest.raises(ValueError, match="sketch"):
        pipe._index(spark)


def test_consistency_check_surfaces_store_drift(spark, pipeline_run):
    """ADVICE r7: a missing vector-store row makes
    the probe's inner join silently drop the candidate (near-dups get
    accepted).  check_consistency makes that drift loud; strict=True
    raises on it."""
    import shutil

    pipe = pipeline_run
    rep = pipe.check_consistency(spark)
    # healthy pipeline: every indexed id has its vector stored
    assert rep["index_ids"] == 3 and rep["missing"] == 0
    assert rep["store_ids"] == 3

    # simulate external store loss: drop the vector store entirely
    shutil.rmtree(pipe.vectors_dir)
    drifted = pipe.check_consistency(spark)
    assert drifted["index_ids"] == 3
    assert drifted["store_ids"] == 0
    assert drifted["missing"] == 3

    strict = EmbeddingDedupPipeline(pipe.root, strict=True)
    with pytest.raises(RuntimeError, match="drift"):
        strict.check_consistency(spark)
