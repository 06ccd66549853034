"""Incremental top-k monitor: merge-with-state == batch brute force."""

from __future__ import annotations

import os

from pyspark.sql import Window as W, functions as F

from debezium_nats_cdc_spark.io import load_table
from debezium_nats_cdc_spark.operators.similarity import _pair_cos_arrow, _with_norm
from debezium_nats_cdc_spark.streaming.topk_monitor import TopKMonitor

SF = "/root/testdata/sf0.001"
K = 4


def _brute(spark, corpus, queries):
    e = _with_norm(corpus)
    qq = _with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"), F.col("_norm").alias("q_norm"))
    cos = F.round(_pair_cos_arrow(F.col("q_emb"), F.col("embedding"),
                                  F.col("q_norm"), F.col("_norm")), 6) \
        .cast("decimal(10,6)").cast("double")
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                          F.asc("neighbor_id"))
    return (
        qq.join(e.select(F.col("vec_id").alias("neighbor_id"),
                         "embedding", "_norm"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= K)
    )


def test_incremental_topk_equals_brute_force_over_all_batches(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 4)
    b1 = emb.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 60))
    b2 = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 120))

    mon = TopKMonitor(str(tmp_path / "mon"), queries, k=K)
    mon.process_batch(spark, b1, epoch_id=0)
    # after batch 1: equals brute force over batch-1 corpus only
    got1 = {(r.query_id, r.neighbor_id, r.rnk)
            for r in mon.current(spark).collect()}
    want1 = {(r.query_id, r.neighbor_id, r.rnk)
             for r in _brute(spark, b1, queries).collect()}
    assert got1 == want1

    mon.process_batch(spark, b2, epoch_id=1)
    # after batch 2: equals brute force over the FULL ingested corpus —
    # the incremental merge lost nothing
    got2 = {(r.query_id, r.neighbor_id, r.rnk)
            for r in mon.current(spark).collect()}
    want2 = {(r.query_id, r.neighbor_id, r.rnk)
             for r in _brute(spark, b1.unionByName(b2), queries).collect()}
    assert got2 == want2


def test_replayed_batch_is_idempotent(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 4)
    b1 = emb.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 60))

    mon = TopKMonitor(str(tmp_path / "mon"), queries, k=K)
    mon.process_batch(spark, b1, epoch_id=0)
    before = {(r.query_id, r.neighbor_id, r.cos_sim, r.rnk)
              for r in mon.current(spark).collect()}
    mon.process_batch(spark, b1, epoch_id=0)  # replay
    after = {(r.query_id, r.neighbor_id, r.cos_sim, r.rnk)
             for r in mon.current(spark).collect()}
    assert before == after


def test_streaming_entrypoint(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 2)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    emb.filter((F.col("vec_id") >= 2) & (F.col("vec_id") < 50)) \
        .coalesce(1).write.parquet(os.path.join(in_dir, "b1"))
    mon = TopKMonitor(str(tmp_path / "mon"), queries, k=K)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(in_dir, "*"))
    )
    mon.start(spark, stream).awaitTermination()
    cur = mon.current(spark)
    assert cur.count() == 2 * K
    assert cur.groupBy("query_id").count().filter(
        F.col("count") != K).count() == 0
