"""Streaming incremental corpus dedup (streaming/corpus_dedup.py)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from debezium_nats_cdc_spark.streaming.corpus_dedup import CorpusDedupPipeline

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

_BASE = ("spark shuffle partition broadcast join window watermark state "
         "checkpoint codegen arrow parquet bucket skew salt agg scan "
         "filter project union explode")
_OTHER = ("nats jetstream debezium binlog envelope subject wildcard "
          "tombstone snapshot offset replay consumer durable ack redelivery "
          "stream store retention")


def _doc(doc_id: int, text: str) -> Row:
    return Row(doc_id=doc_id, text=text)


@pytest.fixture()
def pipeline_run(spark, tmp_path):
    """Feed two micro-batches through the dedup stream; return dirs."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    root = str(tmp_path / "dedup")

    batch1 = [
        _doc(1, _BASE),
        _doc(2, _OTHER),
        _doc(3, _BASE),  # intra-batch exact dup of 1
    ]
    batch2 = [
        _doc(4, _BASE),  # cross-batch dup of 1 (via the band index)
        # overlaps doc 1 (shares _BASE) but true Jaccard ≈ 0.15 — far
        # enough under the 0.5 threshold that any 16-hash minhash
        # estimate stays below it (the previous ~0.39 fixture sat close
        # enough to the boundary to flip when the hash family changed)
        _doc(5, _BASE + " " + _OTHER + " "
             + " ".join(f"unrelated{i} filler{i}" for i in range(30))),
    ]
    spark.createDataFrame(batch1, DOC_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "b1")
    )

    pipe = CorpusDedupPipeline(root)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(in_dir, "*"))
    )
    q = pipe.start(spark, stream)
    q.awaitTermination()

    spark.createDataFrame(batch2, DOC_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "b2")
    )
    q = pipe.start(spark, stream)
    q.awaitTermination()
    return pipe


def test_incremental_dedup(spark, pipeline_run):
    pipe = pipeline_run
    accepted = {
        r.doc_id for r in spark.read.parquet(pipe.accepted_dir).collect()
    }
    quarantined = {
        (r.doc_id, r.dup_of)
        for r in spark.read.parquet(pipe.quarantine_dir).collect()
    }
    assert accepted == {1, 2, 5}
    assert quarantined == {(3, 1), (4, 1)}


def test_index_only_holds_accepted(spark, pipeline_run):
    pipe = pipeline_run
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(pipe.index_dir).select("doc_id").collect()
    }
    assert idx_ids == {1, 2, 5}


def test_replay_membership_stable(spark, pipeline_run):
    """Re-running a batch whose index append already committed must not
    change accepted/duplicate membership (the replay guard)."""
    pipe = pipeline_run
    batch2 = spark.read.parquet(pipe.accepted_dir).filter(
        F.col("doc_id") == 5
    ).select("doc_id", "text")
    pipe.process_batch(spark, batch2)
    accepted = spark.read.parquet(pipe.accepted_dir).select("doc_id")
    # doc 5 re-accepted (appended twice) but never quarantined
    assert accepted.filter(F.col("doc_id") == 5).count() == 2
    quarantined = {
        r.doc_id for r in spark.read.parquet(pipe.quarantine_dir).collect()
    }
    assert 5 not in quarantined


def test_stale_index_format_is_refused(spark, tmp_path):
    """A band index persisted under a different signature family must be
    refused, not silently probed (foreign-family hashes never collide,
    so every near-dup would be accepted)."""
    import os

    import pytest

    from debezium_nats_cdc_spark.streaming.corpus_dedup import (
        CorpusDedupPipeline,
    )

    root = str(tmp_path)
    pipe = CorpusDedupPipeline(root)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p q r s t")],
        "doc_id long, text string",
    )
    pipe.process_batch(spark, docs)
    # simulate an index written by an older engine build
    with open(os.path.join(pipe.index_dir, "._format"), "w") as f:
        f.write("minhash-xxhash64-16x4")
    docs2 = spark.createDataFrame(
        [(2, "a b c d e f g h i j k l m n o p q r s t")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="signature"):
        pipe.process_batch(spark, docs2)


def _corpus_degenerate_batch(spark):
    from debezium_nats_cdc_spark.operators.dedup import minhash_signatures
    from debezium_nats_cdc_spark.streaming import corpus_dedup as cd

    boiler = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, boiler) for i in range(10)]                   # 10 identical
    rows += [(100, " ".join(f"x{i}" for i in range(30)))]     # 1 unique
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = cd._bands(minhash_signatures(docs))
    return [(r["doc_id"], r["dup_of"])
            for r in cd.dedup_batch_against_index(bands, None).collect()]


def _embedding_degenerate_batch(spark):
    from debezium_nats_cdc_spark.streaming import embedding_dedup as ed

    same = [1.0] + [0.0] * 63
    rows = [(i, same) for i in range(10)]                     # 10 identical
    rows += [(100, [0.0] * 63 + [1.0])]                       # 1 distinct
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return [(r["vec_id"], r["dup_of"]) for r in
            ed.dedup_batch_against_index(ed._sketch(vecs), None,
                                         None).collect()]


@pytest.mark.parametrize("batch, op", [
    (_corpus_degenerate_batch, "corpus_ingest"),
    (_embedding_degenerate_batch, "embedding_ingest"),
], ids=["corpus", "embedding"])
def test_degenerate_bucket_uses_anchor_fallback(spark, monkeypatch, batch, op):
    """A batch where one bucket per band/table exceeds dedup.BUCKET_CAP
    must (a) still mark every duplicate (anchor matching, not bucket
    dropping — an ingest dedup must not let dups through), (b) keep
    lowest-id as the keeper and (c) report the fallback through
    bucket_drop_stats under the ingest's op name."""
    from debezium_nats_cdc_spark.operators import dedup

    monkeypatch.setattr(dedup, "BUCKET_CAP", 5)
    out = dict(batch(spark))
    assert out[0] is None and out[100] is None
    assert all(out[i] == 0 for i in range(1, 10))
    # 4 bands/tables, each with one 10-member bucket over the cap (9
    # anchor pairs recovered, C(10,2) - 9 = 36 skipped) and the distinct
    # item alone in another bucket
    assert dedup.bucket_drop_stats(op) == {
        "capped_buckets": 4, "recovered_pairs": 36,
        "skipped_pairs": 144, "total_buckets": 8,
    }


def test_anchor_probe_match_chains_bucket_mates(spark, monkeypatch):
    """When an over-cap bucket's ANCHOR itself duplicates the index, its
    bucket-mates (whose only intra pair is the anchor) must still be
    quarantined — chained to the anchor's index match — not silently
    accepted (the recall hole an earlier left-anti on keeper opened)."""
    from debezium_nats_cdc_spark.streaming import corpus_dedup as cd
    from debezium_nats_cdc_spark.operators import dedup
    from debezium_nats_cdc_spark.operators.dedup import minhash_signatures

    monkeypatch.setattr(dedup, "BUCKET_CAP", 5)
    boiler = " ".join(f"tok{i}" for i in range(30))

    def bands_of(rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return cd._bands(minhash_signatures(docs))

    index_bands = bands_of([(1, boiler)])  # doc 1 already accepted
    batch_bands = bands_of([(i, boiler) for i in range(10, 20)])  # over-cap
    out = {r["doc_id"]: r["dup_of"]
           for r in cd.dedup_batch_against_index(
               batch_bands, index_bands).collect()}
    # every batch doc is a dup, and every dup_of points at the ACCEPTED
    # doc 1 — the anchor via its probe match, the mates via chaining
    assert set(out) == set(range(10, 20))
    assert all(v == 1 for v in out.values())


def test_index_compaction_bounds_files_and_keeps_membership(
        spark, tmp_path, monkeypatch):
    """With the compaction threshold forced low, the band index must stay
    at a bounded file count across many epochs, keep its format stamp,
    keep detecting cross-batch dups AFTER compaction, and stay
    replay-stable."""
    from debezium_nats_cdc_spark.streaming import corpus_dedup as cd

    monkeypatch.setattr(cd, "INDEX_COMPACT_THRESHOLD", 2)
    pipe = cd.CorpusDedupPipeline(str(tmp_path))

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = " ".join(f"w{i}" for i in range(40))
    # epoch 0: two distinct docs; epochs 1-3: fresh docs each
    pipe.process_batch(spark, docs([(1, base), (2, "x " * 40)]), epoch_id=0)
    for ep in range(1, 4):
        pipe.process_batch(
            spark, docs([(100 + ep, f"unique{ep} " * 40)]), epoch_id=ep)
    assert pipe.backend.data_file_count(pipe.index_dir) <= 3  # compacted

    # a near-dup of doc 1 arriving AFTER compaction is still caught
    pipe.process_batch(spark, docs([(500, base + " tail")]), epoch_id=4)
    q = spark.read.parquet(pipe.quarantine_dir)
    assert {r["doc_id"]: r["dup_of"] for r in q.collect()} == {500: 1}

    # replay an already-committed epoch: nothing re-appends
    n_acc = spark.read.parquet(pipe.accepted_dir).count()
    n_idx = spark.read.parquet(pipe.index_dir).count()
    pipe.process_batch(spark, docs([(101, "unique1 " * 40)]), epoch_id=1)
    assert spark.read.parquet(pipe.accepted_dir).count() == n_acc
    assert spark.read.parquet(pipe.index_dir).count() == n_idx


def test_cross_bucket_chain_resolves_to_accepted_doc(spark):
    """A member whose keeper was quarantined through a DIFFERENT band
    bucket must chain to the final accepted doc: with A~B colliding only
    in band 0 and B~C only in band 2 (A and C share nothing), C's dup_of
    must resolve to A, never to the quarantined B (ADVICE r5)."""
    from debezium_nats_cdc_spark.streaming import corpus_dedup as cd

    # fabricated signatures: est_jaccard(A,B)=est(B,C)=8/16=0.5 (at the
    # threshold), est(A,C)=0 — a true transitive chain, not a clique
    sig_a = [0] * 16
    sig_b = [0] * 8 + [1] * 8
    sig_c = [2] * 8 + [1] * 8
    rows = []
    for doc_id, sig, hashes in [
        (1, sig_a, [100, 101, 102, 103]),
        (2, sig_b, [100, 201, 202, 203]),  # band 0 collides with A
        (3, sig_c, [300, 301, 202, 303]),  # band 2 collides with B only
    ]:
        for band_id, h in enumerate(hashes):
            rows.append((band_id, h, doc_id, sig))
    bands = spark.createDataFrame(
        rows, "band_id int, band_hash long, doc_id long, sig array<int>"
    )
    out = {r["doc_id"]: r["dup_of"]
           for r in cd.dedup_batch_against_index(bands, None).collect()}
    assert out == {1: None, 2: 1, 3: 1}
