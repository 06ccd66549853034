#!/usr/bin/env python
"""10x scale point for the catalog's HEAVY family (round 12).

SCALING.md's sf0.01->sf0.1 decade shows the expensive queries
(dedup/CC/curation/covariance/monitor folds) comfortably sub-linear,
but the decade tops out at multi-second runtimes where fixed overhead
still matters.  This probe manufactures a 10x point the same way
``scale_tail_probe.py`` does — replicate each input table 10x with
SHIFTED entity keys — with one extra care for TEXT tables: a naive 10x
copy of ``documents`` makes every replica a near-duplicate of the
original, so candidate-pair generation would grow ~100x (every LSH/
band bucket gets 10x members, pairs are quadratic in bucket size).
That measures a 10x-duplicated corpus, not the same corpus shape at
10x volume.  Instead each replica's text gets a per-replica suffix
appended to EVERY token (``regexp_replace(text, r'(\\S+)', '$1_rI')``):
token/shingle spaces across replicas become disjoint, so per-replica
duplicate structure, bucket sizes, and cluster shapes are exactly the
original's — the honest "same shape, 10x volume" construction.
Embeddings replicate with shifted vec_ids and vectors verbatim (only
value-independent-cost queries are probed on it); events/orders
replicate as in scale_tail_probe (shifted event/user/order ids).

The monitor_*_publish queries run their full 3-micro-batch ingest
inside the timed section (the query fn performs it eagerly), so the
ratio covers the fold loop, not just the final scoring read.

Usage: python tools/scale_heavy_probe.py [reps] [q1,q2,...]
         [--replicas=N] [--tables=events,orders,documents,embeddings]
Writes replicated tables under /tmp/sparkgraft_heavy{N}x/ and prints
one JSON line per query with (sf0.1 s, Nx s, ratio).  --replicas=100
is the r14 second-decade construction (VERDICT r13 stretch 7): same
disjoint-token-space care, two full orders of magnitude above the
measured sf0.1 point.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
_pos = [a for a in sys.argv[1:] if not a.startswith("--")]
REPLICAS = int(next((a.split("=", 1)[1] for a in sys.argv[1:]
                     if a.startswith("--replicas=")), 10))
BIG_DIR = f"/tmp/sparkgraft_heavy{REPLICAS}x"
REPS = int(_pos[0]) if _pos else 3
# --tables=a,b restricts which fact tables replicate (r15): a probe of
# the embedding family alone should not pay the 100x documents build
# (the regexp suffix pass dominates the whole run).  Dims are always
# symlinked; default replicates everything, the pre-r15 behavior.
_KNOWN_TABLES = {"events", "orders", "documents", "embeddings"}
TABLES = set(next((a.split("=", 1)[1].split(",") for a in sys.argv[1:]
                   if a.startswith("--tables=")),
                  sorted(_KNOWN_TABLES)))
# validate BEFORE build_big's rmtree: a typo must not wipe an existing
# expensive 100x build and then construct nothing (code-review r15).
# NB "lineitem" is not a name here — it replicates WITH "orders" (the
# FK-preserving key shift needs both).
_unknown = TABLES - _KNOWN_TABLES
if _unknown:
    sys.exit(f"scale_heavy_probe: unknown --tables names {sorted(_unknown)}; "
             f"known: {sorted(_KNOWN_TABLES)} (lineitem builds with orders)")

# r13: widened from the 12-query heavy family to the full measured
# top-20 of BENCH_r12 plus the new ANN lifecycle query — the second
# measured decade for every query where the replicated construction is
# honest.  Deliberately EXCLUDED (same discipline as r12's
# corpus_curation 0.36x exclusion): sim_embedding_neardup and
# sim_lsh_bucketed_neardup — embeddings replicate VERBATIM (no suffix
# trick exists for vectors), so all 10 replicas of a vector share its
# LSH bucket and candidate pairs grow ~quadratically in replica count;
# that measures a planted-duplicate explosion, not 10x volume.
# Also excluded (r15): text_bm25_topk — its FIXED query literals
# cannot match the per-replica-suffixed tokens, so a replicated run
# measures the empty-tf path, not retrieval at volume (tfidf_topk is
# fine: its terms are corpus-derived, not fixed).
QUERIES = (_pos[1].split(",") if len(_pos) > 1 else [
    "dedup_cluster_assign_delta", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_exact_substring", "dedup_prefix_cluster",
    "corpus_curation", "corpus_decontaminate", "emb_covariance",
    "monitor_funnel_publish", "monitor_engagement_publish",
    "monitor_cohort_publish",
    # r13 additions
    "dedup_exact_survivors", "sim_kmeans_refine", "sim_ivf_probe_topk",
    "ann_search_after_lifecycle", "join_salted_skew",
    "join_broadcast_enrich", "stats_numeric_profile", "text_tfidf_topk",
    "corpus_mixture_plan", "agg_regional_revenue",
])


def _union_replicas(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_big(spark) -> None:
    from pyspark.sql import functions as F

    from debezium_nats_cdc_spark.io import load_table

    if os.path.isdir(BIG_DIR):
        shutil.rmtree(BIG_DIR)
    os.makedirs(BIG_DIR, exist_ok=True)

    if "events" in TABLES:
        _build_events(spark, F, load_table)
    if "orders" in TABLES:
        _build_orders(spark, F, load_table)
    if "documents" in TABLES:
        _build_documents(spark, F, load_table)
    if "embeddings" in TABLES:
        _build_embeddings(spark, F, load_table)

    # small dims some curation queries touch: symlink the originals
    for t in ("region", "nation", "customer", "supplier", "part"):
        src = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(src):
            os.symlink(src, f"{BIG_DIR}/{t}.parquet")


def _build_events(spark, F, load_table) -> None:
    ev = load_table(spark, SF_DIR, "events")
    _union_replicas([
        ev.select(
            (F.col("event_id") + i * 10**12).alias("event_id"), "ts",
            (F.col("user_id") + i * 10**9).alias("user_id"),
            "event_type", "value", "props")
        for i in range(REPLICAS)
    ]).write.mode("overwrite").parquet(f"{BIG_DIR}/events.parquet")


def _build_orders(spark, F, load_table) -> None:
    od = load_table(spark, SF_DIR, "orders")
    _union_replicas([
        od.withColumn("o_orderkey", F.col("o_orderkey") + i * 10**9)
        for i in range(REPLICAS)
    ]).write.mode("overwrite").parquet(f"{BIG_DIR}/orders.parquet")

    # lineitem replicates WITH orders (l_orderkey shifted by the same
    # stride, preserving the FK and each replica's per-key skew shape)
    # so the join family (salted skew, broadcast enrich, regional
    # revenue) sees a genuine 10x fact side; part/supplier stay 1x
    # symlinks — dims are small at any scale
    li = load_table(spark, SF_DIR, "lineitem")
    _union_replicas([
        li.withColumn("l_orderkey", F.col("l_orderkey") + i * 10**9)
        for i in range(REPLICAS)
    ]).write.mode("overwrite").parquet(f"{BIG_DIR}/lineitem.parquet")


def _build_documents(spark, F, load_table) -> None:
    # per-replica token suffix keeps replica shingle spaces DISJOINT
    # (see module docstring) while preserving per-replica dup structure
    docs = load_table(spark, SF_DIR, "documents")
    # n_chars is recomputed from the SUFFIXED text (ADVICE r12): keeping
    # the original value would leave the replicas' two length signals
    # disagreeing, quietly skewing any probed query that mixes an
    # n_chars filter with text-derived work; the selectivity shift from
    # slightly longer texts is negligible and the table stays
    # self-consistent
    def _doc_replica(i: int):
        suffixed = F.regexp_replace(F.col("text"), r"(\S+)", rf"$1_r{i}")
        return docs.select(
            (F.col("doc_id") + i * 10**9).alias("doc_id"),
            suffixed.alias("text"),
            "lang", "source",
            F.length(suffixed).cast("bigint").alias("n_chars"))

    _union_replicas([
        _doc_replica(i) for i in range(REPLICAS)
    ]).write.mode("overwrite").parquet(f"{BIG_DIR}/documents.parquet")


def _build_embeddings(spark, F, load_table) -> None:
    emb = load_table(spark, SF_DIR, "embeddings")
    _union_replicas([
        emb.withColumn("vec_id", F.col("vec_id") + i * 10**9)
        for i in range(REPLICAS)
    ]).write.mode("overwrite").parquet(f"{BIG_DIR}/embeddings.parquet")


def main() -> None:
    from debezium_nats_cdc_spark import catalog
    from debezium_nats_cdc_spark.session import get_session

    spark = get_session("scale-heavy-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_big(spark)
    ents = catalog.entries()
    for q in QUERIES:  # warm codegen both scales
        for d in (SF_DIR, BIG_DIR):
            ents[q].fn(spark, d).write.format("noop").mode("overwrite").save()
    times: dict[tuple[str, str], list[float]] = {}
    for r in range(REPS):
        order = QUERIES if r % 2 == 0 else list(reversed(QUERIES))
        for q in order:
            for d in (SF_DIR, BIG_DIR):
                t0 = time.time()
                ents[q].fn(spark, d).write.format("noop") \
                    .mode("overwrite").save()
                times.setdefault((q, d), []).append(
                    round(time.time() - t0, 3))
    for q in QUERIES:
        s = statistics.median(times[(q, SF_DIR)])
        b = statistics.median(times[(q, BIG_DIR)])
        print(json.dumps({
            "query": q, "sf0.1_s": s, f"x{REPLICAS}_s": b,
            f"raw_ratio_{REPLICAS}x": round(b / s, 2),
            "runs_sf01": times[(q, SF_DIR)],
            "runs_big": times[(q, BIG_DIR)],
            "loadavg": round(os.getloadavg()[0], 1),
        }), flush=True)


if __name__ == "__main__":
    main()
