"""Quantify the anchor-fallback recall bound (VERDICT r5 task #6).

The capped candidate kernel (_candidate_pairs) degrades over-cap buckets
to anchor pairing.  The documented bound: a true pair is missed ONLY if
it holds between two non-anchor members in every over-cap bucket they
share and nowhere else.  These tests measure that bound against the
uncapped truth on a boilerplate-heavy corpus — the realistic shape of a
degenerate bucket at 100 TB — and pin the exact miss class at the
kernel level.

Measured on the boilerplate fixture below (K=40 family, CAP=10):
pair recall ≈ 0.10 (anchor pairs only inside the family), but
DOC-level recall is 1.0 and the connected components are IDENTICAL to
the uncapped run — which is what the dedup consumers (cluster assign,
keep-first, curation) actually use.  That is why the kernel has no
salted sub-group expansion: it would raise pair recall on degenerate
buckets without changing any downstream answer, at O(df·CAP) extra
pairs.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from debezium_nats_cdc_spark.operators import dedup
from debezium_nats_cdc_spark.operators.components import _uf_solve

EST_THRESHOLD = 0.5


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long, "
              "text string")


def _pairs_at_cap(spark, docs, cap, monkeypatch):
    monkeypatch.setattr(dedup, "BUCKET_CAP", cap)
    cands = dedup.minhash_candidates(docs)
    return {
        (r["doc_a"], r["doc_b"])
        for r in cands.filter(F.col("est_jaccard") >= EST_THRESHOLD).collect()
    }


def _components(pairs):
    comp = {}
    for doc, root in _uf_solve(pairs).items():
        comp.setdefault(root, set()).add(doc)
    return frozenset(frozenset(v) for v in comp.values())


def test_anchor_fallback_recall_floor_on_boilerplate_corpus(
        spark, monkeypatch):
    """K=40 near-identical docs (boilerplate + unique tail token) force
    over-cap band buckets at CAP=10.  Assert the measured floor:
    doc-level recall 1.0, clusters identical to uncapped, pair recall
    >= (K-1)/C(K,2), and bucket_drop_stats consistent with the miss
    count."""
    base = " ".join(f"tmpl{i}" for i in range(40))
    rows = [(i, "en", "s", 100, f"{base} unique{i}") for i in range(40)]
    # an unrelated small near-dup pair (in-cap buckets, full expansion)
    rows += [(200, "en", "s", 50, "alpha beta gamma delta epsilon zeta"),
             (201, "en", "s", 50, "alpha beta gamma delta epsilon eta")]
    # and a loner
    rows += [(300, "en", "s", 50, " ".join(f"z{i}" for i in range(30)))]
    docs = _docs(spark, rows)

    truth = _pairs_at_cap(spark, docs, 10**9, monkeypatch)
    capped = _pairs_at_cap(spark, docs, 10, monkeypatch)
    st = dedup.bucket_drop_stats("minhash")

    assert capped <= truth  # the cap only removes pairs, never invents
    family_truth = {p for p in truth if p[0] < 100 and p[1] < 100}
    family_capped = {p for p in capped if p[0] < 100 and p[1] < 100}
    assert len(family_truth) > len(family_capped)  # the cap really bit
    assert st["capped_buckets"] > 0 and st["skipped_pairs"] > 0

    # documented pair-recall floor: every member still pairs the anchor
    k = 40
    floor = (k - 1) / (k * (k - 1) / 2)
    assert len(family_capped) / len(family_truth) >= floor
    assert {(0, i) for i in range(1, k)} <= family_capped

    # doc-level recall: every doc with a true pair still has a pair
    def docs_of(pairs):
        return {d for p in pairs for d in p}
    assert docs_of(capped) == docs_of(truth)

    # cluster-level recall: connected components are unchanged — the
    # downstream consumers see the identical answer
    assert _components(capped) == _components(truth)

    # pairs outside the over-cap family are untouched by the cap
    # (whether LSH banding surfaced (200, 201) is a property of the
    # hash family, not of the cap — so compare against truth, not
    # against a hardcoded expectation)
    assert ({p for p in capped if p[0] >= 100}
            == {p for p in truth if p[0] >= 100})


def test_kernel_miss_class_is_exactly_nonanchor_only_overcap(spark):
    """Pin the bound at the kernel level with fabricated buckets: a
    non-anchor pair that co-occurs ONLY in an over-cap bucket is the one
    and only miss class; the same pair is recovered the moment any
    in-cap bucket also contains it."""
    cap = dedup.BUCKET_CAP

    def pairs_for(rows):
        df = spark.createDataFrame(rows, "bkey string, doc_id long")
        out = dedup._candidate_pairs(df, ["bkey"], [], "kernel_test")
        return {(r["doc_a"], r["doc_b"]) for r in out.collect()}

    overcap = [("hot", i) for i in range(1, cap + 3)]
    got = pairs_for(overcap)
    n = cap + 2
    # all anchor pairs present, nothing else
    assert got == {(1, i) for i in range(2, n + 1)}
    # the documented miss: non-anchor members n-1, n share only "hot"
    assert (n - 1, n) not in got

    # add an in-cap bucket containing that pair -> recovered
    got2 = pairs_for(overcap + [("cold", n - 1), ("cold", n)])
    assert (n - 1, n) in got2


def test_drop_stats_arithmetic_matches_documented_formulas(spark):
    """recovered = Σ(df−1), skipped = Σ(C(df,2)−(df−1)) over over-cap
    buckets — the exact numbers an operator alerts on at 100 TB."""
    cap = dedup.BUCKET_CAP
    df1, df2 = cap + 5, cap + 50
    rows = [("a", i) for i in range(df1)] + [("b", 10_000 + i)
                                             for i in range(df2)]
    bdf = spark.createDataFrame(rows, "bkey string, doc_id long")
    out = dedup._candidate_pairs(bdf, ["bkey"], [], "kernel_stats")
    assert out.count() == (df1 - 1) + (df2 - 1)
    st = dedup.bucket_drop_stats("kernel_stats")
    assert st["capped_buckets"] == 2
    assert st["recovered_pairs"] == (df1 - 1) + (df2 - 1)
    assert st["skipped_pairs"] == (
        df1 * (df1 - 1) // 2 - (df1 - 1) + df2 * (df2 - 1) // 2 - (df2 - 1)
    )
