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
keep-first, curation) actually use.  That is why the two-level salted
expansion (VERDICT task #7) is not bought this round: it would raise
pair recall on degenerate buckets without changing any downstream
answer, at O(df·CAP) extra pairs.
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


def test_two_level_subgroup_rounds_recover_nonanchor_pairs(spark):
    """Opt-in two-level expansion (VERDICT r6 #8): salted sub-groups of
    an over-cap bucket all-pairs-expand within themselves, recovering
    part of the non-anchor miss class at O(df·CAP) per round.  Pinned:
    rounds=0 is bit-identical to the anchor-only kernel; each round only
    ADDS pairs; every added pair is a true co-bucket pair; coverage
    grows with rounds (1 - (1-CAP/df)^R in expectation)."""
    cap = dedup.BUCKET_CAP

    def pairs_for(rows, rounds):
        df = spark.createDataFrame(rows, "bkey string, doc_id long")
        out = dedup._candidate_pairs(df, ["bkey"], [], "kernel_2lvl",
                                     subgroup_rounds=rounds)
        return {(r["doc_a"], r["doc_b"]) for r in out.collect()}

    n = 3 * cap  # one hot bucket, 3 expected sub-groups per round
    overcap = [("hot", i) for i in range(1, n + 1)]
    truth = {(a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1)}
    anchor_only = pairs_for(overcap, 0)
    assert anchor_only == {(1, i) for i in range(2, n + 1)}

    r1 = pairs_for(overcap, 1)
    r2 = pairs_for(overcap, 2)
    assert anchor_only <= r1 <= r2 <= truth  # additive, never invents
    # material recovery: each round covers ~CAP/df of the missing pairs
    missing = len(truth) - len(anchor_only)
    rec1 = len(r1) - len(anchor_only)
    rec2 = len(r2) - len(anchor_only)
    assert rec1 >= missing * 0.15, (rec1, missing)
    assert rec2 > rec1  # a second salt finds pairs the first one split


def test_subgroup_rounds_fix_the_mixed_bucket_component_loss(spark):
    """The adversarial case the anchor bound can't cover: an over-cap
    bucket whose members X,Y are near-dups of EACH OTHER but not of the
    anchor — anchor pairs fail the downstream verify, so the X-Y
    component vanishes at rounds=0.

    Note on realism: with the real 4x4 LSH banding this shape is
    near-unconstructible end-to-end, because X,Y's mutual extra content
    gives them their own in-cap band bucket (exactly why
    test_anchor_fallback_recall_floor finds IDENTICAL components on
    boilerplate corpora, and why the catalog default stays rounds=0).
    So the demonstration fabricates the bucket at the kernel level —
    one over-cap bucket, signatures carried as extras, the same
    est-overlap verify the minhash caller applies."""
    cap = dedup.BUCKET_CAP
    n = cap + 20
    # anchor (id 1) and the bulk: signature family A; X,Y (the two
    # highest ids): family B — mutually identical, disjoint from A
    sig_a = [float(i) for i in range(16)]
    sig_b = [float(1000 + i) for i in range(16)]
    rows = [("hot", i, sig_a) for i in range(1, n - 1)]
    rows += [("hot", n - 1, sig_b), ("hot", n, sig_b)]
    df = spark.createDataFrame(
        rows, "bkey string, doc_id long, sig array<double>")

    est = F.aggregate(
        F.zip_with("a_sig", "b_sig",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v) / F.lit(16)

    def verified(rounds):
        out = dedup._candidate_pairs(df, ["bkey"], ["sig"], "kernel_mixed",
                                     subgroup_rounds=rounds)
        return {(r["doc_a"], r["doc_b"]) for r in
                out.withColumn("est", est)
                .filter(F.col("est") >= EST_THRESHOLD).collect()}

    r0 = verified(0)
    # rounds=0: only anchor pairs are generated; anchor-vs-family pass
    # the verify, anchor-vs-X/Y fail -> the X-Y edge (and component)
    # is LOST
    assert (n - 1, n) not in r0
    assert all(a == 1 for a, _ in r0)
    found_at = None
    for rounds in (1, 2, 3, 4, 5, 6, 7, 8):
        if (n - 1, n) in verified(rounds):
            found_at = rounds
            break
    assert found_at is not None, \
        "salted sub-group rounds never surfaced the X-Y pair"
    # and the recovered set never invents a CROSS-family verified pair:
    # everything is either within family A (ids < n-1, incl. the
    # legitimately recovered non-anchor A-pairs) or the X-Y edge
    assert all(p == (n - 1, n) or (p[0] < n - 1 and p[1] < n - 1)
               for p in verified(found_at))
