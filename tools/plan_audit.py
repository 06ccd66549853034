#!/usr/bin/env python
"""Catalog-wide physical-plan audit (SURVEY §4 discipline, whole-surface).

tests/test_plans.py pins individual plan shapes; this tool sweeps EVERY
catalog query and reports, per query:

  * exchanges    — total shuffles (hash + range + single + broadcast-side)
  * rangeparts   — range-partitioned (global-sort) exchanges
  * broadcasts   — BroadcastHashJoin count
  * smj          — SortMergeJoin count
  * cartesian    — CartesianProduct / BroadcastNestedLoopJoin count
  * pushed       — whether any PushedFilters reached a scan

and FAILS (exit 1) when a query outside the explicit allowlists shows a
cartesian product or a non-terminal global sort.  The allowlists carry a
one-line justification each — a new entry is a reviewed decision, not a
silent regression.

Global sorts that ARE acceptable: a final ORDER BY over an
already-aggregated (small) result, emitted for deterministic output.
Those appear as a rangepartitioning exchange downstream of the last
aggregate; anything range-partitioning raw fact rows is a scale bug.
The heuristic here is positional — the allowlist names queries whose
range exchange is known-terminal (reviewed by reading the plan).

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001; plans are
data-independent at this level, the small SF keeps analysis fast)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Queries allowed to contain a nested-loop/cartesian join, with why.
# Every entry was verified by reading the plan: the nested-loop side is
# either a broadcast of a bounded-small frame (centroids, a 1-row scalar
# aggregate) or the brute-force baseline that a scale-path twin replaces.
CARTESIAN_OK: dict[str, str] = {
    "sim_cosine_topk": "brute-force ANN baseline: corpus x broadcast "
                       "probe set IS the operator (scale path: "
                       "sim_ivf_probe_topk / operators/ann_index.py)",
    "sim_nearest_centroid": "corpus x broadcast 16-row centroid table — "
                            "the coarse-quantizer scoring pattern",
    "sim_ivf_probe_topk": "assign/probe scoring vs broadcast centroids "
                          "(bounded k=16 rows, by construction)",
    "sim_kmeans_refine": "Lloyd-iteration scoring vs broadcast "
                         "centroids (bounded k rows)",
    "corpus_quality_weighted_sample": "1-row corpus-total side broadcast "
                                      "(crossJoin of a scalar aggregate)",
    "text_unigram_logprob": "1-row corpus token-total broadcast",
    "corpus_lang_mix": "1-row corpus-total crossJoin (scalar bound)",
    "cdc_retention_filter": "1-row retention-cutoff (max ts - 7d) "
                            "broadcast bound",
    "stats_key_skew_report": "1-row totals frame crossJoined onto the "
                             "top-10 heavy-hitter slice",
    "window_state_as_of": "1-row as-of cutoff (max ts - 3d) broadcast "
                          "bound",
    "corpus_mixture_plan": "1-row mixture cap (min n/share) crossJoined "
                           "onto the |target langs|-row plan frame — "
                           "both sides scalar-bounded",
    "stats_join_cardinality": "1-row total-pair-rows frame crossJoined "
                              "onto the top-10 contributing-key slice",
    "stats_numeric_profile": "three 1-row exact-distinct-count frames "
                             "crossJoined onto the 1-row wide stats "
                             "aggregate — all scalar bound (the r17 "
                             "Expand-removal split)",
    "text_tfidf_topk": "1-row corpus-size (N) broadcast crossJoined "
                       "into the tf x df score — scalar bound",
    "stats_join_advisor": "three 1-row scalar frames (per-side "
                          "summaries + pair total) crossJoined into "
                          "the single decision row — all scalar bound",
    "text_bm25_topk": "1-row corpus stats (N, avgdl) broadcast "
                      "crossJoined into the per-term score — scalar "
                      "bound",
    "ann_search_after_lifecycle": "probe scoring: |queries| x the "
                                  "broadcast one-row nested-centroid "
                                  "array (bounded n_cells=16, by "
                                  "construction)",
}

# Queries whose range-partitioning exchange is a reviewed TERMINAL sort
# (deterministic presentation order of the final — aggregated or pair —
# result; upstream work is hash-partitioned).  Note join_top_orders and
# friends don't appear: orderBy().limit() compiles to TakeOrdered, no
# range exchange at all.
RANGE_OK: dict[str, str] = {
    "dedup_minhash_lsh": "presentation sort of the candidate-pair result",
    "dedup_simhash": "presentation sort of the near-pair result",
    "dedup_exact_substring": "presentation sort of the pair result",
    "sim_ivf_probe_topk": "presentation sort of (query_id, rnk) top-k rows",
    "sim_lsh_bucketed_neardup": "presentation sort of the pair result",
    "mm_feature_extract": "presentation sort by doc_id of the feature "
                          "rows — N-row but over a map-only upstream; "
                          "drop-candidate if it ever shows up in bench",
    # ann_search_after_lifecycle left this list in r17: its terminal
    # presentation sort now runs as repartition(1) + sortWithinPartitions
    # (identical order, no range exchange)
}


def audit(name: str, df) -> dict:
    from debezium_nats_cdc_spark.plans.explain import (
        count_exchanges,
        formatted_plan,
    )

    plan = formatted_plan(df)
    return {
        "exchanges": count_exchanges(plan),
        "rangeparts": plan.count("rangepartitioning"),
        "broadcasts": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }


def run_audit(spark, sf_dir: str):
    """Sweep the catalog; returns (rows, violations) where rows is
    [(name, metrics, flags)] and violations is the flat failure list
    (unallowlisted patterns + stale allowlist entries)."""
    from debezium_nats_cdc_spark import catalog

    rows, violations = [], []
    for name, e in catalog.entries().items():
        try:
            m = audit(name, e.fn(spark, sf_dir))
        except Exception as exc:  # analysis error = hard fail
            violations.append(f"{name}: plan analysis raised {exc!r}")
            continue
        flags = []
        if m["cartesian"] and name not in CARTESIAN_OK:
            flags.append("CARTESIAN")
        if m["rangeparts"] and name not in RANGE_OK:
            flags.append("GLOBAL-SORT")
        violations.extend(f"{name}: {f}" for f in flags)
        rows.append((name, m, flags))

    cart_hits = {n for n, m, _ in rows if m["cartesian"]}
    range_hits = {n for n, m, _ in rows if m["rangeparts"]}
    for label, allow, hits in (("CARTESIAN_OK", CARTESIAN_OK, cart_hits),
                               ("RANGE_OK", RANGE_OK, range_hits)):
        violations.extend(
            f"stale {label} entry (pattern gone — prune): {n}"
            for n in sorted(set(allow) - hits))
    return rows, violations


LOCKFILE = os.path.join(REPO, "plans.lock.json")


def write_lock(rows, path: str = None) -> None:
    """Persist every query's plan metrics as a lockfile.  The pytest
    gate compares the LIVE audit against this: any drift — a broadcast
    silently becoming a sort-merge join, a new shuffle, a lost pushdown
    — fails until the change is reviewed and the lock regenerated with
    `python tools/plan_audit.py --write-md`."""
    import json

    with open(path or LOCKFILE, "w") as f:
        json.dump({n: m for n, m, _ in rows}, f, indent=1, sort_keys=True)


def check_lock(rows, path: str = None) -> list[str]:
    """Diffs live metrics vs the lockfile; returns human-readable drift
    lines (empty = clean).  A missing lockfile is itself a violation —
    the gate must never pass vacuously."""
    import json

    try:
        with open(path or LOCKFILE) as f:
            want = json.load(f)
    except FileNotFoundError:
        return [f"plan lockfile missing: {path or LOCKFILE} "
                f"(regenerate: python tools/plan_audit.py --write-md)"]
    live = {n: m for n, m, _ in rows}
    out = []
    for n in sorted(set(want) | set(live)):
        if n not in want:
            out.append(f"{n}: NEW query not in lockfile (regenerate)")
        elif n not in live:
            out.append(f"{n}: in lockfile but gone from catalog (regenerate)")
        elif want[n] != live[n]:
            diff = {k: (want[n].get(k), v) for k, v in live[n].items()
                    if want[n].get(k) != v}
            out.append(f"{n}: plan drift {diff} (locked, live)")
    return out


def write_markdown(rows, violations, path: str) -> None:
    """Emit the audit as a committed artifact (PLANS.md): per-query plan
    metrics plus the reviewed allowlists.  Regenerate with
    `python tools/plan_audit.py --write-md` after plan-shape changes —
    tests/test_plan_audit.py keeps violations at zero either way."""
    lines = [
        "# Physical-plan audit (generated by `tools/plan_audit.py --write-md`)",
        "",
        "Per-catalog-query plan metrics at sf0.001 (plan shapes are",
        "data-independent at this level).  `exch` counts shuffle",
        "exchanges, `range` global-sort (range-partitioned) exchanges,",
        "`bcast` broadcast hash joins, `smj` sort-merge joins, `cart`",
        "nested-loop/cartesian joins, `pushed` whether a predicate",
        "reached a parquet scan.  Cartesians and global sorts are only",
        "legal with a reviewed allowlist entry (bottom); the pytest gate",
        "(tests/test_plan_audit.py) fails on anything else.",
        "",
        "| query | exch | range | bcast | smj | cart | pushed |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, m, flags in rows:
        mark = " **FAIL**" if flags else ""
        lines.append(
            f"| {name}{mark} | {m['exchanges']} | {m['rangeparts']} | "
            f"{m['broadcasts']} | {m['smj']} | {m['cartesian']} | "
            f"{'yes' if m['pushed'] else ''} |")
    lines += ["", "## Reviewed nested-loop allowlist", ""]
    lines += [f"- `{n}` — {why}" for n, why in CARTESIAN_OK.items()]
    lines += ["", "## Reviewed terminal-sort allowlist", ""]
    lines += [f"- `{n}` — {why}" for n, why in RANGE_OK.items()]
    if violations:
        lines += ["", "## VIOLATIONS", ""] + [f"- {v}" for v in violations]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> int:
    from pyspark.sql import SparkSession

    paths = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = paths[0] if paths else "/root/testdata/sf0.001"

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows, violations = run_audit(spark, sf_dir)
    ok = not violations

    if "--write-md" in sys.argv[1:]:
        write_markdown(rows, violations, "PLANS.md")
        write_lock(rows)
        print("wrote PLANS.md + plans.lock.json")
    elif sf_dir.rstrip("/").endswith("sf0.001"):
        for d in check_lock(rows):
            ok = False
            violations.append(d)
    else:
        # the lock records sf0.001 plans; statistics-driven choices
        # (cost-model broadcasts) legitimately differ at other SFs
        print(f"lock check skipped: {sf_dir} is not the locked sf0.001")

    if not rows:  # e.g. bad sf_dir: every query failed analysis
        for v in violations:
            print(f"FAIL {v}")
        print("plan audit VIOLATED (no query produced a plan)")
        return 1

    w = max(len(n) for n, _, _ in rows)
    print(f"{'query':{w}}  exch  range  bcast  smj  cart  pushed  flags")
    for name, m, flags in rows:
        print(f"{name:{w}}  {m['exchanges']:4d}  {m['rangeparts']:5d}  "
              f"{m['broadcasts']:5d}  {m['smj']:3d}  {m['cartesian']:4d}  "
              f"{str(m['pushed']):6}  {'/'.join(flags) or '-'}")
        if flags:
            print(f"{'':{w}}  ^^ FAIL: not in allowlist "
                  f"(tools/plan_audit.py)")

    n_cart = sum(1 for _, m, _ in rows if m["cartesian"])
    n_range = sum(1 for _, m, _ in rows if m["rangeparts"])
    print(f"\n{len(rows)} queries; {n_cart} with nested-loop joins "
          f"(all allowlisted scalar-bound/baseline cases), "
          f"{n_range} with range exchanges (reviewed terminal sorts)")
    for v in violations:
        print(f"FAIL {v}")
    print("plan audit OK" if ok else "plan audit VIOLATED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
