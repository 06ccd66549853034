#!/usr/bin/env python
"""Measure every streaming monitor's STATE size against ingested volume
(VERDICT r10 task 6 — the SCALING.md analog for streaming state).

SCALING.md pins each batch query's sf0.01 -> sf0.1 growth; the eight
monitors' state bounds were argued in docstrings and pytest-pinned only
at toy volume.  This probe ingests the same synthetic shape at TWO
volumes (4x apart) into each monitor and records state rows + on-disk
bytes, so the sub-linear/bounded claims carry measurements:

  * volume-anomaly: state <= #types x #days rows, INDEPENDENT of events;
  * engagement / cohort: state = the distinct (user, day|week) frame —
    saturates at pool x horizon; expire_before/expire caps it;
  * approx engagement: ONE HLL sketch row per day — <= #days at ANY
    user volume (the sketch tier's reason to exist);
  * funnel: dominance-pruned rows; compact(W) collapses to <=1
    row/user/stage;
  * TF-IDF: df-vocabulary + meta — grows with VOCABULARY, not docs;
  * top-k: <= #queries x k rows, independent of corpus;
  * corpus/embedding dedup: index grows with ACCEPTED (unique) docs —
    linear only in novelty, not in ingest.

Usage: python tools/stream_state_probe.py [--md STREAMSTATE.md]
Prints one JSON line per (monitor, volume); --md rewrites the artifact
table.  tests/test_stream_state_bounds.py asserts the funnel,
engagement and cohort bounds at these exact volumes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from datetime import datetime, timedelta, timezone

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_EVENTS_SCHEMA = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                  "event_type string, value double, props string")
_DOC_SCHEMA = "doc_id long, text string"
_VEC_SCHEMA = "vec_id long, embedding array<float>"

_WORDS = ("the spark batch stream row column key value join sort merge "
          "filter table scan hash agg window group order data small big "
          "fast slow query part customer line vector dup").split()

N_USERS = 500
N_DAYS = 30
STAGES = ("view", "click", "purchase")
BASE = datetime(2024, 1, 1)


def gen_events(rng, n):
    rows = []
    for i in range(n):
        u = int(rng.randint(1, N_USERS + 1))
        ts = BASE + timedelta(seconds=int(rng.randint(0, N_DAYS * 86400)))
        et = STAGES[int(rng.randint(0, len(STAGES)))]
        rows.append((i, ts, u, et, float(rng.rand()), None))
    return rows


def gen_docs(rng, n):
    rows = []
    pool = [" ".join(rng.choice(_WORDS)
                     for _ in range(int(rng.randint(20, 40))))
            for _ in range(max(8, n // 20))]
    for i in range(n):
        if rng.rand() < 0.3:  # planted dups: index must NOT grow on these
            rows.append((i, pool[int(rng.randint(0, len(pool)))]))
        else:
            rows.append((i, " ".join(rng.choice(_WORDS)
                                     for _ in range(int(rng.randint(15, 40))))))
    return rows


def gen_vecs(rng, n, dim=64):
    cents = rng.randn(6, dim)
    rows = []
    for i in range(n):
        c = cents[int(rng.randint(0, 6))]
        v = c + 0.05 * rng.randn(dim)
        rows.append((i, [float(x) for x in v]))
    return rows


def du(path) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def state_stats(spark, state_dir) -> tuple[int, int]:
    if not os.path.exists(state_dir):
        return 0, 0
    try:
        rows = spark.read.parquet(state_dir).count()
    except Exception:
        rows = -1
    return rows, du(state_dir)


def probe(spark, volumes=(8_000, 32_000)) -> list[dict]:
    from debezium_nats_cdc_spark.streaming.anomaly_monitor import (
        VolumeAnomalyMonitor,
    )
    from debezium_nats_cdc_spark.streaming.approx_engagement_monitor import (
        ApproxEngagementMonitor,
    )
    from debezium_nats_cdc_spark.streaming.cohort_monitor import CohortMonitor
    from debezium_nats_cdc_spark.streaming.corpus_dedup import (
        CorpusDedupPipeline,
    )
    from debezium_nats_cdc_spark.streaming.embedding_dedup import (
        EmbeddingDedupPipeline,
    )
    from debezium_nats_cdc_spark.streaming.engagement_monitor import (
        EngagementMonitor,
    )
    from debezium_nats_cdc_spark.streaming.funnel_monitor import FunnelMonitor
    from debezium_nats_cdc_spark.streaming.tfidf_monitor import TfidfMonitor
    from debezium_nats_cdc_spark.streaming.topk_monitor import TopKMonitor

    out = []

    def run(monitor_name, volume, build, feed, dirs_of, extras=None):
        root = tempfile.mkdtemp(prefix="ssprobe-")
        try:
            rng = np.random.RandomState(11)  # same stream, longer prefix
            mon = build(root, rng)
            feed(mon, rng, volume)
            rec = {"monitor": monitor_name, "volume": volume}
            rows, nbytes = state_stats(spark, dirs_of(mon))
            rec.update({"state_rows": rows, "state_bytes": nbytes})
            if extras:
                rec.update(extras(mon))
            out.append(rec)
            print(json.dumps(rec), flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def feed_events(mon, rng, n, batches=4):
        rows = gen_events(rng, n)
        per = len(rows) // batches
        for b in range(batches):
            df = spark.createDataFrame(
                rows[b * per:(b + 1) * per] if b < batches - 1
                else rows[(batches - 1) * per:], _EVENTS_SCHEMA)
            mon.process_batch(spark, df, epoch_id=b)

    wm_us = int((BASE + timedelta(days=N_DAYS))
                .replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
    horizon = (BASE + timedelta(days=N_DAYS - 7)).date().isoformat()
    # Monday on/before the horizon (cohort weeks are Monday-truncated)
    hdate = BASE + timedelta(days=N_DAYS - 7)
    monday = (hdate - timedelta(days=hdate.weekday())).date().isoformat()

    for vol in volumes:
        run("volume_anomaly", vol,
            lambda root, rng: VolumeAnomalyMonitor(os.path.join(root, "m")),
            feed_events, lambda m: m.state_dir)
        run("funnel", vol,
            lambda root, rng: FunnelMonitor(os.path.join(root, "m")),
            feed_events, lambda m: m.state_dir,
            extras=lambda m: _compacted(spark, m, wm_us))
        run("engagement", vol,
            lambda root, rng: EngagementMonitor(os.path.join(root, "m")),
            feed_events, lambda m: m.state_dir,
            extras=lambda m: _expired(spark, m, horizon))
        run("approx_engagement", vol,
            lambda root, rng: ApproxEngagementMonitor(
                os.path.join(root, "m")),
            feed_events, lambda m: m.state_dir,
            extras=lambda m: _expired(spark, m, horizon))
        run("cohort", vol,
            lambda root, rng: CohortMonitor(os.path.join(root, "m")),
            feed_events, lambda m: m.state_dir,
            extras=lambda m: _expired_cohort(spark, m, monday, wm_us))
        run("tfidf", vol // 10,
            lambda root, rng: TfidfMonitor(os.path.join(root, "m")),
            lambda mon, rng, n: _feed_docs(spark, mon, rng, n),
            lambda m: m.state_dir)
        run("corpus_dedup", vol // 10,
            lambda root, rng: CorpusDedupPipeline(os.path.join(root, "m")),
            lambda mon, rng, n: _feed_docs(spark, mon, rng, n),
            lambda m: m.index_dir)
        run("embedding_dedup", vol // 20,
            lambda root, rng: EmbeddingDedupPipeline(os.path.join(root, "m")),
            lambda mon, rng, n: _feed_vecs(spark, mon, rng, n),
            lambda m: m.index_dir)
        run("topk", vol // 20,
            lambda root, rng: TopKMonitor(
                os.path.join(root, "m"),
                spark.createDataFrame(gen_vecs(rng, 8), _VEC_SCHEMA), k=5),
            lambda mon, rng, n: _feed_vecs(spark, mon, rng, n, id_base=1000),
            lambda m: m.state_dir)
    return out


def _feed_docs(spark, mon, rng, n, batches=4):
    rows = gen_docs(rng, n)
    per = max(1, len(rows) // batches)
    for b in range(batches):
        chunk = (rows[b * per:(b + 1) * per] if b < batches - 1
                 else rows[(batches - 1) * per:])
        if chunk:
            mon.process_batch(spark, spark.createDataFrame(chunk, _DOC_SCHEMA),
                              epoch_id=b)


def _feed_vecs(spark, mon, rng, n, batches=4, id_base=0):
    rows = [(i + id_base, v) for i, v in gen_vecs(rng, n)]
    per = max(1, len(rows) // batches)
    for b in range(batches):
        chunk = (rows[b * per:(b + 1) * per] if b < batches - 1
                 else rows[(batches - 1) * per:])
        if chunk:
            mon.process_batch(spark, spark.createDataFrame(chunk, _VEC_SCHEMA),
                              epoch_id=b)


def _compacted(spark, mon, wm_us) -> dict:
    mon.compact(spark, wm_us)
    rows, nbytes = state_stats(spark, mon.state_dir)
    return {"post_compact_rows": rows, "post_compact_bytes": nbytes}


def _expired(spark, mon, horizon) -> dict:
    mon.expire_before(spark, horizon)
    rows, nbytes = state_stats(spark, mon.state_dir)
    return {"post_expire_rows": rows, "post_expire_bytes": nbytes}


def _expired_cohort(spark, mon, horizon, wm_us) -> dict:
    mon.expire_before(spark, horizon, wm_us)
    rows, nbytes = state_stats(spark, mon.state_dir)
    return {"post_expire_rows": rows, "post_expire_bytes": nbytes}


def write_md(records: list[dict], path: str) -> None:
    by = {}
    for r in records:
        by.setdefault(r["monitor"], []).append(r)
    lines = [
        "# Streaming-state scaling (generated by "
        "`tools/stream_state_probe.py --md STREAMSTATE.md`)",
        "",
        "Synthetic shape: events over a 500-user / 30-day pool "
        "(view/click/purchase), docs with 30% planted dups, clustered "
        "64-dim vectors; two volumes 4x apart, 4 micro-batches each.  "
        "`state growth` is rows(4x) / rows(1x): 4.0 would be linear in "
        "ingest; the bound column says why it is not.  Post-compact / "
        "post-expire columns measure the production caps "
        "(watermark = day 30, horizon = day 23).",
        "",
        "| monitor | volume | state rows | state KB | volume x4 | "
        "state rows | state KB | growth | post-cap rows (x4 vol) | bound |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    bounds = {
        "volume_anomaly": "<= #types x #days (90 cells) at ANY volume",
        "funnel": "dominance-pruned; compact(W) <= 1 row/user/stage "
                  "(<= 1500)",
        "engagement": "distinct (user, day) <= 500 x 30; expire caps at "
                      "horizon window",
        "approx_engagement": "ONE HLL row per day — <= #days at ANY "
                             "user volume; expire caps at horizon",
        "cohort": "distinct (user, week) <= 500 x 5; expire keeps "
                  "cohort row/user + horizon",
        "tfidf": "df vocabulary + meta — grows with VOCAB (bounded "
                 "word pool), not docs",
        "corpus_dedup": "band index over ACCEPTED docs — novelty-"
                        "linear, dup-flat",
        "embedding_dedup": "sketch index over ACCEPTED vectors — "
                           "novelty-linear",
        "topk": "<= #queries x k rows, corpus-independent",
    }
    for name, rs in by.items():
        rs = sorted(rs, key=lambda r: r["volume"])
        lo, hi = rs[0], rs[-1]
        growth = (round(hi["state_rows"] / lo["state_rows"], 2)
                  if lo["state_rows"] else float("inf"))
        post = hi.get("post_compact_rows", hi.get("post_expire_rows", ""))
        lines.append(
            f"| {name} | {lo['volume']} | {lo['state_rows']} | "
            f"{lo['state_bytes'] // 1024} | {hi['volume']} | "
            f"{hi['state_rows']} | {hi['state_bytes'] // 1024} | "
            f"{growth} | {post} | {bounds[name]} |")
    lines += [
        "",
        "Every growth factor must sit well below 4.0 (the linear line); "
        "volume_anomaly and topk must be FLAT (bound-saturated); the "
        "funnel/engagement/cohort post-cap columns are the bounds "
        "tests/test_stream_state_bounds.py asserts.",
        "",
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    from debezium_nats_cdc_spark.session import get_session

    spark = get_session("stream-state-probe")
    spark.sparkContext.setLogLevel("ERROR")
    records = probe(spark)
    if "--md" in sys.argv[1:]:
        path = sys.argv[sys.argv.index("--md") + 1]
        write_md(records, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            path))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
