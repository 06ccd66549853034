"""Monitor PUBLISHED tables under the driver's oracle discipline
(VERDICT r10 stretch #10, deliverable form for the ODD-phase round).

The three user-keyed monitors are pytest-verified by state==batch
equality, but their published outputs had never faced the cross-engine
gate the catalog queries live under.  The full driver row needs a
first-50 window slot the r11 ODD rotation cannot spare (COVERAGE.md —
the 47 mandatory ODD-half queries + 3 rule-A fillers fill it exactly),
so this test applies the SAME contract in-process instead: ingest the
driver's own sf0.001 events table through each monitor in three
deterministic micro-batches, then compare the monitor's published
table against the DUCKDB run of the corresponding batch query's
registered oracle SQL — canonicalized exactly as tools/check_strict.py
does (sorted columns, sorted raw-str rows, the worst-case driver
hash).  Registration of `monitor_*_publish` catalog queries lands with
the r12 EVEN window (COVERAGE.md r12 plan).

What this pins that the existing parity tests do not: the equality
target is the independent C-engine SQL on the raw parquet, not our own
batch kernel — a shared Spark-side bug in kernel + monitor (the
join_asof_last_click class) cannot cancel out here.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

SF_DIR = "/root/testdata/sf0.001"

from check_strict import TABLES, canon  # noqa: E402


def _oracle(name: str) -> pd.DataFrame:
    from debezium_nats_cdc_spark import catalog

    sql = catalog.entries()[name].oracle
    assert sql is not None
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        return con.sql(sql).df()
    finally:
        con.close()


def _ingest_events_in_batches(spark, mon, batches: int = 3):
    """The sf0.001 events table, split deterministically on event_id,
    folded into the monitor as micro-batches (epoch ids 0..n-1)."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    for b in range(batches):
        chunk = events.filter(F.pmod(F.col("event_id"), batches) == b)
        mon.process_batch(spark, chunk, epoch_id=b)


@pytest.mark.parametrize("which", ["funnel", "engagement", "cohort"])
def test_published_table_matches_duckdb_oracle(spark, tmp_path, which):
    if which == "funnel":
        from debezium_nats_cdc_spark.streaming.funnel_monitor import (
            FunnelMonitor,
        )

        mon = FunnelMonitor(str(tmp_path))
        oracle_query = "events_funnel_conversion"
    elif which == "engagement":
        from debezium_nats_cdc_spark.streaming.engagement_monitor import (
            EngagementMonitor,
        )

        mon = EngagementMonitor(str(tmp_path))
        oracle_query = "events_dau_wau"
    else:
        from debezium_nats_cdc_spark.streaming.cohort_monitor import (
            CohortMonitor,
        )

        mon = CohortMonitor(str(tmp_path))
        oracle_query = "events_cohort_retention"

    _ingest_events_in_batches(spark, mon)
    published = mon.scored(spark).toPandas()
    expected = _oracle(oracle_query)

    assert sorted(published.columns) == sorted(expected.columns), (
        f"{which}: published schema {sorted(published.columns)} != "
        f"oracle {sorted(expected.columns)}")
    got, want = canon(published), canon(expected)
    assert got == want, (
        f"{which}: published table diverges from the DuckDB oracle "
        f"({len(got)} vs {len(want)} rows; first deltas: "
        f"{[r for r in got if r not in want][:3]} vs "
        f"{[r for r in want if r not in got][:3]})")
