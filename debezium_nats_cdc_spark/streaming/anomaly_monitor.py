"""Streaming volume-anomaly monitor (SURVEY §2.H8 + §2.D4 — the live
twin of the batch ``events_anomaly_zscore``).

The reference's monitoring story pages on ingest-volume anomalies: its
capacity plan is sized from the daily event-volume series
(`docs/system-design.md:334-339`) and its processing layer exposes
health/lag metrics (`docs/design.md:588-596`).  The batch operator
scores one static event table; this monitor maintains the per
(event_type, event_day) counts INCREMENTALLY — one merge per
micro-batch — and re-scores them with the exact same kernel
(``operators.analytics.zscore_daily``), so an ingest drop or spike
raises the alarm within one micro-batch of landing.

Two-tier cost model, and why the re-score is NOT a rescan:
  * the merge is one hash shuffle keyed on (type, day) over the BATCH's
    days only — per-batch cost independent of how much was ever
    ingested;
  * scoring runs on the accumulated daily-count frame, which is bounded
    at #types × #days rows at ANY corpus size (the 100 TB day still has
    86,400 seconds) — so "recompute the z-scores" is a window over a
    few thousand rows, not a pass over raw events.  Late events for an
    old day simply bump that day's count, and the next re-score
    propagates the correction through every trailing window that day
    participates in — exactly what the batch operator would produce,
    by construction (shared kernel, test-pinned parity).

State is ONE swap-written parquet table: daily-count rows plus a single
``event_day IS NULL`` meta row carrying ``last_epoch`` — the shared
``_monitor_base.SwapStateMonitor`` layout and exactly-once fold: a
replayed micro-batch compares against ``last_epoch`` and no-ops, and
there is no window where the counts reflect an epoch the meta does
not.  The merge is a count SUM, not the kernel's distinct — a distinct
would collapse two equal count rows and lose events — so an ad-hoc
(epoch-less) re-fold of the same events counts them twice; only the
epoch guard makes replays no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.analytics import zscore_daily
from ._monitor_base import SwapStateMonitor
from .state_backend import StateBackend

_STATE_SCHEMA = ("event_type string, event_day string, n_events bigint, "
                 "last_epoch bigint")


class VolumeAnomalyMonitor(SwapStateMonitor):
    """foreachBatch-driven incremental daily-count state with z-score
    anomaly reporting over the accumulated series.  ``ts_col`` is the
    event-time column, ``type_col`` the stratum; rows with NULL
    event-time are dropped (no day to bucket), NULL type is kept as its
    own stratum — both exactly as the batch operator."""

    _STATE_SUBDIR = "volume_state"
    _QUERY_NAME = "volume-anomaly-monitor"
    _STATE_SCHEMA = _STATE_SCHEMA
    _VALUE_COLS = ("event_type", "event_day", "n_events")
    _META_COL = "event_day"
    # counts add: the union is summed per (type, day) in _post_merge
    _MERGE_DISTINCT = False

    def __init__(self, root: str, backend: StateBackend | None = None,
                 ts_col: str = "ts", type_col: str = "event_type"):
        super().__init__(root, backend, ts_col)
        self.type_col = type_col

    def daily_counts(self, spark: SparkSession) -> DataFrame:
        """Accumulated (event_type, event_day, n_events) over every
        ingested event."""
        return self.state_rows(spark)

    def scored(self, spark: SparkSession) -> DataFrame:
        """Every accumulated day scored with the SHARED z kernel — the
        columns and values of ``events_anomaly_zscore`` run over
        everything ingested so far."""
        return zscore_daily(self.daily_counts(spark))

    def alarms(self, spark: SparkSession) -> DataFrame:
        """Just the alarming rows (rounded |z| above threshold)."""
        return self.scored(spark).filter(F.col("is_anomaly"))

    # -- writes --------------------------------------------------------
    def _batch_rows(self, events: DataFrame) -> DataFrame:
        return (
            events
            .filter(F.col(self.ts_col).isNotNull())
            .groupBy(
                F.col(self.type_col).alias("event_type"),
                F.date_format(self.ts_col, "yyyy-MM-dd").alias("event_day"),
            )
            .agg(F.count("*").cast("bigint").alias("n_events"))
        )

    def _post_merge(self, merged: DataFrame) -> DataFrame:
        return (merged.groupBy("event_type", "event_day")
                .agg(F.sum("n_events").cast("bigint").alias("n_events")))
