"""Sketch-state streaming engagement monitor — the approximate tier of
``EngagementMonitor`` (SURVEY §2.D2/H8; the streaming half of VERDICT
r10 #5, promised in OPERATIONS.md §9).

The exact monitor's state is the distinct (user_id, event_day) frame —
the information floor for exact distinct counts, which is also its
cost: state grows with Σ_day DAU(day) (~1e11 rows at the 100 TB
target).  This monitor keeps ONE DataSketches-HLL sketch row per
observed day instead, so state is bounded by ``#days`` regardless of
user volume — the same collapse the batch ``events_dau_wau_approx``
query performs, held incrementally.

Why the merge stays exactly-once-safe at sketch resolution: an HLL
union is an elementwise register MAX, which is commutative,
associative AND idempotent — folding the same events (or the same
sketch) in twice is a no-op, the same algebraic contract the exact
monitors get from their distinct unions.  So arrival order, replays
past the epoch guard, and ad-hoc double-folds all leave state
identical, and a late event for an old day simply maxes into that
day's sketch and propagates through every trailing window the day
feeds.  What is GIVEN UP vs the exact tier is only resolution: scored
counts are ~1.6% rsd estimates (default lgConfigK), inside the 20%
envelope the catalog's approx queries pin 4-sigma deep.

Per-batch cost: the batch collapses map-side to its own per-day
sketches (`hll_sketch_agg`, partial merge — no distinct shuffle), then
a #days-sized union against state.  Scoring explodes the <= #days
SKETCH rows into the <= 7 trailing windows each covers and
`hll_union_agg`-merges per window day — events are never rescanned,
mirroring the batch approx query's estimation plan.

Layout: one swap-written parquet table — (event_day, sk) rows plus a
single ``event_day IS NULL`` meta row carrying ``last_epoch`` — the
shared ``_monitor_base.SwapStateMonitor`` state and exactly-once fold,
with ``hll_union_agg`` per day as the merge.  Reference parity: the
same materialized-view clause as the exact monitor
(`docs/system-design.md:130-134`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.engagement import _WINDOW_DAYS
from ._monitor_base import SwapStateMonitor

_STATE_SCHEMA = "event_day date, sk binary, last_epoch bigint"


class ApproxEngagementMonitor(SwapStateMonitor):
    """foreachBatch-driven per-day HLL sketch state scored into
    DAU/WAU/stickiness ESTIMATES.  Rows with NULL user or NULL
    event-time are dropped and the configurable user column is cast to
    bigint, exactly as the exact monitor (the ADVICE-r10 contract)."""

    _STATE_SUBDIR = "approx_engagement_state"
    _QUERY_NAME = "approx-engagement-monitor"
    _STATE_SCHEMA = _STATE_SCHEMA
    _VALUE_COLS = ("event_day", "sk")
    _META_COL = "event_day"
    # the per-day sketch union in _post_merge is the merge
    _MERGE_DISTINCT = False

    def scored(self, spark: SparkSession) -> DataFrame:
        """DAU/WAU/stickiness ESTIMATES per observed day — the batch
        approx query's estimation plan over the persisted sketches:
        explode each day's SKETCH row into the <= 7 trailing windows it
        feeds, union-merge per window day; events are never rescanned."""
        day_sk = self.state_rows(spark)
        days = day_sk.select("event_day")
        expanded = (
            day_sk.select(
                F.explode(F.sequence(F.lit(0), F.lit(_WINDOW_DAYS - 1)))
                 .alias("_k"),
                "event_day", "sk")
            .select(F.date_add("event_day", F.col("_k")).alias("event_day"),
                    "sk")
            .join(days, "event_day", "left_semi")
        )
        wau = (expanded.groupBy("event_day")
               .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                    .cast("bigint").alias("wau_est")))
        dau = day_sk.select(
            "event_day",
            F.hll_sketch_estimate("sk").cast("bigint").alias("dau_est"))
        return (
            dau.join(wau, "event_day")
            .select(
                F.date_format("event_day", "yyyy-MM-dd").alias("event_day"),
                "dau_est", "wau_est",
                F.round(F.col("dau_est").cast("double") / F.col("wau_est"), 4)
                 .cast("decimal(18,4)").cast("double")
                 .alias("stickiness_est"),
            )
        )

    # -- writes --------------------------------------------------------
    def _batch_rows(self, events: DataFrame) -> DataFrame:
        return (
            events
            .filter(F.col(self.user_col).isNotNull()
                    & F.col(self.ts_col).isNotNull())
            .groupBy(F.to_date(self.ts_col).alias("event_day"))
            .agg(F.hll_sketch_agg(
                F.col(self.user_col).cast("bigint")).alias("sk"))
        )

    def _post_merge(self, merged: DataFrame) -> DataFrame:
        return merged.groupBy("event_day").agg(
            F.hll_union_agg("sk").alias("sk"))

    def expire_before(self, spark: SparkSession, oldest_report_day) -> None:
        """Reporting-horizon cap, mirroring the exact monitor: a day
        sketch older than horizon − (window − 1) feeds no published
        trailing window and is dropped.  State is then <= the horizon's
        day count — rows, not user-days."""
        cutoff = F.date_sub(F.lit(oldest_report_day).cast("date"),
                            _WINDOW_DAYS - 1)
        self._swap_state(
            spark, self.state_rows(spark).filter(F.col("event_day") >= cutoff))
