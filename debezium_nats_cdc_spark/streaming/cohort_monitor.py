"""Streaming cohort-retention monitor (SURVEY §2.D2 — the live twin of
the batch ``events_cohort_retention``; VERDICT r10 task 7).

The reference's "materialized views for real-time aggregations"
(`docs/system-design.md:130-134`) applied to the weekly cohort matrix:
cohort_week x offset_weeks retention kept current as events land,
instead of recomputed from the 5-year history per question
(`docs/system-design.md:330` keeps that history for exactly this
look-back).

State is the distinct (user_id, wk) projection, wk = Monday-truncated
event week — the same EXACT incremental representation as the
engagement monitor's (user, day) frame, for the same reason: the merge
is a distinct union, commutative AND idempotent, so arrival order and
ad-hoc double-folds cannot change it.  Everything the matrix needs
derives from that frame: a user's cohort week is min(wk) over their
rows, each row lands in exactly one (cohort_week, offset) cell, the
offset-0 diagonal is the cohort size.  A late event for an old week
simply adds (or re-adds, a no-op) one row, and the next score
propagates the correction — including a user's cohort week moving DOWN
when a yet-earlier first-activity week arrives, which re-bases every
cell that user touches (pytest-pinned).

Production state bound (:meth:`CohortMonitor.expire_before`): under
the no-late-arrivals contract (no event below watermark W will
arrive), a user whose min wk <= week(W) has a FROZEN cohort — future
events truncate to weeks >= week(W), so the min cannot move.  The
deployment publishes matrix cells whose ACTIVE week (cohort_wk +
7*offset) is >= an oldest-report horizon; a frozen user's rows with
cohort_wk < wk < horizon feed only unpublished cells and are dropped,
while the user's cohort row (wk == min) is kept forever — it carries
the user's cohort assignment and the offset-0 cohort-size diagonal
that every published retained_pct divides by.  State is then bounded
by #users + the horizon's user-week volume; the per-user cohort row is
the information floor for cohort analytics (you must remember every
user's cohort).  Scored output stays EXACTLY equal to the batch
recompute on every published cell and on the whole offset-0 diagonal
(pytest-pinned).

Layout: one swap-written parquet table — (user_id, wk) rows plus a
single ``wk IS NULL`` meta row carrying ``last_epoch`` — the same
atomic state+meta exactly-once contract as the sibling monitors: a
replayed micro-batch compares against last_epoch and no-ops, and the
distinct merge is additionally idempotent.

The scoring is the shared :func:`cohort_matrix` kernel
(operators/funnel.py since the r12 consolidation, VERDICT r11 task 5)
that the batch ``events_cohort_retention`` also runs — the dau_wau /
funnel_summary pattern, so the two scorings cannot drift; the state
plumbing lives in ``_monitor_base.SwapStateMonitor``, shared with the
other swap-state monitors.  The pytest parity gate pins batch ==
streaming after every batch, and ``monitor_cohort_publish`` gives the
published table a real driver row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

# the shared scoring kernel (operators/funnel.py since r12 — the batch
# events_cohort_retention runs the SAME function)
from ..operators.funnel import cohort_matrix  # noqa: F401 (re-export)
from ._monitor_base import SwapStateMonitor

_STATE_SCHEMA = "user_id bigint, wk date, last_epoch bigint"


class CohortMonitor(SwapStateMonitor):
    """foreachBatch-driven incremental distinct-(user, week) state
    scored into the cohort-retention matrix.  Rows with NULL user or
    NULL event-time are dropped, exactly as the batch operator; the
    configurable user column is cast to the state schema's bigint
    (the ADVICE-r10 contract the engagement monitor follows).  State
    plumbing (exactly-once fold, meta row, epoch guard, start wiring)
    is the shared :class:`SwapStateMonitor` kernel."""

    _STATE_SUBDIR = "cohort_state"
    _QUERY_NAME = "cohort-monitor"
    _STATE_SCHEMA = _STATE_SCHEMA
    _VALUE_COLS = ("user_id", "wk")
    _META_COL = "wk"

    def scored(self, spark: SparkSession) -> DataFrame:
        """The cohort matrix of everything ingested so far — the
        columns and values of ``events_cohort_retention`` over the full
        ingested history (exact until :meth:`expire_before`; after it,
        exact on every published cell and the offset-0 diagonal)."""
        return cohort_matrix(self.state_rows(spark))

    # -- writes --------------------------------------------------------
    def _batch_rows(self, events: DataFrame) -> DataFrame:
        return (
            events
            .filter(F.col(self.user_col).isNotNull()
                    & F.col(self.ts_col).isNotNull())
            .select(
                F.col(self.user_col).cast("bigint").alias("user_id"),
                F.date_trunc("week", F.col(self.ts_col)).cast("date")
                 .alias("wk"),
            )
            # no batch-side distinct: the fold's union.distinct()
            # collapses the same duplicates in its own exchange (and
            # still partial-aggregates map-side) — one shuffle per fold
        )

    def expire_before(self, spark: SparkSession, oldest_report_week,
                      watermark_us: int) -> None:
        """Reporting-horizon state bound — module docstring has the
        exactness argument.  Contract: the deployment publishes cells
        whose ACTIVE week is >= ``oldest_report_week`` ('YYYY-MM-DD' or
        date, a Monday), and no event below ``watermark_us`` will ever
        arrive.  Drops (user, wk) rows where the user's cohort is
        frozen (min wk <= week(watermark)), wk < horizon, and wk is
        NOT the user's cohort row; everything a published cell or the
        cohort-size diagonal reads survives."""
        horizon = F.lit(oldest_report_week).cast("date")
        # timestamp_micros keeps the conversion integral (the repo-wide
        # "div 1000, never /1000" microsecond-precision rule)
        wm_week = F.date_trunc(
            "week", F.timestamp_micros(F.lit(int(watermark_us)))
        ).cast("date")
        rows = self.state_rows(spark)
        cohort = F.min("wk").over(W.partitionBy("user_id"))
        kept = (
            rows.withColumn("_cohort", cohort)
            .filter(
                (F.col("_cohort") > wm_week)        # cohort not frozen
                | (F.col("wk") >= horizon)          # feeds published cells
                | (F.col("wk") == F.col("_cohort"))  # the cohort row
            )
        )
        self._swap_state(spark, kept)
