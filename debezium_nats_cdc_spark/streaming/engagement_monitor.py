"""Streaming engagement monitor (SURVEY §2.D2/H8 — the live twin of the
batch ``events_dau_wau``).

The reference's "materialized views for real-time aggregations"
(`docs/system-design.md:130-134`) applied to the engagement read: DAU /
trailing-week WAU / stickiness kept current as events land, scored by
the exact same kernel (``operators.engagement.dau_wau``) the batch
catalog query runs — the shared-kernel, test-pinned-parity pattern of
the TF-IDF, volume-anomaly and funnel monitors.

State is the distinct (user_id, event_day) projection — the EXACT
incremental representation for distinct-user counts: the per-batch
merge is a distinct union, which is commutative AND idempotent, so any
arrival order and any ad-hoc double-fold produce the same state.  Late
events for an old day simply add (or re-add, a no-op) that day's
(user, day) row, and the next score propagates the correction through
every trailing window the day participates in.  Per-batch cost: the
batch collapses to its own (user, day) rows (one small shuffle), then
one distinct against state.  The state is bounded by Σ_day DAU(day) —
the information floor for exact counts; a production deployment bounds
the horizon with :meth:`EngagementMonitor.expire_before` — days older
than the published reporting window minus the trailing-window width can
no longer affect any published aggregate and are dropped — or moves to
the per-day HLL sketch state of the sibling
``approx_engagement_monitor`` (state <= #days at any user volume)
where approximate WAU is acceptable.  The handoff point is MEASURED
(SCALING.md r14) and guarded live: :meth:`EngagementMonitor.
maybe_handoff` polls the state size from parquet footers after every
fold and warns on ``alerts`` when it crosses the configured
threshold (VERDICT r14 task 3).

Layout: one swap-written parquet table — (user_id, event_day) rows plus
a single ``event_day IS NULL`` meta row carrying ``last_epoch`` — the
same atomic state+meta exactly-once contract as the sibling monitors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.engagement import _WINDOW_DAYS as _WINDOW_DAYS_STATE
from ..operators.engagement import dau_wau
from ._monitor_base import SwapStateMonitor

_STATE_SCHEMA = "user_id bigint, event_day date, last_epoch bigint"


class EngagementMonitor(SwapStateMonitor):
    """foreachBatch-driven incremental distinct-(user, day) state scored
    by the shared DAU/WAU kernel.  Rows with NULL user or NULL
    event-time are dropped, exactly as the batch operator.  State
    plumbing (exactly-once fold, meta row, epoch guard, start wiring)
    is the shared :class:`SwapStateMonitor` kernel."""

    _STATE_SUBDIR = "engagement_state"
    _QUERY_NAME = "engagement-monitor"
    _STATE_SCHEMA = _STATE_SCHEMA
    _VALUE_COLS = ("user_id", "event_day")
    _META_COL = "event_day"

    #: Default state-size handoff threshold, in (user, day) rows.
    #: OPERATIONS.md §9's cutover rule is "exact while the day frame
    #: fits comfortably in one shuffle (<= low-billions of user-day
    #: rows)"; the measured basis (SCALING.md, r14 engagement-tier
    #: note) is that at 100x users the exact
    #: tier's per-fold state-keyed shuffle cost 5.68x its sf0.1
    #: wall-clock while the HLL sketch tier's stayed near-flat at
    #: 1.48x — the regime change this guard warns ahead of.  1e9 sits
    #: a decade inside the prose rule's ceiling, so the warning fires
    #: while the exact tier is still healthy enough to drain and swap.
    HANDOFF_STATE_ROWS = 1_000_000_000

    #: constructor sentinel: "use the class default" — distinct from
    #: None, which DISABLES the per-fold poll (code-review r15)
    _DEFAULT_HANDOFF = object()

    def __init__(self, root, backend=None, ts_col: str = "ts",
                 user_col: str = "user_id",
                 handoff_state_rows=_DEFAULT_HANDOFF):
        super().__init__(root, backend=backend, ts_col=ts_col,
                         user_col=user_col)
        self.handoff_state_rows = (
            self.HANDOFF_STATE_ROWS
            if handoff_state_rows is self._DEFAULT_HANDOFF
            else handoff_state_rows)
        #: The monitor's alert/report channel (the HealthState.alerts
        #: shape): each fired handoff warning is appended here, and the
        #: latest poll report is kept in ``last_handoff``.
        self.alerts: list[str] = []
        self.last_handoff: dict | None = None
        # edge state for the CONFIGURED-threshold alert (see
        # maybe_handoff) — deliberately not derived from last_handoff
        self._handoff_was_above = False

    def scored(self, spark: SparkSession) -> DataFrame:
        """DAU/WAU/stickiness of everything ingested so far — the
        columns and values of ``events_dau_wau`` over the full ingested
        history."""
        return dau_wau(self.state_rows(spark))

    # -- writes --------------------------------------------------------
    def _batch_rows(self, events: DataFrame) -> DataFrame:
        # cast the configurable user column to the state schema's bigint
        # explicitly (ADVICE r10), mirroring FunnelMonitor._batch_rows —
        # unionByName against the parquet state schema must not depend
        # on the source column's type.  user_days' projection is inlined
        # WITHOUT its distinct: the fold's own union.distinct() collapses
        # the same duplicates (and still partial-aggregates map-side), so
        # a batch-side distinct was a redundant exchange per fold.
        return (
            events
            .filter(F.col(self.user_col).isNotNull()
                    & F.col(self.ts_col).isNotNull())
            .select(F.col(self.user_col).cast("bigint").alias("user_id"),
                    F.to_date(self.ts_col).alias("event_day"))
        )

    def maybe_handoff(self, spark: SparkSession,
                      max_state_rows: int | None = None) -> dict:
        """State-size guard (VERDICT r14 task 3): warn when the exact
        tier's distinct-(user, day) state crosses the configured
        threshold — the measured regime change where the per-fold
        state-keyed shuffle stops scaling (5.68x at 100x users vs the
        sketch tier's 1.48x; SCALING.md r14) — so the deployment swaps
        to ``approx_engagement_monitor`` (state <= #days) or bounds
        the horizon with :meth:`expire_before` BEFORE folds degrade.

        The poll is storage-metadata only (parquet footers via the
        backend — no Spark job, the ``maybe_compact`` cheapness
        discipline), so it runs after every fold for free.  The
        warning lands on ``self.alerts`` — the monitor's report
        channel, same shape as ``HealthState.alerts``, edge-triggered
        (one alert per below→above crossing of the CONFIGURED
        threshold; an ad-hoc poll with an explicit ``max_state_rows``
        is report-only and neither alerts nor re-arms the edge) — and
        the full report in ``last_handoff`` every poll;
        skip-never-raise, like the maintenance pollers.  Construct
        with ``handoff_state_rows=None`` to disable the per-fold
        poll."""
        configured = max_state_rows is None
        threshold = (self.handoff_state_rows if configured
                     else max_state_rows)
        try:
            self.backend.recover(self.state_dir)
            # footer total includes the single meta row
            n = max(0, self.backend.data_rows(self.state_dir) - 1)
        except Exception as e:  # noqa: BLE001 — poll must not kill folds
            # NB: a skipped poll leaves the edge state untouched — a
            # transient FS error must not re-arm the alert and grow
            # the channel on the next fold (code-review r15 #2)
            report = {"state_rows": None, "threshold": threshold,
                      "handoff_advised": False, "skipped": str(e)}
            self.last_handoff = report
            return report
        report = {"state_rows": n, "threshold": threshold,
                  "handoff_advised": threshold is not None
                  and n > threshold}
        if report["handoff_advised"]:
            report["warning"] = (
                f"engagement state holds {n} (user, day) rows > "
                f"threshold {threshold}: the exact tier's per-fold "
                "state-keyed shuffle measured 5.68x wall at 100x users "
                "vs 1.48x for the HLL sketch tier (SCALING.md r14) — "
                "swap to streaming/approx_engagement_monitor (state <= "
                "#days) or bound the horizon with expire_before "
                "(OPERATIONS.md §9)")
        if configured:
            # edge-triggered: one alert per BELOW->ABOVE crossing, not
            # one per fold — a stream living above the threshold must
            # not grow the channel without bound or bury other signals.
            # The edge state is a DEDICATED flag scoped to the
            # configured threshold, updated only by definite verdicts
            # of configured polls: deriving it from last_handoff let
            # ad-hoc explicit-threshold polls (or a skipped poll)
            # swallow a real crossing or re-arm a duplicate
            # (code-review r15 #2); the standing advice stays readable
            # in last_handoff["warning"] every poll either way
            if report["handoff_advised"] and not self._handoff_was_above:
                self.alerts.append(report["warning"])
            self._handoff_was_above = report["handoff_advised"]
        self.last_handoff = report
        return report

    def _swap_state(self, spark: SparkSession, rows: DataFrame,
                    **meta) -> None:
        # every state mutation (fold, expiry, compaction) lands here,
        # so polling after the super write keeps the guard current
        # batch-by-batch at footer-read cost
        super()._swap_state(spark, rows, **meta)
        if self.handoff_state_rows is not None:
            self.maybe_handoff(spark)

    def expire_before(self, spark: SparkSession, oldest_report_day) -> None:
        """Reporting-horizon state bound — the production cap the module
        docstring promises.  Contract: the deployment only publishes
        days >= ``oldest_report_day`` ('YYYY-MM-DD' or date).  A
        (user, day) row with day < horizon − (window − 1) cannot
        participate in ANY published trailing window, so it is dropped;
        ``scored()`` stays exactly equal to the batch recompute on every
        published day (pytest-pinned).  State becomes bounded by the
        horizon's user-day volume instead of all history."""
        cutoff = F.date_sub(F.lit(oldest_report_day).cast("date"),
                            _WINDOW_DAYS_STATE - 1)
        self._swap_state(
            spark,
            self.state_rows(spark).filter(F.col("event_day") >= cutoff))
