"""Streaming funnel monitor (SURVEY §2.D2 — the live twin of the batch
``events_funnel_conversion``; VERDICT r9 #6).

The reference's "materialized views for real-time aggregations"
(`docs/system-design.md:130-134`) is exactly this shape: a behavioral
aggregate kept current as events land, instead of recomputed from the
full history per question.  The batch operator scores one static event
table; this monitor folds each micro-batch into per-user funnel state
and re-scores it with the exact same kernel
(``operators.funnel.funnel_summary``), so the conversion counts are
correct within one micro-batch of any event landing — including events
that arrive OUT OF ORDER across batches.

Why the state is what it is — the exactness argument:

A strict-order funnel is NOT a mergeable aggregate: a late ``view`` at
t can unlock a ``click`` that an earlier batch discarded (the click was
<= the then-known first view).  Keeping only the per-user stage
timestamps would therefore drift from the batch recompute.  The minimal
EXACT state is a dominance-pruned projection of (user_id, event_type,
ts), one distinct row per surviving event:

  * stage 1 (``view``): only MIN(ts) per user is kept — a first-stage
    gate can only move DOWN as new views arrive, and the min of
    (kept-min, new events) is the true min because everything dropped
    was >= the kept min;
  * stage k > 1 (``click``/``purchase``): rows with ts <= the CURRENT
    stage-k gate t_k are kept.  Future gates only decrease
    (t_{k-1}' <= t_{k-1} qualifies a superset, so t_k' <= t_k), so a
    dropped row (ts > t_k >= t_k') can never become a stage minimum,
    and every future minimum (<= t_k' <= t_k) is still in the kept set.
    Users with no qualifying gate yet keep all rows of that stage —
    any future upstream event may unlock them.

With in-order-ish arrival the surviving state is ~#stages rows per
user; adversarially (timestamps arriving descending) it degrades
gracefully toward the full distinct projection, which is the
information-theoretic floor for an exact out-of-order funnel with no
lateness bound.  A production deployment adds the bound:
:meth:`FunnelMonitor.compact` takes the stream's watermark and
finalizes frozen stages, collapsing each affected user to at most one
row per stage (the gate timestamps) — exactness under the no-late-
arrivals contract is argued in the method docstring and pytest-pinned.

State is ONE swap-written parquet table: event rows (ts as exact long
microseconds) plus a single ``event_type IS NULL`` meta row carrying
``last_epoch`` — the same atomic state+meta layout as the TF-IDF and
volume-anomaly monitors, for the same exactly-once reason: a replayed
micro-batch compares against ``last_epoch`` and no-ops (the distinct
merge is additionally idempotent, so even an ad-hoc double-fold cannot
corrupt counts), and there is no window where the rows reflect an epoch
the meta does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.funnel import _FUNNEL_STAGES, funnel_summary
from ._monitor_base import SwapStateMonitor
from .state_backend import StateBackend

_STATE_SCHEMA = ("user_id bigint, event_type string, ts_us bigint, "
                 "last_epoch bigint")


class FunnelMonitor(SwapStateMonitor):
    """foreachBatch-driven incremental funnel state scored by the shared
    batch kernel.  ``ts_col`` is the event-time column, ``user_col`` the
    funnel subject, ``type_col`` the stage discriminator; rows with NULL
    user or NULL event-time are dropped — both exactly as the batch
    operator's base filter.  State plumbing (exactly-once fold, meta
    row, epoch guard, start wiring) is the shared
    :class:`SwapStateMonitor` kernel; this monitor's ``_post_merge``
    adds the dominance pruning."""

    _STATE_SUBDIR = "funnel_state"
    _QUERY_NAME = "funnel-monitor"
    _STATE_SCHEMA = _STATE_SCHEMA
    _VALUE_COLS = ("user_id", "event_type", "ts_us")
    _META_COL = "event_type"

    def __init__(self, root: str, backend: StateBackend | None = None,
                 ts_col: str = "ts", user_col: str = "user_id",
                 type_col: str = "event_type",
                 stages: list[str] | None = None):
        super().__init__(root, backend, ts_col, user_col)
        self.type_col = type_col
        self.stages = stages or _FUNNEL_STAGES

    def scored(self, spark: SparkSession) -> DataFrame:
        """The funnel summary of everything ingested so far — the
        columns and values of ``events_funnel_conversion`` run over the
        full ingested history (state pruning is exactness-preserving,
        see module docstring)."""
        return funnel_summary(
            self.state_rows(spark).select(
                "user_id", "event_type", F.col("ts_us").alias("ts")),
            stages=self.stages)

    # -- writes --------------------------------------------------------
    def _batch_rows(self, events: DataFrame) -> DataFrame:
        return (
            events
            .filter(F.col(self.user_col).isNotNull()
                    & F.col(self.ts_col).isNotNull()
                    & F.col(self.type_col).isin(self.stages))
            .select(
                F.col(self.user_col).cast("bigint").alias("user_id"),
                F.col(self.type_col).alias("event_type"),
                F.unix_micros(F.col(self.ts_col).cast("timestamp"))
                 .alias("ts_us"),
            )
        )

    def _gated(self, rows: DataFrame) -> DataFrame:
        """(user_id, _evs, _g1.._gk) in ONE user_id shuffle: the per-user
        rows collected into an array and the chained stage gates computed
        as higher-order expressions over it (g1 = MIN stage-1 ts; g_k =
        MIN stage-k ts strictly after g_{k-1}; a NULL previous gate
        yields NULL — the same semantics as the join-chain this replaced,
        which paid k aggregates + k joins per fold).  Safe to collect:
        the input is the dominance-pruned STATE plus one micro-batch, so
        the per-user array is bounded by the state's own bound (~rows
        per stage, collapsing to <=1 per frozen stage after compact)
        plus the user's share of a single micro-batch — never the
        corpus.

        OPERATIONAL CONTRACT (ADVICE r12): that bound is only a bound
        when periodic ``compact(watermark)`` runs (or the upstream
        source enforces a lateness bound).  Under the module's own
        adversarial case — stage-k timestamps arriving in strictly
        DESCENDING order with compact never called — dominance pruning
        retires nothing, per-user state grows with history, and this
        kernel concentrates each hot user's whole surviving event set
        in ONE aggregation-buffer row (the join-chain it replaced
        spilled the same data through shuffles instead).  A deployment
        that can neither run compact nor bound lateness should not run
        this monitor as-is: reintroduce the pre-r12 join-chain pruning
        (commit 2ae57f9's parent has it) for shuffle-spillable state,
        at ~6 extra exchanges per fold."""

        def _stage_min(evs, name, gate_col):
            def pred(e):
                c = e["event_type"] == name
                if gate_col is not None:
                    c = c & (e["ts_us"] > gate_col)
                return c
            return F.array_min(
                F.transform(F.filter(evs, pred), lambda e: e["ts_us"]))

        # collect_SET, not collect_list: the per-user set IS the distinct
        # projection, so the fold's separate union.distinct() exchange is
        # unnecessary (_MERGE_DISTINCT = False below) — dedup rides the
        # user_id exchange this aggregation already pays.  Downstream is
        # order-independent (array_min over filtered transforms), so
        # set vs list ordering cannot change any gate.
        out = rows.groupBy("user_id").agg(
            F.collect_set(F.struct("event_type", "ts_us")).alias("_evs"))
        prev = None
        for i, name in enumerate(self.stages, start=1):
            out = out.withColumn(
                f"_g{i}", _stage_min(F.col("_evs"), name, prev))
            prev = F.col(f"_g{i}")
        return out

    def _explode_kept(self, gated: DataFrame, keep) -> DataFrame:
        """Back from the grouped frame to (user_id, event_type, ts_us)
        value rows: keep(e) filters each user's array in place."""
        return (
            gated.select(
                "user_id",
                F.explode(F.filter(F.col("_evs"), keep)).alias("_e"))
            .select("user_id", F.col("_e.event_type").alias("event_type"),
                    F.col("_e.ts_us").alias("ts_us"))
        )

    def _prune(self, rows: DataFrame) -> DataFrame:
        """Dominance-prune the merged projection (exactness argument in
        the module docstring) — one user_id shuffle, no joins."""
        def keep(e):
            k = F.lit(False)
            for i, name in enumerate(self.stages, start=1):
                g = F.col(f"_g{i}")
                k = k | ((e["event_type"] == name)
                         & (g.isNull() | (e["ts_us"] <= g)))
            return k
        return self._explode_kept(self._gated(rows), keep)

    # dominance pruning rides the shared fold between merge and write;
    # its collect_set already collapses duplicates, so the base fold's
    # union.distinct() exchange is skipped (one shuffle per fold, not two)
    _post_merge = _prune
    _MERGE_DISTINCT = False

    def compact(self, spark: SparkSession, watermark_us: int) -> None:
        """Watermark finalization — the production state bound the
        module docstring promises.  Contract: no event with
        ts < ``watermark_us`` will ever arrive again (the caller's
        lateness bound; Structured Streaming's watermark gives exactly
        this).  Under it, gates freeze bottom-up and frozen stages
        collapse to at most ONE row per user:

          * stage 1's gate only moves down via events EARLIER than the
            current minimum; future events are >= W, so once g1 <= W it
            is frozen — and stage-2 rows <= g1 can then NEVER qualify
            (they need ts > g1 and g1 no longer moves): drop them.
            Rows strictly inside (g1, g2) do not exist (g2 is the
            minimum qualifier), so the stage collapses to the g2 row.
          * the same argument chains: once g_{k-1} <= W, stage k keeps
            only its gate row.
          * stage k > 1 rows with ts <= W whose previous gate is NOT
            frozen can also never qualify (ADVICE r10): every FUTURE
            value of the previous gate is >= W — it either stays at its
            current value (> W in the not-frozen branch) or moves down
            only via new events, which the contract bounds at >= W; a
            NULL previous gate can only materialize at >= W for the
            same reason.  Qualification is strict (ts > gate), so a
            ts <= W row can never become a stage minimum: drop it.
            Without this, never-converting users (stage-k rows, no
            upstream gate) would leak state past the watermark forever.

        Scored output over the compacted state equals the batch
        recompute over everything ingested, for every future ingest
        respecting the contract (pytest-pinned).  A fully-converted
        user whose funnel completed before W holds exactly
        len(stages) rows afterwards."""
        w = F.lit(int(watermark_us))

        def keep(e):
            k = F.lit(False)
            for i, name in enumerate(self.stages, start=1):
                g = F.col(f"_g{i}")
                # prev gate frozen (<= W)?  Stage 1's virtual prev gate
                # is always frozen.
                frozen_prev = (F.lit(True) if i == 1
                               else (F.col(f"_g{i - 1}").isNotNull()
                                     & (F.col(f"_g{i - 1}") <= w)))
                # not-frozen branch: dominance rule, PLUS (stage > 1)
                # the watermark drop — a ts <= W row can never beat a
                # future previous gate that is itself >= W (strict >),
                # so it can never become a stage minimum; without this,
                # never-converting users would hold stage-k rows
                # forever.
                dominated = g.isNull() | (e["ts_us"] <= g)
                if i > 1:
                    dominated = dominated & (e["ts_us"] > w)
                stage_keep = F.when(
                    frozen_prev,
                    g.isNotNull() & (e["ts_us"] == g),   # gate row only
                ).otherwise(dominated)
                k = k | ((e["event_type"] == name) & stage_keep)
            return k

        self._swap_state(
            spark,
            self._explode_kept(self._gated(self.state_rows(spark)), keep))
