"""The shared swap-state kernel contract, for every monitor built on it.

``SwapStateMonitor`` memoizes the meta row under its single-writer
contract, so the epoch guard costs no Spark job per micro-batch: none
on a root with no state yet, and none after the first fold.  An ad-hoc
fold (no epoch id) must keep ``last_epoch``, on disk as well as in the
memo, or a later replay of an already-folded epoch would pass the
guard.  Jobs are counted through the statusTracker job group
(``tools/opt_probe.count_jobs``), which repeats exactly run to run.

A warm fold reads the state with its schema given (no schema-inference
job) and unions a meta row built on the driver as a ``LocalRelation``
(``io.local_frame``), so no Python worker runs in the fold's plan.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import numpy as np
import pytest

from debezium_nats_cdc_spark.streaming.anomaly_monitor import (
    VolumeAnomalyMonitor,
)
from debezium_nats_cdc_spark.streaming.approx_engagement_monitor import (
    ApproxEngagementMonitor,
)
from debezium_nats_cdc_spark.streaming.cohort_monitor import CohortMonitor
from debezium_nats_cdc_spark.streaming.engagement_monitor import (
    EngagementMonitor,
)
from debezium_nats_cdc_spark.streaming.funnel_monitor import FunnelMonitor
from debezium_nats_cdc_spark.streaming.state_backend import LocalFSBackend
from debezium_nats_cdc_spark.streaming.tfidf_monitor import TfidfMonitor

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from opt_probe import count_jobs  # noqa: E402
from stream_state_probe import (  # noqa: E402
    _DOC_SCHEMA, _EVENTS_SCHEMA, gen_docs, gen_events,
)

MONITORS = {
    "funnel": FunnelMonitor,
    "engagement": EngagementMonitor,
    "cohort": CohortMonitor,
    "anomaly": VolumeAnomalyMonitor,
    "approx": ApproxEngagementMonitor,
    "tfidf": TfidfMonitor,
}


# jobs of a warm cohort fold (state on disk, memoized meta): the
# emptiness probe, the merge's shuffle map stage, the state write and
# its result stage.  Measured 4 on 4 cores, repeating exactly; 5 while
# each state read ran a parquet schema-inference job.
WARM_FOLD_JOBS = 4


def _batches(spark, name):
    rng = np.random.RandomState(5)
    if name == "tfidf":
        rows, schema = gen_docs(rng, 40), _DOC_SCHEMA
    else:
        rows, schema = gen_events(rng, 200), _EVENTS_SCHEMA
    return [spark.createDataFrame(rows[i::2], schema) for i in range(2)]


@pytest.mark.parametrize("name", list(MONITORS))
def test_guard_reads_run_no_job_and_adhoc_fold_keeps_epoch(
        spark, tmp_path, name):
    cls = MONITORS[name]
    root = str(tmp_path / name)
    mon = cls(root)
    first, second = _batches(spark, name)

    def jobs(fn, step):
        return count_jobs(spark, fn, f"kernel-{name}-{step}-{id(mon)}")[0]

    assert jobs(lambda: mon.last_epoch(spark), "fresh") == 0
    assert mon.last_epoch(spark) == -1

    mon.process_batch(spark, first, epoch_id=0)
    assert jobs(lambda: mon.last_epoch(spark), "folded") == 0
    assert mon.last_epoch(spark) == 0
    if name == "tfidf":
        assert jobs(lambda: mon.meta(spark), "meta") == 0
        assert mon.meta(spark) == (first.count(), 0)

    mon.process_batch(spark, second)  # ad-hoc: no epoch id
    assert mon.last_epoch(spark) == 0
    # the persisted meta row agrees with the memo (a cold instance
    # reads it from the state file)
    assert cls(root).last_epoch(spark) == 0


class _RecordingBackend(LocalFSBackend):
    """Keeps the frame of the last ``swap_write``."""

    def swap_write(self, df, table_dir):
        self.written = df
        super().swap_write(df, table_dir)


def test_warm_fold_job_count_and_meta_row_is_local(spark, tmp_path):
    backend = _RecordingBackend()
    mon = CohortMonitor(str(tmp_path / "cohort"), backend=backend)
    first, second = _batches(spark, "cohort")
    mon.process_batch(spark, first, epoch_id=0)
    jobs, _, _ = count_jobs(
        spark, lambda: mon.process_batch(spark, second, epoch_id=1),
        f"kernel-warm-fold-{id(mon)}")
    assert jobs == WARM_FOLD_JOBS
    plan = backend.written._jdf.queryExecution().executedPlan().toString()
    # the meta row is the only branch carrying last_epoch; the batch's
    # lazy checkpoint is an RDD scan of the event columns
    assert re.search(r"LocalTableScan \[user_id#\d+L, wk#\d+, "
                     r"last_epoch#\d+L\]", plan), plan
    assert not [s for s in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)
                if "last_epoch" in s], plan
    assert mon.last_epoch(spark) == 1
