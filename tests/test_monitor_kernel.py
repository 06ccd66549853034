"""The shared swap-state kernel contract, for every monitor built on it.

``SwapStateMonitor`` memoizes the meta row under its single-writer
contract, so the epoch guard costs no Spark job per micro-batch: none
on a root with no state yet, and none after the first fold.  An ad-hoc
fold (no epoch id) must keep ``last_epoch``, on disk as well as in the
memo, or a later replay of an already-folded epoch would pass the
guard.  Jobs are counted through the statusTracker job group
(``tools/opt_probe.count_jobs``), which repeats exactly run to run.
"""

from __future__ import annotations

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
