"""The StateBackend seam: LocalFSBackend's staging-dir swap and its
crash healing, the compaction/replay suite through the live pipeline,
and the chaos shapes run through a fault-injecting subclass — the
pipeline reaches storage only through this interface.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from debezium_nats_cdc_spark.sources import fixtures
from debezium_nats_cdc_spark.streaming import pipeline as pl
from debezium_nats_cdc_spark.streaming.pipeline import (
    PipelineDirs,
    process_batch,
    read_state,
    run_pipeline_until_done,
)
from debezium_nats_cdc_spark.streaming.state_backend import LocalFSBackend
from tests.conftest import load_envelopes


def _rows(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_swap_write_replaces_and_recover_is_noop_when_healthy(spark, tmp_root):
    b = LocalFSBackend()
    final = os.path.join(tmp_root, "state")
    b.swap_write(_rows(spark, 5), final)
    assert spark.read.parquet(final).count() == 5
    b.swap_write(_rows(spark, 6), final)
    assert spark.read.parquet(final).count() == 6
    b.recover(final)  # healthy table: no-op
    assert spark.read.parquet(final).count() == 6
    assert b.has_data(final) and b.data_file_count(final) > 0


def test_recover_heals_torn_swap(spark, tmp_root):
    """A crash between swap_write's two renames leaves no table path:
    the displaced generation sits at ``.old``, the new one at
    ``.staging``.  recover() promotes a COMPLETE staging generation
    (``_SUCCESS`` proves its write finished) and clears ``.old``;
    without one it restores ``.old``; and a ``.old`` left by a crash
    after the second rename does not fail the next swap."""
    import shutil

    b = LocalFSBackend()
    final = os.path.join(tmp_root, "state")
    staging, old = final + ".staging", final + ".old"
    b.swap_write(_rows(spark, 5), final)

    # crash window with the new generation fully written: newer wins
    _rows(spark, 7).write.parquet(staging)
    os.rename(final, old)
    b.recover(final)
    assert spark.read.parquet(final).count() == 7
    assert not os.path.exists(staging) and not os.path.exists(old)

    # crash window with a torn staging write: the old generation returns
    _rows(spark, 9).write.parquet(staging)
    os.remove(os.path.join(staging, "_SUCCESS"))
    os.rename(final, old)
    b.recover(final)
    assert spark.read.parquet(final).count() == 7
    assert not os.path.exists(old)

    # leftover .old (crash before the post-swap cleanup): swap succeeds
    shutil.copytree(final, old)
    b.swap_write(_rows(spark, 3), final)
    assert spark.read.parquet(final).count() == 3
    assert sorted(os.listdir(tmp_root)) == ["state"]


def test_swap_write_over_append_built_table(spark, tmp_root):
    """State tables are BORN as plain append dirs (epoch publishes);
    the first compaction swap must handle that starting shape."""
    b = LocalFSBackend()
    final = os.path.join(tmp_root, "state")
    b.append(_rows(spark, 4), final)
    b.append(_rows(spark, 4, start=100), final)
    assert spark.read.parquet(final).count() == 8
    b.swap_write(spark.read.parquet(final).filter("id < 100"), final)
    assert spark.read.parquet(final).count() == 4
    # appends keep working on the swapped table (next epoch's publish)
    b.append(_rows(spark, 3, start=200), final)
    assert spark.read.parquet(final).count() == 7


def test_repeated_swaps_do_not_leak_generations(spark, tmp_root):
    """Each swap supersedes the previous generation entirely; storage
    must stay bounded (no .old/.staging residue)."""
    b = LocalFSBackend()
    final = os.path.join(tmp_root, "state")
    for i in range(4):
        b.swap_write(_rows(spark, 3 + i), final)
    assert spark.read.parquet(final).count() == 6
    assert os.listdir(tmp_root) == ["state"]


def test_pipeline_replay_with_compaction(spark, tmp_root, monkeypatch):
    """Full foreachBatch body, epoch replay, and a forced compaction
    (threshold 1 => every state append triggers swap_write): sinks must
    stay byte-stable across the replay."""
    from debezium_nats_cdc_spark.operators.unwrap import unwrap

    monkeypatch.setattr(pl, "COMPACT_FILE_THRESHOLD", 1)
    dirs = PipelineDirs.under(tmp_root, backend=LocalFSBackend())
    batch = unwrap(load_envelopes(
        spark, fixtures.snapshot_events() + fixtures.golden_workload(),
        "employees",
    ))
    process_batch(spark, batch, "employees", dirs, epoch_id=0)
    state_dir = os.path.join(dirs.state, "employees")
    counts = {
        "events": spark.read.parquet(dirs.events).count(),
        "audit": spark.read.parquet(dirs.audit).count(),
        "state": read_state(spark, dirs, "employees").count(),
    }
    assert counts["state"] > 0
    # replay the same epoch (crash-after-partial-commit recovery path)
    process_batch(spark, batch, "employees", dirs, epoch_id=0)
    assert spark.read.parquet(dirs.events).count() == counts["events"]
    assert spark.read.parquet(dirs.audit).count() == counts["audit"]
    assert read_state(spark, dirs, "employees").count() == counts["state"]
    # a NEW epoch lands and compacts again through the same seam
    process_batch(spark, batch, "employees", dirs, epoch_id=1)
    assert read_state(spark, dirs, "employees").count() == counts["state"]


def test_e2e_golden_run_and_restart(spark, tmp_path, monkeypatch):
    """The golden streaming E2E (checkpointed run + idempotent restart)
    with compaction forced so swap_write executes in the live pipeline,
    not just in unit tests."""
    monkeypatch.setattr(pl, "COMPACT_FILE_THRESHOLD", 2)
    root = str(tmp_path)
    log_dir = os.path.join(root, "log")
    events = fixtures.snapshot_events() + fixtures.golden_workload()
    fixtures.write_event_log(events, log_dir, events_per_file=5)
    dirs = run_pipeline_until_done(spark, log_dir, root,
                                   tables=["employees"],
                                   backend=LocalFSBackend())
    emp = read_state(spark, dirs, "employees")
    assert sorted(r["employee_number"] for r in emp.collect()) == [
        "EMP001", "EMP002", "EMP003"]
    n1 = spark.read.parquet(dirs.events).count()
    # restart over the same log: committed offsets => nothing re-published
    run_pipeline_until_done(spark, log_dir, root, tables=["employees"],
                            backend=LocalFSBackend())
    assert spark.read.parquet(dirs.events).count() == n1
    assert sorted(r["employee_number"]
                  for r in read_state(spark, dirs, "employees").collect()) == [
        "EMP001", "EMP002", "EMP003"]


# ---------------------------------------------------------------------------
# Chaos shapes from the reference spec (docs/system-design.md:532-540,
# VERDICT r4 task #5): store unavailable mid-batch, partitioned/slow source.
# ---------------------------------------------------------------------------


def _flaky(failures: int, sink_prefix: str = "events-"):
    """Backend whose event-store publishes raise for the first N attempts
    — the 'columnar store down' chaos scenario.  Only the publish fails;
    the txn protocol must keep the failed epochs uncommitted so the
    retry republishes without loss or duplication."""

    class Flaky(LocalFSBackend):
        def __init__(self):
            super().__init__()
            self.remaining = failures

        def append_exactly_once(self, df, table_dir, token, txn_dir,
                                partition_by=None):
            if token.startswith(sink_prefix) and self.remaining > 0:
                self.remaining -= 1
                raise IOError("store unavailable (injected)")
            return super().append_exactly_once(df, table_dir, token,
                                               txn_dir, partition_by)

    return Flaky()


def test_store_down_mid_batch_recovers_without_loss_or_dupes(spark, tmp_root):
    """Event-store writes fail for two micro-batches, then the store
    comes back.  The query fails and restarts from its checkpoint; once
    recovered, every rule firing lands EXACTLY once — sibling sinks that
    committed before the failure are skipped on replay, failed epochs
    republish."""
    from pyspark.errors import StreamingQueryException

    from debezium_nats_cdc_spark.streaming.pipeline import (
        start_table_pipeline,
    )

    log_dir = os.path.join(tmp_root, "log")
    events = fixtures.snapshot_events() + fixtures.golden_workload()
    fixtures.write_event_log(events, log_dir, events_per_file=5)

    dirs = PipelineDirs.under(tmp_root, backend=_flaky(2))
    attempts = 0
    while True:
        attempts += 1
        q = start_table_pipeline(spark, log_dir, "employees", dirs,
                                 max_files_per_trigger=1)
        try:
            q.awaitTermination()
            break
        except StreamingQueryException:
            assert attempts < 6, "pipeline never recovered"
    assert attempts > 1  # the outage really fired

    ev = spark.read.parquet(dirs.events)
    counts = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"EmployeeHired": 1, "EmployeeDataUpdated": 1}
    emp = read_state(spark, dirs, "employees")
    assert sorted(r["employee_number"] for r in emp.collect()) == [
        "EMP001", "EMP002", "EMP003"]


def test_slow_partitioned_source_empty_and_late_batches(spark, tmp_root):
    """A partitioned/slow source delivers: a normal batch, a completely
    EMPTY batch (source stalled), an out-of-order batch (event-time
    behind data already seen, within the 120 s dedup watermark), and a
    redelivered duplicate.  Required: late data processed (no loss),
    duplicate collapsed, and empty batches publish NOTHING (no sink
    commits for them)."""
    import json as _json

    from debezium_nats_cdc_spark.streaming.pipeline import (
        start_table_pipeline,
    )

    log_dir = os.path.join(tmp_root, "log")
    os.makedirs(log_dir)
    t = fixtures.BASE_TS_MS
    emp_a = {
        "id": 21, "employee_number": "EMP021", "first_name": "Ada",
        "last_name": "A", "email": "a@company.com", "position_id": "IC2",
        "department_id": 1, "manager_id": None, "salary": 90000.0,
        "hire_date": "2026-01-01", "status": "active",
    }
    emp_b = {**emp_a, "id": 22, "employee_number": "EMP022",
             "email": "b@company.com"}
    emp_a_upd = {**emp_a, "email": "ada@company.com"}
    insert_a = fixtures.envelope("employees", "c", None, emp_a, t + 1000)
    batches = [
        # f0: normal batch; B's later timestamp moves max event time ahead
        [insert_a,
         fixtures.envelope("employees", "c", None, emp_b, t + 60000)],
        [],  # f1: source stalled — empty micro-batch
        # f2: LATE out-of-order update to A (event time behind B's)
        [fixtures.envelope("employees", "u", emp_a, emp_a_upd, t + 2000)],
        [insert_a],  # f3: broker redelivery of the original insert
    ]
    for i, evs in enumerate(batches):
        with open(os.path.join(log_dir, f"chunk-{i:05d}.json"), "w") as f:
            for ev in evs:
                f.write(_json.dumps(ev) + "\n")

    dirs = PipelineDirs.under(tmp_root, backend=LocalFSBackend())
    q = start_table_pipeline(spark, log_dir, "employees", dirs,
                             max_files_per_trigger=1)
    q.awaitTermination()

    ev = spark.read.parquet(dirs.events)
    counts = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    # late update processed, duplicate insert collapsed
    assert counts == {"EmployeeHired": 2, "EmployeeDataUpdated": 1}
    state = {r["employee_number"]: r["email"]
             for r in read_state(spark, dirs, "employees").collect()}
    assert state == {"EMP021": "ada@company.com", "EMP022": "b@company.com"}
    # exactly the two non-empty post-dedup batches committed to the
    # state sink: the stalled batch and the dup-only batch published 0
    committed = sum(
        dirs.backend.committed(f"state-employees-{e}", dirs.txn)
        for e in range(10)
    )
    assert committed == 2


def test_data_rows_skips_staging_and_counts_recursively(tmp_path):
    """code-review r15 pass 2: data_rows must count the TABLE
    (partition subdirs included) while pruning `_`/`.`-prefixed
    bookkeeping — Spark's `_temporary/` staging holds half-written
    footers a concurrent poll must not open."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "table"
    (root / "day=1").mkdir(parents=True)
    (root / "_temporary" / "0" / "task").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2, 3]}),
                   root / "part-0.parquet")
    pq.write_table(pa.table({"x": [4, 5]}),
                   root / "day=1" / "part-1.parquet")
    # a half-written footer in staging and a dot-file: both ignored
    (root / "_temporary" / "0" / "task" / "part-2.parquet").write_bytes(
        b"PAR1garbage-no-footer")
    (root / ".part-0.parquet.crc").write_bytes(b"x")
    b = LocalFSBackend()
    assert b.data_rows(str(root)) == 5
    assert b.data_rows(str(tmp_path / "missing")) == 0
