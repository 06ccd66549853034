"""One streaming query for a whole table set (streaming/pipeline.py).

Pins the shape of a drain over the five shipped rule tables — one query,
each log line read once, one events / audit (/ DLQ) commit per epoch and
one state commit per table present, a bounded job count — and what the
shared query must keep from the per-table ones: a table's malformed
payload still goes to the DLQ alone, the union-schema parse narrows to
exactly each table's own parse, a type conflict in the union refuses to
start, and a restart over a different table set that shares a table
refuses instead of publishing that table twice.  It also pins the one
semantic change: one query has one watermark (OPERATIONS.md §2).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F, types as T
from pyspark.sql.streaming import StreamingQueryListener

from debezium_nats_cdc_spark import schemas
from debezium_nats_cdc_spark.operators.rules import (
    OPTIONAL_SOURCE_TABLES,
    RULES,
)
from debezium_nats_cdc_spark.operators.unwrap import unwrap
from debezium_nats_cdc_spark.sources import fixtures
from debezium_nats_cdc_spark.sources.cdc import read_change_log
from debezium_nats_cdc_spark.streaming import pipeline as P

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from opt_probe import count_jobs  # noqa: E402

SHIPPED = sorted(t for t in RULES if t not in OPTIONAL_SOURCE_TABLES)
# jobs of one epoch's foreachBatch body over the five-table golden log:
# the eager checkpoint (which also observes the row count and the tables
# present), the events write, the DLQ probe, one audit write and one
# state write per table present.  Measured 12 on 4 cores, repeating
# exactly; the five per-table bodies it replaces ran 35.
MAX_EPOCH_JOBS = 12


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.started, self.rows, self.terminated = 0, [], 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        self.rows.append(event.progress.numInputRows)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def _markers(dirs) -> list[str]:
    return sorted(f[:-len(".commit")] for f in os.listdir(dirs.txn)
                  if f.endswith(".commit"))


def _tables_of(events) -> set[str]:
    return {e["payload"]["source"]["table"] for e in events}


def test_five_table_drain_is_one_query_one_parse_one_commit_per_sink(
        spark, tmp_path):
    events = fixtures.snapshot_events() + fixtures.golden_workload()
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(events, log_dir, events_per_file=100)
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        dirs = P.run_pipeline_until_done(spark, log_dir, str(tmp_path / "out"))
        deadline = time.time() + 30
        while not listener.terminated and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    name = P.pipeline_name(SHIPPED)
    assert name == ("attendance_records+departments+employees+"
                    "leave_requests+salary_changes")
    assert listener.started == 1
    assert os.listdir(dirs.checkpoints) == [name]
    # the one data batch read each log line once (positions' snapshot
    # lines included: they are read, then filtered out)
    assert [n for n in listener.rows if n] == [len(events)]

    present = sorted(_tables_of(events) & set(SHIPPED))
    markers = _markers(dirs)
    assert [m for m in markers if m.startswith("events-")] == [
        f"events-{name}-0"]
    assert [m for m in markers if m.startswith("audit-")] == [
        f"audit-{name}-0"]
    assert len([m for m in markers if m.startswith("dlq-")]) <= 1
    assert [m for m in markers if m.startswith("state-")] == [
        f"state-{t}-0" for t in present]


def test_epoch_body_job_count_is_bounded(spark, tmp_path):
    """The foreachBatch body over the golden epoch of all five tables
    runs at most ``MAX_EPOCH_JOBS`` Spark jobs (sink threads inherit the
    caller's job group, so ``count_jobs`` sees every job)."""
    events = fixtures.snapshot_events() + fixtures.golden_workload()
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(events, log_dir, events_per_file=100)
    batch = unwrap(read_change_log(spark, log_dir, SHIPPED))
    # warm pass, so the counted pass runs the steady-state plans
    P.process_tables_batch(spark, batch, SHIPPED,
                           P.PipelineDirs.under(str(tmp_path / "warm")), 0)
    dirs = P.PipelineDirs.under(str(tmp_path / "out"))
    jobs, _, _ = count_jobs(
        spark, lambda: P.process_tables_batch(spark, batch, SHIPPED, dirs, 0),
        "one-query-epoch")
    assert 0 < jobs <= MAX_EPOCH_JOBS, jobs
    assert len(_markers(dirs)) == 2 + 4  # events, audit, four states


def test_malformed_payload_of_one_table_goes_to_dlq_others_commit(
        spark, tmp_path):
    """An employee insert whose salary is not a number parses with that
    field NULL, violates the EmployeeHired contract and lands in the
    DLQ, while the other tables' events and state commit in the SAME
    epoch."""
    g = fixtures.golden_workload()
    bad = json.loads(json.dumps(g[0]))
    bad["payload"]["after"]["salary"] = "not-a-number"
    events = [bad, g[2], g[3]]  # employees, salary_changes, leave_requests
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(events, log_dir)
    tables = ["employees", "leave_requests", "salary_changes"]
    dirs = P.run_pipeline_until_done(spark, log_dir, str(tmp_path / "out"),
                                     tables=tables)
    dlq = spark.read.parquet(dirs.dead_letter).collect()
    assert [r["eventType"] for r in dlq] == ["EmployeeHired"]
    assert dlq[0]["invalid_reason"].endswith(":salary")
    got = sorted(r["event_type"] for r in
                 spark.read.parquet(dirs.events).select("event_type").collect())
    assert got == ["LeaveRequested", "SalaryAdjusted"]
    for t in ("leave_requests", "salary_changes"):
        assert P.read_state(spark, dirs, t).count() == 1
    name = P.pipeline_name(tables)
    assert _markers(dirs) == sorted(
        [f"events-{name}-0", f"dlq-{name}-0", f"audit-{name}-0"]
        + [f"state-{t}-0" for t in tables])


def _dirty_events() -> list[dict]:
    """Rows a producer can get wrong: a field of ANOTHER table with a bad
    type, a bad value in the table's own field, unknown extra fields,
    missing fields and NULL images."""
    t = fixtures.BASE_TS_MS + 300_000
    e1 = fixtures.SEED_EMPLOYEES[0]
    return [
        # bonuses.amount / stock_grants.shares are not employee fields
        fixtures.envelope("employees", "u", e1,
                          {**e1, "amount": "lots", "shares": "many"}, t + 1),
        fixtures.envelope("employees", "u", e1,
                          {**e1, "hire_date": "yesterday"}, t + 2),
        fixtures.envelope("departments", "c", None,
                          {"id": 9, "name": "Ops", "unknown": [1, 2]}, t + 3),
        fixtures.envelope("salary_changes", "c", None,
                          {"id": 7, "employee_id": "four"}, t + 4),
        fixtures.envelope("attendance_records", "d", None, None, t + 5),
        fixtures.envelope("stock_grants", "c", None,
                          {"id": 3, "shares": 10.5, "salary": "x"}, t + 6),
    ]


def test_narrowed_images_equal_each_tables_own_parse(spark, tmp_path):
    """For every RULES table, the union-schema parse narrowed to the
    table equals a parse with the table's own ENVELOPE_SCHEMAS entry,
    row for row and type for type."""
    events = (fixtures.snapshot_events() + fixtures.golden_workload()
              + fixtures.compensation_events()
              + fixtures.negative_and_positive_rule_cases() + _dirty_events())
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(events, log_dir, events_per_file=7)
    tables = sorted(RULES)
    union = unwrap(read_change_log(spark, log_dir, tables)).cache()
    assert union.schema["after"].dataType == schemas.union_row_schema(tables)
    assert set(_tables_of(events)) - {"positions"} == set(tables)
    cols = ["change_key", "before", "after"]
    for t in tables:
        own = unwrap(read_change_log(spark, log_dir, t))
        assert own.schema["after"].dataType == schemas.TABLE_SCHEMAS[t]
        narrowed = P._table_rows(union, t, only=False)
        for c in ("before", "after"):
            assert narrowed.schema[c].dataType == own.schema[c].dataType, t
        want = sorted(map(str, own.select(cols).collect()))
        assert want, t
        assert sorted(map(str, narrowed.select(cols).collect())) == want, t
    union.unpersist()


def test_union_type_conflict_refuses_to_start(spark, tmp_path, monkeypatch):
    """An evolved schema that gives a shared field name a second type
    cannot share one parse: the query raises at start, naming it."""
    monkeypatch.setitem(
        schemas.TABLE_SCHEMAS, "departments",
        T.StructType(schemas.TABLE_SCHEMAS["departments"].fields
                     + [T.StructField("salary", T.StringType())]))
    dirs = P.PipelineDirs.under(str(tmp_path))
    with pytest.raises(ValueError, match="'salary'"):
        P.start_pipeline(spark, str(tmp_path / "log"),
                         ["departments", "employees"], dirs)
    assert not [q for q in spark.streams.active
                if q.name == "cdc-departments+employees"]


def test_restart_over_overlapping_table_set_refuses(spark, tmp_path):
    """A root whose established checkpoint consumes a table refuses a
    query over a different set holding that table: both would publish
    its rows.  Nothing is appended and no marker is cleared."""
    events = fixtures.snapshot_events() + fixtures.golden_workload()
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(events, log_dir, events_per_file=5)
    root = str(tmp_path / "out")
    dirs = P.run_pipeline_until_done(spark, log_dir, root,
                                     tables=["employees", "salary_changes"])
    n_events = spark.read.parquet(dirs.events).count()
    markers = _markers(dirs)
    with pytest.raises(ValueError) as err:
        P.run_pipeline_until_done(spark, log_dir, root, tables=["employees"])
    assert os.path.join(dirs.checkpoints, "employees+salary_changes") in str(
        err.value)
    assert spark.read.parquet(dirs.events).count() == n_events
    assert _markers(dirs) == markers
    assert os.listdir(dirs.checkpoints) == ["employees+salary_changes"]


def test_one_watermark_drops_a_late_change_of_another_table(spark, tmp_path):
    """One query has one watermark.  Two micro-batches carry salary
    changes at t + 10 min; a third carries an employee insert at t + 1 s,
    more than 120 s behind the query's newest event time, so it is
    dropped as late.  (Spark filters late rows against the watermark of
    the batch before, so the insert must come two batches after the
    salary change.)  A query of its own table keeps it."""
    t = fixtures.BASE_TS_MS
    g = fixtures.golden_workload()
    late_insert = g[0]                      # employees, t + 1 s
    changes = []
    for i in (1, 2):                        # salary_changes, t + 10 min
        sc = json.loads(json.dumps(g[2]))
        sc["payload"]["after"]["id"] = i
        sc["payload"]["ts_ms"] = sc["payload"]["source"]["ts_ms"] = (
            t + 600_000 + i)
        changes.append(sc)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    for i, ev in enumerate(changes + [late_insert]):
        with open(os.path.join(log_dir, f"chunk-{i:05d}.json"), "w") as f:
            f.write(json.dumps(ev) + "\n")

    dirs = P.PipelineDirs.under(str(tmp_path / "one"))
    q = P.start_pipeline(spark, log_dir, ["employees", "salary_changes"],
                         dirs, max_files_per_trigger=1)
    q.awaitTermination()
    late = sum(o.numRowsDroppedByWatermark
               for p in q.recentProgress for o in p.stateOperators)
    assert late == 1
    got = [r["event_type"] for r in
           spark.read.parquet(dirs.events).select("event_type").collect()]
    assert got == ["SalaryAdjusted", "SalaryAdjusted"]
    assert not dirs.backend.has_data(os.path.join(dirs.state, "employees"))

    # the employees-only query has its own watermark and keeps the insert
    own = P.PipelineDirs.under(str(tmp_path / "own"))
    q = P.start_table_pipeline(spark, log_dir, "employees", own,
                               max_files_per_trigger=1)
    q.awaitTermination()
    assert spark.read.parquet(own.events).filter(
        F.col("event_type") == "EmployeeHired").count() == 1
