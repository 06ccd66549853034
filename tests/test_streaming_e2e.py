"""Golden end-to-end streaming test (SURVEY.md §5 test plan item b + d).

Feeds the reference's 7-statement workload (FIXTURES §3) through the
checkpointed Structured Streaming pipeline and asserts:
  - the golden event counts (scripts/test-cdc.sh:148-151)
  - materialized final state == seed (EMP999 net-deleted)
  - duplicate delivery within the 120 s window collapses to exactly-once
    (config/nats/stream.json:14; docs/system-design.md:548-552)
"""

from __future__ import annotations

import json
import os

import pytest

from debezium_nats_cdc_spark.sources import fixtures
from debezium_nats_cdc_spark.streaming.pipeline import read_state, run_pipeline_until_done


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cdc-e2e"))
    log_dir = os.path.join(root, "log")
    events = fixtures.snapshot_events() + fixtures.duplicate_delivery(
        fixtures.golden_workload(), dup_indexes=[1]  # re-deliver update #2
    )
    fixtures.write_event_log(events, log_dir, events_per_file=5)
    dirs = run_pipeline_until_done(
        spark, log_dir, root,
        tables=["employees", "salary_changes", "leave_requests"],
    )
    return dirs


def test_event_store_counts(spark, pipeline_out):
    ev = spark.read.parquet(pipeline_out.events)
    counts = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    # golden rule firings: Hired, DataUpdated (exactly once despite the
    # duplicate delivery), SalaryAdjusted, LeaveRequested
    assert counts["EmployeeHired"] == 1
    assert counts["EmployeeDataUpdated"] == 1
    assert counts["SalaryAdjusted"] == 1
    assert counts["LeaveRequested"] == 1
    assert "EmployeePromoted" not in counts


def test_event_store_layout(spark, pipeline_out):
    """Month partitioning (docs/design.md:182) is physically present."""
    assert os.path.isdir(os.path.join(pipeline_out.events, "event_month=202601"))
    ev = spark.read.parquet(pipeline_out.events)
    assert {f for f in ("event_id", "event_type", "event_timestamp",
                        "aggregate_id", "payload", "metadata")} <= set(ev.columns)


def test_materialized_state_is_seed(spark, pipeline_out):
    emp = read_state(spark, pipeline_out, "employees")
    nums = sorted(r["employee_number"] for r in emp.collect())
    assert nums == ["EMP001", "EMP002", "EMP003"]
    assert read_state(spark, pipeline_out, "salary_changes").count() == 0
    assert read_state(spark, pipeline_out, "leave_requests").count() == 0
    # deleted keys remain as versioned tombstones in the physical table
    # (resurrection guard); they are invisible in the read view
    raw = spark.read.parquet(os.path.join(pipeline_out.state, "salary_changes"))
    assert raw.filter(raw._deleted).count() == 1


def test_audit_trail_written(spark, pipeline_out):
    audit = spark.read.parquet(pipeline_out.audit)
    sal = audit.filter(
        (audit.entity_type == "employees") & (audit.field == "salary")
        & (audit.operation == "UPDATE")
    ).collect()
    assert len(sal) == 1 and float(sal[0]["new_value"]) == 95000.0


def test_checkpoint_restart_is_idempotent(spark, pipeline_out, tmp_path):
    """Restarting the query over the same log and the same tables adds
    nothing (offsets committed; F5 exactly-once contract)."""
    before = spark.read.parquet(pipeline_out.events).count()
    log_dir = os.path.join(os.path.dirname(pipeline_out.events), "log")
    run_pipeline_until_done(
        spark, log_dir, os.path.dirname(pipeline_out.events),
        tables=["employees", "salary_changes", "leave_requests"],
    )
    after = spark.read.parquet(pipeline_out.events).count()
    assert after == before


def test_thousand_updates_exactly_once(spark, tmp_path):
    """The reference's exactness scenario (docs/system-design.md:548-552):
    1,000 salary updates + 50 duplicated deliveries => exactly 1,000
    domain events downstream."""
    root = str(tmp_path)
    log_dir = os.path.join(root, "log")
    evs = fixtures.duplicate_delivery(
        fixtures.salary_updates(1000), dup_indexes=list(range(0, 100, 2))
    )
    fixtures.write_event_log(evs, log_dir, events_per_file=200)
    dirs = run_pipeline_until_done(spark, log_dir, root, tables=["employees"])
    ev = spark.read.parquet(dirs.events)
    assert ev.count() == 1000
    assert ev.select("event_id").distinct().count() == 1000


def test_concurrent_tables_match_sequential(spark, tmp_path):
    """The one query over three tables writes, row for row, what three
    one-table queries on separate roots write between them: the event
    store (every column but ``created_at``, the write-time stamp), the
    audit trail and each table's physical state, tombstones included."""
    from functools import reduce

    from debezium_nats_cdc_spark.streaming.pipeline import (
        PipelineDirs,
        start_table_pipeline,
    )

    tables = ["employees", "salary_changes", "leave_requests"]
    log_dir = str(tmp_path / "log")
    events = fixtures.snapshot_events() + fixtures.golden_workload()
    fixtures.write_event_log(events, log_dir, events_per_file=5)
    one = run_pipeline_until_done(spark, log_dir, str(tmp_path / "one"),
                                  tables=tables)
    apart = []
    for t in tables:
        dirs = PipelineDirs.under(str(tmp_path / "apart" / t))
        start_table_pipeline(spark, log_dir, t, dirs).awaitTermination()
        apart.append(dirs)

    def rows(df, drop=()):
        return sorted(map(str, df.drop(*drop).collect()))

    def union(paths):
        return reduce(lambda a, b: a.unionByName(b),
                      [spark.read.parquet(p) for p in paths])

    for sink, drop in (("events", ["created_at"]), ("audit", [])):
        want = rows(union([getattr(d, sink) for d in apart]), drop)
        assert want, sink
        assert rows(spark.read.parquet(getattr(one, sink)), drop) == want
    for t, dirs in zip(tables, apart):
        got, want = (spark.read.parquet(os.path.join(d.state, t))
                     for d in (one, dirs))
        assert rows(got) == rows(want), t
    emp = read_state(spark, one, "employees")
    assert emp.count() == 3  # EMP999 net-deleted, seed remains


def test_per_key_partitioning_same_results(spark, tmp_path):
    """H5: hash-partitioning micro-batches on the aggregate key (the
    cluster-scale ordering knob) must not change any sink's contents."""
    import os as _os

    from debezium_nats_cdc_spark.streaming.pipeline import (
        PipelineDirs,
        read_state,
        start_table_pipeline,
    )

    root = str(tmp_path)
    log_dir = _os.path.join(root, "log")
    events = fixtures.snapshot_events() + fixtures.golden_workload()
    fixtures.write_event_log(events, log_dir, events_per_file=5)
    dirs = PipelineDirs.under(root)
    q = start_table_pipeline(spark, log_dir, "employees", dirs,
                             per_key_partitions=4)
    q.awaitTermination()
    emp = read_state(spark, dirs, "employees")
    assert sorted(r["employee_number"] for r in emp.collect()) == [
        "EMP001", "EMP002", "EMP003"]
    ev = spark.read.parquet(dirs.events)
    assert ev.filter("event_type = 'EmployeeHired'").count() == 1


def test_contract_violation_routes_to_dlq_with_versioned_reason(
        spark, tmp_path):
    """A3/F4 registry wiring (VERDICT r4 task #7): a producer whose
    payload violates the latest registered contract — here an employee
    insert with NULL salary, a required field since v1, judged against a
    registered v2 — must land in dead_letter with a versioned reason
    and a schema_version stamp, and must NOT reach the event store."""
    from debezium_nats_cdc_spark.registry import FieldSpec, default_registry
    from debezium_nats_cdc_spark.streaming.pipeline import (
        run_pipeline_until_done,
    )

    root = str(tmp_path)
    log_dir = os.path.join(root, "log")
    emp = {
        "id": 9, "employee_number": "EMP900", "first_name": "No",
        "last_name": "Salary", "email": "no.salary@company.com",
        "position_id": "IC1", "department_id": 1, "manager_id": None,
        "salary": None, "hire_date": "2026-01-02", "status": "active",
    }
    fixtures.write_event_log(
        [fixtures.envelope("employees", "c", None, emp,
                           fixtures.BASE_TS_MS + 1000)],
        log_dir, events_per_file=5,
    )
    # the producer side upgraded the contract: v2 adds an OPTIONAL field
    # (the only FULL-compatible evolution); payloads are judged against
    # the LATEST version, so the reason must say v2
    reg = default_registry()
    v1 = reg.get("EmployeeHired")
    assert reg.register(
        "EmployeeHired",
        list(v1.fields) + [FieldSpec("probationMonths", "long")],
    ) == 2

    dirs = run_pipeline_until_done(
        spark, log_dir, root, tables=["employees"], registry=reg)

    dlq = spark.read.parquet(dirs.dead_letter).collect()
    assert len(dlq) == 1
    row = dlq[0]
    assert row["eventType"] == "EmployeeHired"
    assert row["invalid_reason"] == "schema:EmployeeHired:v2:salary"
    assert row["schema_version"] == 2
    # the contract violation never reached the event store
    assert not dirs.backend.has_data(dirs.events)


def test_registry_live_migration_mid_stream(spark, tmp_path):
    """A3/F4 live migration (VERDICT r5 task #8): the contract upgrades
    v1 -> v2 BETWEEN micro-batches of one logical stream (checkpoint
    resume — the streaming equivalent of a rolling registry deploy).
    Old-schema producers (no v2 optional field) must keep validating
    under v2 (FULL compatibility), while a producer that drops a
    required field lands in dead_letter with the v2 reason."""
    from debezium_nats_cdc_spark.registry import FieldSpec, default_registry
    from debezium_nats_cdc_spark.streaming.pipeline import (
        run_pipeline_until_done,
    )

    root = str(tmp_path)
    log_dir = os.path.join(root, "log")

    def emp(n, salary):
        return {
            "id": n, "employee_number": f"EMP9{n:02d}", "first_name": "Mig",
            "last_name": f"Ration{n}", "email": f"mig{n}@company.com",
            "position_id": "IC1", "department_id": 1, "manager_id": None,
            "salary": salary, "hire_date": "2026-01-02", "status": "active",
        }

    # phase 1: a valid v1-era hire, processed under the v1-only registry
    fixtures.write_event_log(
        [fixtures.envelope("employees", "c", None, emp(1, 50_000.0),
                           fixtures.BASE_TS_MS + 1000)],
        log_dir, events_per_file=5,
    )
    reg = default_registry()
    dirs = run_pipeline_until_done(spark, log_dir, root,
                                   tables=["employees"], registry=reg)
    assert spark.read.parquet(dirs.events).count() == 1
    assert not dirs.backend.has_data(dirs.dead_letter)

    # mid-stream upgrade: v2 adds an OPTIONAL field (the only
    # FULL-compatible evolution the registry permits)
    v1 = reg.get("EmployeeHired")
    assert reg.register(
        "EmployeeHired",
        list(v1.fields) + [FieldSpec("probationMonths", "long")],
    ) == 2

    # phase 2: NEW log files (the checkpoint has consumed chunk-00000):
    # an old-schema producer (no probationMonths) and a broken producer
    # (drops required salary)
    phase2 = [
        fixtures.envelope("employees", "c", None, emp(2, 60_000.0),
                          fixtures.BASE_TS_MS + 2000),
        fixtures.envelope("employees", "c", None, emp(3, None),
                          fixtures.BASE_TS_MS + 3000),
    ]
    with open(os.path.join(log_dir, "chunk-migration.json"), "w") as f:
        for ev in phase2:
            f.write(json.dumps(ev) + "\n")

    dirs = run_pipeline_until_done(spark, log_dir, root,
                                   tables=["employees"], registry=reg)

    ev = spark.read.parquet(dirs.events).filter(
        "event_type = 'EmployeeHired'")
    hired = sorted(
        r["aggregate_id"] for r in ev.select("aggregate_id").collect())
    # the old-schema producer (id 2) validated under v2; the phase-1
    # event (id 1) was not reprocessed on resume — exactly-once held
    assert hired == ["1", "2"]

    dlq = spark.read.parquet(dirs.dead_letter).collect()
    assert len(dlq) == 1
    assert dlq[0]["invalid_reason"] == "schema:EmployeeHired:v2:salary"
    assert dlq[0]["schema_version"] == 2
