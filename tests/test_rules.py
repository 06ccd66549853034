"""Rule unit tests (SURVEY.md §5.2 spec'd unit tests): each transformer
against hand-built before/after envelopes, incl. the boundary semantics
from reference docs/system-design.md:213-227 and docs/design.md:299-305.
"""

from __future__ import annotations

import json

from debezium_nats_cdc_spark.operators.rules import apply_rules
from debezium_nats_cdc_spark.operators.unwrap import unwrap
from debezium_nats_cdc_spark.sources import fixtures

from conftest import load_envelopes


def fired_types(spark, events, table):
    df = apply_rules(unwrap(load_envelopes(spark, events, table)), table)
    return sorted(r["eventType"] for r in df.select("eventType").collect())


def test_golden_workload_rule_firings(spark):
    """FIXTURES §3 golden: #1 Hired, #2 DataUpdated (NOT promotion),
    #3 SalaryAdjusted, #4 LeaveRequested; deletes fire nothing."""
    evs = fixtures.golden_workload()
    emp = [e for e in evs if e["payload"]["source"]["table"] == "employees"]
    sal = [e for e in evs if e["payload"]["source"]["table"] == "salary_changes"]
    lea = [e for e in evs if e["payload"]["source"]["table"] == "leave_requests"]

    assert fired_types(spark, emp, "employees") == ["EmployeeDataUpdated", "EmployeeHired"]
    assert fired_types(spark, sal, "salary_changes") == ["SalaryAdjusted"]
    assert fired_types(spark, lea, "leave_requests") == ["LeaveRequested"]


def test_promotion_boundaries(spark):
    """(a) position change + salary DECREASE => not promoted;
    (b) IC3->IC5 + 120k->180k => promoted (canonical positive);
    (c) active->terminated => terminated; (d) dept change => transferred."""
    cases = fixtures.negative_and_positive_rule_cases()
    assert fired_types(spark, [cases[0]], "employees") == ["EmployeeDataUpdated"]
    assert fired_types(spark, [cases[1]], "employees") == ["EmployeePromoted"]
    assert fired_types(spark, [cases[2]], "employees") == ["EmployeeTerminated"]
    assert fired_types(spark, [cases[3]], "employees") == ["EmployeeTransferred"]


def test_promotion_payload_and_enrichment(spark):
    """Promotion payload carries prev/new position + salary delta; the
    broadcast enrichment attaches titles (docs/design.md:653-706)."""
    from debezium_nats_cdc_spark.operators.enrich import enrich_promotion

    case = fixtures.negative_and_positive_rule_cases()[1]
    events = apply_rules(unwrap(load_envelopes(spark, [case], "employees")), "employees")
    promoted = events.filter(events.eventType == "EmployeePromoted")

    positions = spark.createDataFrame(
        [(p["id"], p["title"]) for p in fixtures.SEED_POSITIONS], "id string, title string"
    )
    row = enrich_promotion(promoted, positions).collect()[0]
    payload = json.loads(row["payload"])
    assert payload["previousPositionId"] == "IC3"
    assert payload["newPositionId"] == "IC5"
    assert payload["salaryIncrease"] == 60000.0
    assert row["previousTitle"] == "Senior Engineer"
    assert row["newTitle"] == "Principal Engineer"


def test_transfer_requires_position_unchanged(spark):
    """dept change + position change => NOT a transfer
    (docs/system-design.md:222-227 boundary)."""
    e1 = fixtures.SEED_EMPLOYEES[0]
    ev = fixtures.envelope(
        "employees", "u", e1,
        {**e1, "department_id": 3, "position_id": "IC5", "salary": 180000.0},
        fixtures.BASE_TS_MS,
    )
    types = fired_types(spark, [ev], "employees")
    assert "EmployeeTransferred" not in types
    assert types == ["EmployeePromoted"]  # position+salary up wins


def test_null_safe_position_change(spark):
    """NULL -> 'IC1' must count as a position change (nullable FK,
    sql/init-db.sql:13)."""
    e1 = {**fixtures.SEED_EMPLOYEES[0], "position_id": None}
    ev = fixtures.envelope(
        "employees", "u", e1, {**e1, "position_id": "IC1", "salary": 130000.0},
        fixtures.BASE_TS_MS,
    )
    assert fired_types(spark, [ev], "employees") == ["EmployeePromoted"]


def test_deterministic_event_ids(spark):
    """Same source event => same eventId (idempotency under redelivery,
    docs/system-design.md:381-388)."""
    evs = fixtures.golden_workload()[:1]
    df1 = apply_rules(unwrap(load_envelopes(spark, evs, "employees")), "employees")
    df2 = apply_rules(unwrap(load_envelopes(spark, evs, "employees")), "employees")
    assert df1.select("eventId").collect() == df2.select("eventId").collect()


def test_leave_approved(spark):
    lr = {
        "id": 1, "employee_id": 4, "leave_type": "vacation",
        "start_date": "2026-01-08", "end_date": "2026-01-15",
        "status": "pending", "approved_by": None, "reason": "x",
    }
    ev = fixtures.envelope(
        "leave_requests", "u", lr, {**lr, "status": "approved", "approved_by": 1},
        fixtures.BASE_TS_MS,
    )
    assert fired_types(spark, [ev], "leave_requests") == ["LeaveApproved"]


def test_bonus_and_stock_rules_fire_on_insert_only(spark):
    """Source-optional compensation rules (docs/design.md:268-269): the
    INSERT fires, the UPDATE doesn't, and payloads carry the spec'd
    fields."""
    evs = fixtures.compensation_events()
    bon = [e for e in evs if e["payload"]["source"]["table"] == "bonuses"]
    stk = [e for e in evs if e["payload"]["source"]["table"] == "stock_grants"]

    assert fired_types(spark, bon, "bonuses") == ["BonusAwarded"]
    assert fired_types(spark, stk, "stock_grants") == ["StockGranted"]

    out = apply_rules(unwrap(load_envelopes(spark, bon, "bonuses")),
                      "bonuses").collect()[0]
    payload = json.loads(out["payload"])
    assert payload["amount"] == 15000.0
    assert payload["bonusType"] == "performance"
    assert out["eventCategory"] == "compensation" and out["aggregateId"] == "1"

    out = apply_rules(unwrap(load_envelopes(spark, stk, "stock_grants")),
                      "stock_grants").collect()[0]
    payload = json.loads(out["payload"])
    assert payload["shares"] == 4000 and payload["vestingMonths"] == 48


def test_optional_tables_skipped_by_default_pipeline(spark, tmp_path):
    """No bonuses/stock_grants source exists by default: the default
    table list excludes them (no checkpoint dirs created), but an
    explicit run over a log that carries their envelopes publishes the
    compensation events end-to-end."""
    import os

    from debezium_nats_cdc_spark.operators.rules import (
        OPTIONAL_SOURCE_TABLES, RULES,
    )
    from debezium_nats_cdc_spark.streaming.pipeline import (
        run_pipeline_until_done,
    )

    assert OPTIONAL_SOURCE_TABLES <= set(RULES)

    root = str(tmp_path)
    log_dir = os.path.join(root, "log")
    fixtures.write_event_log(
        fixtures.golden_workload() + fixtures.compensation_events(), log_dir,
        events_per_file=5,
    )
    dirs = run_pipeline_until_done(spark, log_dir, root)  # default tables
    # one checkpoint per query, named by its tables joined with "+"
    started = {t for name in os.listdir(dirs.checkpoints)
               for t in name.split("+")}
    assert started and started.isdisjoint(OPTIONAL_SOURCE_TABLES)

    # the payroll-extended deployment opts in explicitly
    root2 = str(tmp_path / "ext")
    dirs2 = run_pipeline_until_done(
        spark, log_dir, root2, tables=["bonuses", "stock_grants"])
    ev = spark.read.parquet(dirs2.events)
    got = {r["event_type"] for r in ev.select("event_type").collect()}
    assert got == {"BonusAwarded", "StockGranted"}
