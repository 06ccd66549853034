"""Deterministic CDC fixtures (FIXTURES.md §1 seed + §3 golden workload).

Reproduces the reference's seed data (sql/init-db.sql:98-113) and the
7-statement test workload (scripts/test-cdc.sh:43-114) as Debezium-JSON
envelopes, with the golden expected outputs documented at
scripts/test-cdc.sh:148-151:
  employees: 1 c + 1 u + 1 d; salary_changes: 1 c + 1 d;
  leave_requests: 1 c + 1 d  (7 events total)
and rule firings: #1 EmployeeHired, #2 EmployeeDataUpdated (salary-only
update is NOT a promotion — docs/design.md:299-305), #3 SalaryAdjusted,
#4 LeaveRequested; final materialized state identical to seed.
"""

from __future__ import annotations

import json
import os
import zlib

# fixed clock for the workload (FIXTURES.md §3): CURDATE() = 2026-01-01
BASE_TS_MS = 1767225600000  # 2026-01-01T00:00:00Z
TOPIC_PREFIX = "HCM.CDC.HR"
DB = "hrdb"

# ------------------------------------------------------------- seed ----

SEED_DEPARTMENTS = [
    {"id": 1, "name": "Engineering", "parent_department_id": None, "manager_id": None},
    {"id": 2, "name": "Human Resources", "parent_department_id": None, "manager_id": None},
    {"id": 3, "name": "Sales", "parent_department_id": None, "manager_id": None},
]

SEED_POSITIONS = [
    {"id": "IC1", "title": "Junior Engineer", "level": "IC", "salary_min": 60000, "salary_max": 80000},
    {"id": "IC2", "title": "Engineer", "level": "IC", "salary_min": 80000, "salary_max": 110000},
    {"id": "IC3", "title": "Senior Engineer", "level": "IC", "salary_min": 110000, "salary_max": 150000},
    {"id": "IC4", "title": "Staff Engineer", "level": "IC", "salary_min": 150000, "salary_max": 200000},
    {"id": "IC5", "title": "Principal Engineer", "level": "IC", "salary_min": 200000, "salary_max": 280000},
]

SEED_EMPLOYEES = [
    {"id": 1, "employee_number": "EMP001", "first_name": "John", "last_name": "Doe",
     "email": "john.doe@company.com", "position_id": "IC3", "department_id": 1,
     "manager_id": None, "salary": 120000.0, "hire_date": "2023-01-15", "status": "active"},
    {"id": 2, "employee_number": "EMP002", "first_name": "Jane", "last_name": "Smith",
     "email": "jane.smith@company.com", "position_id": "IC2", "department_id": 1,
     "manager_id": None, "salary": 95000.0, "hire_date": "2023-03-20", "status": "active"},
    {"id": 3, "employee_number": "EMP003", "first_name": "Bob", "last_name": "Johnson",
     "email": "bob.johnson@company.com", "position_id": "IC4", "department_id": 1,
     "manager_id": None, "salary": 165000.0, "hire_date": "2022-06-01", "status": "active"},
]

# --------------------------------------------------------- envelopes ---


def envelope(table: str, op: str, before: dict | None, after: dict | None,
             ts_ms: int) -> dict:
    """One Debezium envelope (docs/cdc-guide.md:134-151 shape)."""
    return {
        "payload": {
            "before": before,
            "after": after,
            "source": {
                "version": "2.5.0",
                "connector": "mysql",
                "name": "hcm",
                "ts_ms": ts_ms,
                "db": DB,
                "table": table,
            },
            "op": op,
            "ts_ms": ts_ms,
        }
    }


def subject_for(table: str) -> str:
    return f"{TOPIC_PREFIX}.{DB}.{table}"


def snapshot_events(ts_ms: int = BASE_TS_MS - 1000) -> list[dict]:
    """Initial snapshot: every seed row as op='r' (SURVEY §2.A2)."""
    out = []
    for row in SEED_DEPARTMENTS:
        out.append(envelope("departments", "r", None, row, ts_ms))
    for row in SEED_POSITIONS:
        out.append(envelope("positions", "r", None, row, ts_ms))
    for row in SEED_EMPLOYEES:
        out.append(envelope("employees", "r", None, row, ts_ms))
    return out


def golden_workload() -> list[dict]:
    """The 7-event golden sequence (scripts/test-cdc.sh:43-114)."""
    emp = {
        "id": 4, "employee_number": "EMP999", "first_name": "Test",
        "last_name": "User", "email": "test.user@company.com",
        "position_id": "IC2", "department_id": 1, "manager_id": None,
        "salary": 90000.0, "hire_date": "2026-01-01", "status": "active",
    }
    emp_raised = {**emp, "salary": 95000.0}
    sc = {
        "id": 1, "employee_id": 4, "old_salary": 90000.0, "new_salary": 95000.0,
        "reason": "Performance review", "effective_date": "2026-01-01",
        "approved_by": None,
    }
    lr = {
        "id": 1, "employee_id": 4, "leave_type": "vacation",
        "start_date": "2026-01-08", "end_date": "2026-01-15",
        "status": "pending", "approved_by": None, "reason": "Summer vacation",
    }
    t = BASE_TS_MS
    return [
        envelope("employees", "c", None, emp, t + 1000),
        envelope("employees", "u", emp, emp_raised, t + 2000),
        envelope("salary_changes", "c", None, sc, t + 3000),
        envelope("leave_requests", "c", None, lr, t + 4000),
        envelope("leave_requests", "d", lr, None, t + 5000),
        envelope("salary_changes", "d", sc, None, t + 6000),
        envelope("employees", "d", emp_raised, None, t + 7000),
    ]


def compensation_events() -> list[dict]:
    """Envelopes for the SOURCE-OPTIONAL compensation tables
    (docs/design.md:268-269 — bonuses / stock_grants have rule shapes
    but no table in the reference's init-db.sql)."""
    t = BASE_TS_MS + 200_000
    bonus = {
        "id": 1, "employee_id": 1, "amount": 15000.0,
        "bonus_type": "performance", "award_date": "2026-01-15",
        "approved_by": 3,
    }
    grant = {
        "id": 1, "employee_id": 2, "shares": 4000,
        "grant_date": "2026-01-15", "vesting_months": 48,
        "cliff_months": 12,
    }
    return [
        envelope("bonuses", "c", None, bonus, t + 1000),
        # an UPDATE must NOT fire BonusAwarded (INSERT-triggered event)
        envelope("bonuses", "u", bonus, {**bonus, "amount": 16000.0}, t + 2000),
        envelope("stock_grants", "c", None, grant, t + 3000),
    ]


def negative_and_positive_rule_cases() -> list[dict]:
    """Boundary fixtures from docs/system-design.md:146-155, 213-227.

    (a) position change + salary DECREASE  -> NOT EmployeePromoted
    (b) IC3->IC5 + 120000->180000 (EMP001) -> EmployeePromoted (canonical)
    (c) status active->terminated           -> EmployeeTerminated
    (d) department 1->3, position unchanged -> EmployeeTransferred
    """
    e1 = SEED_EMPLOYEES[0]
    t = BASE_TS_MS + 100_000
    return [
        envelope("employees", "u", e1,
                 {**e1, "position_id": "IC2", "salary": 100000.0}, t + 1000),
        envelope("employees", "u", e1,
                 {**e1, "position_id": "IC5", "salary": 180000.0}, t + 2000),
        envelope("employees", "u", e1, {**e1, "status": "terminated"}, t + 3000),
        envelope("employees", "u", e1, {**e1, "department_id": 3}, t + 4000),
    ]


def salary_updates(n: int) -> list[dict]:
    """n deterministic employee salary-update envelopes (the reference's
    1,000-updates exactness scenario, docs/system-design.md:548-552,
    scaled up)."""
    base = SEED_EMPLOYEES[0]
    return [
        envelope("employees", "u", {**base, "salary": 90000.0 + i},
                 {**base, "salary": 90001.0 + i}, BASE_TS_MS + i)
        for i in range(n)
    ]


def duplicate_delivery(events: list[dict], dup_indexes: list[int]) -> list[dict]:
    """Simulate at-least-once redelivery: re-emit selected events verbatim
    (same content => same derived event id => must dedup downstream,
    config/nats/stream.json:14, docs/system-design.md:548-552)."""
    out = list(events)
    for i in dup_indexes:
        out.append(json.loads(json.dumps(events[i])))  # deep copy
    return out


def write_event_log(events: list[dict], directory: str,
                    events_per_file: int = 100) -> str:
    """Write envelopes as JSON-lines files (the engine's file-based change
    log — interchangeable with a Kafka/NATS source, SURVEY §2.A1)."""
    os.makedirs(directory, exist_ok=True)
    for fi in range(0, len(events), events_per_file):
        path = os.path.join(directory, f"chunk-{fi // events_per_file:05d}.json")
        with open(path, "w") as f:
            for ev in events[fi:fi + events_per_file]:
                f.write(json.dumps(ev) + "\n")
    return directory


def write_broker_log(events: list[dict], directory: str,
                     events_per_file: int = 100,
                     n_partitions: int = 3) -> str:
    """Write envelopes as Kafka-record-shaped parquet (sources/cdc.py
    BROKER_RECORD_SCHEMA): per-table topic, key = serialized PK (hash-
    partitioned on it, preserving the broker's per-key ordering
    guarantee), value = envelope bytes — the on-the-wire shape the
    reference's Debezium server publishes
    (config/debezium/application.properties:20-27)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    offsets: dict[tuple[str, int], int] = {}
    schema = pa.schema([
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
        ("timestampType", pa.int32()),
    ])
    for fi in range(0, len(events), events_per_file):
        rows = {name: [] for name in schema.names}
        for ev in events[fi:fi + events_per_file]:
            payload = ev["payload"]
            table = payload["source"]["table"]
            row = payload.get("after") or payload.get("before") or {}
            key = json.dumps({"id": row.get("id")}).encode()
            topic = subject_for(table)
            part = zlib.crc32(key) % n_partitions  # broker key-hash routing
            off = offsets.get((topic, part), 0)
            offsets[(topic, part)] = off + 1
            rows["key"].append(key)
            rows["value"].append(json.dumps(ev).encode())
            rows["topic"].append(topic)
            rows["partition"].append(part)
            rows["offset"].append(off)
            rows["timestamp"].append(payload["ts_ms"] * 1000)
            rows["timestampType"].append(0)
        pq.write_table(
            pa.table(rows, schema=schema),
            os.path.join(directory, f"records-{fi // events_per_file:05d}.parquet"),
        )
    return directory
