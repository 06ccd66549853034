"""Transformer rule set (SURVEY.md §2.I — the reference's query library).

Each rule is a pure ``DataFrame -> DataFrame`` function over an unwrapped
change stream, mirroring the reference's EventTransformer components
(docs/design.md:628-650) and its config-gated registry
(docs/design.md:520-528).  All dispatch/diff logic is plain column
expressions — no UDFs — so Catalyst folds every rule's predicate into
one scan per source table (the multicast F2 pattern: N filtered branches
over a shared cached batch, unioned).

Trigger semantics (cited per rule below; boundary cases from
docs/system-design.md:213-227):
  null-safe compares via eqNullSafe — position_id/department_id are
  nullable (sql/init-db.sql:13-14), and NULL <> 'IC1' must count as a
  change, not as no-change.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

_EVENT_VERSION = "1.0"


def _changed(a: str, b: str) -> F.Column:
    return ~F.col(a).eqNullSafe(F.col(b))


# Each rule's (predicate, select-list) builds ONCE per SparkContext and
# replays as two py4j calls per batch — building the forest per batch
# cost 0.6-0.9 s inside foreachBatch vs ~0.2 s of execution (profiled
# in BENCHLOG r6; rationale in speccache.py).

def _rule(df: DataFrame, name: str, build) -> DataFrame:
    from ..speccache import per_context

    cond, cols = per_context(("rule", name), build)
    return df.filter(cond).select(*cols)


def domain_event_cols(
    event_type: str,
    category: str,
    aggregate_id: F.Column,
    aggregate_type: str,
    payload: F.Column,
) -> list[F.Column]:
    """The domain-envelope select-list (docs/system-design.md:189-209).
    eventId is deterministic — md5(type|aggregate|ts|change_key) — so
    redelivered source events produce the same id and dedup downstream
    (FIXTURES §3 duplicate fixture), unlike the reference's
    UUID.randomUUID() (docs/design.md:675), which would defeat its own
    idempotency keys."""
    return [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(event_type),
                aggregate_id,
                F.col("ts_ms").cast("string"),
                F.col("change_key"),
            )
        ).alias("eventId"),
        F.lit(event_type).alias("eventType"),
        F.lit(category).alias("eventCategory"),
        F.col("event_time").alias("timestamp"),
        aggregate_id.cast("string").alias("aggregateId"),
        F.lit(aggregate_type).alias("aggregateType"),
        F.lit(_EVENT_VERSION).alias("version"),
        payload.alias("payload"),
        F.struct(
            F.lit("hr-cdc-engine").alias("source"),
            F.col("change_key").alias("causationId"),
            F.col("change_key").alias("correlationId"),
            F.lit(None).cast("string").alias("userId"),
        ).alias("metadata"),
    ]


# ------------------------------------------------------ employee rules --

def _emp_payload(*cols: F.Column) -> F.Column:
    return F.to_json(F.struct(*cols))


def employee_hired(df: DataFrame) -> DataFrame:
    """I1: op='c' on employees (docs/design.md:250).

    Snapshot reads (op='r') deliberately do NOT fire — they replay
    existing rows into the materializer (SURVEY §2.A2), not new hires.
    """
    return _rule(df, "EmployeeHired", lambda: (
        (F.col("op") == "c") & F.col("after").isNotNull(),
        domain_event_cols(
            "EmployeeHired", "employee", F.col("after.id"), "Employee",
            _emp_payload(
                F.col("after.employee_number").alias("employeeNumber"),
                F.concat_ws(" ", F.col("after.first_name"), F.col("after.last_name")).alias("fullName"),
                F.col("after.position_id").alias("positionId"),
                F.col("after.department_id").alias("departmentId"),
                F.col("after.salary").cast("double").alias("salary"),
                F.col("after.hire_date").cast("string").alias("hireDate"),
            ),
        ),
    ))


def PROMOTION_COND():
    # lazy: building a Column requires an active session (classic mode)
    return (
        (F.col("op") == "u")
        & _changed("before.position_id", "after.position_id")
        & (F.col("after.salary") > F.col("before.salary"))
        & (F.col("after.status") == "active")
    )


def employee_promoted(df: DataFrame) -> DataFrame:
    """I2: position changed ∧ salary increased ∧ active
    (docs/design.md:281-307; docs/system-design.md:213-217)."""
    return _rule(df, "EmployeePromoted", lambda: (
        PROMOTION_COND(),
        domain_event_cols(
            "EmployeePromoted", "employee", F.col("after.id"), "Employee",
            _emp_payload(
                F.col("before.position_id").alias("previousPositionId"),
                F.col("after.position_id").alias("newPositionId"),
                F.col("before.salary").cast("double").alias("previousSalary"),
                F.col("after.salary").cast("double").alias("newSalary"),
                (F.col("after.salary") - F.col("before.salary")).cast("double").alias("salaryIncrease"),
            ),
        ),
    ))


def TERMINATION_COND():
    return (
        (F.col("op") == "u")
        & (F.col("before.status") == "active")
        & (F.col("after.status") == "terminated")
    )


def employee_terminated(df: DataFrame) -> DataFrame:
    """I3: status active→terminated; tenure enrichment
    (docs/design.md:309-322; docs/system-design.md:218-221)."""
    return _rule(df, "EmployeeTerminated", lambda: (
        TERMINATION_COND(),
        domain_event_cols(
            "EmployeeTerminated", "employee", F.col("after.id"), "Employee",
            _emp_payload(
                F.col("after.employee_number").alias("employeeNumber"),
                F.datediff(F.to_date("event_time"), F.col("after.hire_date")).alias("tenureDays"),
            ),
        ),
    ))


def TRANSFER_COND():
    return (
        (F.col("op") == "u")
        & _changed("before.department_id", "after.department_id")
        & F.col("before.position_id").eqNullSafe(F.col("after.position_id"))
    )


def employee_transferred(df: DataFrame) -> DataFrame:
    """I4: department changed ∧ position unchanged
    (docs/design.md:253; docs/system-design.md:222-227)."""
    return _rule(df, "EmployeeTransferred", lambda: (
        TRANSFER_COND(),
        domain_event_cols(
            "EmployeeTransferred", "employee", F.col("after.id"), "Employee",
            _emp_payload(
                F.col("before.department_id").alias("fromDepartmentId"),
                F.col("after.department_id").alias("toDepartmentId"),
            ),
        ),
    ))


def MANAGER_COND():
    return (F.col("op") == "u") & _changed("before.manager_id", "after.manager_id")


def manager_assigned(df: DataFrame) -> DataFrame:
    """I8: manager_id changed (docs/design.md:259)."""
    return _rule(df, "ManagerAssigned", lambda: (
        MANAGER_COND(),
        domain_event_cols(
            "ManagerAssigned", "employee", F.col("after.id"), "Employee",
            _emp_payload(
                F.col("before.manager_id").alias("previousManagerId"),
                F.col("after.manager_id").alias("newManagerId"),
            ),
        ),
    ))


def employee_data_updated(df: DataFrame) -> DataFrame:
    """I5: residual catch-all — updates matched by no specific rule
    (docs/design.md:254; lowest precedence)."""
    return _rule(df, "EmployeeDataUpdated", lambda: (
        (F.col("op") == "u")
        & ~PROMOTION_COND()
        & ~TERMINATION_COND()
        & ~TRANSFER_COND()
        & ~MANAGER_COND(),
        domain_event_cols(
            "EmployeeDataUpdated", "employee", F.col("after.id"), "Employee",
            _emp_payload(F.col("after.employee_number").alias("employeeNumber")),
        ),
    ))


# ---------------------------------------------------- department rules --

def department_created(df: DataFrame) -> DataFrame:
    """I6: op='c' on departments (docs/design.md:257); 'r' excluded as in I1."""
    return _rule(df, "DepartmentCreated", lambda: (
        (F.col("op") == "c") & F.col("after").isNotNull(),
        domain_event_cols(
            "DepartmentCreated", "organization", F.col("after.id"), "Department",
            _emp_payload(F.col("after.name").alias("name")),
        ),
    ))


def department_restructured(df: DataFrame) -> DataFrame:
    """I7: parent_department_id changed (docs/design.md:258)."""
    return _rule(df, "DepartmentRestructured", lambda: (
        (F.col("op") == "u")
        & _changed("before.parent_department_id", "after.parent_department_id"),
        domain_event_cols(
            "DepartmentRestructured", "organization", F.col("after.id"), "Department",
            _emp_payload(
                F.col("before.parent_department_id").alias("previousParentId"),
                F.col("after.parent_department_id").alias("newParentId"),
            ),
        ),
    ))


# --------------------------------------------------------- fact rules --

def salary_adjusted(df: DataFrame) -> DataFrame:
    """I10: op='c' on salary_changes (docs/design.md:267)."""
    return _rule(df, "SalaryAdjusted", lambda: (
        (F.col("op") == "c") & F.col("after").isNotNull(),
        domain_event_cols(
            "SalaryAdjusted", "compensation", F.col("after.employee_id"), "Employee",
            _emp_payload(
                F.col("after.old_salary").cast("double").alias("oldSalary"),
                F.col("after.new_salary").cast("double").alias("newSalary"),
                F.col("after.reason").alias("reason"),
                F.col("after.effective_date").cast("string").alias("effectiveDate"),
            ),
        ),
    ))


def leave_requested(df: DataFrame) -> DataFrame:
    """I11: op='c' on leave_requests (docs/design.md:273)."""
    return _rule(df, "LeaveRequested", lambda: (
        (F.col("op") == "c") & F.col("after").isNotNull(),
        domain_event_cols(
            "LeaveRequested", "leave", F.col("after.employee_id"), "Employee",
            _emp_payload(
                F.col("after.leave_type").alias("leaveType"),
                F.col("after.start_date").cast("string").alias("startDate"),
                F.col("after.end_date").cast("string").alias("endDate"),
            ),
        ),
    ))


def leave_approved(df: DataFrame) -> DataFrame:
    """I12: status → 'approved' on leave_requests (docs/design.md:274)."""
    return _rule(df, "LeaveApproved", lambda: (
        (F.col("op") == "u")
        & (F.col("after.status") == "approved")
        & (F.col("before.status") != "approved"),
        domain_event_cols(
            "LeaveApproved", "leave", F.col("after.employee_id"), "Employee",
            _emp_payload(
                F.col("after.leave_type").alias("leaveType"),
                F.col("after.approved_by").alias("approvedBy"),
            ),
        ),
    ))


def bonus_awarded(df: DataFrame) -> DataFrame:
    """Compensation event: op='c' on bonuses (docs/design.md:268).

    SOURCE-OPTIONAL — the reference's init-db.sql ships no bonuses
    table; the rule exists so a payroll-extended schema fires it without
    engine changes (SURVEY §2.I scope note)."""
    return _rule(df, "BonusAwarded", lambda: (
        (F.col("op") == "c") & F.col("after").isNotNull(),
        domain_event_cols(
            "BonusAwarded", "compensation", F.col("after.employee_id"), "Employee",
            _emp_payload(
                F.col("after.amount").cast("double").alias("amount"),
                F.col("after.bonus_type").alias("bonusType"),
                F.col("after.award_date").cast("string").alias("awardDate"),
            ),
        ),
    ))


def stock_granted(df: DataFrame) -> DataFrame:
    """Compensation event: op='c' on stock_grants (docs/design.md:269).
    SOURCE-OPTIONAL like bonus_awarded."""
    return _rule(df, "StockGranted", lambda: (
        (F.col("op") == "c") & F.col("after").isNotNull(),
        domain_event_cols(
            "StockGranted", "compensation", F.col("after.employee_id"), "Employee",
            _emp_payload(
                F.col("after.shares").alias("shares"),
                F.col("after.grant_date").cast("string").alias("grantDate"),
                F.col("after.vesting_months").alias("vestingMonths"),
                F.col("after.cliff_months").alias("cliffMonths"),
            ),
        ),
    ))


def attendance_marked(df: DataFrame) -> DataFrame:
    """I13: op='c' on attendance_records (docs/design.md:275)."""
    return _rule(df, "AttendanceMarked", lambda: (
        (F.col("op") == "c") & F.col("after").isNotNull(),
        domain_event_cols(
            "AttendanceMarked", "attendance", F.col("after.employee_id"), "Employee",
            _emp_payload(
                F.col("after.attendance_date").cast("string").alias("attendanceDate"),
                F.col("after.status").alias("status"),
            ),
        ),
    ))


# ----------------------------------------------------------- registry --

# table -> [(rule_name, fn)] — mirrors the reference's transformer list
# (docs/design.md:628-650); gate rules on/off by editing this dict
# (config-gating analog of docs/design.md:520-528).
RULES: dict[str, list[tuple[str, Callable[[DataFrame], DataFrame]]]] = {
    "employees": [
        ("EmployeeHired", employee_hired),
        ("EmployeePromoted", employee_promoted),
        ("EmployeeTerminated", employee_terminated),
        ("EmployeeTransferred", employee_transferred),
        ("ManagerAssigned", manager_assigned),
        ("EmployeeDataUpdated", employee_data_updated),
    ],
    "departments": [
        ("DepartmentCreated", department_created),
        ("DepartmentRestructured", department_restructured),
    ],
    "salary_changes": [("SalaryAdjusted", salary_adjusted)],
    "leave_requests": [
        ("LeaveRequested", leave_requested),
        ("LeaveApproved", leave_approved),
    ],
    "attendance_records": [("AttendanceMarked", attendance_marked)],
    "bonuses": [("BonusAwarded", bonus_awarded)],
    "stock_grants": [("StockGranted", stock_granted)],
}

# Tables whose rules are implemented but whose SOURCE the reference
# never ships (docs/design.md:267-269 vs sql/init-db.sql): default
# pipelines skip them; pass them in ``tables`` explicitly once the
# deployment's schema actually has them.
OPTIONAL_SOURCE_TABLES: frozenset[str] = frozenset({"bonuses", "stock_grants"})


def apply_rules(unwrapped: DataFrame, table: str,
                enabled: set[str] | None = None) -> DataFrame:
    """Multicast fan-out (SURVEY §2.F2): evaluate every enabled rule for
    ``table`` over one shared input, union the emitted domain events.

    Scale: each branch is a filter+project over the same scan; Spark
    executes the union as one stage per branch with the source read
    shared when the input is cached (the streaming path caches the
    micro-batch in foreachBatch).
    """
    outs = [
        fn(unwrapped)
        for name, fn in RULES.get(table, [])
        if enabled is None or name in enabled
    ]
    if not outs:
        raise ValueError(f"no rules registered for table {table!r}")
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result
