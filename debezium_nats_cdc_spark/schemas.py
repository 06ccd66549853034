"""Typed schemas for the CDC engine (FIXTURES.md §1–2).

Three layers, mirroring the reference's data model (SURVEY.md §1):
  1. HR source-table row schemas      (reference sql/init-db.sql)
  2. Debezium change-envelope schema  (reference docs/cdc-guide.md:134-151)
  3. Domain-event envelope            (reference docs/system-design.md:189-209)

Type conventions (SURVEY.md §1.2): money -> DECIMAL(12,2); MariaDB TIME ->
seconds-since-midnight int; epoch-millis ts_ms -> long in flight,
converted with timestamp_millis() at the edge.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------- tables --

MONEY = T.DecimalType(12, 2)

EMPLOYEES = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("employee_number", T.StringType()),
    T.StructField("first_name", T.StringType()),
    T.StructField("last_name", T.StringType()),
    T.StructField("email", T.StringType()),
    T.StructField("position_id", T.StringType()),
    T.StructField("department_id", T.LongType()),
    T.StructField("manager_id", T.LongType()),
    T.StructField("salary", MONEY),
    T.StructField("hire_date", T.DateType()),
    T.StructField("status", T.StringType()),
    T.StructField("created_at", T.TimestampType()),
    T.StructField("updated_at", T.TimestampType()),
])

DEPARTMENTS = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("parent_department_id", T.LongType()),
    T.StructField("manager_id", T.LongType()),
    T.StructField("created_at", T.TimestampType()),
    T.StructField("updated_at", T.TimestampType()),
])

POSITIONS = T.StructType([
    T.StructField("id", T.StringType()),  # string PK, e.g. 'IC3'
    T.StructField("title", T.StringType()),
    T.StructField("level", T.StringType()),
    T.StructField("salary_min", MONEY),
    T.StructField("salary_max", MONEY),
    T.StructField("created_at", T.TimestampType()),
    T.StructField("updated_at", T.TimestampType()),
])

SALARY_CHANGES = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("employee_id", T.LongType()),
    T.StructField("old_salary", MONEY),
    T.StructField("new_salary", MONEY),
    T.StructField("reason", T.StringType()),
    T.StructField("effective_date", T.DateType()),
    T.StructField("approved_by", T.LongType()),
    T.StructField("created_at", T.TimestampType()),
])

LEAVE_REQUESTS = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("employee_id", T.LongType()),
    T.StructField("leave_type", T.StringType()),
    T.StructField("start_date", T.DateType()),
    T.StructField("end_date", T.DateType()),
    T.StructField("status", T.StringType()),
    T.StructField("approved_by", T.LongType()),
    T.StructField("reason", T.StringType()),
    T.StructField("created_at", T.TimestampType()),
    T.StructField("updated_at", T.TimestampType()),
])

ATTENDANCE_RECORDS = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("employee_id", T.LongType()),
    T.StructField("attendance_date", T.DateType()),
    T.StructField("check_in_time", T.IntegerType()),   # seconds since midnight
    T.StructField("check_out_time", T.IntegerType()),
    T.StructField("status", T.StringType()),
    T.StructField("notes", T.StringType()),
    T.StructField("created_at", T.TimestampType()),
])

# Source-OPTIONAL compensation tables: docs/design.md:267-269 specs the
# BonusAwarded / StockGranted events, but the reference's sql/init-db.sql
# creates no bonuses/stock_grants tables.  The schemas and rule shapes
# exist so a payroll-extended deployment plugs in with zero engine
# changes; default pipelines skip them (rules.OPTIONAL_SOURCE_TABLES)
# until a change log actually carries their envelopes.

BONUSES = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("employee_id", T.LongType()),
    T.StructField("amount", MONEY),
    T.StructField("bonus_type", T.StringType()),
    T.StructField("award_date", T.DateType()),
    T.StructField("approved_by", T.LongType()),
    T.StructField("created_at", T.TimestampType()),
])

STOCK_GRANTS = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("employee_id", T.LongType()),
    T.StructField("shares", T.LongType()),
    T.StructField("grant_date", T.DateType()),
    T.StructField("vesting_months", T.IntegerType()),
    T.StructField("cliff_months", T.IntegerType()),
    T.StructField("created_at", T.TimestampType()),
])

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "employees": EMPLOYEES,
    "departments": DEPARTMENTS,
    "positions": POSITIONS,
    "salary_changes": SALARY_CHANGES,
    "leave_requests": LEAVE_REQUESTS,
    "attendance_records": ATTENDANCE_RECORDS,
    "bonuses": BONUSES,
    "stock_grants": STOCK_GRANTS,
}

# table -> primary key column (drives materialization / repartitioning)
TABLE_KEYS: dict[str, str] = {t: "id" for t in TABLE_SCHEMAS}

# ------------------------------------------------------------- envelope --


def envelope_schema(row_schema: T.StructType) -> T.StructType:
    """Debezium envelope for one table (docs/cdc-guide.md:134-151).

    before is null for op='c'/'r'; after is null for op='d' (tombstones
    kept — reference drop.tombstones=false, docs/design.md:61).
    """
    source = T.StructType([
        T.StructField("version", T.StringType()),
        T.StructField("connector", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
    ])
    payload = T.StructType([
        T.StructField("before", row_schema),
        T.StructField("after", row_schema),
        T.StructField("source", source),
        T.StructField("op", T.StringType()),  # 'c'|'u'|'d'|'r'
        T.StructField("ts_ms", T.LongType()),
    ])
    return T.StructType([T.StructField("payload", payload)])


ENVELOPE_SCHEMAS: dict[str, T.StructType] = {
    t: envelope_schema(s) for t, s in TABLE_SCHEMAS.items()
}


def union_row_schema(tables: list[str]) -> T.StructType:
    """Every field of the tables' row schemas, each name once, in first-
    seen order: the row struct one change-log parse serves all of
    ``tables`` with (a one-table list gives that table's own schema).
    A name two tables declare with different types cannot share one
    parse, so it raises and names the field."""
    fields: dict[str, T.StructField] = {}
    for t in tables:
        for f in TABLE_SCHEMAS[t].fields:
            seen = fields.setdefault(f.name, f)
            if seen.dataType != f.dataType:
                owner = next(o for o in tables
                             if f.name in TABLE_SCHEMAS[o].fieldNames())
                raise ValueError(
                    f"field {f.name!r} is {seen.dataType.simpleString()} in "
                    f"{owner!r} but {f.dataType.simpleString()} in {t!r}: "
                    f"one change-log parse cannot serve both tables")
    return T.StructType(list(fields.values()))

# ------------------------------------------------------ schema history --

# A3: the FileSchemaHistory analog (reference
# config/debezium/application.properties:15-16) — every version a table's
# row schema has ever had, in order.  Debezium records DDL so envelopes
# from any binlog position can be decoded; here the engine enforces the
# compatible subset (append-only, nullable-only) so that ONE current
# schema decodes every historical envelope: missing fields read as NULL
# (older producer), unknown fields are ignored (newer producer), and
# state tables written across versions merge (parquet mergeSchema).
SCHEMA_HISTORY: dict[str, list[T.StructType]] = {
    t: [s] for t, s in TABLE_SCHEMAS.items()
}


def evolve_table_schema(table: str,
                        new_fields: list[T.StructField]) -> T.StructType:
    """Register schema version N+1 for a table: the old schema plus
    appended NULLABLE fields (the only evolution Debezium's
    newer-fields-nullable contract allows without a migration).  Updates
    the live TABLE_SCHEMAS/ENVELOPE_SCHEMAS used by readers, sinks, and
    the audit differ; a restarted checkpointed pipeline picks the new
    version up and keeps processing (tests/test_schema_evolution_live)."""
    for f in new_fields:
        if not f.nullable:
            raise ValueError(
                f"schema evolution for {table!r} must add nullable fields; "
                f"{f.name!r} is NOT NULL (requires a backfill migration)"
            )
        if f.name in TABLE_SCHEMAS[table].fieldNames():
            raise ValueError(f"{table}.{f.name} already exists")
    new = T.StructType(TABLE_SCHEMAS[table].fields + list(new_fields))
    TABLE_SCHEMAS[table] = new
    ENVELOPE_SCHEMAS[table] = envelope_schema(new)
    SCHEMA_HISTORY[table].append(new)
    return new


def rollback_table_schema(table: str) -> T.StructType:
    """Drop the newest schema version (test/ops helper — data written
    under the dropped version stays readable, extra fields ignored)."""
    history = SCHEMA_HISTORY[table]
    if len(history) < 2:
        raise ValueError(f"{table} has no evolved versions to roll back")
    history.pop()
    TABLE_SCHEMAS[table] = history[-1]
    ENVELOPE_SCHEMAS[table] = envelope_schema(history[-1])
    return history[-1]

# ----------------------------------------------------------- domain out --

# docs/system-design.md:189-209; worked example docs/design.md:218-243
DOMAIN_EVENT = T.StructType([
    T.StructField("eventId", T.StringType(), False),
    T.StructField("eventType", T.StringType(), False),
    T.StructField("eventCategory", T.StringType()),
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("aggregateId", T.StringType(), False),
    T.StructField("aggregateType", T.StringType()),
    T.StructField("version", T.StringType()),
    T.StructField("payload", T.StringType()),   # JSON string at rest
    T.StructField("metadata", T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("causationId", T.StringType()),
        T.StructField("correlationId", T.StringType()),
        T.StructField("userId", T.StringType()),
    ])),
])

# event-store table (docs/design.md:170-183): month-partitioned, clustered
HR_EVENTS = T.StructType([
    T.StructField("event_id", T.StringType(), False),
    T.StructField("event_type", T.StringType(), False),
    T.StructField("event_timestamp", T.TimestampType(), False),
    T.StructField("aggregate_id", T.StringType()),
    T.StructField("aggregate_type", T.StringType()),
    T.StructField("event_version", T.StringType()),
    T.StructField("payload", T.StringType()),
    T.StructField("metadata", T.StringType()),
    T.StructField("source_system", T.StringType()),
    T.StructField("created_at", T.TimestampType()),
])

# audit_trail (docs/design.md:185-197): field-level old/new values
AUDIT_TRAIL = T.StructType([
    T.StructField("audit_id", T.StringType(), False),
    T.StructField("entity_type", T.StringType()),
    T.StructField("entity_id", T.StringType()),
    T.StructField("operation", T.StringType()),
    T.StructField("changed_by", T.StringType()),
    T.StructField("changed_at", T.TimestampType()),
    T.StructField("old_value", T.StringType()),
    T.StructField("new_value", T.StringType()),
    T.StructField("event_id", T.StringType()),
])
