"""Contract tests against the schema registry (reference
docs/design.md:873-876: define event schemas, validate against schema
registry, test consumer compatibility).

These are the producer/consumer contract gates:
  1. every rule's emitted payload validates under its registered v1
     schema (producer contract — catches a rule/schema drift at test
     time, not in a consumer);
  2. incompatible evolutions are refused by the registry;
  3. compatible evolution keeps BOTH directions readable (consumer
     pinned to v1 reads v2 events; v2 consumer reads v1 events).
"""

from __future__ import annotations

import pytest

from debezium_nats_cdc_spark.operators.rules import RULES, apply_rules
from debezium_nats_cdc_spark.operators.unwrap import unwrap
from debezium_nats_cdc_spark.registry import (
    FieldSpec,
    SchemaRegistry,
    default_registry,
)
from debezium_nats_cdc_spark.sources import fixtures
from tests.conftest import load_envelopes


def _all_rule_events(spark):
    """Fixture envelopes for every source table, through apply_rules."""
    evs = (fixtures.snapshot_events() + fixtures.golden_workload()
           + fixtures.negative_and_positive_rule_cases()
           + fixtures.compensation_events())
    by_table: dict[str, list[dict]] = {}
    for e in evs:
        by_table.setdefault(e["payload"]["source"]["table"], []).append(e)
    out = []
    for table, events in by_table.items():
        if table not in RULES:
            continue
        out.append(apply_rules(unwrap(load_envelopes(spark, events, table)),
                               table))
    df = out[0]
    for o in out[1:]:
        df = df.unionByName(o)
    return df


def test_every_registered_subject_has_a_rule_and_vice_versa():
    reg = default_registry()
    rule_events = {name for rules in RULES.values() for name, _ in rules}
    assert set(reg.subjects()) == rule_events


def test_all_rule_outputs_validate_against_v1(spark):
    reg = default_registry()
    events = _all_rule_events(spark).cache()
    try:
        fired = {r["eventType"] for r in events.select("eventType").collect()}
        assert fired  # the fixtures actually fire rules
        for subject in fired:
            valid, invalid = reg.validate_events(events, subject)
            bad = invalid.select("eventType", "contract_violation").collect()
            assert not bad, f"{subject}: {bad}"
            assert valid.count() > 0
    finally:
        events.unpersist()


def test_incompatible_evolutions_are_refused():
    reg = SchemaRegistry()
    v1 = [FieldSpec("a", "string", True), FieldSpec("b", "double")]
    assert reg.register("E", v1) == 1
    # idempotent re-register of the same schema
    assert reg.register("E", v1) == 1
    with pytest.raises(ValueError, match="removed"):
        reg.register("E", [FieldSpec("a", "string", True)])
    with pytest.raises(ValueError, match="type changed"):
        reg.register("E", [FieldSpec("a", "string", True),
                           FieldSpec("b", "string")])
    with pytest.raises(ValueError, match="required"):
        reg.register("E", v1 + [FieldSpec("c", "long", True)])
    with pytest.raises(ValueError, match="required flag"):
        reg.register("E", [FieldSpec("a", "string"), FieldSpec("b", "double")])


def test_consumer_compatibility_across_versions(spark):
    """FULL compatibility both ways: a consumer pinned to v1 validates
    events produced under v2 (extra optional field ignored), and a v2
    consumer validates v1 events (missing optional reads as NULL)."""
    reg = default_registry()
    v2 = list(reg.get("EmployeeHired").fields) + [
        FieldSpec("costCenter", "string")
    ]
    assert reg.register("EmployeeHired", v2) == 2

    events = _all_rule_events(spark).filter("eventType = 'EmployeeHired'")
    # v1 producer output under the v2 consumer schema
    valid, invalid = reg.validate_events(events, "EmployeeHired", version=2)
    assert invalid.count() == 0 and valid.count() > 0

    # v2 producer output (payload carries the new optional field) under
    # the v1 consumer schema
    from pyspark.sql import functions as F

    v2_events = events.withColumn(
        "payload",
        F.to_json(F.struct(
            F.get_json_object("payload", "$.employeeNumber").alias("employeeNumber"),
            F.get_json_object("payload", "$.salary").cast("double").alias("salary"),
            F.lit("CC-42").alias("costCenter"),
        )),
    )
    valid, invalid = reg.validate_events(v2_events, "EmployeeHired", version=1)
    assert invalid.count() == 0 and valid.count() > 0


def test_required_field_violation_lands_in_dlq(spark):
    from pyspark.sql import functions as F

    reg = default_registry()
    events = _all_rule_events(spark).filter("eventType = 'EmployeeHired'")
    broken = events.withColumn("payload", F.lit('{"fullName": "X"}'))
    valid, invalid = reg.validate_events(broken, "EmployeeHired")
    assert valid.count() == 0
    viol = invalid.select("contract_violation").collect()[0][0]
    assert "employeeNumber" in viol and "salary" in viol

    garbage = events.withColumn("payload", F.lit("{not json"))
    _, invalid = reg.validate_events(garbage, "EmployeeHired")
    assert "unparseable_payload" in invalid.collect()[0]["contract_violation"]


def test_dtype_conflict_falls_back_to_per_subject_parse(spark):
    """Two contracts declaring one required field at different dtypes
    make the merged single parse ambiguous: ``contract_check`` falls back
    to ``violation_expr``'s per-subject ``_subject_violation`` form, with
    the same reason strings and version stamps."""
    from debezium_nats_cdc_spark.operators.validate import with_validation

    reg = SchemaRegistry()
    reg.register("A", [FieldSpec("x", "long", True)])
    reg.register("B", [FieldSpec("x", "string", True)])
    assert reg._required_union_schema() is None
    _, _, helpers = reg.contract_check(spark.range(0))
    assert helpers == []  # the general form stamps no helper columns

    cases = [
        ("A", '{"x": 1}', None),
        ("A", "{}", "schema:A:v1:x"),
        ("A", '{"x": "abc"}', "schema:A:v1:x"),
        ("B", '{"x": "s"}', None),
        ("B", '{"y": 1}', "schema:B:v1:x"),
        ("C", "{}", None),
        ("A", "{not json", "payload_not_json"),
    ]
    events = spark.createDataFrame(
        [(str(i), t, "2024-01-01T00:00:00Z", "agg", p)
         for i, (t, p, _) in enumerate(cases)],
        "eventId string, eventType string, timestamp string, "
        "aggregateId string, payload string",
    )
    got = {
        int(r["eventId"]): (r["invalid_reason"], r["schema_version"])
        for r in with_validation(events, reg).collect()
    }
    for i, (t, _, want) in enumerate(cases):
        assert got[i][0] == want, (cases[i], got[i])
        assert got[i][1] == (None if t == "C" else 1), (cases[i], got[i])
