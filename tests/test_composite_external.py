"""I9 windowed composites, A9/F1 external-source union, H2/H8 monitoring."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from debezium_nats_cdc_spark.operators.rules import apply_rules
from debezium_nats_cdc_spark.operators.unwrap import unwrap
from debezium_nats_cdc_spark.sources import fixtures
from debezium_nats_cdc_spark.streaming.composite import (
    normalize_external,
    team_composition_changed,
    union_event_streams,
    EXTERNAL_SCHEMA,
)

from conftest import load_envelopes


def _transfers(spark, n=3, dept=3, within_secs=60):
    """n employee transfers into `dept` close together in event time."""
    evs = []
    for i in range(n):
        e = {**fixtures.SEED_EMPLOYEES[0], "id": 10 + i,
             "employee_number": f"EMP1{i:02d}"}
        evs.append(
            fixtures.envelope(
                "employees", "u", e, {**e, "department_id": dept},
                fixtures.BASE_TS_MS + i * within_secs * 1000 // n,
            )
        )
    return apply_rules(unwrap(load_envelopes(spark, evs, "employees")), "employees")


def test_team_composition_changed(spark):
    events = _transfers(spark, n=3, dept=3)
    comp = team_composition_changed(events, min_transfers=2).collect()
    assert len(comp) == 1
    row = comp[0]
    assert row["eventType"] == "TeamCompositionChanged"
    assert row["aggregateId"] == "3"
    payload = json.loads(row["payload"])
    assert payload["transferCount"] == 3
    assert sorted(payload["employeeIds"]) == ["10", "11", "12"]


def test_team_composition_threshold(spark):
    events = _transfers(spark, n=1, dept=3)
    assert team_composition_changed(events, min_transfers=2).count() == 0


def test_external_normalize_and_union(spark):
    ext = spark.createDataFrame(
        [
            ("hr.external.payroll.salary-update", fixtures.BASE_TS_MS, "payroll-sys",
             "emp-001", "SalaryUpdate", {"fromDept": "eng", "toDept": "product"}),
            ("hr.external.unknown.x", fixtures.BASE_TS_MS, "rogue",
             "emp-002", "Bad", {}),   # unknown source system: dropped
        ],
        EXTERNAL_SCHEMA,
    )
    norm = normalize_external(ext)
    rows = norm.collect()
    assert len(rows) == 1
    assert rows[0]["eventCategory"] == "external.payroll"
    assert rows[0]["aggregateId"] == "emp-001"

    cdc = _transfers(spark, n=2, dept=3)
    unioned = union_event_streams(cdc, norm)
    assert unioned.count() == cdc.count() + 1
    assert set(unioned.columns) == set(cdc.columns)


def test_observe_metrics_and_health(spark):
    from debezium_nats_cdc_spark.streaming.monitor import HealthState, with_lag_metrics

    evs = fixtures.golden_workload()
    emp = [e for e in evs if e["payload"]["source"]["table"] == "employees"]
    df = with_lag_metrics(unwrap(load_envelopes(spark, emp, "employees")))
    df.count()  # batch observe: metrics materialize on action

    hs = HealthState()
    hs.record({"max_ts_ms": fixtures.BASE_TS_MS}, rows_per_sec=1000.0)
    assert hs.alerts and "cdc_lag" in hs.alerts[0]  # historic ts => lag alert
    hs.record({"max_ts_ms": None}, rows_per_sec=100.0)
    assert any("rate drop" in a for a in hs.alerts)


def test_health_listener_records_stream_batches(spark, tmp_path):
    """CdcHealthListener on a live query: an availableNow stream through
    with_lag_metrics lands the batch's observed n_events and a
    processing rate in the listener's history."""
    import time

    from debezium_nats_cdc_spark.sources.cdc import read_change_stream
    from debezium_nats_cdc_spark.streaming.monitor import (
        CdcHealthListener,
        with_lag_metrics,
    )

    evs = [e for e in fixtures.golden_workload()
           if e["payload"]["source"]["table"] == "employees"]
    want = unwrap(load_envelopes(spark, evs, "employees")).count()
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(evs, log_dir, events_per_file=len(evs))

    def batches():
        return [h for h in listener.state.history if h.get("n_events")]

    listener = CdcHealthListener()
    spark.streams.addListener(listener)
    try:
        q = (with_lag_metrics(unwrap(
                read_change_stream(spark, log_dir, "employees")))
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # progress events reach Python listeners asynchronously
        deadline = time.time() + 30
        while not batches() and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert [h["n_events"] for h in batches()] == [want]
    assert batches()[0]["rate"] > 0
