"""Micro-batch write shape: small batches leave ONE file per sink per
epoch (BENCHLOG r6 coalescing A/B — 4x fewer events/audit files), large
batches keep parallel writes."""

from __future__ import annotations

import glob
import os

from debezium_nats_cdc_spark.sources import fixtures
from debezium_nats_cdc_spark.streaming import pipeline as P


def _parquet_count(d: str) -> int:
    return len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def test_small_batches_write_one_file_per_sink_per_epoch(spark, tmp_path):
    n_epochs = 5
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(fixtures.salary_updates(n_epochs * 200), log_dir,
                             events_per_file=200)
    dirs = P.PipelineDirs.under(str(tmp_path / "out"))
    q = P.start_table_pipeline(spark, log_dir, "employees", dirs,
                               max_files_per_trigger=1)
    q.awaitTermination()
    assert _parquet_count(dirs.events) == n_epochs
    assert _parquet_count(dirs.audit) == n_epochs
    assert _parquet_count(os.path.join(dirs.state, "employees")) == n_epochs


def test_large_batches_keep_parallel_writes(spark, tmp_path, monkeypatch):
    # force the "large" path at tiny volume by dropping the threshold:
    # the write must then carry MORE than one file for the unioned
    # events sink (one per non-empty branch/partition)
    monkeypatch.setattr(P, "SMALL_BATCH_ROWS", -1)
    log_dir = str(tmp_path / "log")
    fixtures.write_event_log(fixtures.salary_updates(500), log_dir,
                             events_per_file=500)
    dirs = P.PipelineDirs.under(str(tmp_path / "out"))
    q = P.start_table_pipeline(spark, log_dir, "employees", dirs,
                               max_files_per_trigger=1)
    q.awaitTermination()
    assert _parquet_count(dirs.events) > 1
