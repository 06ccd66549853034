"""Fixed per-micro-batch cost: checkpoint I/O and generated-code reuse.

Two things keep the streaming pipeline's per-epoch overhead down
(``session`` module docstring):

- the checkpoint-file-manager conf, which publishes offsets, commits
  and state-store files by FileSystem rename instead of forking a
  child process per create and rename;
- a steady-state ``process_batch`` that compiles almost nothing: every
  generated class except the store write's (whose source inlines the
  batch's ``current_timestamp()`` literal) comes from the cache.

The compile count is ``opt_probe.count_jobs``' third field, read from
Spark's ``CodegenMetrics``; a cache hit does not count, so the number
repeats exactly run to run.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from debezium_nats_cdc_spark.operators.unwrap import unwrap
from debezium_nats_cdc_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    RUNTIME_CONFS,
    apply_runtime_confs,
)
from debezium_nats_cdc_spark.sources import fixtures
from debezium_nats_cdc_spark.streaming.pipeline import (
    PipelineDirs,
    process_batch,
)
from tests.conftest import load_envelopes

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from opt_probe import count_jobs  # noqa: E402

_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager")

# created_at's folded literal makes the store write's generated source
# new every table-batch (two classes); nothing else may recompile
_COMPILES_PER_TABLE = 2


def test_get_session_sets_checkpoint_manager_and_codegen_cache(spark):
    assert RUNTIME_CONFS[_MANAGER_KEY] == _MANAGER
    assert spark.conf.get(_MANAGER_KEY) == _MANAGER
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == \
        str(CODEGEN_CACHE_ENTRIES)


def test_apply_runtime_confs_sets_checkpoint_manager(spark):
    """A driver-owned session gets the manager from apply_runtime_confs."""
    other = spark.newSession()
    other.conf.unset(_MANAGER_KEY)
    assert other.conf.get(_MANAGER_KEY, None) != _MANAGER
    apply_runtime_confs(other)
    assert other.conf.get(_MANAGER_KEY) == _MANAGER


def test_steady_state_batch_compiles_only_the_store_write(spark, tmp_root):
    batch = unwrap(load_envelopes(
        spark, fixtures.snapshot_events() + fixtures.golden_workload(),
        "employees",
    ))
    # the first batch fills the generated-class cache
    process_batch(spark, batch, "employees",
                  PipelineDirs.under(os.path.join(tmp_root, "warm")),
                  epoch_id=0)
    dirs = PipelineDirs.under(os.path.join(tmp_root, "steady"))
    _, _, compiled = count_jobs(
        spark,
        lambda: process_batch(spark, batch, "employees", dirs, epoch_id=0),
        "codegen-reuse-steady")
    assert compiled <= _COMPILES_PER_TABLE, compiled
    # the batch really ran the fan-out: every sink published
    assert spark.read.parquet(dirs.events).count() > 0
    assert spark.read.parquet(dirs.audit).count() > 0
