"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``debezium_nats_cdc_spark``; this module only
adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# robust against the driver importing this file with a different cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from debezium_nats_cdc_spark import catalog

# This module-scope import once silently reordered the first 50 queries
# (VERDICT r5).  It is safe now: catalog.entries() orders by the fixed
# catalog._WINDOW_ORDER list, never by import order.
from debezium_nats_cdc_spark.operators import cdc_queries
from debezium_nats_cdc_spark.operators._common import dec2, money_sum

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001 (SURVEY.md §7 step 1).

    The full domain-event slice: raw events -> domain envelope build
    (category mapping, deterministic uid, subject, month partition key)
    -> event-store rollup by month/category/subject, the reference's
    materialized-view shape (docs/system-design.md:130-134).
    """
    envelopes = cdc_queries.cdc_envelope_build(spark, SF0001)
    return (
        envelopes.groupBy("event_month", "event_category", "subject")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("aggregate_id").alias("n_aggregates"),
            F.min("event_timestamp").alias("first_ts"),
            F.max("event_timestamp").alias("last_ts"),
        )
        .orderBy("event_month", "subject")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return catalog.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each (SQL-expressible) query."""
    return catalog.oracle_sql()
