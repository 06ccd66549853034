"""``io.local_frame``: driver-side rows as a ``LocalRelation``.

For every schema the package builds a driver-side frame with, the
Arrow-built frame plans as a ``LocalTableScan`` and equals what
``createDataFrame`` on the same Python list gives (names, types,
nullability and rows).  An AST scan keeps every other package module
off ``createDataFrame`` / ``parallelize``: those pickle the rows into a
Python RDD whose plan (``Scan ExistingRDD``) runs Python-worker tasks
each time it executes.
"""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pytest
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from debezium_nats_cdc_spark.io import local_frame
from debezium_nats_cdc_spark.operators.ann_lifecycle import _RESULT_SCHEMA
from debezium_nats_cdc_spark.streaming import (
    anomaly_monitor, approx_engagement_monitor, cohort_monitor,
    engagement_monitor, funnel_monitor, tfidf_monitor,
)

PACKAGE = Path(__file__).resolve().parent.parent / "debezium_nats_cdc_spark"


def _components_schema(id_type):
    return StructType([
        StructField("doc_id", id_type),
        StructField("cluster_id", id_type),
        StructField("cluster_size", LongType()),
    ])


# (case, schema, rows): the schemas of the package's call sites, with
# the rows each one builds (the meta rows hold NULL value columns)
CASES = [
    ("funnel_meta", funnel_monitor._STATE_SCHEMA, [(None, None, None, 3)]),
    ("engagement_rows", engagement_monitor._STATE_SCHEMA,
     [(7, dt.date(2026, 1, 5), None), (None, None, 2)]),
    ("cohort_empty", cohort_monitor._STATE_SCHEMA, []),
    ("anomaly_meta", anomaly_monitor._STATE_SCHEMA, [(None, None, None, -1)]),
    ("approx_meta_null_binary", approx_engagement_monitor._STATE_SCHEMA,
     [(None, None, 0), (dt.date(2026, 2, 1), b"\x00\x01", None)]),
    ("tfidf_meta", tfidf_monitor._STATE_SCHEMA,
     [(None, None, None, 40, 1)]),
    ("tfidf_drift_empty", tfidf_monitor._DRIFT_SCHEMA, []),
    ("topk_empty", "query_id long, neighbor_id long, cos_sim double, rnk int",
     []),
    ("ivf_split_pair", "cell_id int, c_emb array<double>, c_norm double",
     [(0, [1.0, 0.0], 1.0), (5, [0.6, 0.8], 1.0)]),
    ("ivf_delete_ids", "vec_id bigint", [(3,), (9,)]),
    ("pq_empty", "query_id bigint, neighbor_id bigint, adc_dist double, "
                 "rnk int", []),
    ("lifecycle_empty", _RESULT_SCHEMA, []),
    ("components_long", _components_schema(LongType()),
     [(1, 1, 2), (2, 1, 2)]),
    ("components_string", _components_schema(StringType()),
     [("a", "a", 1)]),
    ("curation_mix", "lang string, target_share double",
     [("en", 0.5), ("fr", 0.3), ("de", 0.2)]),
    ("pq_codes_empty", "vec_id bigint, codes array<int>, cell_id int", []),
    ("pq_codes", "vec_id bigint, codes array<int>, cell_id int",
     [(1, [3, 0, 255], 2), (2, None, None)]),
    ("zorder_codes", "`event_type` string, `_zenc_event_type` bigint",
     [("a", 0), ("b", 1)]),
]


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case,schema,rows", CASES, ids=[c[0] for c in CASES])
def test_local_frame_equals_pickled_frame(spark, case, schema, rows):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _physical_plan(got).startswith("LocalTableScan"), case
    assert "Scan ExistingRDD" in _physical_plan(want)
    assert got.schema == want.schema  # names, types and nullability
    assert got.collect() == want.collect()


def _frame_calls(tree: ast.AST):
    """(enclosing function, call name, line) of every ``.createDataFrame``
    / ``.parallelize`` call in ``tree``."""
    found = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("createDataFrame",
                                            "parallelize")):
                found.append((inner, child.func.attr, child.lineno))
            walk(child, inner)

    walk(tree, None)
    return found


def test_no_package_module_pickles_driver_rows():
    """Only ``io.local_frame`` may call ``createDataFrame`` (on its
    Arrow table); no package module calls ``parallelize``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, name, line in _frame_calls(ast.parse(path.read_text())):
            if (rel, fn, name) != ("io.py", "local_frame", "createDataFrame"):
                offenders.append(f"{rel}:{line} {name} in {fn}")
    assert offenders == []


def test_scan_catches_a_pickled_frame():
    src = ("def f(spark):\n"
           "    return spark.createDataFrame([(1,)], 'a int')\n"
           "x = sc.parallelize([1])\n")
    assert _frame_calls(ast.parse(src)) == [
        ("f", "createDataFrame", 2), (None, "parallelize", 3)]
