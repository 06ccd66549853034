"""Testdata loaders (TESTDATA.md tables) and driver-side frames.

``load_table`` handles the one impedance mismatch in the driver
testdata: ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's
vectorized reader rejects.  With
``spark.sql.legacy.parquet.nanosAsLong=true`` it surfaces as epoch
nanos (long); we convert to a microsecond timestamp — identical to what
DuckDB yields for ``CAST(ts AS TIMESTAMP)``, so oracle comparison is exact.

``local_frame`` is the one way package code turns driver-side Python
rows into a DataFrame.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

from .session import apply_runtime_confs

# columns stored as TIMESTAMP(NANOS) per table
_NANO_TS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with engine-canonical types."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # integer `div` (NOT `/`: double division loses ulps at 1e18 ns)
            # truncating ns->us exactly like DuckDB's CAST(ts_ns AS TIMESTAMP)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def local_frame(spark: SparkSession, rows, schema: str | StructType
                ) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order; may be empty) as a
    DataFrame over a ``LocalRelation`` (plan: ``LocalTableScan``).
    ``schema`` is a DDL string or a ``StructType``; names, types and
    nullability are kept as given, like ``createDataFrame``'s.

    The rows travel to the JVM as one Arrow table, so no Python worker
    runs, neither now nor each time the frame executes.
    ``createDataFrame`` on a Python list pickles the rows into a
    parallelized RDD instead, and every execution of its plan
    (``Scan ExistingRDD``) runs Python-worker tasks to unpickle them:
    1.4-1.6 worker CPU-s per swap-state monitor fold at sf0.1 on 4
    cores (OPERATIONS.md §12).  The optimizer also sees the rows' real
    size."""
    struct = schema if isinstance(schema, StructType) \
        else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, struct)
