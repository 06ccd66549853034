"""Testdata loaders (TESTDATA.md tables).

Handles the one impedance mismatch in the driver testdata: ``events.ts``
is parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects.
With ``spark.sql.legacy.parquet.nanosAsLong=true`` it surfaces as epoch
nanos (long); we convert to a microsecond timestamp — identical to what
DuckDB yields for ``CAST(ts AS TIMESTAMP)``, so oracle comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

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

