"""Test-table catalog: the synthetic parquet tables the query registry and
its DuckDB oracles read.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)

# events.ts is parquet TIMESTAMP(NANOS): with
# spark.sql.legacy.parquet.nanosAsLong it arrives as epoch-nanos long; we
# convert by integer-truncating to micros (matching DuckDB's ns→us cast so
# oracle comparisons agree).
_NANOS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# Schema cache: parquet footer inference launches a Spark job per read;
# caching makes repeated reads plan-time only.
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Plain parquet scan: filter/column pushdown
    happens via Catalyst, so callers should NOT pre-collect or pre-filter
    driver-side."""
    path = f"{sf_dir}/{name}.parquet"
    if name in _NANOS_COLS:
        # events.ts is parquet TIMESTAMP(NANOS); the driver's session won't
        # have this conf, so set it here (runtime-settable SQL conf).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (sf_dir, name)
    if key in _SCHEMA_CACHE:
        df = spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    for col in _NANOS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df

