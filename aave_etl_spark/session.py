"""SparkSession factory.

Design notes (scale-first):

- ``spark.sql.session.timeZone=UTC`` — the reference normalizes every
  timestamp to UTC (aave_data/resources/helpers.py:687-688); we pin the
  session so parquet NTZ values and oracle comparisons agree.
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast demotion/promotion are exactly the knobs that keep the same plan
  working from sf0.001 local runs to a 1000-executor 100 TB cluster.
- ``partitionOverwriteMode=dynamic`` — the reference's idempotent
  delete-then-append partition write (bigquery_io_manager.py:88-229) is
  Spark's dynamic partition overwrite.
- Arrow enabled — every pandas-UDF boundary (ABI decode, scipy interpolation)
  transfers via Arrow batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "aave_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine-wide defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as long then
        # convert (catalog.read_table) — Spark has no nanos timestamp type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Local-mode niceties; harmless on a cluster where they're overridden.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
