"""Library contract of the PySpark target.

- ``entry(spark)``: flagship query (the all_financials chain shape,
  SURVEY.md §7.2 step 2) over /root/testdata/sf0.001.
- ``queries()``: every registered query — see `aave_etl_spark/queries/`
  for the inventory; each query's docstring cites the §2 rows it covers.
- ``oracle_sql()``: DuckDB-dialect equivalents with identical column names.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aave_etl_spark.queries import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 test tables; callers check rows>0.

    Serves the flagship head directly: the verbatim 62-model datamart
    chain's all_financials output (449-line reference model,
    aave_dbt/models/datamart/all_financials.sql)."""
    q = all_queries()["datamart_all_financials_real"]
    return q.builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query (builder(spark, sf_dir) -> DataFrame)."""
    return {name: q.builder for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for each SQL-expressible query."""
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
