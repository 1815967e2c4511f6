"""Query registry: name → (Spark builder, DuckDB oracle SQL, §2 coverage).

Contract: builder(spark, sf_dir) -> DataFrame; oracle is ANSI SQL DuckDB
runs over the same parquet tables registered as views. Column names (and
practically, types) must match between the two — every computed column is
aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from aave_etl_spark.io.catalog import read_table


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a query builder with its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, builder=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    return dict(_REGISTRY)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table reader for builders."""
    return read_table(spark, sf_dir, name)
