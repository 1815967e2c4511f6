"""Query inventory served by ``__spark_entry__.py``.

Importing this package populates the registry. Each query maps one or more
SURVEY.md §2 operator-inventory rows onto the driver's synthetic tables
(TESTDATA.md) and carries a DuckDB oracle SQL string for the correctness
gate.
"""

from aave_etl_spark.queries.registry import Query, all_queries, register

# Populate the registry (import order = display order).
from aave_etl_spark.queries import events as _events  # noqa: F401,E402
from aave_etl_spark.queries import llm as _llm  # noqa: F401,E402
from aave_etl_spark.queries import warehouse_ops as _warehouse_ops  # noqa: F401,E402
from aave_etl_spark.queries import datamart_real as _datamart_real  # noqa: F401,E402
from aave_etl_spark.queries import flagship as _flagship  # noqa: F401,E402

__all__ = ["Query", "all_queries", "register"]
