"""Driver-local rows → DataFrame without the Python-RDD scan.

``spark.createDataFrame(list_of_rows, schema)`` ships the rows through a
pickled Python RDD split into ``defaultParallelism`` partitions — on
local[32] that is 32 near-empty partitions whose every evaluation costs a
Python-worker roundtrip (~0.15 s each), and a downstream ``.coalesce(1)``
chains all 32 roundtrips SERIALLY into one task: a measured ~5 s fixed
cost per tiny local frame (guide §4 — the Python boundary). The cost is
linear in core count: one 8-row mapInPandas over such a frame took 0.68 s
on local[4] and 4.8 s on local[32].

``local_df`` builds the same frame through pandas + Arrow instead, which
Spark converts driver-side into a pure-JVM ``LocalRelation``: zero Python
workers at scan time, zero parallelize partitions, and the optimizer sees
a sized relation (better broadcast estimates). Values are carried in an
object-dtype pandas frame so ``None`` stays a true NULL (a float64 column
would coerce it to NaN) and ints never widen to floats; the explicit
schema drives the Arrow types exactly as the classic path does.

No rows at all skip pandas: the JVM builds the empty ``LocalRelation``
directly. Any shape pandas/Arrow cannot round-trip falls back to the classic
``createDataFrame`` — correctness is never traded for the fast path.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: StructType | str,
) -> DataFrame:
    """Local rows (tuples or dicts) + explicit schema → Arrow LocalRelation.

    Drop-in for ``spark.createDataFrame(rows, schema)`` on driver-local
    data with an explicit schema (DDL string or StructType)."""
    rows = list(rows)
    try:
        import pandas as pd

        struct = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        if not rows:
            # pandas hands an empty frame to a Python RDD (LogicalRDD); the
            # JVM builds the empty LocalRelation with the exact schema itself
            jspark = spark._jsparkSession
            jdf = jspark.createDataFrame(
                spark._jvm.java.util.ArrayList(), jspark.parseDataType(struct.json())
            )
            return DataFrame(jdf, spark)
        names = struct.fieldNames()
        if isinstance(rows[0], dict):
            data: dict[str, list[Any]] = {n: [] for n in names}
            for r in rows:
                for n in names:
                    data[n].append(r.get(n))
            pdf = pd.DataFrame(data, columns=names, dtype=object)
        else:
            pdf = pd.DataFrame(rows, columns=names, dtype=object)
        return spark.createDataFrame(pdf, struct)
    except Exception:  # noqa: BLE001 — any conversion gap: classic path
        return spark.createDataFrame(rows, schema)
