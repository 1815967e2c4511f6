"""aave_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of llamaxyz/aave-etl, rebuilt Spark-first.

Layers (mirroring the reference's lake → warehouse → datamart split, see
SURVEY.md):

- ``aave_etl_spark.session``   — SparkSession factory (UTC, AQE, dynamic
  partition overwrite).
- ``aave_etl_spark.io``        — table catalog + partitioned read/write
  reproducing the reference's BigQuery IO-manager semantics
  (reference: aave_data/resources/bigquery_io_manager.py).
- ``aave_etl_spark.functions`` — scalar/typing utilities
  (reference: aave_data/resources/helpers.py:663-693 standardise_types,
  decimal shifts, APY math).
- ``aave_etl_spark.warehouse`` — the pandas warehouse transforms re-expressed
  as DataFrame ops (reference: aave_data/assets/financials/data_warehouse.py,
  aave_data/assets/protocol/protocol_data_warehouse.py).
- ``aave_etl_spark.datamart``  — the dbt SQL models as Spark SQL
  (reference: aave_dbt/models/datamart/*.sql).
- ``aave_etl_spark.operators`` — large-scale training-data pipeline operators
  (dedup, text analysis, sampling, sketches, packing) beyond the reference's
  own surface.
- ``aave_etl_spark.queries``   — the driver-facing query inventory: each entry
  is a (Spark builder, DuckDB oracle SQL) pair over the synthetic test tables.
"""

__version__ = "0.1.0"
