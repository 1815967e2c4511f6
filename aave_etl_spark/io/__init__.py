from aave_etl_spark.io.catalog import TABLES
from aave_etl_spark.io.table_store import TableStore

__all__ = ["TABLES", "TableStore"]
