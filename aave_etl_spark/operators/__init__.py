from aave_etl_spark.operators import dedup, text

__all__ = ["dedup", "text"]
