"""Unit tests for the shared column math (functions/scalars.py), the
schema chokepoint ``standardise_types`` (functions/standardise.py) and
the driver-local frame builder ``local_df`` (localframe.py)."""

from __future__ import annotations

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.functions import scalars
from aave_etl_spark.functions.standardise import standardise_types
from aave_etl_spark.localframe import local_df
from aave_etl_spark.warehouse.market import rate_to_apy


def _one(spark, rows, ddl, expr):
    return [r[0] for r in spark.createDataFrame(rows, ddl).select(expr).collect()]


# ---------------------------------------------------------------------------
# scalars: unit shifts, guarded division, APY compounding, vesting clamp
# ---------------------------------------------------------------------------
def test_from_units_shifts_by_decimals(spark):
    out = _one(
        spark, [(1_234_500, 6), (5 * 10**17, 18)], "raw long, dec int",
        scalars.from_units("raw", "dec"),
    )
    assert out == pytest.approx([1.2345, 0.5])


def test_from_units_accepts_columns_and_propagates_null(spark):
    out = _one(
        spark, [(100, None)], "raw long, dec int",
        scalars.from_units(F.col("raw"), F.col("dec")),
    )
    assert out == [None]


def test_ray_wad_and_bps_scales(spark):
    row = (
        spark.createDataFrame([(3.0e27, 2.5e18, 2500)], "ray double, wad double, bps int")
        .select(
            scalars.from_ray("ray").alias("ray"),
            scalars.from_wad("wad").alias("wad"),
            scalars.bps_to_frac("bps").alias("bps"),
        )
        .first()
    )
    assert row.ray == pytest.approx(3.0)
    assert row.wad == pytest.approx(2.5)
    assert row.bps == pytest.approx(0.25)


def test_safe_div_guards_zero_and_null_denominators(spark):
    out = _one(
        spark, [(6.0, 3.0), (6.0, 0.0), (6.0, None)], "n double, d double",
        scalars.safe_div("n", "d"),
    )
    assert out == [2.0, 0.0, 0.0]


def test_safe_div_custom_default(spark):
    out = _one(spark, [(1.0, 0.0)], "n double, d double", scalars.safe_div("n", "d", default=-1.0))
    assert out == [-1.0]


def test_apy_from_rate_single_period_is_the_rate(spark):
    out = _one(spark, [(0.05,), (0.0,)], "r double", scalars.apy_from_rate("r", periods=1))
    assert out == pytest.approx([0.05, 0.0])


def test_apy_from_rate_per_second_compounding_approaches_exp(spark):
    # (1 + r/n)^n - 1 with n = seconds per year is within 1e-9 of e^r - 1
    out = _one(spark, [(0.03,), (0.5,)], "r double", scalars.apy_from_rate("r"))
    assert out == pytest.approx([math.expm1(0.03), math.expm1(0.5)], rel=1e-6)
    assert out[0] > 0.03


def test_rate_to_apy_is_the_shared_formula(spark):
    df = spark.createDataFrame([(0.07,), (0.0,), (1.2,)], "r double")
    rows = df.select(
        rate_to_apy(F.col("r")).alias("a"), scalars.apy_from_rate("r").alias("b")
    ).collect()
    assert [r.a for r in rows] == [r.b for r in rows]


@pytest.mark.parametrize(
    "now, expected",
    [
        (50, 0.0),      # before start: clamped at zero
        (100, 0.0),     # at start
        (130, 60.0),    # mid stream: 30 s at 2/s
        (200, 200.0),   # at stop
        (500, 200.0),   # after stop: capped at stop
    ],
)
def test_vested_amount_clamps_to_stream_window(spark, now, expected):
    out = _one(
        spark, [(now, 100, 200, 2.0)], "now long, start long, stop long, rate double",
        scalars.vested_amount("now", "start", "stop", "rate"),
    )
    assert out == [expected]


# ---------------------------------------------------------------------------
# standardise_types: dtype widening and 0x-address canonicalization
# ---------------------------------------------------------------------------
def test_standardise_widens_small_ints_and_floats(spark):
    df = spark.createDataFrame(
        [(1, 2, 3, 1.5, 7, "x")],
        "b tinyint, s smallint, i int, f float, l bigint, t string",
    )
    out = standardise_types(df)
    assert dict(out.dtypes) == {
        "b": "bigint", "s": "bigint", "i": "bigint", "f": "double", "l": "bigint", "t": "string",
    }
    assert tuple(out.first()) == (1, 2, 3, 1.5, 7, "x")


def test_standardise_localizes_naive_timestamps(spark):
    df = spark.createDataFrame([(datetime(2023, 1, 19, 5, 30),)], "ts timestamp_ntz")
    out = standardise_types(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    # the session runs in UTC, so the wall clock is unchanged
    assert out.first().ts == datetime(2023, 1, 19, 5, 30)


def test_standardise_lowercases_address_columns_by_name(spark):
    df = spark.createDataFrame(
        [("0xABC", "0xDEF", "0xF00", "AAVE", "Aave Token", "KeepMe")],
        "reserve string, tx_hash string, to_address string, "
        "atoken_symbol string, token_name string, note string",
    )
    row = standardise_types(df).first()
    assert (row.reserve, row.tx_hash, row.to_address) == ("0xabc", "0xdef", "0xf00")
    # symbol/name columns hold readable text and are left alone, as is a
    # string column whose name carries no address marker
    assert (row.atoken_symbol, row.token_name, row.note) == ("AAVE", "Aave Token", "KeepMe")


def test_standardise_explicit_address_cols_override_heuristic(spark):
    df = spark.createDataFrame([("0xAB", "0xCD")], "reserve string, wallet string")
    row = standardise_types(df, address_cols=["wallet"]).first()
    assert (row.reserve, row.wallet) == ("0xAB", "0xcd")


# ---------------------------------------------------------------------------
# local_df: Arrow LocalRelation with exact NULL and integer semantics
# ---------------------------------------------------------------------------
def test_local_df_tuples_keep_nulls_and_integers(spark):
    df = local_df(spark, [(1, None, "a"), (2**40, 2.5, None)], "a long, b double, c string")
    assert df.dtypes == [("a", "bigint"), ("b", "double"), ("c", "string")]
    assert [tuple(r) for r in df.collect()] == [(1, None, "a"), (2**40, 2.5, None)]


def test_local_df_is_a_local_relation(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    df = local_df(spark, [(1,), (2,)], "a long")
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"

    # no rows: still a pure-JVM relation, with the exact schema
    schema = StructType(
        [StructField("a", LongType(), False), StructField("b", StringType())]
    )
    ddl = "a long, b string"
    for spec, want in ((ddl, StructType.fromDDL(ddl)), (schema, schema)):
        empty = local_df(spark, [], spec)
        plan = empty._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" not in plan, plan
        assert empty.schema == want
        assert empty.count() == 0


def test_local_df_dict_rows_follow_schema_order_and_fill_missing(spark):
    df = local_df(spark, [{"b": "x", "a": 1}, {"a": 2}], "a long, b string")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (2, None)]


def test_local_df_empty_rows_keep_the_schema(spark):
    df = local_df(spark, [], "a long, b string")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert df.count() == 0


def test_local_df_structtype_schema(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", StringType()), StructField("v", LongType())])
    df = local_df(spark, iter([("a", 1), ("b", None)]), schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", None)]


def test_local_df_falls_back_to_classic_path_on_conversion_error(spark, monkeypatch):
    import pandas as pd

    class Unconvertible(pd.DataFrame):
        def __init__(self, *a, **k):
            raise TypeError("rows pandas cannot hold")

    monkeypatch.setattr(pd, "DataFrame", Unconvertible)
    df = local_df(spark, [(1, "x")], "a long, b string")
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() != "LocalRelation"
    assert [tuple(r) for r in df.collect()] == [(1, "x")]
