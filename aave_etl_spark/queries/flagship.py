"""Flagship query — the `all_financials` chain shape (SURVEY §7.2 step 2)
re-homed onto the synthetic star schema.

Reference chain: measures per (day, market, collector) → LEAD start/end-of-
day pairing (all_financials.sql:124-143) → last-day drop (:191-193) →
UNPIVOT to (measure, value) (:419-424) → dim join for display names
(:442-445) → rollup (treasury_totals.sql:6-31 UNION ALL).

Mapping: market := l_returnflag, collector := l_linestatus; measures are
quantity balance / discounted revenue / tax fees per ship-day. Exercises in
one plan: join, window, union, unpivot, conditional math, broadcast dim —
the same operator set as the reference's flagship model.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aave_etl_spark.queries.registry import register, t
from aave_etl_spark.localframe import local_df

FLAGSHIP_ORACLE = """
WITH daily AS (
  SELECT l_returnflag AS market, l_linestatus AS collector,
         CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
         sum(l_quantity) AS balance,
         sum(l_extendedprice * (1 - l_discount)) AS revenue,
         sum(l_extendedprice * l_tax) AS fees
  FROM lineitem
  GROUP BY l_returnflag, l_linestatus, date_trunc('day', l_shipdate)
),
paired AS (
  SELECT market, collector, day,
         balance AS start_balance,
         lead(balance) OVER (PARTITION BY market, collector ORDER BY day) AS end_balance,
         revenue, fees
  FROM daily
),
kept AS (
  SELECT market, collector, day,
         start_balance, end_balance,
         end_balance - start_balance AS balance_change,
         revenue, fees
  FROM paired
  WHERE end_balance IS NOT NULL
),
long AS (
  SELECT market, collector, day, 'start_balance' AS measure, start_balance AS value FROM kept
  UNION ALL SELECT market, collector, day, 'end_balance',    end_balance    FROM kept
  UNION ALL SELECT market, collector, day, 'balance_change', balance_change FROM kept
  UNION ALL SELECT market, collector, day, 'revenue',        revenue        FROM kept
  UNION ALL SELECT market, collector, day, 'fees',           fees           FROM kept
),
dim AS (
  SELECT 'A' AS market, 'Accepted' AS display_name
  UNION ALL SELECT 'N', 'Neutral'
  UNION ALL SELECT 'R', 'Returned'
),
classification AS (
  SELECT 'start_balance' AS measure, 'balance' AS measure_type
  UNION ALL SELECT 'end_balance',    'balance'
  UNION ALL SELECT 'balance_change', 'balance'
  UNION ALL SELECT 'revenue',        'income'
  UNION ALL SELECT 'fees',           'income'
)
SELECT l.market, d.display_name, l.collector, l.day, l.measure,
       c.measure_type, l.value
FROM long l
LEFT JOIN dim d            ON l.market = d.market
LEFT JOIN classification c ON l.measure = c.measure
WHERE c.measure_type IS NOT NULL
"""


@register(
    "all_financials_shape",
    oracle=FLAGSHIP_ORACLE,
    doc=(
        "Flagship: all_financials chain — agg → LEAD pairing + last-day drop "
        "(all_financials.sql:124-143,191-193) → UNPIVOT (:419-424) → dim join + "
        "classification filter (:442-446)"
    ),
)
def all_financials_shape(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("market"),
        F.col("l_linestatus").alias("collector"),
        F.date_trunc("DAY", F.col("l_shipdate")).alias("day"),
    ).agg(
        F.sum("l_quantity").alias("balance"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.sum(F.col("l_extendedprice") * F.col("l_tax")).alias("fees"),
    )
    w = Window.partitionBy("market", "collector").orderBy("day")
    paired = daily.select(
        "market",
        "collector",
        "day",
        F.col("balance").alias("start_balance"),
        F.lead("balance").over(w).alias("end_balance"),
        "revenue",
        "fees",
    )
    # The reference silently drops each series' last day via the
    # end_balance-not-null filter (SURVEY §7.4.4) — replicated exactly.
    kept = paired.filter(F.col("end_balance").isNotNull()).withColumn(
        "balance_change", F.col("end_balance") - F.col("start_balance")
    )
    long = kept.melt(
        ids=["market", "collector", "day"],
        values=["start_balance", "end_balance", "balance_change", "revenue", "fees"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    dim = local_df(spark, 
        [("A", "Accepted"), ("N", "Neutral"), ("R", "Returned")],
        "market string, display_name string",
    )
    classification = local_df(spark, 
        [
            ("start_balance", "balance"),
            ("end_balance", "balance"),
            ("balance_change", "balance"),
            ("revenue", "income"),
            ("fees", "income"),
        ],
        "measure string, measure_type string",
    )
    return (
        long.join(F.broadcast(dim), "market", "left")
        .join(F.broadcast(classification), "measure", "left")
        .filter(F.col("measure_type").isNotNull())
        .select("market", "display_name", "collector", "day", "measure", "measure_type", "value")
    )


@register(
    "treasury_rollup_shape",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS market, CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
             sum(l_extendedprice * (1 - l_discount)) AS value_usd
      FROM lineitem GROUP BY l_returnflag, date_trunc('day', l_shipdate)
    )
    SELECT market, day + INTERVAL 1 DAY AS display_day, 'by_market' AS grain,
           sum(value_usd) AS total_usd
    FROM base GROUP BY market, day
    UNION ALL
    SELECT 'all' AS market, day + INTERVAL 1 DAY AS display_day, 'by_day' AS grain,
           sum(value_usd) AS total_usd
    FROM base GROUP BY day
    """,
    doc="treasury_totals rollup: UNION ALL of group-bys at two grains + date_add display shift (treasury_totals.sql:6-31)",
)
def treasury_rollup_shape(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    base = li.groupBy(
        F.col("l_returnflag").alias("market"),
        F.date_trunc("DAY", F.col("l_shipdate")).alias("day"),
    ).agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value_usd"))
    next_day = (F.col("day") + F.expr("INTERVAL 1 DAY")).alias("display_day")
    by_market = base.groupBy("market", "day").agg(F.sum("value_usd").alias("total_usd")).select(
        "market",
        next_day,
        F.lit("by_market").alias("grain"),
        "total_usd",
    )
    by_day = base.groupBy("day").agg(F.sum("value_usd").alias("total_usd")).select(
        F.lit("all").alias("market"),
        next_day,
        F.lit("by_day").alias("grain"),
        "total_usd",
    )
    return by_market.unionByName(by_day)
