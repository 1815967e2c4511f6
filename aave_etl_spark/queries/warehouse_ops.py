"""Driver-checked queries for the warehouse/datamart operator patterns:
inline struct-array dims (sm_token_holder_distro.sql:53-66), ordered
collect-to-list (protocol_data_warehouse.py:368-374), and the np.interp
grouped interpolation (:379) — each with a DuckDB oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from aave_etl_spark.localframe import local_df
from aave_etl_spark.queries.registry import register, t


# ---------------------------------------------------------------------------
# §2.9/§2.12 inline(array(struct...)) literal dim + CASE bucketing + ratio
# aggregation — the sm_token_holder_distro shape on the customer table.
# ---------------------------------------------------------------------------
@register(
    "holder_distro_buckets",
    oracle="""
    WITH holders AS (
      SELECT c_custkey, c_mktsegment,
             CASE
               WHEN c_acctbal > 9000 THEN 'bal >9k'
               WHEN c_acctbal > 5000 THEN 'bal 5k-9k'
               WHEN c_acctbal > 0 THEN 'bal 0-5k'
               ELSE 'bal <=0'
             END AS bucket
      FROM customer
    ),
    sort_orders AS (
      SELECT * FROM (VALUES ('bal >9k', 4), ('bal 5k-9k', 3), ('bal 0-5k', 2), ('bal <=0', 1))
        AS s(bucket, sort_order)
    ),
    agg AS (
      SELECT c_mktsegment, bucket, CAST(count(*) AS BIGINT) AS n_customers
      FROM holders GROUP BY c_mktsegment, bucket
    ),
    totals AS (
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS total FROM holders GROUP BY c_mktsegment
    )
    SELECT a.c_mktsegment, a.bucket, CAST(s.sort_order AS INT) AS sort_order,
           a.n_customers,
           CAST(a.n_customers AS DOUBLE) / t.total AS customer_share
    FROM agg a
    LEFT JOIN sort_orders s ON a.bucket = s.bucket
    LEFT JOIN totals t ON a.c_mktsegment = t.c_mktsegment
    """,
    doc="§2.12 sm_token_holder_distro shape: CASE bucketing + inline(array(struct)) sort dim + share ratios",
)
def holder_distro_buckets(spark, sf_dir):
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH holders AS (
          SELECT c_custkey, c_mktsegment,
                 CASE
                   WHEN c_acctbal > 9000 THEN 'bal >9k'
                   WHEN c_acctbal > 5000 THEN 'bal 5k-9k'
                   WHEN c_acctbal > 0 THEN 'bal 0-5k'
                   ELSE 'bal <=0'
                 END AS bucket
          FROM customer
        ),
        sort_orders AS (
          SELECT inline(array(
            struct('bal >9k' AS bucket, 4 AS sort_order),
            struct('bal 5k-9k' AS bucket, 3 AS sort_order),
            struct('bal 0-5k' AS bucket, 2 AS sort_order),
            struct('bal <=0' AS bucket, 1 AS sort_order)))
        ),
        agg AS (
          SELECT c_mktsegment, bucket, count(*) AS n_customers
          FROM holders GROUP BY c_mktsegment, bucket
        ),
        totals AS (
          SELECT c_mktsegment, count(*) AS total FROM holders GROUP BY c_mktsegment
        )
        SELECT a.c_mktsegment, a.bucket, s.sort_order, a.n_customers,
               CAST(a.n_customers AS DOUBLE) / t.total AS customer_share
        FROM agg a
        LEFT JOIN sort_orders s ON a.bucket = s.bucket
        LEFT JOIN totals t ON a.c_mktsegment = t.c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# §2.4 group-by collect-to-list with pinned order (lambda x: x.to_list(),
# protocol_data_warehouse.py:368-374) — fingerprinted so the hash compare is
# representation-independent.
# ---------------------------------------------------------------------------
@register(
    "ordered_collect_fingerprint",
    oracle="""
    SELECT user_id,
           md5(string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)) AS events_md5,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
    doc="§2.4 collect-to-list ordered via sort_array(collect_list) (protocol_data_warehouse.py:368-374)",
)
def ordered_collect_fingerprint(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.md5(
            F.concat_ws(
                ",",
                # sort numerically BEFORE stringifying — a string sort would
                # order '10' before '9' and diverge from the oracle's
                # ORDER BY event_id
                F.transform(
                    F.sort_array(F.collect_list("event_id")), lambda x: x.cast("string")
                ),
            )
        ).alias("events_md5"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# §2.11 grouped-map np.interp (liquidity_depth, protocol_data_warehouse.py:
# 362-395) — applyInPandas with a pure-SQL piecewise-linear oracle.
# ---------------------------------------------------------------------------
_TARGETS = [2.5, 5.0, 10.0, 50.0, 120.0]

_INTERP_ORACLE = f"""
WITH pts AS (
  SELECT l_returnflag AS grp,
         CAST(l_quantity AS DOUBLE) AS x,
         avg(l_extendedprice) AS y
  FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS DOUBLE)
),
tg AS (SELECT unnest([{", ".join(str(x) for x in _TARGETS)}]) AS tx),
lo AS (
  SELECT p.grp, t.tx, max(p.x) AS x0
  FROM pts p JOIN tg t ON p.x <= t.tx GROUP BY p.grp, t.tx
),
hi AS (
  SELECT p.grp, t.tx, min(p.x) AS x1
  FROM pts p JOIN tg t ON p.x >= t.tx GROUP BY p.grp, t.tx
),
grid AS (SELECT g.grp, t.tx FROM (SELECT DISTINCT grp FROM pts) g CROSS JOIN tg t)
SELECT gr.grp AS grp, gr.tx AS target_x,
       round(CASE
         WHEN lo.x0 IS NULL THEN y1.y           -- clamp below range (np.interp)
         WHEN hi.x1 IS NULL THEN y0.y           -- clamp above range
         WHEN lo.x0 = hi.x1 THEN y0.y
         ELSE y0.y + (gr.tx - lo.x0) * (y1.y - y0.y) / (hi.x1 - lo.x0)
       END, 6) AS interp_y
FROM grid gr
LEFT JOIN lo ON gr.grp = lo.grp AND gr.tx = lo.tx
LEFT JOIN hi ON gr.grp = hi.grp AND gr.tx = hi.tx
LEFT JOIN pts y0 ON gr.grp = y0.grp AND lo.x0 = y0.x
LEFT JOIN pts y1 ON gr.grp = y1.grp AND hi.x1 = y1.x
"""


@register(
    "grouped_linear_interp",
    oracle=_INTERP_ORACLE,
    doc="§2.11 applyInPandas np.interp per group (protocol_data_warehouse.py:368-384) vs SQL piecewise-linear oracle",
)
def grouped_linear_interp(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pts = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("double").alias("x"),
    ).agg(F.avg("l_extendedprice").alias("y"))

    def interp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("x")
        out = pd.DataFrame(
            {
                "grp": pdf["grp"].iloc[0],
                "target_x": _TARGETS,
                "interp_y": np.round(
                    np.interp(np.array(_TARGETS), pdf["x"], pdf["y"]), 6
                ),
            }
        )
        return out

    return pts.groupBy("grp").applyInPandas(
        interp, schema="grp string, target_x double, interp_y double"
    )


# ---------------------------------------------------------------------------
# Orchestration: backfill a date range through the lake→warehouse→datamart
# asset graph (plans/orchestration.py + plans/events_pipeline.py), every
# layer written via TableStore dynamic partition overwrite, result read back
# from the store. Certifies the reference's partitioned-run entry point
# (aave_data/__init__.py:374-434) end-to-end against a plain-SQL oracle.
# ---------------------------------------------------------------------------
_ORCH_START, _ORCH_END = "2024-01-01", "2024-01-07"


@register(
    "orchestration_backfill_run",
    oracle=f"""
    WITH lake AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             sum(value) AS total_value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '{_ORCH_START}' AND DATE '{_ORCH_END}'
      GROUP BY 1, 2
    ), wh AS (
      SELECT day,
             CAST(sum(n_events) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_users,
             sum(total_value) AS total_value
      FROM lake GROUP BY day
    )
    SELECT CAST(day AS VARCHAR) AS day, n_events, n_users, total_value,
           total_value / lag(total_value) OVER (ORDER BY day) AS day_over_day
    FROM wh
    """,
    doc=(
        "partitioned-run orchestration: backfill 7 daily partitions through "
        "lake→warehouse→datamart via TableStore dynamic partition overwrite "
        "(ref aave_data/__init__.py:374-434), read the datamart table back"
    ),
)
def orchestration_backfill_run(spark, sf_dir):
    import os
    import tempfile

    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans.events_pipeline import events_pipeline_graph
    from aave_etl_spark.plans.orchestration import backfill

    # deterministic per-sf store root: repeat invocations (bench passes,
    # driver cert) OVERWRITE the same tables — bounded disk, and each
    # re-run additionally exercises the idempotent-overwrite path
    store_root = os.path.join(
        tempfile.gettempdir(),
        "aave_etl_spark_orch",
        os.path.basename(sf_dir.rstrip("/")),
    )
    store = TableStore(spark, store_root)
    graph = events_pipeline_graph()
    backfill(
        spark,
        store,
        graph,
        _ORCH_START,
        _ORCH_END,
        markets=(),
        resources={"events": t(spark, sf_dir, "events")},
    )
    return store.read("datamart_day_summary").select(
        F.col("day").cast("string").alias("day"),
        "n_events",
        "n_users",
        "total_value",
        "day_over_day",
    )


# ---------------------------------------------------------------------------
# K2 append-only end-to-end: the aave_token_liquidity_depth shape
# (protocol_data_lake.py:1904-2089 — non-idempotent append per fetch, the
# reference's append io manager aave_data/__init__.py:106-115) + the
# fetch_time-latest read (aave_dbt aave_token_liquidity_depth_latest.sql:16).
# Three deterministic sweep snapshots APPEND through TableStore (the table
# is reset first so re-runs stay bounded), then the latest-model SQL runs
# over the STORE read — certifying the append layout + max-fetch_time
# filter from at-rest data, not a fixture view.
# ---------------------------------------------------------------------------
_DEPTH_SNAPSHOT = """
SELECT TIMESTAMP '2024-06-0{idx} 00:00:00' AS fetch_time,
  'AAVE' AS from_asset, CAST(90 AS DOUBLE) + {idx} AS from_asset_price,
  CAST(g.g AS DOUBLE) * 100000 AS from_amount_usd,
  CAST(g.g AS DOUBLE) * 100000 / (CAST(90 AS DOUBLE) + {idx}) AS from_amount_native,
  'USDC' AS to_asset, CAST(1 AS DOUBLE) AS to_asset_price,
  CAST(g.g AS DOUBLE) * 100000 * (1 - CAST(g.g AS DOUBLE) * 0.002 * {idx}) AS to_amount_usd,
  CAST(g.g AS DOUBLE) * 100000 * (1 - CAST(g.g AS DOUBLE) * 0.002 * {idx}) AS to_amount_native,
  CAST(g.g AS DOUBLE) * 0.002 * {idx} AS price_impact
FROM (VALUES (1), (2), (3), (4), (5)) AS g(g)
"""

_DEPTH_LATEST_COLS = (
    "from_asset, from_asset_price, from_amount_native, from_amount_usd,"
    " to_asset, to_asset_price, to_amount_native, to_amount_usd, price_impact"
)


@register(
    "liquidity_depth_append_store",
    oracle=f"""
    WITH aave_token_liquidity_depth AS (
      {_DEPTH_SNAPSHOT.format(idx=1)}
      UNION ALL
      {_DEPTH_SNAPSHOT.format(idx=2)}
      UNION ALL
      {_DEPTH_SNAPSHOT.format(idx=3)}
    )
    SELECT {_DEPTH_LATEST_COLS}
    FROM aave_token_liquidity_depth
    WHERE fetch_time = (SELECT max(fetch_time) FROM aave_token_liquidity_depth)
    """,
    doc=(
        "K2 append-only end-to-end: three sweep snapshots appended through"
        " TableStore (reference append io manager), then the"
        " aave_token_liquidity_depth_latest model's max-fetch_time read"
        " runs over the STORE table"
    ),
)
def liquidity_depth_append_store(spark, sf_dir):
    import os

    from aave_etl_spark.datamart.models import MODELS
    from aave_etl_spark.io.table_store import TableStore

    from aave_etl_spark.io.scratch import session_scratch_dir

    # keyed by the Spark application id: the reset+append+read sequence is
    # NOT concurrency-safe across processes (one harness rmtree-ing while
    # another reads → flaky max-fetch_time rows), so each session gets a
    # private store; same-session re-runs still reuse (and reset) one root,
    # and the helper sweeps dead sessions' roots so /tmp stays bounded
    store_root = session_scratch_dir(
        spark, "aave_etl_spark_depth", os.path.basename(sf_dir.rstrip("/"))
    )
    store = TableStore(spark, store_root)
    # reset so repeat invocations (bench passes, driver cert) exercise the
    # SAME three-append sequence with bounded disk
    store.drop("aave_token_liquidity_depth")
    for idx in (1, 2, 3):
        snap = spark.sql(_DEPTH_SNAPSHOT.format(idx=idx))
        store.write(snap, "aave_token_liquidity_depth", append_only=True)
    store.read("aave_token_liquidity_depth").createOrReplaceTempView(
        "aave_token_liquidity_depth"
    )
    # the dbt model SQL verbatim (fetch_time-latest filter,
    # aave_token_liquidity_depth_latest.sql:16)
    return spark.sql(MODELS["aave_token_liquidity_depth_latest"].sql)


# ---------------------------------------------------------------------------
# CDC MERGE certified from the store: a change log (updates x2 price,
# deletes, inserts of fresh keys) merges into the status-partitioned
# orders snapshot through TableStore.merge — the Delta-style MERGE INTO
# re-expressed as partition-pruned anti-join + dynamic partition
# overwrite — and the certified read is the post-merge table, which must
# equal the oracle's closed-form final state exactly.
# ---------------------------------------------------------------------------
@register(
    "cdc_merge_store",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(price, 6) AS o_totalprice
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 10 <> 1
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 = 2
    ) x
    """,
    doc=(
        "CDC MERGE INTO certified at rest: updates (price x2 on keys %10=0),"
        " deletes (%10=1), inserts (fresh keys from %10=2) merged into the"
        " status-partitioned orders snapshot via partition-pruned anti-join"
        " + dynamic partition overwrite; the post-merge table equals the"
        " closed-form final state"
    ),
)
def cdc_merge_store(spark, sf_dir):
    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(
        spark, session_scratch_dir(spark, "aave_etl_spark_cdc", corpus_key(sf_dir))
    )
    tbl = "orders_snapshot"

    def _at_rest():
        return store.read(tbl).select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.round("o_totalprice", 6).alias("o_totalprice"),
        )

    if store.is_complete(tbl) and store.exists(tbl):
        return _at_rest()
    store.clear_complete(tbl)
    store.drop(tbl)
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    store.write(base, tbl, partition_cols=["o_orderstatus"])
    key = F.col("o_orderkey")
    changes = (
        base.filter(key % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("op", F.lit("U"))
        .unionByName(base.filter(key % 10 == 1).withColumn("op", F.lit("D")))
        .unionByName(
            base.filter(key % 10 == 2)
            .withColumn("o_orderkey", key + 10_000_000)
            .withColumn("op", F.lit("I"))
        )
    )
    store.merge(
        changes, tbl, ["o_orderkey"],
        partition_cols=["o_orderstatus"], op_col="op",
    )
    store.mark_complete(tbl)
    return _at_rest()


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build certified against a pure-window oracle: the
# orders change log (one row per order, keyed by customer, ordered by
# order date with the order key as the deterministic tie-break) collapses
# into versioned rows with half-open validity intervals — the Kimball
# Type-2 contract every dimensional warehouse needs, derived with two
# key-partitioned windows (one shuffle, no iteration, no global window).
# ---------------------------------------------------------------------------
@register(
    "scd2_orders_dim",
    oracle="""
    WITH c AS (
      SELECT o_custkey, o_orderstatus, o_orderpriority, o_orderdate, o_orderkey,
             (o_orderstatus IS DISTINCT FROM lag(o_orderstatus) OVER w)
             OR (o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w)
             AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    v AS (SELECT * FROM c WHERE chg)
    SELECT o_custkey, o_orderstatus, o_orderpriority,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER w2 AS effective_to,
           (lead(o_orderdate) OVER w2 IS NULL) AS is_current,
           CAST(row_number() OVER w2 AS BIGINT) AS version
    FROM v
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc=(
        "SCD Type-2 snapshot from a change log: per-customer order"
        " status/priority versions with half-open validity intervals"
        " (effective_from/effective_to/is_current/version), no-op changes"
        " collapsed NULL-safely — two key-partitioned windows, one shuffle"
    ),
)
def scd2_orders_dim(spark, sf_dir):
    from aave_etl_spark.operators.scd import scd2_snapshot

    return scd2_snapshot(
        t(spark, sf_dir, "orders"),
        key_cols=["o_custkey"],
        attr_cols=["o_orderstatus", "o_orderpriority"],
        ts_col="o_orderdate",
        seq_cols=["o_orderkey"],
    ).select(
        "o_custkey", "o_orderstatus", "o_orderpriority",
        "effective_from", "effective_to", "is_current", "version",
    )


# ---------------------------------------------------------------------------
# The REAL treasury measure-join transforms (warehouse/measures.py —
# reference data_warehouse.py:84-227 atoken, :236-335 non-atoken) under the
# driver gate: lake-level fixtures from `nation`, the Spark transform runs
# verbatim, and the oracle mirrors the classify/quadrant/join/fillna logic
# in SQL. Previously these transforms were pytest-only (the datamart heads
# consume their OUTPUT as fixture views).
# ---------------------------------------------------------------------------
_WM_DAYS = (
    "(VALUES (TIMESTAMP '2023-06-01'), (TIMESTAMP '2023-06-02')) AS d(block_day)"
)
_WM_DD = "CAST(extract(day FROM d.block_day) AS DOUBLE) * 0.5"

# markets: polygon_v3 (fees/minted arm), ethereum_v2, ethereum_v1 (the
# ETH→WETH symbol-fixup arm)
_WM_BASE = """
SELECT n.n_nationkey AS k, lower(n.n_name) AS nm,
  CASE n.n_nationkey % 3 WHEN 0 THEN 'polygon_v3' WHEN 1 THEN 'ethereum_v2'
       ELSE 'ethereum_v1' END AS market,
  CASE n.n_nationkey % 3 WHEN 0 THEN 'polygon' ELSE 'ethereum' END AS chain,
  CASE n.n_nationkey % 3 WHEN 0 THEN '0xcol_pol' WHEN 1 THEN '0xcol_eth2'
       ELSE '0xcol_eth1' END AS collector
FROM nation n
"""

# pre-fixup symbol: ethereum_v1 even-k rows carry 'ETH' (the fixup target)
_WM_SYM = (
    "CASE WHEN b.market = 'ethereum_v1' AND b.k % 2 = 0 THEN 'ETH'"
    " ELSE concat('a', b.nm) END"
)

_WM_BAL = f"""
SELECT b.collector, b.market, concat('0xt_', b.nm) AS token,
  {_WM_SYM} AS symbol,
  CAST(100 + b.k AS BIGINT) AS block_height, d.block_day,
  CAST(1000 AS DOUBLE) + CAST(b.k AS DOUBLE) * 16 + {_WM_DD} AS balance,
  CAST(900 AS DOUBLE) + CAST(b.k AS DOUBLE) AS scaled_balance
FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS}
"""

# transfer arms: IN-from-internal, IN-from-unknown (external default, two
# rows on k%4=0 so the day rollup sums), OUT-to-internal, OUT-to-external,
# plus an orphan token no balance row drives (dropped by the left join)
_WM_TR = f"""
SELECT t.transfer_type AS transfers_transfer_type,
  t.from_address AS transfers_from_address,
  t.to_address AS transfers_to_address,
  t.token AS transfers_contract_address,
  t.symbol AS transfers_contract_symbol,
  t.block_day, t.amount AS amount_transferred, t.market, t.collector
FROM (
  SELECT 'IN' AS transfer_type, '0xint1' AS from_address,
         b.collector AS to_address, concat('0xt_', b.nm) AS token,
         {_WM_SYM} AS symbol, d.block_day, CAST(3 AS DOUBLE) AS amount,
         b.market, b.collector
  FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k % 2 = 0
  UNION ALL
  SELECT 'IN', '0xext9', b.collector, concat('0xt_', b.nm), {_WM_SYM},
         d.block_day, CAST(1.5 AS DOUBLE), b.market, b.collector
  FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k % 2 = 0
  UNION ALL
  SELECT 'IN', '0xext8', b.collector, concat('0xt_', b.nm), {_WM_SYM},
         d.block_day, CAST(0.25 AS DOUBLE), b.market, b.collector
  FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k % 4 = 0
  UNION ALL
  SELECT 'OUT', b.collector, '0xint1', concat('0xt_', b.nm), {_WM_SYM},
         d.block_day, CAST(0.5 AS DOUBLE), b.market, b.collector
  FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k % 3 = 0
  UNION ALL
  SELECT 'OUT', b.collector, '0xext7', concat('0xt_', b.nm), {_WM_SYM},
         d.block_day, CAST(2 AS DOUBLE), b.market, b.collector
  FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k % 3 = 1
  UNION ALL
  SELECT 'IN', '0xext9', b.collector, '0xt_orphan', 'aORPHAN',
         d.block_day, CAST(9 AS DOUBLE), b.market, b.collector
  FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k = 1
) t
"""

_WM_FEES = f"""
SELECT b.market, concat('0xr_', b.nm) AS reserve, b.nm AS symbol,
  concat('0xt_', b.nm) AS atoken, concat('a', b.nm) AS atoken_symbol,
  CAST(100 + b.k AS BIGINT) AS block_height, d.block_day,
  CAST(10 AS DOUBLE) + CAST(b.k AS DOUBLE) * 0.5 AS accrued_fees_scaled,
  CAST(1.25 AS DOUBLE) AS liquidity_index,
  (CAST(10 AS DOUBLE) + CAST(b.k AS DOUBLE) * 0.5) * 1.25 AS accrued_fees
FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.market = 'polygon_v3'
"""

_WM_MINTED = f"""
SELECT b.market, concat('0xr_', b.nm) AS reserve, b.nm AS symbol,
  concat('0xt_', b.nm) AS atoken, concat('a', b.nm) AS atoken_symbol,
  CAST(100 + b.k AS BIGINT) AS block_height, d.block_day,
  CAST(2 AS DOUBLE) + CAST(b.k AS DOUBLE) * 0.25 AS minted_to_treasury_amount,
  CAST(2.5 AS DOUBLE) + CAST(b.k AS DOUBLE) * 0.25 AS minted_amount
FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS}
WHERE b.market = 'polygon_v3' AND b.k % 2 = 0
"""

_WM_IA = """
SELECT * FROM (VALUES ('polygon', '0xint1', 'aave_internal'),
                      ('ethereum', '0xint1', 'aave_internal'))
  AS v(chain, contract_address, internal_external)
"""

_WM_MC = f"SELECT DISTINCT market, chain FROM ({_WM_BASE}) b"

# SQL twin of warehouse/measures.py classify_transfers + quadrant agg —
# shared by both measure oracles (keyed by the caller's group columns)
_WM_CLASSIFIED = f"""
  SELECT trs.*, coalesce(c.internal_external, 'aave_external') AS ie
  FROM (
    SELECT t.market, t.collector, mc.chain,
           t.transfers_transfer_type AS transfer_type,
           t.transfers_from_address AS from_address,
           t.transfers_to_address AS to_address,
           t.transfers_contract_address AS token,
           t.transfers_contract_symbol AS symbol,
           t.block_day, t.amount_transferred
    FROM tr t LEFT JOIN mc ON t.market = mc.market
  ) trs
  LEFT JOIN ia c
    ON trs.chain = c.chain
   AND c.contract_address = CASE WHEN trs.transfer_type = 'IN'
                                 THEN trs.from_address ELSE trs.to_address END
  WHERE trs.transfer_type IN ('IN', 'OUT')
"""

_WM_QUAD_SUMS = """
    sum(CASE WHEN ie = 'aave_external' AND transfer_type = 'IN'
             THEN amount_transferred ELSE 0 END) AS tokens_in_external,
    sum(CASE WHEN ie = 'aave_internal' AND transfer_type = 'IN'
             THEN amount_transferred ELSE 0 END) AS tokens_in_internal,
    sum(CASE WHEN ie = 'aave_external' AND transfer_type = 'OUT'
             THEN amount_transferred ELSE 0 END) AS tokens_out_external,
    sum(CASE WHEN ie = 'aave_internal' AND transfer_type = 'OUT'
             THEN amount_transferred ELSE 0 END) AS tokens_out_internal
"""


@register(
    "warehouse_atoken_measures",
    oracle=f"""
    WITH bal AS ({_WM_BAL}), tr AS ({_WM_TR}), fees AS ({_WM_FEES}),
    minted AS ({_WM_MINTED}), ia AS ({_WM_IA}), mc AS ({_WM_MC}),
    classified AS ({_WM_CLASSIFIED}),
    quad AS (
      SELECT market, chain, collector, token, symbol, block_day,
      {_WM_QUAD_SUMS}
      FROM classified GROUP BY 1, 2, 3, 4, 5, 6
    ),
    f AS (SELECT market, atoken AS token, atoken_symbol AS symbol,
                 block_height, block_day, accrued_fees FROM fees),
    m AS (SELECT market, atoken AS token, block_day,
                 minted_to_treasury_amount, minted_amount FROM minted),
    joined AS (
      SELECT b.collector, b.market, b.token, b.symbol, b.block_height,
             b.block_day, b.balance, b.scaled_balance, mc.chain,
             f.accrued_fees, q.tokens_in_external, q.tokens_in_internal,
             q.tokens_out_external, q.tokens_out_internal,
             m.minted_to_treasury_amount, m.minted_amount
      FROM bal b
      LEFT JOIN mc ON b.market = mc.market
      LEFT JOIN f ON b.market = f.market AND b.token = f.token
                 AND b.symbol = f.symbol AND b.block_height = f.block_height
                 AND b.block_day = f.block_day
      LEFT JOIN quad q ON b.market = q.market AND mc.chain = q.chain
                      AND b.collector = q.collector AND b.token = q.token
                      AND b.symbol = q.symbol AND b.block_day = q.block_day
      LEFT JOIN m ON b.market = m.market AND b.token = m.token
                 AND b.block_day = m.block_day
    )
    SELECT collector, market, token,
      CASE WHEN market = 'ethereum_v1' AND symbol = 'ETH' THEN 'WETH'
           ELSE symbol END AS symbol,
      block_height, block_day, balance, scaled_balance, chain,
      coalesce(accrued_fees, 0) AS accrued_fees,
      coalesce(tokens_in_external, 0) AS tokens_in_external,
      coalesce(tokens_in_internal, 0) AS tokens_in_internal,
      coalesce(tokens_out_external, 0) AS tokens_out_external,
      coalesce(tokens_out_internal, 0) AS tokens_out_internal,
      coalesce(minted_to_treasury_amount, 0) AS minted_to_treasury_amount,
      coalesce(minted_amount, 0) AS minted_amount
    FROM joined
    """,
    doc=(
        "REAL warehouse atoken measure-join transform under the driver gate:"
        " classify IN/OUT transfers vs the internal-address dim, quadrant"
        " conditional sums, fees/minted left joins, ETH->WETH fixup,"
        " fill-0 after all joins (data_warehouse.py:84-227)"
    ),
)
def warehouse_atoken_measures(spark, sf_dir):
    from aave_etl_spark.warehouse.measures import atoken_measures_by_day

    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    out = atoken_measures_by_day(
        spark.sql(_WM_BAL),
        spark.sql(_WM_TR),
        spark.sql(_WM_FEES),
        spark.sql(_WM_MINTED),
        spark.sql(_WM_IA),
        spark.sql(_WM_MC),
    )
    return out.select(
        "collector", "market", "token", "symbol", "block_height", "block_day",
        "balance", "scaled_balance", "chain", "accrued_fees",
        "tokens_in_external", "tokens_in_internal", "tokens_out_external",
        "tokens_out_internal", "minted_to_treasury_amount", "minted_amount",
    )


_WM_NBAL = f"""
SELECT b.collector AS contract_address, b.chain, b.market,
  concat('0xt_', b.nm) AS token, CAST(18 AS BIGINT) AS decimals,
  {_WM_SYM} AS symbol,
  CAST(100 + b.k AS BIGINT) AS block_height, d.block_day,
  CAST(500 AS DOUBLE) + CAST(b.k AS DOUBLE) * 8 + {_WM_DD} AS balance
FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k % 2 = 0
"""

# paraswap fees stack in by union + re-aggregate, not a join: one arm
# matches an existing (day, contract, token, symbol) key (k%4=0 via the
# shared collector/token), one arm is fee-only rows (k%4=2)
_WM_PFEES = f"""
SELECT d.block_day, b.chain, b.market, b.collector AS paraswap_fee_claimer,
  concat('0xt_', b.nm) AS reserve, {_WM_SYM} AS symbol,
  CAST(0.125 AS DOUBLE) * CAST(b.k + 1 AS DOUBLE) AS claimable
FROM ({_WM_BASE}) b CROSS JOIN {_WM_DAYS} WHERE b.k % 4 IN (0, 2)
"""


@register(
    "warehouse_non_atoken_measures",
    oracle=f"""
    WITH bal AS ({_WM_NBAL}), tr AS ({_WM_TR}), ia AS ({_WM_IA}),
    pfees AS ({_WM_PFEES}), mc AS ({_WM_MC}),
    classified AS ({_WM_CLASSIFIED}),
    quad AS (
      SELECT market, chain, collector AS contract_address, token, block_day,
      {_WM_QUAD_SUMS}
      FROM classified GROUP BY 1, 2, 3, 4, 5
    ),
    joined AS (
      SELECT b.block_day, b.chain, b.market, b.contract_address, b.token,
             b.symbol, b.balance,
             q.tokens_in_external, q.tokens_in_internal,
             q.tokens_out_external, q.tokens_out_internal
      FROM bal b
      LEFT JOIN quad q ON b.market = q.market AND b.chain = q.chain
                      AND b.contract_address = q.contract_address
                      AND b.token = q.token AND b.block_day = q.block_day
    ),
    stacked AS (
      SELECT block_day, chain, market, contract_address, token, symbol,
             coalesce(balance, 0) AS balance,
             coalesce(tokens_in_external, 0) AS tokens_in_external,
             coalesce(tokens_in_internal, 0) AS tokens_in_internal,
             coalesce(tokens_out_external, 0) AS tokens_out_external,
             coalesce(tokens_out_internal, 0) AS tokens_out_internal,
             CAST(0 AS DOUBLE) AS paraswap_fees_claimable
      FROM joined
      UNION ALL
      SELECT block_day, chain, market, paraswap_fee_claimer, reserve, symbol,
             0, 0, 0, 0, 0, claimable
      FROM pfees
    )
    SELECT block_day, chain, market, contract_address, token, symbol,
           sum(balance) AS balance,
           sum(tokens_in_external) AS tokens_in_external,
           sum(tokens_in_internal) AS tokens_in_internal,
           sum(tokens_out_external) AS tokens_out_external,
           sum(tokens_out_internal) AS tokens_out_internal,
           sum(paraswap_fees_claimable) AS paraswap_fees_claimable
    FROM stacked GROUP BY 1, 2, 3, 4, 5, 6
    """,
    doc=(
        "REAL warehouse non-atoken measure transform under the driver gate:"
        " holder-keyed transfer classification + the paraswap-fee"
        " union-and-reaggregate stack (data_warehouse.py:236-335)"
    ),
)
def warehouse_non_atoken_measures(spark, sf_dir):
    from aave_etl_spark.warehouse.measures import non_atoken_measures_by_day

    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    out = non_atoken_measures_by_day(
        spark.sql(_WM_NBAL),
        spark.sql(_WM_TR),
        spark.sql(_WM_IA),
        spark.sql(_WM_PFEES),
        spark.sql(_WM_MC),
    )
    return out.select(
        "block_day", "chain", "market", "contract_address", "token", "symbol",
        "balance", "tokens_in_external", "tokens_in_internal",
        "tokens_out_external", "tokens_out_internal", "paraswap_fees_claimable",
    )


# ---------------------------------------------------------------------------
# Driver-certified CONNECTOR decode chain: v3_minted_to_treasury_by_day
# (sources/connectors.py — reference data_lake.py:929-1092) runs against a
# deterministic fake transport whose event payloads are derived from
# `nation`; the oracle derives the EXPECTED decode results independently
# (integer formulas, never hex), so the JVM-side uint256 limb decode, the
# topic→address extraction, the broadcast token join, the tx-hash
# semi-join and the group-to-day rollup are all value-hash-gated.
# ---------------------------------------------------------------------------
@register(
    "connector_minted_decode",
    oracle="""
    WITH b AS (
      SELECT n_nationkey AS k, lower(n_name) AS nm FROM nation
      WHERE n_nationkey % 5 != 4  -- k%5=4 reserves get no Mint twin → dropped
    )
    SELECT 'bench' AS market,
      '0x' || printf('%040x', k) AS reserve,
      nm AS symbol,
      '0x' || printf('%040x', 1000000 + k) AS atoken,
      'a' || nm AS atoken_symbol,
      CAST(500 + k AS BIGINT) AS block_height,
      TIMESTAMP '2024-03-10 00:00:00' AS block_day,
      -- mirror the connector's per-event divide THEN sum (summing raw
      -- integers first changes the double rounding)
      CAST((k+1) * 1000000 + k AS DOUBLE) / 1000000.0
        + CAST((k+2) * 1000000 AS DOUBLE) / 1000000.0 AS minted_to_treasury_amount,
      CAST((k+1) * 1000000 + k + 3 AS DOUBLE) / 1000000.0
        + CAST((k+2) * 1000000 + 3 AS DOUBLE) / 1000000.0 AS minted_amount
    FROM b
    """,
    doc=(
        "connector certification: the MintedToTreasury/Mint ABI-decode"
        " chain (uint256 limb decode, topic address, token join, tx-hash"
        " semi-join, group-to-day rollup) vs an integer-derived oracle"
    ),
)
def connector_minted_decode(spark, sf_dir):
    from aave_etl_spark.sources import connectors

    # dim-sized driver collect to BUILD the fake transport's payloads
    nat = sorted(
        (int(r.n_nationkey), r.n_name.lower())
        for r in t(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect()
    )

    def res(k: int) -> str:
        return "0x" + format(k, "040x")

    def atok(k: int) -> str:
        return "0x" + format(10**6 + k, "040x")

    def word(n: int) -> str:
        return format(n, "064x")

    minted_items, mint_items = [], []
    for k, _nm in nat:
        a1 = (k + 1) * 10**6 + k
        a2 = (k + 2) * 10**6
        for tag, amt in (("a", a1), ("b", a2)):
            minted_items.append({
                "block_signed_at": 1710000000, "block_height": 900 + k,
                "tx_hash": f"0xTX{k}{tag}",
                "topics": ["0xMTT", "0x" + "0" * 24 + res(k)[2:]],
                "sender_address": "0xPOOL",
                "raw_log_data": "0x" + word(amt),
            })
            if k % 5 != 4:  # k%5=4 txs get NO Mint twin → inner-join drop
                mint_items.append({
                    "block_signed_at": 1710000000, "block_height": 900 + k,
                    "tx_hash": f"0xTX{k}{tag}",
                    "topics": ["0xMINT"],
                    "sender_address": atok(k),
                    # 3×uint256 Mint data; only word 0 (value) is decoded
                    "raw_log_data": "0x" + word(amt + 3) + word(1) + word(10**27),
                })
    # an orphan MintedToTreasury for a reserve absent from the token dim
    minted_items.append({
        "block_signed_at": 1710000000, "block_height": 999,
        "tx_hash": "0xTXORPHAN",
        "topics": ["0xMTT", "0x" + "0" * 24 + "ff" * 20],
        "sender_address": "0xPOOL", "raw_log_data": "0x" + word(123),
    })

    def transport(req):
        if req["topic"] == connectors.MINTED_TO_TREASURY_TOPIC:
            return {"items": minted_items}
        return {"items": mint_items}

    tokens = local_df(spark, 
        [(res(k), nm, 6, atok(k), "a" + nm, 500 + k) for k, nm in nat],
        "reserve string, symbol string, decimals long, atoken string,"
        "atoken_symbol string, block_height long",
    )
    return connectors.v3_minted_to_treasury_by_day(
        spark, transport, tokens, 1, 999_999, 1, "0xpool", "bench", "2024-03-10"
    )


# ---------------------------------------------------------------------------
# Driver-certified S9 parser: protocol_data_by_day's full unit-shift
# matrix (bps/1e4 config, ray/1e27 rates/indices, raw/10**decimals
# amounts, v2→v3 fill, the available-liquidity invariant) against a
# field-unpivoted oracle that derives every expected value from the same
# integer formulas. Raw fixtures are small-integer × power-of-two so every
# double conversion is EXACT on both engines; odd-k reserves get v2
# payloads (v3-only fields absent → filled defaults certified too).
# ---------------------------------------------------------------------------
def _s9_payload(k: int, dec: int) -> dict:
    p = {
        "ltv": 8000 + k, "liquidation_threshold": 8250 + k,
        "liquidation_bonus": 10500 + k, "reserve_factor": 1000 + k,
        "usage_as_collateral_enabled": k % 2 == 0, "borrowing_enabled": k % 3 != 0,
        "stable_borrow_rate_enabled": k % 4 == 0, "is_active": True,
        "is_frozen": k % 5 == 0,
        "atoken_supply": (k + 2) * 2**40, "stable_debt": (k % 5) * 2**38,
        "variable_debt": (k % 7) * 2**39,
        "liquidity_rate": (k + 1) * 2**80, "variable_borrow_rate": (k + 2) * 2**80,
        "stable_borrow_rate": (k + 3) * 2**80, "liquidity_index": (k + 5) * 2**80,
        "variable_borrow_index": (k + 6) * 2**80,
        "last_update_timestamp": 1710000000 + k,
    }
    if k % 2 == 0:  # v3 payload: the optional field block present
        p.update({
            "average_stable_rate": (k + 4) * 2**80,
            "is_paused": k % 6 == 0, "siloed_borrowing": k % 7 == 0,
            "reserve_emode_category": k % 3, "borrow_cap": k * 10,
            "supply_cap": k * 100, "unbacked_mint_cap": k, "debt_ceiling": k * 7,
            "liquidation_protocol_fee": 1000 + 2 * k,
            "unbacked_atokens": (k % 3) * 2**36,
            "scaled_accrued_to_treasury": (k % 4) * 2**35,
        })
    return p


# field → (SQL expected-value expr in k/dec, guarded for odd-k v2 fill)
_S9_FIELDS = {
    "ltv": "CAST(8000 + k AS DOUBLE) / 1e4",
    "liquidation_threshold": "CAST(8250 + k AS DOUBLE) / 1e4",
    "liquidation_bonus": "CAST(10500 + k AS DOUBLE) / 1e4",
    "reserve_factor": "CAST(1000 + k AS DOUBLE) / 1e4",
    "atoken_supply": "CAST((k+2) AS DOUBLE) * power(2.0, 40) / power(10.0, dec)",
    "stable_debt": "CAST((k%5) AS DOUBLE) * power(2.0, 38) / power(10.0, dec)",
    "variable_debt": "CAST((k%7) AS DOUBLE) * power(2.0, 39) / power(10.0, dec)",
    "available_liquidity": (
        "CAST((k+2) AS DOUBLE) * power(2.0, 40) / power(10.0, dec)"
        " - CAST((k%5) AS DOUBLE) * power(2.0, 38) / power(10.0, dec)"
        " - CAST((k%7) AS DOUBLE) * power(2.0, 39) / power(10.0, dec)"
    ),
    "liquidity_rate": "CAST(k+1 AS DOUBLE) * power(2.0, 80) / 1e27",
    "variable_borrow_rate": "CAST(k+2 AS DOUBLE) * power(2.0, 80) / 1e27",
    "stable_borrow_rate": "CAST(k+3 AS DOUBLE) * power(2.0, 80) / 1e27",
    "average_stable_rate": (
        "CASE WHEN k % 2 = 0 THEN CAST(k+4 AS DOUBLE) * power(2.0, 80) / 1e27"
        " ELSE 0.0 END"
    ),
    "liquidity_index": "CAST(k+5 AS DOUBLE) * power(2.0, 80) / 1e27",
    "variable_borrow_index": "CAST(k+6 AS DOUBLE) * power(2.0, 80) / 1e27",
    "liquidation_protocol_fee": (
        "CASE WHEN k % 2 = 0 THEN CAST(1000 + 2*k AS DOUBLE) / 1e4 ELSE 0.0 END"
    ),
    "unbacked_atokens": (
        "CASE WHEN k % 2 = 0 THEN CAST(k%3 AS DOUBLE) * power(2.0, 36)"
        " / power(10.0, dec) ELSE 0.0 END"
    ),
    "scaled_accrued_to_treasury": (
        "CASE WHEN k % 2 = 0 THEN CAST(k%4 AS DOUBLE) * power(2.0, 35)"
        " / power(10.0, dec) ELSE 0.0 END"
    ),
    "reserve_emode_category": "CASE WHEN k % 2 = 0 THEN CAST(k%3 AS DOUBLE) ELSE 0.0 END",
    "borrow_cap": "CASE WHEN k % 2 = 0 THEN CAST(k*10 AS DOUBLE) ELSE 0.0 END",
    "supply_cap": "CASE WHEN k % 2 = 0 THEN CAST(k*100 AS DOUBLE) ELSE 0.0 END",
    "unbacked_mint_cap": "CASE WHEN k % 2 = 0 THEN CAST(k AS DOUBLE) ELSE 0.0 END",
    "debt_ceiling": "CASE WHEN k % 2 = 0 THEN CAST(k*7 AS DOUBLE) ELSE 0.0 END",
    "usage_as_collateral_enabled": "CASE WHEN k % 2 = 0 THEN 1.0 ELSE 0.0 END",
    "borrowing_enabled": "CASE WHEN k % 3 != 0 THEN 1.0 ELSE 0.0 END",
    "stable_borrow_rate_enabled": "CASE WHEN k % 4 = 0 THEN 1.0 ELSE 0.0 END",
    "is_active": "1.0",
    "is_frozen": "CASE WHEN k % 5 = 0 THEN 1.0 ELSE 0.0 END",
    "is_paused": "CASE WHEN k % 2 = 0 AND k % 6 = 0 THEN 1.0 ELSE 0.0 END",
    "siloed_borrowing": "CASE WHEN k % 2 = 0 AND k % 7 = 0 THEN 1.0 ELSE 0.0 END",
}


def _s9_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT reserve, '{f}' AS field, {expr} AS value FROM b"
        for f, expr in _S9_FIELDS.items()
    )
    return f"""
    WITH b AS (
      SELECT '0x' || printf('%040x', n_nationkey) AS reserve,
             n_nationkey AS k,
             (n_nationkey % 3) * 3 + 6 AS dec
      FROM nation
    )
    {arms}
    """


@register(
    "connector_reserve_units",
    oracle=_s9_oracle(),
    doc=(
        "connector certification: the S9 reserve-data parser's full"
        " unit-shift matrix (bps, ray, decimals, v2->v3 fill, available-"
        "liquidity invariant) unpivoted per field vs an integer-derived"
        " oracle"
    ),
)
def connector_reserve_units(spark, sf_dir):
    from datetime import datetime

    from aave_etl_spark.sources import connectors

    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF)
    nat = list(range(25))

    def res(k: int) -> str:
        return "0x" + format(k, "040x")

    payloads = {res(k): _s9_payload(k, (k % 3) * 3 + 6) for k in nat}

    def transport(req):
        return payloads[req["reserve"]]

    keys = local_df(spark, 
        [("bench", res(k), f"T{k}", (k % 3) * 3 + 6, 100 + k, datetime(2024, 3, 10))
         for k in nat],
        "market string, reserve string, symbol string, decimals long,"
        "block_height long, block_day timestamp",
    )
    out = connectors.protocol_data_by_day(keys, transport)
    fields = list(_S9_FIELDS)
    casted = out.select(
        "reserve", *[F.col(f).cast("double").alias(f) for f in fields]
    )
    return casted.unpivot(["reserve"], fields, "field", "value")


# ---------------------------------------------------------------------------
# Driver-certified S10 flatten: raw_incentives_by_day's 3-level nesting
# (reserve → a/v/s token side → rewards list) becomes one row per
# (reserve, token_type, reward). The fake payload derives from nation —
# k%3 rewards on the atoken side (zero-reward sides emit NOTHING),
# a vtoken side only on even k, stoken always absent — and the oracle
# regenerates the flattened row set with generate-series SQL.
# ---------------------------------------------------------------------------
@register(
    "connector_incentives_flatten",
    oracle="""
    WITH b AS (SELECT n_nationkey AS k FROM nation),
    a_side AS (
      SELECT k, unnest(range(0, k % 3)) AS j FROM b
    ),
    rows_ AS (
      SELECT k, j, 'atoken' AS token_type FROM a_side
      UNION ALL
      SELECT k, 0 AS j, 'vtoken' AS token_type FROM b WHERE k % 2 = 0
    )
    SELECT
      '0x' || printf('%040x', k) AS underlying_asset,
      token_type,
      '0xrw' || CAST(k AS VARCHAR) || '_' || CAST(j AS VARCHAR)
        AS reward_token_address,
      CAST(k + 1 AS DOUBLE) * power(2.0, 30) + j AS emission_per_second,
      CAST(j AS DOUBLE) * power(2.0, 20) AS token_incentives_index,
      CAST(k + j AS DOUBLE) * power(2.0, 25) AS reward_price_feed,
      CAST(2000000000 + k AS DOUBLE) AS emission_end_timestamp,
      CAST(1700000000 + j AS DOUBLE) AS incentives_last_update_timestamp
    FROM rows_
    """,
    doc=(
        "connector certification: the S10 UiIncentiveDataProvider 3-level"
        " nested flatten (reserve -> token side -> reward), zero-reward and"
        " absent sides included, vs a generate-series oracle"
    ),
)
def connector_incentives_flatten(spark, sf_dir):
    from datetime import datetime

    from aave_etl_spark.sources import connectors

    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF)
    nat = list(range(25))

    def res(k: int) -> str:
        return "0x" + format(k, "040x")

    def reward(k: int, j: int) -> dict:
        return {
            "symbol": f"RW{j}", "address": f"0xRW{k}_{j}", "oracle": "0xOR",
            "emission_per_second": (k + 1) * 2**30 + j,
            "last_update": 1700000000 + j, "index": j * 2**20,
            "emission_end": 2000000000 + k,
            "price_feed": (k + j) * 2**25, "decimals": 18,
            "precision": 18, "price_feed_decimals": 8,
        }

    def payload(k: int) -> dict:
        sides = {
            "atoken": {"token_address": f"0xA{k}", "controller": "0xC",
                       "rewards": [reward(k, j) for j in range(k % 3)]},
        }
        if k % 2 == 0:
            sides["vtoken"] = {"token_address": f"0xV{k}", "controller": "0xC",
                               "rewards": [reward(k, 0)]}
        # stoken deliberately absent — the parser must skip it
        return {"reserves": [{"underlying_asset": res(k), **sides}]}

    payloads = {k: payload(k) for k in nat}

    def transport(req):
        return payloads[req["block_height"] - 100]

    keys = local_df(spark, 
        [("bench", 100 + k, datetime(2024, 3, 10)) for k in nat],
        "market string, block_height long, block_day timestamp",
    )
    out = connectors.raw_incentives_by_day(keys, transport)
    return out.select(
        "underlying_asset",
        "token_type",
        "reward_token_address",
        "emission_per_second",
        "token_incentives_index",
        "reward_price_feed",
        F.col("emission_end_timestamp").cast("double").alias("emission_end_timestamp"),
        F.col("incentives_last_update_timestamp").cast("double").alias(
            "incentives_last_update_timestamp"
        ),
    )


# ---------------------------------------------------------------------------
# Driver-certified scan quintet: five more connector parsers under one
# union-aligned query — S7 balance decimal adjust, S16 Compound per-block
# APY compounding, S18 holders zero-balance drop, S19 Balancer
# existence→NULL, and the treasury-incentives v3/v2 dispatch. Fakes derive
# from nation with power-of-two raw values (exact doubles both engines);
# the oracle derives every expected value independently in SQL.
# ---------------------------------------------------------------------------
@register(
    "connector_scan_quintet",
    oracle="""
    WITH b AS (SELECT n_nationkey AS k FROM nation),
    s7 AS (
      SELECT 'balance' AS part,
        '0xt' || printf('%02d', k) AS k1, CAST(NULL AS VARCHAR) AS k2,
        CAST(k+1 AS DOUBLE) * power(2.0, 30) / power(10.0, 6 + (k % 3) * 3) AS v1,
        CAST(k AS DOUBLE) * power(2.0, 30) / power(10.0, 6 + (k % 3) * 3) AS v2,
        CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4
      FROM b
    ),
    s16 AS (
      SELECT 'compound' AS part, '0xc' || printf('%02d', k) AS k1, NULL AS k2,
        power(CAST(k+1 AS DOUBLE) * power(2.0, 40) / 1e18 * 7200 + 1, 365) - 1 AS v1,
        power(CAST(k+2 AS DOUBLE) * power(2.0, 40) / 1e18 * 7200 + 1, 365) - 1 AS v2,
        CAST(k+2 AS DOUBLE) * power(2.0, 41) / power(10.0, 6) AS v3,
        CAST(k+3 AS DOUBLE) * power(2.0, 41) / power(10.0, 6) AS v4
      FROM b
    ),
    s18 AS (
      -- holder j=0 has balance 0 and is DROPPED (zero-balance filter)
      SELECT 'holders' AS part,
        '0xh' || CAST(k AS VARCHAR) || '_' || CAST(j AS VARCHAR) AS k1, NULL AS k2,
        CAST(j AS DOUBLE) * power(2.0, 30) / power(10.0, 6) AS v1,
        CAST(k+1 AS DOUBLE) * power(2.0, 30) / power(10.0, 6) AS v2,
        NULL AS v3, NULL AS v4
      FROM (SELECT k, unnest(range(1, (k % 4) + 1)) AS j FROM b) h
    ),
    s19 AS (
      -- odd-k pools are pre-deployment: rate/supply NULL
      SELECT 'bpt' AS part, '0xp' || printf('%02d', k) AS k1, NULL AS k2,
        CASE WHEN k % 2 = 0
             THEN CAST(k+1 AS DOUBLE) * power(2.0, 50) / 1e18 ELSE NULL END AS v1,
        CASE WHEN k % 2 = 0
             THEN CAST(k+2 AS DOUBLE) * power(2.0, 45) / power(10.0, 18)
             ELSE NULL END AS v2,
        NULL AS v3, NULL AS v4
      FROM b
    ),
    tri AS (
      -- markets k<4: even k are v3 (one reward row per k%2+1... exactly
      -- one reward here), odd k v2 (config-token path)
      SELECT 'treasury_inc' AS part, 'm' || CAST(k AS VARCHAR) AS k1,
        CASE WHEN k % 2 = 0 THEN '0xrw' || CAST(k AS VARCHAR) ELSE '0xcfg' END AS k2,
        CAST(k+1 AS DOUBLE) * power(2.0, 35) / power(10.0, 18) AS v1,
        NULL AS v2, NULL AS v3, NULL AS v4
      FROM b WHERE k < 4
    )
    SELECT * FROM s7 UNION ALL SELECT * FROM s16 UNION ALL
    SELECT * FROM s18 UNION ALL SELECT * FROM s19 UNION ALL SELECT * FROM tri
    """,
    doc=(
        "connector certification quintet: S7 decimal adjust, S16 Compound"
        " per-block APY compounding, S18 zero-balance holder drop, S19"
        " Balancer existence->NULL, treasury-incentives v3/v2 dispatch —"
        " all vs integer-derived oracles"
    ),
)
def connector_scan_quintet(spark, sf_dir):
    from datetime import datetime
    from functools import reduce

    from aave_etl_spark.sources import connectors

    day = datetime(2024, 3, 10)
    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF)
    nat = list(range(25))
    S = "part string, k1 string, k2 string, v1 double, v2 double, v3 double, v4 double"

    # --- S7: balanceOf decimal adjust -------------------------------------
    bal_keys = local_df(spark, 
        [("0xCOL", "bench", f"0xT{k:02d}", f"aT{k}", 100 + k, day) for k in nat],
        "collector string, market string, token string, symbol string,"
        "block_height long, block_day timestamp",
    ).coalesce(1)

    def bal_transport(req):
        k = int(req["token"][3:])
        return {"decimals": 6 + (k % 3) * 3, "balance": (k + 1) * 2**30,
                "scaled_balance": k * 2**30}

    s7 = connectors.collector_atoken_balances_by_day(bal_keys, bal_transport).selectExpr(
        "'balance' AS part", "token AS k1", "CAST(NULL AS STRING) AS k2",
        "balance AS v1", "scaled_balance AS v2",
        "CAST(NULL AS DOUBLE) AS v3", "CAST(NULL AS DOUBLE) AS v4",
    )

    # --- S16: Compound APY -------------------------------------------------
    cmp_keys = local_df(spark, 
        [(day, 100 + k, "ethereum", "compound_v2", f"cT{k}", f"0xC{k:02d}",
          f"T{k}", f"0xU{k:02d}", 6) for k in nat],
        "block_day timestamp, block_height long, chain string,"
        "compound_version string, symbol string, address string,"
        "underlying_symbol string, underlying_address string,"
        "underlying_decimals long",
    ).coalesce(1)

    def cmp_transport(req):
        k = int(req["address"][3:])
        return {"supply_rate_per_block": (k + 1) * 2**40,
                "borrow_rate_per_block": (k + 2) * 2**40,
                "total_supply_underlying": (k + 2) * 2**41,
                "total_borrows": (k + 3) * 2**41}

    s16 = connectors.compound_by_day(cmp_keys, cmp_transport).selectExpr(
        "'compound' AS part", "address AS k1", "CAST(NULL AS STRING) AS k2",
        "supply_apy AS v1", "borrow_apy AS v2", "deposits AS v3", "borrows AS v4",
    )

    # --- S18: holders zero-balance drop ------------------------------------
    hold_keys = local_df(spark, 
        [(day, "ethereum", f"stk{k}", f"0xS{k:02d}", 100 + k) for k in nat],
        "block_day timestamp, chain string, safety_module_token string,"
        "stk_token_address string, block_height long",
    ).coalesce(1)

    def hold_transport(req):
        k = int(req["stk_token_address"][3:])
        return {"decimals": 6, "total_supply": (k + 1) * 2**30,
                "holders": [{"address": f"0xH{k}_{j}", "balance": j * 2**30}
                            for j in range(k % 4 + 1)]}  # j=0 → balance 0 → drop

    s18 = connectors.token_holders_by_day(hold_keys, hold_transport).selectExpr(
        "'holders' AS part", "holder_address AS k1", "CAST(NULL AS STRING) AS k2",
        "balance AS v1", "total_supply AS v2",
        "CAST(NULL AS DOUBLE) AS v3", "CAST(NULL AS DOUBLE) AS v4",
    )

    # --- S19: Balancer existence → NULL -------------------------------------
    bpt_keys = local_df(spark, 
        [(f"0xp{k:02d}", f"BPT{k}", f"Pool {k}", 18, "usd", "0xPT", "PT",
          day, 100 + k, "ethereum") for k in nat],
        "pool string, symbol string, name string, decimals long, denom string,"
        "price_token string, price_symbol string, block_day timestamp,"
        "block_height long, chain string",
    ).coalesce(1)

    def bpt_transport(req):
        k = int(req["pool"][3:])
        return {"deployed": k % 2 == 0, "rate": (k + 1) * 2**50,
                "actual_supply": (k + 2) * 2**45}

    s19 = connectors.balancer_bpt_by_day(bpt_keys, bpt_transport).selectExpr(
        "'bpt' AS part", "pool AS k1", "CAST(NULL AS STRING) AS k2",
        "rate AS v1", "actual_supply AS v2",
        "CAST(NULL AS DOUBLE) AS v3", "CAST(NULL AS DOUBLE) AS v4",
    )

    # --- treasury incentives: v3 enumeration vs v2 config path --------------
    def tri_transport(req):
        k = int(req["user"][3:])
        if req["version"] == 3:
            return {"rewards": [{"address": f"0xRW{k}", "symbol": f"RW{k}",
                                 "decimals": 18, "accrued": (k + 1) * 2**35}]}
        return {"raw": (k + 1) * 2**35}

    tri_parts = []
    for k in [k for k in nat if k < 4]:
        tri_parts.append(
            connectors.treasury_accrued_incentives_by_day(
                spark, tri_transport, "ethereum", f"m{k}", f"0xC{k}", "0xIC",
                3 if k % 2 == 0 else 2, 100 + k, "2024-03-10",
                rewards_token="0xCFG", rewards_token_symbol="CFG",
                rewards_token_decimals=18,
            ).selectExpr(
                "market AS k1", "rewards_token_address AS k2",
                "accrued_rewards AS v1",
            )
        )
    tri = reduce(lambda a, b: a.unionByName(b), tri_parts).selectExpr(
        "'treasury_inc' AS part", "k1", "k2", "v1",
        "CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3",
        "CAST(NULL AS DOUBLE) AS v4",
    )

    out = reduce(lambda a, b: a.unionByName(b), [s7, s16, s18, s19, tri])
    return out.to(spark.createDataFrame([], S).schema)


# ---------------------------------------------------------------------------
# Driver-certified scan DECET — the remaining parser semantics in one
# aligned query: S2 ETH→WETH patch + lowercasing, S5/S6 transfer flatten
# with the group-to-day sum, v3 accrued-fees scaled×index math, S14
# CoinGecko ms-epoch dates, S20 wei/1e18 + raw/10^dec units, LSD
# fillna(0), safety-module emission math, Balancer pool weights, and the
# non-atoken config-decimal shift. Same discipline as the quintet:
# nation-derived fakes, power-of-two raws, integer-derived oracle arms.
# ---------------------------------------------------------------------------
@register(
    "connector_scan_decet",
    oracle="""
    WITH b AS (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 8),
    s2 AS (
      SELECT 'tokens' AS part,
        CASE WHEN k = 0 THEN '0xc02aaa39b223fe8d0a0e5c4f27ead9083c756cc2'
             ELSE '0x' || printf('%040x', 500 + k) END AS k1,
        '0x' || printf('%040x', 900 + k) AS k2,
        CAST(18 AS DOUBLE) AS v1, CAST(777 AS DOUBLE) AS v2,
        CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4
      FROM b
    ),
    s5 AS (
      -- two IN rows per key summed to one; one OUT row
      SELECT 'transfers' AS part, '0xfrom' || CAST(k AS VARCHAR) AS k1, 'IN' AS k2,
        (CAST(k+1 AS DOUBLE) * power(2.0, 20) + CAST(k+2 AS DOUBLE) * power(2.0, 20))
          / power(10.0, 6) AS v1,
        NULL AS v2, NULL AS v3, NULL AS v4
      FROM b
      UNION ALL
      SELECT 'transfers', '0xcol' || CAST(k AS VARCHAR), 'OUT',
        CAST(k+3 AS DOUBLE) * power(2.0, 20) / power(10.0, 6),
        NULL, NULL, NULL
      FROM b
    ),
    fees AS (
      SELECT 'fees' AS part, '0x' || printf('%040x', k) AS k1, NULL AS k2,
        CAST(k+1 AS DOUBLE) * power(2.0, 40) / power(10.0, 6) AS v1,
        CAST(k+5 AS DOUBLE) * power(2.0, 80) / 1e27 AS v2,
        (CAST(k+1 AS DOUBLE) * power(2.0, 40) / power(10.0, 6))
          * (CAST(k+5 AS DOUBLE) * power(2.0, 80) / 1e27) AS v3,
        NULL AS v4
      FROM b
    ),
    cg AS (
      -- ms-epoch 2024-03-10/11 00:00 UTC
      SELECT 'coingecko' AS part, 'aave' AS k1,
        CAST(CAST(to_timestamp(1710028800 + 86400 * d) AS TIMESTAMP) AS VARCHAR) AS k2,
        CAST(95 + d AS DOUBLE) AS v1, NULL AS v2, NULL AS v3, NULL AS v4
      FROM (SELECT unnest(range(0, 2)) AS d)
    ),
    units AS (
      SELECT 'eth_bal' AS part, '0xw' || CAST(k AS VARCHAR) AS k1, NULL AS k2,
        CAST(k+1 AS DOUBLE) * power(2.0, 55) / 1e18 AS v1, NULL, NULL, NULL
      FROM b
      UNION ALL
      SELECT 'erc20_bal', '0xe' || CAST(k AS VARCHAR), NULL,
        CAST(k+2 AS DOUBLE) * power(2.0, 30) / power(10.0, 6 + (k % 2) * 12),
        NULL, NULL, NULL
      FROM b
      UNION ALL
      SELECT 'lsd_supply', '0xl' || CAST(k AS VARCHAR), NULL,
        CASE WHEN k % 2 = 0 THEN 0.0
             ELSE CAST(k+1 AS DOUBLE) * power(2.0, 40) / power(10.0, 18) END,
        NULL, NULL, NULL
      FROM b
      UNION ALL
      SELECT 'nab', '0xn' || CAST(k AS VARCHAR), NULL,
        CAST(k+3 AS DOUBLE) * power(2.0, 30) / power(10.0, 6),
        NULL, NULL, NULL
      FROM b
    ),
    smr AS (
      SELECT 'sm_rpc' AS part, '0xk' || CAST(k AS VARCHAR) AS k1, NULL AS k2,
        CAST(k+1 AS DOUBLE) * power(2.0, 40) / power(10.0, 18) AS v1,
        CAST(k+1 AS DOUBLE) * power(2.0, 40) / power(10.0, 18) * 86400 AS v2,
        CAST(k+2 AS DOUBLE) * power(2.0, 50) / power(10.0, 18) AS v3,
        CAST(k+3 AS DOUBLE) * power(2.0, 50) / power(10.0, 18) AS v4
      FROM b
    ),
    pool AS (
      SELECT 'bal_pool' AS part,
        '0xq' || CAST(k AS VARCHAR) || '_' || CAST(j AS VARCHAR) AS k1, NULL AS k2,
        CAST(j+1 AS DOUBLE) * power(2.0, 56) / 1e18 AS v1,
        CAST(k+j AS DOUBLE) * power(2.0, 30) / power(10.0, 6) AS v2,
        NULL AS v3, NULL AS v4
      FROM (SELECT k, unnest(range(0, 2)) AS j FROM b) t
    )
    SELECT * FROM s2 UNION ALL SELECT * FROM s5 UNION ALL
    SELECT * FROM fees UNION ALL SELECT * FROM cg UNION ALL
    SELECT * FROM units UNION ALL SELECT * FROM smr UNION ALL
    SELECT * FROM pool
    """,
    doc=(
        "connector certification decet: S2 ETH->WETH patch, S5/S6 transfer"
        " flatten + group-to-day sum, v3 accrued-fees scaled*index, S14"
        " ms-epoch, wei/raw unit shifts, LSD fillna(0), SM emission math,"
        " Balancer pool weights, non-atoken config decimals — all vs"
        " integer-derived oracles"
    ),
)
def connector_scan_decet(spark, sf_dir):
    from datetime import datetime
    from functools import reduce

    from aave_etl_spark.sources import connectors

    day = datetime(2024, 3, 10)
    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF); the
    # oracle reads the real table, the builder skips the read+collect job
    ks = list(range(8))
    NULLS2 = ("CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3",
              "CAST(NULL AS DOUBLE) AS v4")

    # --- S2: ETH pseudo-address -> WETH + lowercasing ----------------------
    def s2_transport(req):
        return {"reserves": [
            {"underlyingAsset": ("0xEEEEeEeeeEeEeeEeEeEeeEEEeeeeEeeeeeeeEEeE"
                                 if k == 0 else "0x" + format(500 + k, "040X")),
             "name": f"T{k}", "symbol": f"T{k}", "decimals": 18,
             "aToken": {"id": "0x" + format(900 + k, "040X")},
             "pool": {"id": "0xPOOL"}}
            for k in ks
        ]}

    s2 = connectors.market_tokens_at_block(
        spark, s2_transport, "bench", 777, "2024-03-10"
    ).selectExpr(
        "'tokens' AS part", "reserve AS k1", "atoken AS k2",
        "CAST(decimals AS DOUBLE) AS v1", "CAST(block_height AS DOUBLE) AS v2",
        "CAST(NULL AS DOUBLE) AS v3", "CAST(NULL AS DOUBLE) AS v4",
    )

    # --- S5/S6: flatten + group-to-day sum ---------------------------------
    tr_reqs = local_df(spark, 
        [(f"0xCOL{k}", f"0xTOK{k}", 1, 999, "bench", day) for k in ks],
        "collector string, token string, start_block long, end_block long,"
        "market string, block_day timestamp",
    ).coalesce(1)

    def tr_transport(req):
        k = int(req["token"][5:])
        base = {"decimals": 6, "name": "T", "symbol": f"T{k}"}
        return {"transfers": [
            {**base, "type": "IN", "from": f"0xFROM{k}", "to": req["collector"],
             "raw_amount": (k + 1) * 2**20},
            {**base, "type": "IN", "from": f"0xFROM{k}", "to": req["collector"],
             "raw_amount": (k + 2) * 2**20},
            {**base, "type": "OUT", "from": req["collector"], "to": f"0xTO{k}",
             "raw_amount": (k + 3) * 2**20},
        ]}

    s5 = connectors.token_transfers_by_day(tr_reqs, tr_transport).selectExpr(
        "'transfers' AS part",
        "transfers_from_address AS k1",
        "transfers_transfer_type AS k2",
        "amount_transferred AS v1", *NULLS2,
    )

    # --- v3 accrued fees: scaled x index -----------------------------------
    fee_keys = local_df(spark, 
        [("bench", "0x" + format(k, "040x"), f"T{k}", 6,
          "0x" + format(10**6 + k, "040x"), f"aT{k}", 100 + k, day) for k in ks],
        "market string, reserve string, symbol string, decimals long,"
        "atoken string, atoken_symbol string, block_height long,"
        "block_day timestamp",
    ).coalesce(1)

    def fee_transport(req):
        k = int(req["reserve"], 16)
        return {"accrued_to_treasury_scaled": (k + 1) * 2**40,
                "liquidity_index": (k + 5) * 2**80}

    fees = connectors.v3_accrued_fees_by_day(fee_keys, fee_transport).selectExpr(
        "'fees' AS part", "reserve AS k1", "CAST(NULL AS STRING) AS k2",
        "accrued_fees_scaled AS v1", "liquidity_index AS v2", "accrued_fees AS v3",
        "CAST(NULL AS DOUBLE) AS v4",
    )

    # --- S14 CoinGecko: ms-epoch → day -------------------------------------
    def cg_transport(req):
        return {"aave": [[1710028800000, 95.0], [1710115200000, 96.0]]}

    cg = connectors.coingecko_data_by_day(
        spark, cg_transport,
        [{"cg_id": "aave", "symbol": "AAVE", "address": "0xAAVE",
          "chain": "ethereum", "decimals": 18}],
    ).selectExpr(
        "'coingecko' AS part", "cg_id AS k1", "CAST(block_day AS STRING) AS k2",
        "price_usd AS v1", *NULLS2,
    )

    # --- S20 + LSD + non-atoken unit shifts --------------------------------
    eth_keys = local_df(spark, 
        [(100 + k, day, "ethereum", "bench", f"0xw{k}", f"0xWG{k}", f"G{k}")
         for k in ks],
        "block_height long, block_day timestamp, chain string, market string,"
        "collector string, wrapped_gas_token string, gas_token string",
    ).coalesce(1)

    def eth_transport(req):
        k = int(req["collector"][3:])
        return {"wei": (k + 1) * 2**55}

    eth = connectors.eth_balances_by_day(eth_keys, eth_transport).selectExpr(
        "'eth_bal' AS part", "collector AS k1", "CAST(NULL AS STRING) AS k2",
        "balance AS v1", *NULLS2,
    )

    erc_keys = local_df(spark, 
        [(day, 100 + k, "ethereum", f"0xe{k}", f"T{k}", f"0xTA{k}") for k in ks],
        "block_day timestamp, block_height long, chain string,"
        "wallet_address string, token string, token_address string",
    ).coalesce(1)

    def erc_transport(req):
        k = int(req["wallet_address"][3:])
        return {"raw": (k + 2) * 2**30, "decimals": 6 + (k % 2) * 12}

    erc = connectors.erc20_balances_by_day(erc_keys, erc_transport).selectExpr(
        "'erc20_bal' AS part", "wallet_address AS k1", "CAST(NULL AS STRING) AS k2",
        "balance AS v1", *NULLS2,
    )

    lsd_keys = local_df(spark, 
        [(day, 100 + k, "polygon", f"0xL{k}", f"L{k}", 18) for k in ks],
        "block_day timestamp, block_height long, chain string, address string,"
        "symbol string, decimals long",
    ).coalesce(1)

    def lsd_transport(req):
        k = int(req["address"][3:])
        return {"raw": None if k % 2 == 0 else (k + 1) * 2**40}

    lsd = connectors.matic_lsd_token_supply_by_day(lsd_keys, lsd_transport).selectExpr(
        "'lsd_supply' AS part", "address AS k1", "CAST(NULL AS STRING) AS k2",
        "total_supply AS v1", *NULLS2,
    )

    nab_keys = local_df(spark, 
        [(f"0xN{k}", "ethereum", "bench", f"0xT{k}", 6, f"t{k}", 100 + k, day)
         for k in ks],
        "contract_address string, chain string, market string, token string,"
        "decimals long, symbol string, block_height long, block_day timestamp",
    ).coalesce(1)

    def nab_transport(req):
        k = int(req["contract_address"][3:])
        return {"raw": (k + 3) * 2**30}

    nab = connectors.non_atoken_balances_by_day(nab_keys, nab_transport).selectExpr(
        "'nab' AS part", "contract_address AS k1", "CAST(NULL AS STRING) AS k2",
        "balance AS v1", *NULLS2,
    )

    # --- safety-module emission math ---------------------------------------
    sm_keys = local_df(spark, 
        [(day, 100 + k, f"0xK{k}", f"stk{k}", f"0xU{k}", f"u{k}", f"0xR{k}",
          f"r{k}", 18) for k in ks],
        "block_day timestamp, block_height long, stk_token_address string,"
        "stk_token_symbol string, unstaked_token_address string,"
        "unstaked_token_symbol string, reward_token_address string,"
        "reward_token_symbol string, decimals long",
    ).coalesce(1)

    def sm_transport(req):
        k = int(req["stk_token_address"][3:])
        return {"emission_per_second": (k + 1) * 2**40,
                "last_update_timestamp": 1710000000,
                "stk_token_supply": (k + 2) * 2**50,
                "unstaked_token_supply": (k + 3) * 2**50, "index": 0}

    sm = connectors.safety_module_rpc(sm_keys, sm_transport).selectExpr(
        "'sm_rpc' AS part", "stk_token_address AS k1", "CAST(NULL AS STRING) AS k2",
        "emission_per_second AS v1", "emission_per_day AS v2",
        "stk_token_supply AS v3", "unstaked_token_supply AS v4",
    )

    # --- Balancer pool contents ---------------------------------------------
    pool_keys = local_df(spark, 
        [(day, 100 + k, "ethereum", f"stk{k}", f"0xBP{k}") for k in ks],
        "block_day timestamp, block_height long, chain string,"
        "safety_module_token string, bal_pool_address string",
    ).coalesce(1)

    def pool_transport(req):
        k = int(req["bal_pool_address"][4:])
        return {"tokens": [
            {"address": f"0xQ{k}_{j}", "symbol": f"Q{j}", "decimals": 6,
             "weight": (j + 1) * 2**56, "balance": (k + j) * 2**30}
            for j in range(2)
        ]}

    pool = connectors.safety_module_bal_pool_contents(pool_keys, pool_transport).selectExpr(
        "'bal_pool' AS part", "token_address AS k1", "CAST(NULL AS STRING) AS k2",
        "weight AS v1", "balance AS v2",
        "CAST(NULL AS DOUBLE) AS v3", "CAST(NULL AS DOUBLE) AS v4",
    )

    return reduce(
        lambda a, b: a.unionByName(b),
        [s2, s5, fees, cg, eth, erc, lsd, nab, sm, pool],
    )


# ---------------------------------------------------------------------------
# Driver-certified scan quartet — the last uncovered parsers: S1 closest
# block (end_block = next day's first block - 1), S3 RPC positional tuple
# zip, S11 eMode distinct>0 prefilter, S15 beacon staking returns.
# ---------------------------------------------------------------------------
@register(
    "connector_scan_quartet",
    oracle="""
    WITH days AS (SELECT unnest(range(0, 3)) AS d),
    s1 AS (
      SELECT 'blocks' AS part,
        CAST(CAST(CAST('2024-03-10' AS DATE) + to_days(CAST(d AS INTEGER)) AS DATE)
             AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2,
        CAST(1000 * (d + 1) AS DOUBLE) AS v1,
        CAST(1000 * (d + 2) - 1 AS DOUBLE) AS v2,
        CAST(NULL AS DOUBLE) AS v3
      FROM days
    ),
    b AS (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 8),
    s3 AS (
      -- positional zip: reserve i pairs with atoken i, NEVER shifted
      SELECT 'rpc_tokens' AS part,
        '0x' || printf('%040x', 300 + k) AS k1,
        '0x' || printf('%040x', 700 + k) AS k2,
        CAST(6 + (k % 3) * 3 AS DOUBLE) AS v1, NULL AS v2, NULL AS v3
      FROM b
    ),
    s11 AS (
      -- categories {1, 2} survive the >0 distinct prefilter (k%3=0 rows
      -- carry category 0 and must fetch nothing)
      SELECT 'emode' AS part, CAST(c AS VARCHAR) AS k1, 'Cat ' || CAST(c AS VARCHAR) AS k2,
        CAST(9000 + c AS DOUBLE) / 1e4 AS v1,
        CAST(9500 + c AS DOUBLE) / 1e4 AS v2,
        CAST(10100 + c AS DOUBLE) / 1e4 AS v3
      FROM (SELECT unnest(range(1, 3)) AS c)
    ),
    s15 AS (
      SELECT 'beacon' AS part, '2024-03-10' AS k1,
        CAST(CAST(to_timestamp(1710028800) AS TIMESTAMP) AS VARCHAR) AS k2,
        CAST(812 AS DOUBLE) AS v1, 0.04 AS v2, 0.03 AS v3
    )
    SELECT * FROM s1 UNION ALL SELECT * FROM s3 UNION ALL
    SELECT * FROM s11 UNION ALL SELECT * FROM s15
    """,
    doc=(
        "connector certification quartet: S1 end-block invariant, S3"
        " positional reserve/atoken zip, S11 eMode >0 distinct prefilter,"
        " S15 beacon staking returns — vs integer-derived oracles"
    ),
)
def connector_scan_quartet(spark, sf_dir):
    from datetime import datetime, timedelta
    from functools import reduce

    from aave_etl_spark.sources import connectors

    # --- S1: three days of closest-block lookups ---------------------------
    def blk_transport(req):
        d = (datetime.fromisoformat(req["day"]) - datetime(2024, 3, 10)).days
        return {"start": {"height": 1000 * (d + 1), "timestamp": 1710028800 + 86400 * d},
                "next": {"height": 1000 * (d + 2), "timestamp": 1710028800 + 86400 * (d + 1)}}

    s1 = reduce(
        lambda a, b: a.unionByName(b),
        [connectors.block_numbers_by_day(
            spark, blk_transport,
            (datetime(2024, 3, 10) + timedelta(days=d)).strftime("%Y-%m-%d"),
            "ethereum", "bench")
         for d in range(3)],
    ).selectExpr(
        "'blocks' AS part", "CAST(CAST(block_day AS DATE) AS STRING) AS k1",
        "CAST(NULL AS STRING) AS k2",
        "CAST(block_height AS DOUBLE) AS v1", "CAST(end_block AS DOUBLE) AS v2",
        "CAST(NULL AS DOUBLE) AS v3",
    )

    # --- S3: positional tuple zip ------------------------------------------
    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF); the
    # oracle reads the real table, the builder skips the read+collect job
    ks = list(range(8))

    def rpc_transport(req):
        return {
            "pool": "0xPOOL",
            "reserves": [{"address": "0x" + format(300 + k, "040X"),
                          "name": f"T{k}", "symbol": f"T{k}",
                          "decimals": 6 + (k % 3) * 3} for k in ks],
            "atokens": [{"address": "0x" + format(700 + k, "040X"),
                         "symbol": f"aT{k}"} for k in ks],
        }

    s3 = connectors.market_tokens_at_block_rpc(
        spark, rpc_transport, "bench", 777, "2024-03-10"
    ).selectExpr(
        "'rpc_tokens' AS part", "reserve AS k1", "atoken AS k2",
        "CAST(decimals AS DOUBLE) AS v1",
        "CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3",
    )

    # --- S11: distinct >0 category prefilter --------------------------------
    pdd = local_df(spark, 
        [(datetime(2024, 3, 10), 777, "bench", k % 3) for k in range(9)],
        "block_day timestamp, block_height long, market string,"
        "reserve_emode_category long",
    )

    def emode_transport(req):
        c = int(req["reserve_emode_category"])
        return {"ltv": 9000 + c, "liquidation_threshold": 9500 + c,
                "liquidation_bonus": 10100 + c, "price_source": "0xFEED",
                "label": f"Cat {c}"}

    s11 = connectors.emode_config_by_day(pdd, emode_transport).selectExpr(
        "'emode' AS part", "CAST(reserve_emode_category AS STRING) AS k1",
        "emode_category_name AS k2",
        "emode_ltv AS v1", "emode_liquidation_threshold AS v2",
        "emode_liquidation_bonus AS v3",
    )

    # --- S15: beacon staking returns ----------------------------------------
    def beacon_transport(req):
        return {"data": {"day": 812, "day_start": 1710028800,
                         "day_end": 1710115200, "apr": 0.04,
                         "cl_apr": 0.03, "el_apr": 0.01}}

    s15 = connectors.beacon_staking_returns_by_day(
        spark, beacon_transport, "2024-03-10"
    ).selectExpr(
        "'beacon' AS part", "partition_date AS k1",
        "CAST(day_start AS STRING) AS k2",
        "CAST(beaconchain_day AS DOUBLE) AS v1", "apr AS v2", "cl_apr AS v3",
    )

    return reduce(lambda a, b: a.unionByName(b), [s1, s3, s11, s15])


# ---------------------------------------------------------------------------
# Driver-certified warehouse incentives transform: the 9-measure LM APR
# arithmetic (warehouse/incentives.py — reference
# protocol_data_warehouse.py:180-318) over nation-derived lake fixtures,
# vs a SQL twin mirroring every conditional arm: emission zeroed past the
# program end (and filtered), zero price feeds filtered, missing protocol
# rows -> safe_div 0 APR, missing prices -> NULL symbol group, a/v/s token
# types summed per (reserve, reward token).
# ---------------------------------------------------------------------------
@register(
    "warehouse_incentives_apr",
    oracle="""
    WITH b AS (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 12),
    types AS (
      SELECT k, 'atoken' AS tt FROM b
      UNION ALL SELECT k, 'vtoken' FROM b WHERE k % 2 = 0
      UNION ALL SELECT k, 'stoken' FROM b WHERE k % 3 = 0
    ),
    inc AS (
      SELECT k, tt,
        CASE WHEN k % 4 = 0 THEN 0.0
             ELSE CAST(k+1 AS DOUBLE) * power(2.0, 30) * 86400 / power(10.0, 6)
        END AS epd,
        CASE WHEN k % 5 = 0 THEN 0.0
             ELSE CAST(k+2 AS DOUBLE) * power(2.0, 20) END AS feed
      FROM types
    ),
    kept AS (
      SELECT k, tt, epd, epd * feed / power(10.0, 6) AS epd_usd
      FROM inc WHERE epd * feed / power(10.0, 6) > 0
    ),
    joined AS (
      SELECT kept.*,
        CASE WHEN k % 3 != 1 THEN CAST(k+3 AS DOUBLE) * 4 ELSE NULL END AS supply,
        CASE WHEN k % 4 != 3 THEN CAST(k+1 AS DOUBLE) * 0.25 ELSE NULL END AS price,
        CASE WHEN k % 4 != 3 THEN 'T' || CAST(k AS VARCHAR) ELSE NULL END AS symbol
      FROM kept
    ),
    apr AS (
      SELECT *,
        (CASE WHEN supply * price != 0 THEN epd_usd / (supply * price)
              ELSE 0.0 END) * 365 AS apr_v
      FROM joined
    )
    SELECT '0x' || printf('%040x', k) AS reserve, symbol,
      '0xrw0' AS reward_token_address,
      sum(CASE WHEN tt = 'atoken' THEN apr_v ELSE 0.0 END) AS supply_rewards_apr,
      sum(CASE WHEN tt = 'vtoken' THEN apr_v ELSE 0.0 END) AS variable_borrow_rewards_apr,
      sum(CASE WHEN tt = 'stoken' THEN apr_v ELSE 0.0 END) AS stable_borrow_rewards_apr,
      sum(CASE WHEN tt = 'atoken' THEN epd ELSE 0.0 END) AS supply_rewards,
      sum(CASE WHEN tt = 'vtoken' THEN epd ELSE 0.0 END) AS variable_debt_rewards,
      sum(CASE WHEN tt = 'stoken' THEN epd ELSE 0.0 END) AS stable_debt_rewards,
      sum(CASE WHEN tt = 'atoken' THEN epd_usd ELSE 0.0 END) AS supply_rewards_usd,
      sum(CASE WHEN tt = 'vtoken' THEN epd_usd ELSE 0.0 END) AS variable_debt_rewards_usd,
      sum(CASE WHEN tt = 'stoken' THEN epd_usd ELSE 0.0 END) AS stable_debt_rewards_usd
    FROM apr GROUP BY 1, 2, 3
    """,
    doc=(
        "REAL warehouse LM-incentives APR transform under the driver gate:"
        " emission-end zeroing + positive-usd filter + safe_div APR over"
        " supply*price + a/v/s conditional measures summed per reward"
        " (protocol_data_warehouse.py:180-318)"
    ),
)
def warehouse_incentives_apr(spark, sf_dir):
    from datetime import datetime

    from aave_etl_spark.warehouse.incentives import incentives_by_day

    day = datetime(2024, 3, 10)
    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF); the
    # oracle reads the real table, the builder skips the read+collect job
    ks = list(range(12))

    def res(k: int) -> str:
        return "0x" + format(k, "040x")

    raw_rows = []
    for k in ks:
        tts = ["atoken"] + (["vtoken"] if k % 2 == 0 else []) + (
            ["stoken"] if k % 3 == 0 else []
        )
        for tt in tts:
            raw_rows.append((
                day, 777, "bench", res(k), f"0xside{k}", tt, "0xrw0", "RW", 6,
                float((k + 1) * 2**30),
                1709000000 if k % 4 == 0 else 1999999999,  # ended vs live
                0.0 if k % 5 == 0 else float((k + 2) * 2**20),  # zero feed arm
                6,
            ))
    raw = local_df(spark, 
        raw_rows,
        "block_day timestamp, block_height long, market string,"
        "underlying_asset string, token_address string, token_type string,"
        "reward_token_address string, reward_token_symbol string,"
        "reward_token_decimals long, emission_per_second double,"
        "emission_end_timestamp long, reward_price_feed double,"
        "price_feed_decimals long",
    ).coalesce(1)
    protocol = local_df(spark, 
        [(day, 777, "bench", res(k), float((k + 3) * 4), 1.0, 2.0)
         for k in ks if k % 3 != 1],
        "block_day timestamp, block_height long, market string, reserve string,"
        "atoken_supply double, stable_debt double, variable_debt double",
    ).coalesce(1)
    prices = local_df(spark, 
        [(day, 777, "bench", res(k), f"T{k}", (k + 1) * 0.25)
         for k in ks if k % 4 != 3],
        "block_day timestamp, block_height long, market string, reserve string,"
        "symbol string, usd_price double",
    ).coalesce(1)
    out = incentives_by_day(raw, protocol, prices)
    return out.select(
        "reserve", "symbol", "reward_token_address",
        "supply_rewards_apr", "variable_borrow_rewards_apr",
        "stable_borrow_rewards_apr", "supply_rewards", "variable_debt_rewards",
        "stable_debt_rewards", "supply_rewards_usd", "variable_debt_rewards_usd",
        "stable_debt_rewards_usd",
    )


# ---------------------------------------------------------------------------
# Driver-certified warehouse trio: token-price min-rank pick, per-chain
# block dedup, and the balance-group classification (union arms + the
# LAST-match-wins group loop) — the remaining warehouse transforms that
# had no driver-gated twin.
# ---------------------------------------------------------------------------
@register(
    "warehouse_transforms_trio",
    oracle="""
    WITH b AS (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 6),
    -- m0/m1/m3/m4 are ethereum (ranks 1,2,1,1), m2 polygon (rank 1).
    -- min-rank keeps m0/m3/m4 rows; m0 and m3 price identically (distinct
    -- dedups them), m4 differs (a second surviving row per key).
    tp AS (
      SELECT 'tp' AS part, mc.chain AS k1,
        '0x' || printf('%040x', k) AS k2, 'aave_oracle' AS k3,
        CAST(k+1 AS DOUBLE) * 0.25 + mc.bump AS v1, CAST(NULL AS DOUBLE) AS v2
      FROM b CROSS JOIN (VALUES ('ethereum', 0.0), ('polygon', 2.0),
                                ('ethereum', 0.5))
        AS mc(chain, bump)
    ),
    blocks AS (
      SELECT 'blocks' AS part, c.chain AS k1, '2024-03-10' AS k2,
        CAST(NULL AS VARCHAR) AS k3,
        CAST(CASE WHEN c.chain = 'ethereum' THEN 1000 ELSE 2000 END + k AS DOUBLE) AS v1,
        CAST(CASE WHEN c.chain = 'ethereum' THEN 1999 ELSE 2999 END + k AS DOUBLE) AS v2
      FROM b CROSS JOIN (VALUES ('ethereum'), ('polygon')) AS c(chain)
    ),
    -- balance groups: aT1 is in both DAI and USDC lists; the reference's
    -- sequential overwrite makes the LAST group (USDC) win
    bg_tokens AS (
      SELECT 'm0' AS market, 'ethereum' AS chain,
             '0xa' || CAST(k AS VARCHAR) AS atoken, 'aT' || CAST(k AS VARCHAR) AS sym
      FROM b
      UNION ALL  -- the v1 branch re-emits reserves as atokens
      SELECT 'ethereum_v1', 'ethereum', '0xr' || CAST(k AS VARCHAR),
             'aT' || CAST(k AS VARCHAR)
      FROM b WHERE k < 2
      UNION ALL  -- non-atoken arm
      SELECT 'm0', 'ethereum', '0xn' || CAST(k AS VARCHAR), 'N' || CAST(k AS VARCHAR)
      FROM b WHERE k < 3
      UNION ALL  -- gas-token arm
      SELECT 'm0', 'ethereum', '0xgas', 'GAS'
    ),
    bg AS (
      SELECT 'bg' AS part, atoken AS k1,
        chain || '|' || CASE
          WHEN sym IN ('aT3') THEN 'Grp'
          WHEN sym IN ('aT1', 'aT2') THEN 'USDC'
          WHEN sym IN ('aT0') THEN 'DAI'
          ELSE 'Other Token' END AS k2,
        CASE WHEN (CASE
          WHEN sym IN ('aT3') THEN 'Grp'
          WHEN sym IN ('aT1', 'aT2') THEN 'USDC'
          WHEN sym IN ('aT0') THEN 'DAI'
          ELSE 'Other Token' END) IN ('DAI', 'USDC', 'USDT', 'other_stables')
          THEN 'stablecoin' ELSE 'unstablecoin' END AS k3,
        NULL AS v1, NULL AS v2
      FROM bg_tokens
    )
    SELECT * FROM tp
    UNION ALL SELECT DISTINCT * FROM blocks
    UNION ALL SELECT * FROM bg
    """,
    doc=(
        "REAL warehouse transforms under the driver gate: token-price"
        " min-rank pick (w/ equal-rank tie arms), per-chain daily block"
        " dedup, and balance-group classification with the last-match-wins"
        " group loop and all four token-source union arms"
    ),
)
def warehouse_transforms_trio(spark, sf_dir):
    from datetime import datetime
    from functools import reduce

    from aave_etl_spark.warehouse.balance_groups import balance_group_lookup
    from aave_etl_spark.warehouse.blocks import blocks_by_day
    from aave_etl_spark.warehouse.prices import token_prices_by_day

    day = datetime(2024, 3, 10)
    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF); the
    # oracle reads the real table, the builder skips the read+collect job
    ks = list(range(6))

    def res(k: int) -> str:
        return "0x" + format(k, "040x")

    # --- token prices: 4 markets, min-rank + tie arms -----------------------
    # m0/m3 ethereum rank 1 identical price (distinct dedups), m4 ethereum
    # rank 1 different price (second surviving row), m1 ethereum rank 2
    # (dropped), m2 polygon rank 1
    ranks = local_df(spark, 
        [("m0", "ethereum", 1), ("m1", "ethereum", 2), ("m2", "polygon", 1),
         ("m3", "ethereum", 1), ("m4", "ethereum", 1)],
        "market string, chain string, price_rank long",
    )
    price_rows = []
    for k in ks:
        for m, bump in (("m0", 0.0), ("m1", 1.0), ("m2", 2.0), ("m3", 0.0),
                        ("m4", 0.5)):
            price_rows.append((res(k), f"T{k}", m, 777, day, (k + 1) * 0.25 + bump))
    prices = local_df(spark, 
        price_rows,
        "reserve string, symbol string, market string, block_height long,"
        "block_day timestamp, usd_price double",
    ).coalesce(1)
    tp = token_prices_by_day(prices, ranks).selectExpr(
        "'tp' AS part", "chain AS k1", "reserve AS k2", "pricing_source AS k3",
        "usd_price AS v1", "CAST(NULL AS DOUBLE) AS v2",
    )

    # --- blocks: per-market rows dedup to per-chain -------------------------
    blk_rows = []
    for k in ks:
        for m, chain, base in (("m0", "ethereum", 1000), ("m1", "ethereum", 1000),
                               ("m2", "polygon", 2000)):
            blk_rows.append((day, day, base + k, base + 999 + k, chain, m))
    blocks = blocks_by_day(
        local_df(spark, 
            blk_rows,
            "block_day timestamp, block_time timestamp, block_height long,"
            "end_block long, chain string, market string",
        ).coalesce(1)
    ).selectExpr(
        "'blocks' AS part", "chain AS k1", "CAST(CAST(block_day AS DATE) AS STRING) AS k2",
        "CAST(NULL AS STRING) AS k3",
        "CAST(block_height AS DOUBLE) AS v1", "CAST(end_block AS DOUBLE) AS v2",
    )

    # --- balance groups: union arms + last-match-wins -----------------------
    tokens = local_df(spark, 
        [("m0" if k >= 2 else "ethereum_v1", f"0xa{k}", f"aT{k}", f"0xr{k}", f"T{k}")
         for k in ks],
        "market string, atoken string, atoken_symbol string, reserve string,"
        "symbol string",
    ).coalesce(1)
    nam = local_df(spark, 
        [(f"m0", f"0xn{k}", f"N{k}") for k in ks if k < 3],
        "market string, token string, symbol string",
    ).coalesce(1)
    eth = local_df(spark, 
        [("m0", "0xgas", "GAS")],
        "market string, wrapped_gas_token string, gas_token string",
    )
    mc = local_df(spark, 
        [("m0", "ethereum"), ("ethereum_v1", "ethereum")],
        "market string, chain string",
    )
    groups = {"DAI": ["aT0", "aT1"], "USDC": ["aT1", "aT2"], "Grp": ["aT3"]}
    bg = balance_group_lookup(tokens, nam, eth, groups, mc).selectExpr(
        "'bg' AS part", "atoken AS k1",
        "concat(chain, '|', balance_group) AS k2", "stable_class AS k3",
        "CAST(NULL AS DOUBLE) AS v1", "CAST(NULL AS DOUBLE) AS v2",
    )

    return reduce(lambda a, b: a.unionByName(b), [tp, blocks, bg])


# ---------------------------------------------------------------------------
# Driver-certified market state/config transforms (warehouse/market.py —
# reference protocol_data_warehouse.py:33-160): the four UI per-second
# compounding APYs, state passthroughs, and the config->eMode left join
# with its NULL arms (category 0, and a category missing from the day's
# eMode table).
# ---------------------------------------------------------------------------
_MS_APY = "power(1.0 + {r} / 31536000.0, 31536000.0) - 1.0"


@register(
    "warehouse_market_state_config",
    oracle=f"""
    WITH b AS (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 8),
    r AS (
      SELECT k,
        CAST(k AS DOUBLE) * 0.03125 AS lr,
        CAST(k+1 AS DOUBLE) * 0.03125 AS vbr,
        CAST(k+2 AS DOUBLE) * 0.03125 AS sbr,
        CAST(k+3 AS DOUBLE) * 0.03125 AS asr
      FROM b
    ),
    state AS (
      SELECT 'state' AS part, '0x' || printf('%040x', k) AS k1, f.field AS k2,
        CASE f.field
          WHEN 'deposit_apy' THEN {_MS_APY.format(r="lr")}
          WHEN 'variable_borrow_apy' THEN {_MS_APY.format(r="vbr")}
          WHEN 'stable_borrow_apy' THEN {_MS_APY.format(r="sbr")}
          WHEN 'av_stable_borrow_apy' THEN {_MS_APY.format(r="asr")}
          WHEN 'atoken_supply' THEN CAST(k+2 AS DOUBLE) * 4
          WHEN 'available_liquidity' THEN CAST(k+2 AS DOUBLE) * 4 - CAST(k AS DOUBLE)
        END AS v1
      FROM r CROSS JOIN (VALUES ('deposit_apy'), ('variable_borrow_apy'),
        ('stable_borrow_apy'), ('av_stable_borrow_apy'), ('atoken_supply'),
        ('available_liquidity')) AS f(field)
    ),
    config AS (
      -- eMode join: category 1 matches the day's eMode row; category 2
      -- is missing from the eMode table; category 0 never joins
      SELECT 'config' AS part, '0x' || printf('%040x', k) AS k1, f.field AS k2,
        CASE f.field
          WHEN 'ltv' THEN CAST(8000 + k AS DOUBLE) / 1e4
          WHEN 'emode_ltv' THEN
            CASE WHEN k % 3 = 1 THEN 0.93 ELSE NULL END
          WHEN 'emode_liquidation_threshold' THEN
            CASE WHEN k % 3 = 1 THEN 0.95 ELSE NULL END
        END AS v1
      FROM b CROSS JOIN (VALUES ('ltv'), ('emode_ltv'),
        ('emode_liquidation_threshold')) AS f(field)
    )
    SELECT * FROM state UNION ALL SELECT * FROM config
    """,
    doc=(
        "REAL warehouse market state/config transforms under the driver"
        " gate: the four UI per-second compounding APYs, passthrough"
        " invariants, and the config->eMode left join's matched/missing/"
        "category-0 arms (protocol_data_warehouse.py:33-160)"
    ),
)
def warehouse_market_state_config(spark, sf_dir):
    from datetime import datetime
    from functools import reduce

    from aave_etl_spark.warehouse.market import market_config_by_day, market_state_by_day

    day = datetime(2024, 3, 10)
    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF); the
    # oracle reads the real table, the builder skips the read+collect job
    ks = list(range(8))

    def res(k: int) -> str:
        return "0x" + format(k, "040x")

    pdd = local_df(spark, 
        [(day, 777, "bench", res(k), f"T{k}", 6,
          (8000 + k) / 1e4, (8250 + k) / 1e4, (10500 + k) / 1e4, (1000 + k) / 1e4,
          True, True, False, True, False,
          float((k + 2) * 4), float(k % 5), float(k % 7),
          k * 0.03125, (k + 1) * 0.03125, (k + 2) * 0.03125, (k + 3) * 0.03125,
          1.01, 1.02, day,
          False, False, k % 3, 0, 0, 0, 0, 0.0, 0.0, 0.0,
          float((k + 2) * 4) - float(k))
         for k in ks],
        "block_day timestamp, block_height long, market string, reserve string,"
        "symbol string, decimals long, ltv double, liquidation_threshold double,"
        "liquidation_bonus double, reserve_factor double,"
        "usage_as_collateral_enabled boolean, borrowing_enabled boolean,"
        "stable_borrow_rate_enabled boolean, is_active boolean, is_frozen boolean,"
        "atoken_supply double, stable_debt double, variable_debt double,"
        "liquidity_rate double, variable_borrow_rate double,"
        "stable_borrow_rate double, average_stable_rate double,"
        "liquidity_index double, variable_borrow_index double,"
        "last_update_timestamp timestamp, is_paused boolean,"
        "siloed_borrowing boolean, reserve_emode_category long,"
        "borrow_cap long, supply_cap long, unbacked_mint_cap long,"
        "debt_ceiling long, liquidation_protocol_fee double,"
        "unbacked_atokens double, scaled_accrued_to_treasury double,"
        "available_liquidity double",
    ).coalesce(1)
    # eMode table carries ONLY category 1 — category 2 rows exercise the
    # missing-category NULL arm, category 0 the never-joined arm
    emode = local_df(spark, 
        [(day, 777, "bench", 1, 0.93, 0.95, 1.01, "0xFEED", "Stablecoins")],
        "block_day timestamp, block_height long, market string,"
        "reserve_emode_category long, emode_ltv double,"
        "emode_liquidation_threshold double, emode_liquidation_bonus double,"
        "emode_price_address string, emode_category_name string",
    )

    # single-scan unpivot per transform instead of a per-field union: the
    # union form re-scanned the Python-built local relation once per arm
    # (9 scans; ~12 s of pure overhead on 8 fixture rows)
    state_fields = ["deposit_apy", "variable_borrow_apy", "stable_borrow_apy",
                    "av_stable_borrow_apy", "atoken_supply",
                    "available_liquidity"]
    state_u = (
        market_state_by_day(pdd)
        .select("reserve", *state_fields)
        .unpivot(["reserve"], state_fields, "k2", "v1")
        .selectExpr("'state' AS part", "reserve AS k1", "k2", "v1")
    )
    cfg_fields = ["ltv", "emode_ltv", "emode_liquidation_threshold"]
    cfg_u = (
        market_config_by_day(pdd, emode)
        .select("reserve", *cfg_fields)
        .unpivot(["reserve"], cfg_fields, "k2", "v1")
        .selectExpr("'config' AS part", "reserve AS k1", "k2", "v1")
    )
    return state_u.unionByName(cfg_u)


# ---------------------------------------------------------------------------
# Driver-certified hourly/seed/price scan — the last parser rows outside
# CORRECTNESS: S4 oracle prices (usd 1/BASE_CURRENCY_UNIT multiplier, wei
# eth_usd/1e18 multiplier, and the ethereum_v1 WETH price overwrite,
# data_lake.py:295-342), S13 CSV seed ingest (quoting=3 / quote='' parity:
# a leading literal double-quote must survive, data_lake.py:1409-1579),
# S21 hourly closest-block lookup (protocol_hourly_data_lake.py:80-133),
# S22 hourly Compound v2 AND v3 arms (:287-322, :406-446 — different APY
# formulas AND balance math), and the S9h hourly reserve-data twin
# (:136-240, block_hour passthrough over the shared daily parser). Same
# discipline as the quintet/decet: nation-derived fakes, power-of-two
# raws, integer-derived oracle arms mirroring the exact double-expression
# structure.
# ---------------------------------------------------------------------------
_S9H_FIELDS = (
    "ltv", "atoken_supply", "liquidity_rate", "available_liquidity",
    "average_stable_rate",
)


def _hourly_oracle() -> str:
    hpd_arms = "\nUNION ALL\n".join(
        f"SELECT 'hourly_protocol' AS part, reserve AS k1, '{f}' AS k2,"
        f" {_S9_FIELDS[f]} AS v1, CAST(k AS DOUBLE) AS v2,"
        " CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4 FROM hb"
        for f in _S9H_FIELDS
    )
    return f"""
    WITH b AS (SELECT n_nationkey AS k FROM nation),
    b8 AS (SELECT k FROM b WHERE k < 8),
    hb AS (
      SELECT '0x' || printf('%040x', k) AS reserve, k, (k % 3) * 3 + 6 AS dec
      FROM b8
    ),
    px_usd AS (
      SELECT 'oracle_px' AS part, '0x' || printf('%040x', 400 + k) AS k1,
        'bench' AS k2,
        CAST(k+1 AS DOUBLE) * power(2.0, 30) * 1e-8 AS v1,
        CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3,
        CAST(NULL AS DOUBLE) AS v4
      FROM b
    ),
    px_wei AS (
      -- wei-base market: multiplier = eth_usd/1e18; k=0 is ethereum_v1's
      -- WETH row whose price is overwritten with the Chainlink answer
      SELECT 'oracle_px',
        CASE WHEN k = 0 THEN '0xc02aaa39b223fe8d0a0e5c4f27ead9083c756cc2'
             ELSE '0x' || printf('%040x', 600 + k) END,
        'ethereum_v1',
        CASE WHEN k = 0 THEN 2500.0
             ELSE CAST(k+1 AS DOUBLE) * power(2.0, 50) * (2500.0 / 1e18) END,
        NULL, NULL, NULL
      FROM b WHERE k < 5
    ),
    seed AS (
      SELECT 'seed_csv', 'tok' || CAST(k AS VARCHAR),
        '"L' || CAST(k AS VARCHAR),
        CAST(k+1 AS DOUBLE) * 0.5, NULL, NULL, NULL
      FROM b8
    ),
    hblk AS (
      SELECT 'hourly_block',
        CAST(CAST(to_timestamp(1710028800 + 3600 * h) AS TIMESTAMP) AS VARCHAR),
        CAST(CAST(to_timestamp(1710028800 + 3600 * h + 7) AS TIMESTAMP) AS VARCHAR),
        CAST(19000000 + 300 * h AS DOUBLE), NULL, NULL, NULL
      FROM (SELECT unnest(range(0, 4)) AS h)
    ),
    hcmp AS (
      SELECT 'hourly_compound', '0xcb' || CAST(k AS VARCHAR),
        CASE WHEN k % 2 = 0 THEN 'compound_v2' ELSE 'compound_v3' END,
        CASE WHEN k % 2 = 0
             THEN power(CAST(k+1 AS DOUBLE) * power(2.0, 33) / 1e18 * 7200 + 1, 365) - 1
             ELSE CAST(k+1 AS DOUBLE) * power(2.0, 30) / 1e18 * 31536000 END,
        CASE WHEN k % 2 = 0
             THEN power(CAST(k+2 AS DOUBLE) * power(2.0, 33) / 1e18 * 7200 + 1, 365) - 1
             ELSE CAST(k+2 AS DOUBLE) * power(2.0, 30) / 1e18 * 31536000 END,
        CASE WHEN k % 2 = 0
             THEN CAST(k+2 AS DOUBLE) * power(2.0, 41) / power(10.0, 8)
                  * (CAST(k+3 AS DOUBLE) * power(2.0, 52) / power(10.0, 16))
             ELSE CAST(k+5 AS DOUBLE) * power(2.0, 40) / power(10.0, 8) END,
        CASE WHEN k % 2 = 0
             THEN CAST(k+4 AS DOUBLE) * power(2.0, 40) / power(10.0, 6)
             ELSE CAST(k+1 AS DOUBLE) * power(2.0, 40) / power(10.0, 8) END
      FROM b8
    )
    SELECT * FROM px_usd UNION ALL SELECT * FROM px_wei UNION ALL
    SELECT * FROM seed UNION ALL SELECT * FROM hblk UNION ALL
    SELECT * FROM hcmp UNION ALL
    {hpd_arms}
    """


@register(
    "connector_scan_hourly",
    oracle=_hourly_oracle(),
    doc=(
        "connector certification: S4 oracle prices (usd/wei multipliers +"
        " ethereum_v1 WETH overwrite), S13 CSV seed quote='' parity, S21"
        " hourly closest-block, S22 hourly Compound v2/v3 arms, S9h hourly"
        " reserve-data twin — all vs integer-derived oracles"
    ),
)
def connector_scan_hourly(spark, sf_dir):
    import os
    from datetime import datetime
    from functools import reduce

    from aave_etl_spark.sources import connectors

    day = datetime(2024, 3, 10)
    # nation is TPC-H's fixed 25-row dim (keys 0..24 at every SF)
    nat = list(range(25))
    ks = list(range(8))
    NULLS3 = ("CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3",
              "CAST(NULL AS DOUBLE) AS v4")

    # --- S4 usd-base: multiplier = 1/BASE_CURRENCY_UNIT = 1e-8 -------------
    px_keys = local_df(spark, 
        [("0x" + format(400 + k, "040x"), f"T{k}", "bench", 100 + k, day)
         for k in nat],
        "reserve string, symbol string, market string, block_height long,"
        "block_day timestamp",
    ).coalesce(1)

    def px_transport(req):
        k = int(req["reserve"], 16) - 400
        return {"price": (k + 1) * 2**30}

    px_usd = connectors.oracle_prices_by_day(
        px_keys, px_transport, price_multiplier=1e-8
    ).selectExpr(
        "'oracle_px' AS part", "reserve AS k1", "market AS k2",
        "usd_price AS v1", *NULLS3,
    )

    # --- S4 wei-base + ethereum_v1 WETH overwrite ---------------------------
    wei_keys = local_df(spark, 
        [(connectors.WETH if k == 0 else "0x" + format(600 + k, "040x"),
          f"W{k}", "ethereum_v1", 200 + k, day) for k in range(5)],
        "reserve string, symbol string, market string, block_height long,"
        "block_day timestamp",
    ).coalesce(1)

    def wei_transport(req):
        if req["reserve"] == "0xc02aaa39b223fe8d0a0e5c4f27ead9083c756cc2":
            k = 0
        else:
            k = int(req["reserve"], 16) - 600
        return {"price": (k + 1) * 2**50}

    px_wei = connectors.oracle_prices_by_day(
        wei_keys, wei_transport,
        price_multiplier=2500.0 / 1e18,  # eth_usd_price / 1e18 (:309)
        eth_usd_price=2500.0,
    ).selectExpr(
        "'oracle_px' AS part", "reserve AS k1", "market AS k2",
        "usd_price AS v1", *NULLS3,
    )

    # --- S13: CSV seed with quote='' (a leading literal double-quote) ------
    from aave_etl_spark.io.scratch import session_scratch_dir

    seed_dir = session_scratch_dir(spark, "aave_etl_spark_seed")
    os.makedirs(seed_dir, exist_ok=True)
    seed_path = os.path.join(seed_dir, "classification_seed.csv")
    with open(seed_path, "w") as fh:
        fh.write("symbol,label,weight\n")
        for k in ks:
            fh.write(f'tok{k},"L{k},{(k + 1) * 0.5}\n')
    seed = connectors.read_seed_csv(
        spark, seed_path, "symbol string, label string, weight double"
    ).selectExpr(
        "'seed_csv' AS part", "symbol AS k1", "label AS k2",
        "weight AS v1", *NULLS3,
    )

    # --- S21: hourly closest-block lookups ----------------------------------
    def hblk_transport(req):
        h = int(req["hour"][11:13])
        return {"height": 19000000 + 300 * h, "timestamp": 1710028800 + 3600 * h + 7}

    hblk = reduce(
        lambda a, b: a.unionByName(b),
        [connectors.block_numbers_by_hour(
            spark, hblk_transport, f"2024-03-10-{h:02d}:00", "ethereum", "bench")
         for h in range(4)],
    ).selectExpr(
        "'hourly_block' AS part", "CAST(block_hour AS STRING) AS k1",
        "CAST(block_time AS STRING) AS k2",
        "CAST(block_height AS DOUBLE) AS v1",
        "CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3",
        "CAST(NULL AS DOUBLE) AS v4",
    )

    # --- S22: hourly Compound — v2 (even k) vs v3 (odd k) -------------------
    hcmp_keys = local_df(spark, 
        [(datetime(2024, 3, 10, 6), 19001800, "ethereum",
          "compound_v2" if k % 2 == 0 else "compound_v3",
          f"cT{k}", f"0xcb{k}", f"T{k}", f"0xub{k}", 8, 6) for k in ks],
        "block_hour timestamp, block_height long, chain string,"
        "compound_version string, symbol string, address string,"
        "underlying_symbol string, underlying_address string,"
        "ctoken_decimals long, underlying_decimals long",
    ).coalesce(1)

    def hcmp_transport(req):
        k = int(req["address"][4:])
        if req["compound_version"] == "compound_v2":
            return {"supply_rate_per_block": (k + 1) * 2**33,
                    "borrow_rate_per_block": (k + 2) * 2**33,
                    "total_supply": (k + 2) * 2**41,
                    "exchange_rate": (k + 3) * 2**52,
                    "total_borrows": (k + 4) * 2**40}
        return {"supply_rate": (k + 1) * 2**30, "borrow_rate": (k + 2) * 2**30,
                "total_supply": (k + 5) * 2**40, "total_borrows": (k + 1) * 2**40}

    hcmp = connectors.compound_by_hour(hcmp_keys, hcmp_transport).selectExpr(
        "'hourly_compound' AS part", "address AS k1", "compound_version AS k2",
        "supply_apy AS v1", "borrow_apy AS v2", "deposits AS v3", "borrows AS v4",
    )

    # --- S9h: hourly reserve-data twin (block_hour passthrough) -------------
    def res(k: int) -> str:
        return "0x" + format(k, "040x")

    hpd_payloads = {res(k): _s9_payload(k, (k % 3) * 3 + 6) for k in ks}

    def hpd_transport(req):
        return hpd_payloads[req["reserve"]]

    hpd_keys = local_df(spark, 
        [("bench", res(k), f"T{k}", (k % 3) * 3 + 6, 100 + k,
          datetime(2024, 3, 10, k)) for k in ks],
        "market string, reserve string, symbol string, decimals long,"
        "block_height long, block_hour timestamp",
    ).coalesce(1)
    hpd_out = connectors.protocol_data_by_hour(hpd_keys, hpd_transport)
    hpd = (
        hpd_out.select(
            "reserve", "block_hour",
            *[F.col(f).cast("double").alias(f) for f in _S9H_FIELDS],
        )
        .unpivot(["reserve", "block_hour"], list(_S9H_FIELDS), "field", "value")
        .selectExpr(
            "'hourly_protocol' AS part", "reserve AS k1", "field AS k2",
            "value AS v1",
            # the key's hour index round-trips: certifies the block_hour
            # passthrough (reserve k was keyed at hour k)
            "CAST(hour(block_hour) AS DOUBLE) AS v2",
            "CAST(NULL AS DOUBLE) AS v3", "CAST(NULL AS DOUBLE) AS v4",
        )
    )

    return reduce(
        lambda a, b: a.unionByName(b),
        [px_usd, px_wei, seed, hblk, hcmp, hpd],
    )
