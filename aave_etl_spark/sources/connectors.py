"""Concrete source connectors S1–S20 (SURVEY.md §2.1).

Each function: (spark, transport, request args) → typed DataFrame, with the
reference's response-flattening and unit conventions applied (decimal
shifts, renames, address lowercasing). The transport is injected — a fake
in tests, a real HTTP/RPC client in production — so the connector logic
(parsing, typing, unit math, retry, fan-out shape) is what's under test.

Driver-side vs executor-side:
- scans returning O(markets×reserves) rows per partition use
  ``base.driver_fetch`` (tiny frames, usually broadcast downstream);
- per-(wallet,token) / per-reserve sweeps use ``base.fanout_fetch``
  (mapInPandas over a request-key DataFrame) so HTTP parallelism scales
  with executors, concurrency bounded at 20 in-flight per partition
  (Semaphore(20) parity, protocol_data_lake.py:855).
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aave_etl_spark.functions.scalars import SECONDS_PER_YEAR
from aave_etl_spark.functions.standardise import standardise_types
from aave_etl_spark.sources import schemas
from aave_etl_spark.sources.base import (
    DEFAULT_RETRY,
    RetryPolicy,
    Transport,
    driver_fetch,
    empty_frame,
    fanout_fetch,
)

WETH = "0xc02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
ETH_PSEUDO = "0xeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeee"


def _utc(ts: float | int) -> datetime:
    # reference: datetime.utcfromtimestamp (helpers.py:795, 810) — naive UTC;
    # we keep tz-aware UTC (session tz is UTC so values agree)
    return datetime.fromtimestamp(float(ts), tz=timezone.utc).replace(tzinfo=None)


# ---------------------------------------------------------------------------
# S1 — closest block to 00:00 UTC per (chain, day); start + end block.
# Reference: block_numbers_by_day, data_lake.py:73-140 (DeFiLlama REST).
# ---------------------------------------------------------------------------
def block_numbers_by_day(
    spark: SparkSession,
    transport: Transport,
    block_day: str,
    chain: str,
    market: str,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Two lookups (day start, next-day start); end_block = next_start - 1
    (data_lake.py:113-123 invariant, FIXTURES §1)."""

    def rows(payload: Any) -> list[dict[str, Any]]:
        # payload: {"start": {"height": h, "timestamp": s}, "next": {...}}
        start, nxt = payload["start"], payload["next"]
        return [
            {
                "block_day": datetime.fromisoformat(block_day),
                "block_time": _utc(start["timestamp"]),
                "block_height": int(start["height"]),
                "end_block": int(nxt["height"]) - 1,
                "chain": chain,
                "market": market,
            }
        ]

    req = {"kind": "closest_block", "chain": chain, "day": block_day}
    return driver_fetch(spark, transport, req, rows, schemas.BLOCK_NUMBERS_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S2 — subgraph (GraphQL) market token list at block height.
# Reference: get_market_tokens_at_block_aave, helpers.py:90-165; renames
# helpers.py:68-77; ETH→WETH patch data_lake.py:189.
# ---------------------------------------------------------------------------
def market_tokens_at_block(
    spark: SparkSession,
    transport: Transport,
    market: str,
    block_height: int,
    block_day: str,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    def rows(payload: Any) -> list[dict[str, Any]]:
        out = []
        for r in payload["reserves"]:
            out.append(
                {
                    "reserve": r["underlyingAsset"].lower(),
                    "name": r["name"],
                    "symbol": r["symbol"],
                    "decimals": int(r["decimals"]),
                    "atoken": r["aToken"]["id"].lower(),
                    "atoken_symbol": f"a{r['symbol']}",
                    "pool": r["pool"]["id"].lower(),
                    "market": market,
                    "atoken_decimals": int(r["decimals"]),
                    "block_height": block_height,
                    "block_day": datetime.fromisoformat(block_day),
                }
            )
        return out

    req = {"kind": "subgraph_tokens", "market": market, "block": block_height}
    df = driver_fetch(spark, transport, req, rows, schemas.MARKET_TOKENS_BY_DAY, policy)
    # ETH pseudo-address → WETH (data_lake.py:189)
    df = df.withColumn(
        "reserve",
        F.when(F.col("reserve") == ETH_PSEUDO, F.lit(WETH)).otherwise(F.col("reserve")),
    )
    return standardise_types(df)


# ---------------------------------------------------------------------------
# S4 — oracle price scan: getAssetsPrices(address[]) at block, multiplier to
# USD. Reference: aave_oracle_prices_by_day, data_lake.py:212-354.
# ---------------------------------------------------------------------------
def oracle_prices_by_day(
    tokens: DataFrame,
    transport: Transport,
    price_multiplier: float = 1.0,
    eth_usd_price: float | None = None,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Fan-out over the (market, block_height) token rows; raw oracle answer
    × multiplier → usd_price (data_lake.py:337-338). The multiplier is
    resolved by the caller per market exactly as the reference does
    (data_lake.py:295-310): 1/BASE_CURRENCY_UNIT for usd-base oracles,
    eth_usd_price/1e18 for wei-base, else 1. ``eth_usd_price`` additionally
    patches the ethereum_v1 rows whose reserve is WETH: v1's ETH entry
    doesn't use the WETH oracle slot, so its usd_price is overwritten with
    the Chainlink ETH/USD answer (data_lake.py:340-342)."""
    keys = tokens.select("reserve", "symbol", "market", "block_height", "block_day")

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        return [
            {
                "reserve": req["reserve"],
                "symbol": req["symbol"],
                "market": req["market"],
                "block_height": req["block_height"],
                "block_day": req["block_day"],
                "usd_price": float(payload["price"]) * price_multiplier,
            }
        ]

    out = fanout_fetch(keys, transport, rows, schemas.ORACLE_PRICES_BY_DAY, policy)
    if eth_usd_price is not None:
        out = out.withColumn(
            "usd_price",
            F.when(
                (F.col("market") == "ethereum_v1") & (F.col("reserve") == WETH),
                F.lit(float(eth_usd_price)),
            ).otherwise(F.col("usd_price")),
        )
    return out


# ---------------------------------------------------------------------------
# S5/S6 — token transfers (Covalent CSV / Alchemy paginated JSON), grouped
# to day. Reference: helpers.py:168-261, 264-472; group-sum helpers.py:235-249.
# ---------------------------------------------------------------------------
def token_transfers_by_day(
    requests: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """requests: one row per (collector wallet, token, block range, market,
    block_day). The per-transfer response is flattened then grouped to one
    row per (day, direction, counterparty) with summed amount — the
    reference does this inside the helper (helpers.py:239-248); we do it
    post-fan-out in Spark so the aggregation is distributed."""
    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        out = []
        for tr in payload["transfers"]:
            amt = float(tr["raw_amount"]) / 10 ** int(tr["decimals"])
            out.append(
                {
                    "transfers_transfer_type": tr["type"],
                    "transfers_from_address": tr["from"].lower(),
                    "transfers_to_address": tr["to"].lower(),
                    "transfers_contract_address": req["token"].lower(),
                    "transfers_contract_name": tr.get("name"),
                    "transfers_contract_decimals": int(tr["decimals"]),
                    "transfers_contract_symbol": tr.get("symbol"),
                    "block_day": req["block_day"],
                    "amount_transferred": amt,
                    "start_block": req["start_block"],
                    "end_block": req["end_block"],
                    "market": req["market"],
                    "collector": req["collector"].lower(),
                }
            )
        return out

    flat = fanout_fetch(requests, transport, rows, schemas.TOKEN_TRANSFERS_BY_DAY, policy)
    group_cols = [c for c in flat.columns if c != "amount_transferred"]
    return flat.groupBy(*group_cols).agg(
        F.sum("amount_transferred").alias("amount_transferred")
    ).select(*flat.columns)


# ---------------------------------------------------------------------------
# S7 — ERC20 balanceOf / scaledBalanceOf fan-out.
# Reference: get_erc20_balance_of / get_scaled_balance_of, helpers.py:475-600.
# ---------------------------------------------------------------------------
def collector_atoken_balances_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (collector, market, token, symbol, block_height, block_day).
    One RPC per row (balance + scaled balance), decimal-adjusted in the
    parser (helpers.py:535, 598)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        dec = int(payload["decimals"])
        return [
            {
                "collector": req["collector"].lower(),
                "market": req["market"],
                "token": req["token"].lower(),
                "symbol": req["symbol"],
                "block_height": req["block_height"],
                "block_day": req["block_day"],
                "balance": float(payload["balance"]) / 10**dec,
                "scaled_balance": float(payload["scaled_balance"]) / 10**dec,
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.COLLECTOR_ATOKEN_BALANCES_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S9 — reserve config+state multicall, version-dispatched, with ray/bps
# decimal shifts and v2→v3 schema fill.
# Reference: get_raw_reserve_data / raw_reserve_to_dataframe,
# helpers.py:695-965.
# ---------------------------------------------------------------------------
def _protocol_data_rows(time_col: str):
    """Shared S9 reserve-data parser (helpers.py:700-931): bps/1e4 config
    fractions, ray/1e27 rates/indices, raw/10**decimals amounts, v2→v3
    fill. ``time_col`` is 'block_day' (daily asset) or 'block_hour'
    (hourly twin, protocol_hourly_data_lake.py:136-240)."""
    v3_defaults = {
        "is_paused": False, "siloed_borrowing": False,
        "reserve_emode_category": 0, "borrow_cap": 0, "supply_cap": 0,
        "unbacked_mint_cap": 0, "debt_ceiling": 0,
        "liquidation_protocol_fee": 0.0, "unbacked_atokens": 0.0,
        "scaled_accrued_to_treasury": 0.0,
    }

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        dec = int(req["decimals"])
        unit = 10**dec
        r: dict[str, Any] = {
            time_col: req[time_col],
            "block_height": req["block_height"],
            "market": req["market"],
            "reserve": req["reserve"].lower(),
            "symbol": req["symbol"],
            "decimals": dec,
            "ltv": float(payload["ltv"]) / 1e4,
            "liquidation_threshold": float(payload["liquidation_threshold"]) / 1e4,
            "liquidation_bonus": float(payload["liquidation_bonus"]) / 1e4,
            "reserve_factor": float(payload["reserve_factor"]) / 1e4,
            "usage_as_collateral_enabled": bool(payload["usage_as_collateral_enabled"]),
            "borrowing_enabled": bool(payload["borrowing_enabled"]),
            "stable_borrow_rate_enabled": bool(payload["stable_borrow_rate_enabled"]),
            "is_active": bool(payload["is_active"]),
            "is_frozen": bool(payload["is_frozen"]),
            "atoken_supply": float(payload["atoken_supply"]) / unit,
            "stable_debt": float(payload["stable_debt"]) / unit,
            "variable_debt": float(payload["variable_debt"]) / unit,
            "liquidity_rate": float(payload["liquidity_rate"]) / 1e27,
            "variable_borrow_rate": float(payload["variable_borrow_rate"]) / 1e27,
            "stable_borrow_rate": float(payload["stable_borrow_rate"]) / 1e27,
            "average_stable_rate": float(payload.get("average_stable_rate", 0)) / 1e27,
            "liquidity_index": float(payload["liquidity_index"]) / 1e27,
            "variable_borrow_index": float(payload["variable_borrow_index"]) / 1e27,
            "last_update_timestamp": _utc(payload["last_update_timestamp"]),
        }
        for k, default in v3_defaults.items():
            v = payload.get(k, default)
            if isinstance(default, float):
                v = float(v) / (1e4 if k == "liquidation_protocol_fee" else 1.0)
                if k in ("unbacked_atokens", "scaled_accrued_to_treasury"):
                    v = float(payload.get(k, 0)) / unit
            r[k] = type(default)(v) if not isinstance(default, bool) else bool(v)
        # invariant helpers.py:796, 811
        r["available_liquidity"] = r["atoken_supply"] - r["stable_debt"] - r["variable_debt"]
        return [r]

    return rows


def protocol_data_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (market, reserve, symbol, decimals, block_height, block_day).
    One multicall per reserve, fanned out on the executors."""
    return fanout_fetch(
        keys, transport, _protocol_data_rows("block_day"),
        schemas.PROTOCOL_DATA_BY_DAY, policy,
    )


def protocol_data_by_hour(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Hourly twin (protocol_hourly_data_lake.py:136-240): identical
    multicall + unit shifts at the hour's block height; keys carry
    block_hour and come from the DAY's token dim joined to the hour's
    block lookup (the reference's day→hour partition mapping,
    protocol_hourly_data_lake.py:57-68)."""
    return fanout_fetch(
        keys, transport, _protocol_data_rows("block_hour"),
        schemas.PROTOCOL_DATA_BY_HOUR, policy,
    )


# ---------------------------------------------------------------------------
# S13 — CSV seed tables over HTTPS (data_lake.py:1409-1579).
# ---------------------------------------------------------------------------
def read_seed_csv(spark: SparkSession, path_or_url: str, schema) -> DataFrame:
    """Seed/classification dims. The reference fetches CSV over HTTPS with
    quoting=3 (data_lake.py:1422); local/remote CSV both read the same way.
    Tiny tables — broadcast into every downstream join."""
    return (
        spark.read.option("header", "true")
        .option("quote", "")
        .schema(schema)
        .csv(path_or_url)
    )


# ---------------------------------------------------------------------------
# S14 — CoinGecko daily price history (protocol_data_lake.py:1255-1319).
# ---------------------------------------------------------------------------
def coingecko_data_by_day(
    spark: SparkSession,
    transport: Transport,
    token_cfg: list[dict[str, Any]],
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    def rows(payload: Any) -> list[dict[str, Any]]:
        out = []
        for tok, series in payload.items():
            cfg = next(c for c in token_cfg if c["cg_id"] == tok)
            for ms, price in series:  # ms-epoch → timestamp (:1301)
                out.append(
                    {
                        "block_day": _utc(ms / 1000.0),
                        "price_usd": float(price),
                        "symbol": cfg["symbol"],
                        "cg_id": tok,
                        "address": cfg["address"].lower(),
                        "chain": cfg["chain"],
                        "decimals": int(cfg["decimals"]),
                    }
                )
        return out

    req = {"kind": "coingecko_history", "ids": [c["cg_id"] for c in token_cfg]}
    return driver_fetch(spark, transport, req, rows, schemas.COINGECKO_DATA_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S16 — Compound v2/v3 rate scan with the inline APY formula
# (protocol_data_lake.py:1462-1467, 1583-1587).
# ---------------------------------------------------------------------------
BLOCKS_PER_DAY = 7200
DAYS_PER_YEAR = 365


def compound_rate_to_apy(rate_per_block: float) -> float:
    """((rate/1e18 * blocks_per_day + 1) ** days_per_year - 1)
    (protocol_data_lake.py:1462-1467)."""
    return (rate_per_block / 1e18 * BLOCKS_PER_DAY + 1) ** DAYS_PER_YEAR - 1


def compound_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (block_day, block_height, chain, compound_version, symbol,
    address, underlying_symbol, underlying_address, underlying_decimals)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        dec = int(req["underlying_decimals"])
        return [
            {
                "block_day": req["block_day"],
                "block_height": req["block_height"],
                "chain": req["chain"],
                "compound_version": req["compound_version"],
                "symbol": req["symbol"],
                "address": req["address"].lower(),
                "underlying_symbol": req["underlying_symbol"],
                "underlying_address": req["underlying_address"].lower(),
                "supply_apy": compound_rate_to_apy(float(payload["supply_rate_per_block"])),
                "borrow_apy": compound_rate_to_apy(float(payload["borrow_rate_per_block"])),
                "deposits": float(payload["total_supply_underlying"]) / 10**dec,
                "borrows": float(payload["total_borrows"]) / 10**dec,
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.COMPOUND_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S21 — hourly block lookup: closest block to the hour boundary per
# (market, hour) multipartition. Reference: block_numbers_by_hour,
# protocol_hourly_data_lake.py:80-133 — ONE DeFiLlama call (the daily twin
# S1 makes two: it also needs end_block; the hourly table does not).
# ---------------------------------------------------------------------------
def block_numbers_by_hour(
    spark: SparkSession,
    transport: Transport,
    block_hour: str,
    chain: str,
    market: str,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """``block_hour`` uses the reference's hourly partition-key format
    '%Y-%m-%d-%H:%M' (protocol_hourly_data_lake.py:99)."""

    def rows(payload: Any) -> list[dict[str, Any]]:
        return [
            {
                "block_hour": datetime.strptime(block_hour, "%Y-%m-%d-%H:%M"),
                "block_time": _utc(payload["timestamp"]),
                "block_height": int(payload["height"]),
                "chain": chain,
                "market": market,
            }
        ]

    req = {"kind": "closest_block_hour", "chain": chain, "hour": block_hour}
    return driver_fetch(spark, transport, req, rows, schemas.BLOCK_NUMBERS_BY_HOUR, policy)


# ---------------------------------------------------------------------------
# S22 — Compound v2/v3 hourly rate scan. Reference:
# compound_v2_by_hour / compound_v3_by_hour,
# protocol_hourly_data_lake.py:246-481. The two versions differ in BOTH the
# APY formula and the balance math:
#   v2: per-block compounding ((rate/1e18 * 7200 + 1)^365 - 1), deposits =
#       ctoken supply × stored exchange rate (de-scaled by
#       10^(18 + underlying_dec - ctoken_dec)), borrows in underlying units
#       (:287-292, :319-322).
#   v3: simple per-second annualization rate/1e18 × seconds_per_year;
#       deposits AND borrows both in base-token units (:406-446).
# ---------------------------------------------------------------------------
def compound_v3_rate_to_apy(rate_per_second: float) -> float:
    """rate/1e18 * seconds_per_year (protocol_hourly_data_lake.py:406-410)."""
    return rate_per_second / 1e18 * SECONDS_PER_YEAR


def compound_by_hour(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (block_hour, block_height, chain, compound_version, symbol,
    address, underlying_symbol, underlying_address, ctoken_decimals,
    underlying_decimals). One multicall per key row, fanned out on the
    executors (Semaphore(20) parity via fanout_fetch)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        cdec = int(req["ctoken_decimals"])
        udec = int(req["underlying_decimals"])
        if req["compound_version"] == "compound_v2":
            exchange_rate = float(payload["exchange_rate"]) / 10 ** (18 + udec - cdec)
            supply_apy = compound_rate_to_apy(float(payload["supply_rate_per_block"]))
            borrow_apy = compound_rate_to_apy(float(payload["borrow_rate_per_block"]))
            deposits = float(payload["total_supply"]) / 10**cdec * exchange_rate
            borrows = float(payload["total_borrows"]) / 10**udec
        else:
            supply_apy = compound_v3_rate_to_apy(float(payload["supply_rate"]))
            borrow_apy = compound_v3_rate_to_apy(float(payload["borrow_rate"]))
            deposits = float(payload["total_supply"]) / 10**cdec
            borrows = float(payload["total_borrows"]) / 10**cdec
        return [
            {
                "block_hour": req["block_hour"],
                "block_height": req["block_height"],
                "chain": req["chain"],
                "compound_version": req["compound_version"],
                "symbol": req["symbol"],
                "address": req["address"].lower(),
                "underlying_symbol": req["underlying_symbol"],
                "underlying_address": req["underlying_address"].lower(),
                "supply_apy": supply_apy,
                "borrow_apy": borrow_apy,
                "deposits": deposits,
                "borrows": borrows,
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.COMPOUND_BY_HOUR, policy)


# ---------------------------------------------------------------------------
# S17 — liquidity-depth sweep: per (pair), quote an amount grid; the grid is
# generated JVM-side (sequence+transform linspace) and the quotes fan out.
# Reference: liquidity_depth_raw, protocol_data_lake.py:837-1065.
# ---------------------------------------------------------------------------
def liquidity_depth_sweep(
    pairs: DataFrame,
    transport: Transport,
    fetch_time: datetime,
    n_points: int = 20,
    low_usd: float = 1e4,
    high_usd: float = 1e8,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """pairs: (market_key, market, chain, loop_market, from/to asset cols,
    prices, chain_id). Sweep amounts = linspace(low, high, n) per pair
    (protocol_data_lake.py:995-996) exploded JVM-side; each (pair, amount)
    is one quote request on the executors."""
    step = F.explode(F.sequence(F.lit(0), F.lit(n_points - 1))).alias("_step")
    grid = pairs.select("*", step).withColumn(
        "from_amount_usd",
        F.lit(low_usd)
        + F.col("_step").cast("double") * (high_usd - low_usd) / (n_points - 1),
    ).drop("_step")

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        from_native = req["from_amount_usd"] / req["from_asset_price"]
        to_native = float(payload["to_amount_native"])
        to_usd = to_native * req["to_asset_price"]
        return [
            {
                **{k: req[k] for k in schemas.LIQUIDITY_DEPTH_RAW.fieldNames()
                   if k in req},
                "from_amount_native": from_native,
                "to_amount_native": to_native,
                "to_amount_usd": to_usd,
                "price_impact": 1.0 - to_usd / req["from_amount_usd"],
                "fetch_time": fetch_time,
            }
        ]

    return fanout_fetch(grid, transport, rows, schemas.LIQUIDITY_DEPTH_RAW, policy)


# ---------------------------------------------------------------------------
# S3 — RPC token list via getAllReservesTokens multicall + metadata joins.
# Reference: get_market_tokens_at_block_rpc, helpers.py:1381-1516.
# ---------------------------------------------------------------------------
def market_tokens_at_block_rpc(
    spark: SparkSession,
    transport: Transport,
    market: str,
    block_height: int,
    block_day: str,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Reserve/atoken tuple arrays flattened and joined on position
    (helpers.py:1446-1448), decimals/name fixups applied (MKR patch
    helpers.py:1506 analog is the caller's concern)."""

    def rows(payload: Any) -> list[dict[str, Any]]:
        out = []
        for r, a in zip(payload["reserves"], payload["atokens"]):
            out.append(
                {
                    "reserve": r["address"].lower(),
                    "name": r.get("name"),
                    "symbol": r["symbol"],
                    "decimals": int(r["decimals"]),
                    "atoken": a["address"].lower(),
                    "atoken_symbol": a["symbol"],
                    "pool": payload["pool"].lower(),
                    "market": market,
                    "atoken_decimals": int(r["decimals"]),
                    "block_height": block_height,
                    "block_day": datetime.fromisoformat(block_day),
                }
            )
        return out

    req = {"kind": "rpc_tokens", "market": market, "block": block_height}
    return standardise_types(
        driver_fetch(spark, transport, req, rows, schemas.MARKET_TOKENS_BY_DAY, policy)
    )


# ---------------------------------------------------------------------------
# S8 — event logs by topic hash in a block range, optional sender filter.
# Reference: get_events_by_topic_hash_from_covalent, helpers.py:603-661.
# ---------------------------------------------------------------------------
def events_by_topic_hash(
    spark: SparkSession,
    transport: Transport,
    start_block: int,
    end_block: int,
    chain_id: int,
    topic_hash: str,
    sender_address: str | None = None,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    def rows(payload: Any) -> list[dict[str, Any]]:
        return [
            {
                "block_signed_at": _utc(e["block_signed_at"]),
                "block_height": int(e["block_height"]),
                "tx_hash": e["tx_hash"].lower(),
                "raw_log_topics_0": e["topics"][0].lower(),
                "raw_log_topics_1": (
                    e["topics"][1].lower() if len(e["topics"]) > 1 and e["topics"][1] else None
                ),
                "sender_address": e["sender_address"].lower(),
                "raw_log_data": e.get("raw_log_data"),
            }
            for e in payload["items"]
        ]

    req = {
        "kind": "events_by_topic", "chain_id": chain_id, "topic": topic_hash,
        "start_block": start_block, "end_block": end_block,
    }
    df = driver_fetch(spark, transport, req, rows, schemas.EVENTS_BY_TOPIC, policy)
    if sender_address:  # post-filter like helpers.py:655-657
        df = df.filter(F.col("sender_address") == sender_address.lower())
    return df


# ---------------------------------------------------------------------------
# S10 — UiIncentiveDataProvider scan: nested a/v/s reward tuples flattened.
# Reference: raw_incentives_by_day, protocol_data_lake.py:190-584 (flatten
# :526-555). The connector flattens executor-side; the 3-level nesting
# becomes one long row per (reserve, token_type, reward).
# ---------------------------------------------------------------------------
def raw_incentives_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (market, block_height, block_day). Response shape per reserve:
    {underlying_asset, a/v/s: {token_address, controller, rewards: [...]}}"""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        out = []
        for reserve in payload["reserves"]:
            for token_type in ("atoken", "vtoken", "stoken"):
                side = reserve.get(token_type)
                if not side:
                    continue
                for rw in side["rewards"]:
                    out.append(
                        {
                            "block_day": req["block_day"],
                            "block_height": req["block_height"],
                            "market": req["market"],
                            "underlying_asset": reserve["underlying_asset"].lower(),
                            "token_address": side["token_address"].lower(),
                            "incentive_controller_address": side["controller"].lower(),
                            "reward_token_symbol": rw["symbol"],
                            "reward_token_address": rw["address"].lower(),
                            "reward_oracle_address": rw["oracle"].lower(),
                            "emission_per_second": float(rw["emission_per_second"]),
                            "incentives_last_update_timestamp": int(rw["last_update"]),
                            "token_incentives_index": float(rw["index"]),
                            "emission_end_timestamp": int(rw["emission_end"]),
                            "reward_price_feed": float(rw["price_feed"]),
                            "reward_token_decimals": int(rw["decimals"]),
                            "precision": int(rw["precision"]),
                            "price_feed_decimals": int(rw["price_feed_decimals"]),
                            "token_type": token_type,
                        }
                    )
        return out

    return fanout_fetch(keys, transport, rows, schemas.RAW_INCENTIVES_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S11 — eMode category scan for the distinct categories present in protocol
# data. Reference: emode_config_by_day, protocol_data_lake.py:596-708 —
# the distinct-categories filter (:649) runs ON the DataFrame; only the
# tiny category list fans out.
# ---------------------------------------------------------------------------
def emode_config_by_day(
    protocol_data: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    keys = (
        protocol_data.filter(F.col("reserve_emode_category") > 0)
        .select("block_day", "block_height", "market", "reserve_emode_category")
        .distinct()
    )

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        return [
            {
                "block_day": req["block_day"],
                "block_height": req["block_height"],
                "market": req["market"],
                "reserve_emode_category": req["reserve_emode_category"],
                "emode_ltv": float(payload["ltv"]) / 1e4,
                "emode_liquidation_threshold": float(payload["liquidation_threshold"]) / 1e4,
                "emode_liquidation_bonus": float(payload["liquidation_bonus"]) / 1e4,
                "emode_price_address": payload["price_source"].lower(),
                "emode_category_name": payload["label"],
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.EMODE_CONFIG_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S15 — beaconcha.in ETH staking returns (protocol_data_lake.py:1328-1411).
# ---------------------------------------------------------------------------
def beacon_staking_returns_by_day(
    spark: SparkSession,
    transport: Transport,
    partition_date: str,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    def rows(payload: Any) -> list[dict[str, Any]]:
        d = payload["data"]
        return [
            {
                "partition_date": partition_date,
                "beaconchain_day": int(d["day"]),
                "day_start": _utc(d["day_start"]),
                "day_end": _utc(d["day_end"]),
                "apr": float(d["apr"]),
                "cl_apr": float(d["cl_apr"]),
                "el_apr": float(d["el_apr"]),
            }
        ]

    req = {"kind": "beacon_day", "date": partition_date}
    return driver_fetch(spark, transport, req, rows, schemas.BEACON_STAKING_RETURNS_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S18 — paginated token-holder list at block height, balance > 0.
# Reference: get_token_holders_from_covalent, helpers.py:1196-1250;
# asset protocol_data_lake.py:1767-1827 (filter :1805).
# ---------------------------------------------------------------------------
def token_holders_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (block_day, chain, safety_module_token, stk_token_address,
    block_height). Transport handles pagination internally (returns the
    full holder list); zero balances dropped like the reference."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        dec = int(payload["decimals"])
        total = float(payload["total_supply"]) / 10**dec
        return [
            {
                "block_day": req["block_day"],
                "chain": req["chain"],
                "safety_module_token": req["safety_module_token"],
                "stk_token_address": req["stk_token_address"].lower(),
                "holder_address": h["address"].lower(),
                "balance": float(h["balance"]) / 10**dec,
                "total_supply": total,
                "block_height": req["block_height"],
            }
            for h in payload["holders"]
            if float(h["balance"]) > 0
        ]

    return fanout_fetch(keys, transport, rows, schemas.SM_TOKEN_HOLDERS_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S19 — Balancer BPT getRate/getActualSupply with contract-existence check.
# Reference: get_balancer_bpt_data, helpers.py:1132-1194; asset
# protocol_data_lake.py:1076-1127.
# ---------------------------------------------------------------------------
def balancer_bpt_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (pool, symbol, name, decimals, denom, price_token,
    price_symbol, block_day, block_height, chain). A pre-deployment pool
    (no bytecode) yields NULL rate/supply like the reference's existence
    check (helpers.py:1150-1160)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        exists = bool(payload.get("deployed", True))
        unit = 10 ** int(req["decimals"])
        return [
            {
                **{k: req[k] for k in ("pool", "symbol", "name", "decimals", "denom",
                                        "price_token", "price_symbol", "block_day",
                                        "block_height", "chain")},
                "rate": float(payload["rate"]) / 1e18 if exists else None,
                "actual_supply": float(payload["actual_supply"]) / unit if exists else None,
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.BALANCER_BPT_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S20 — misc balance scans: native gas balances and generic ERC20 wallet
# balances. Reference: data_lake.py:1917-1982; protocol_data_lake.py:1838-1896.
# ---------------------------------------------------------------------------
def eth_balances_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (block_height, block_day, chain, market, collector,
    wrapped_gas_token, gas_token); wei → ether (data_lake.py:1950)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        return [
            {
                **{k: req[k] for k in ("block_height", "block_day", "chain", "market",
                                        "collector", "wrapped_gas_token", "gas_token")},
                "balance": float(payload["wei"]) / 1e18,
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.ETH_BALANCES_BY_DAY, policy)


def erc20_balances_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """keys: (block_day, block_height, chain, wallet_address, token,
    token_address); decimal-adjusted (protocol_data_lake.py:1881-1882)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        return [
            {
                **{k: req[k] for k in ("block_day", "block_height", "chain",
                                        "wallet_address", "token", "token_address")},
                "balance": float(payload["raw"]) / 10 ** int(payload["decimals"]),
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.ERC20_BALANCES_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S20 — unclaimed Paraswap fees per (market, day).
# Reference: paraswap_claimable_fees, data_lake.py:1994-2089.
# ---------------------------------------------------------------------------
PARASWAP_CLAIMER_DEPLOYED = datetime(2022, 12, 7)


def paraswap_claimable_fees(
    spark: SparkSession,
    transport: Transport,
    market_tokens: DataFrame,
    chain: str,
    market: str,
    fee_claimer: str | None,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """One ``batchGetClaimable(address[])`` multicall at the partition's
    block height; the returned uint256[] is in TOKEN-ARGUMENT ORDER, so
    the result joins back to the token dim BY POSITION
    (data_lake.py:2072-2073) — the zip below IS that positional join.
    Claimable decimal-shifts to float (:2079). Bails to a typed empty
    frame pre-deployment (< 2022-12-07, :2021), with no fee-claimer
    contract for the market (:2033-2035), or with an empty token dim
    (:2025-2026).

    The token dim is collected driver-side to build the call's ordered
    address array — it is dim-sized (tens of rows per market) and the
    batched RPC signature requires the list; the response is the same
    size. The duplicate rows across v2/v3 markets noted in the reference
    are deduplicated downstream by warehouse paraswap_fees_dedup."""
    toks = market_tokens.select(
        "block_day", "block_height", "reserve", "symbol", "decimals"
    ).collect()
    if not toks or fee_claimer is None:
        return empty_frame(spark, schemas.PARASWAP_CLAIMABLE_FEES)
    if toks[0].block_day < PARASWAP_CLAIMER_DEPLOYED:
        return empty_frame(spark, schemas.PARASWAP_CLAIMABLE_FEES)

    def rows(payload: Any) -> list[dict[str, Any]]:
        claimable = payload["claimable"]
        if len(claimable) != len(toks):
            raise ValueError(
                f"batchGetClaimable returned {len(claimable)} values for {len(toks)} tokens"
            )
        return [
            {
                "block_day": t.block_day,
                "chain": chain,
                "market": market,
                "paraswap_fee_claimer": fee_claimer.lower(),
                "reserve": t.reserve,
                "symbol": t.symbol,
                "claimable": float(raw) / 10 ** int(t.decimals),
            }
            for t, raw in zip(toks, claimable)
        ]

    req = {
        "kind": "paraswap_claimable",
        "fee_claimer": fee_claimer,
        "tokens": [t.reserve for t in toks],
        "block": int(toks[0].block_height),
    }
    return standardise_types(
        driver_fetch(spark, transport, req, rows, schemas.PARASWAP_CLAIMABLE_FEES, policy)
    )


def liquidity_depth_refine_grid(
    coarse: DataFrame,
    pair_keys: tuple[str, ...] = ("market_key", "from_asset", "to_asset"),
    sweep_steps: int = 20,
) -> DataFrame:
    """Phase 2 grid of the reference's two-phase sweep
    (protocol_data_lake.py:957-1003): from the coarse quotes, per pair
    pick the amount just INSIDE the 1% price-impact boundary (min
    non-negative ``0.01 - price_impact``) and the amount just PAST the 5%
    boundary (min non-negative ``price_impact - 0.05``), then lay a
    linspace of ``sweep_steps`` amounts between them with endpoint=False
    (:997), excluding the low point already quoted (:999).

    Pure relational logic, faithful to the pandas original: the boundary
    picks are the min-rank join-back pattern (window min + equality
    filter, preserving ties exactly as the reference's merge+filter
    does); pairs with no quote past the 5% boundary produce no
    refinement rows (the reference would sweep NaN amounts there — the
    guard is deliberate). Output: the coarse pair columns with the new
    ``from_amount_usd``/``from_amount_native`` grid, ready for the same
    executor fan-out as phase 1."""
    keys = [F.col(k) for k in pair_keys]
    w = Window.partitionBy(*keys)
    # the low side carries EVERY non-quote column (chain_id, prices, ...)
    # into the phase-2 requests, like the reference's detail_sweep_low
    # (:973 drops only the quote outputs); the high side contributes only
    # its boundary amount (:988)
    quote_cols = {
        "from_amount_usd", "from_amount_native", "to_amount_native",
        "to_amount_usd", "price_impact",
    }
    carry = [c for c in coarse.columns if c not in quote_cols]
    d1 = coarse.withColumn("_dist1", F.lit(0.01) - F.col("price_impact"))
    low = (
        d1.filter(F.col("_dist1") >= 0)
        .withColumn("_min1", F.min("_dist1").over(w))
        .filter(F.col("_dist1") == F.col("_min1"))
        .select(*carry, F.col("from_amount_usd").alias("from_amount_usd_low"))
    )
    d5 = coarse.withColumn("_dist5", F.col("price_impact") - F.lit(0.05))
    high = (
        d5.filter(F.col("_dist5") >= 0)
        .withColumn("_min5", F.min("_dist5").over(w))
        .filter(F.col("_dist5") == F.col("_min5"))
        .select(*pair_keys, F.col("from_amount_usd").alias("from_amount_usd_high"))
    )
    bounds = low.join(high, list(pair_keys), "left").filter(
        F.col("from_amount_usd_high").isNotNull()
    )
    # linspace(low, high, n, endpoint=False): low + i*(high-low)/n, i in [0, n)
    step = (F.col("from_amount_usd_high") - F.col("from_amount_usd_low")) / sweep_steps
    grid = bounds.select(
        *carry,
        "from_amount_usd_low",
        F.explode(F.sequence(F.lit(0), F.lit(sweep_steps - 1))).alias("_i"),
        step.alias("_step"),
    ).withColumn(
        "from_amount_usd",
        F.col("from_amount_usd_low") + F.col("_i").cast("double") * F.col("_step"),
    )
    return (
        grid.filter(F.col("from_amount_usd") != F.col("from_amount_usd_low"))
        .withColumn(
            "from_amount_native", F.col("from_amount_usd") / F.col("from_asset_price")
        )
        .drop("_i", "_step", "from_amount_usd_low")
    )


# ---------------------------------------------------------------------------
# Treasury-measure lake chain: accrued fees, MintedToTreasury decode, and
# treasury LM incentives — the three upstream tables of
# warehouse.measures.atoken_measures_by_day.
# Reference: v3_accrued_fees_by_day data_lake.py:744-905,
# v3_minted_to_treasury_by_day data_lake.py:929-1092,
# treasury_accrued_incentives_by_day data_lake.py:1095-1279.
# ---------------------------------------------------------------------------

# event signature keccak hashes (public constants, data_lake.py:966, 1013)
MINTED_TO_TREASURY_TOPIC = "0xbfa21aa5d5f9a1f0120a95e7c0749f389863cbdbfff531aa7339077a5bc919de"
MINT_TOPIC = "0x458f5fa412d0f69b08dd84872b0215675cc67bc1d5b6fd93300a1c3878b86196"


def uint256_hex_to_double(col, word: int = 0):
    """ABI-decode 32-byte word ``word`` of an ``0x…`` hex data blob into a
    double, JVM-side (the Spark analog of ``decode(['uint256'], …)`` +
    float64 cast, data_lake.py:978-981, 1031-1034).

    ``conv(hex, 16, 10)`` is 64-bit-capped, so the 64-hex-char word splits
    into four 16-char limbs, each conv'd independently, recombined with
    double math: v = l0·2^192 + l1·2^128 + l2·2^64 + l3. Realistic token
    amounts occupy ≤2 limbs, where this is exactly the reference's
    int→Float64 rounding; a whole-stage-codegen expression, no UDF."""
    h = F.lower(F.regexp_replace(col, "^0x", ""))
    w = F.substring(h, word * 64 + 1, 64)
    limbs = [
        F.coalesce(F.conv(F.substring(w, i * 16 + 1, 16), 16, 10).cast("double"), F.lit(0.0))
        for i in range(4)
    ]
    return (
        limbs[0] * float(2**192)
        + limbs[1] * float(2**128)
        + limbs[2] * float(2**64)
        + limbs[3]
    )


def topic_address(col):
    """Indexed-address topic → address: the 20-byte value right-aligned in
    the 32-byte topic (``decode(['address'], …)``, data_lake.py:982-984)."""
    return F.concat(F.lit("0x"), F.lower(F.substring(col, -40, 40)))


def v3_accrued_fees_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Fees earned but not yet materialised via MintToTreasury().

    keys: (market, reserve, symbol, decimals, atoken, atoken_symbol,
    block_height, block_day) — the v3 token dim; the caller gates on
    market version 3 (data_lake.py:780) so v2 markets contribute no keys.
    One getReserveData() per reserve fans out on the executors; payload
    carries the raw uint fields {"accrued_to_treasury_scaled", ray
    "liquidity_index"}. Unit math data_lake.py:884-886:
    accrued_fees_scaled = raw/10^decimals, liquidity_index = ray/1e27,
    accrued_fees = scaled × index (golden values pinned by
    aave_data_tests/financials/test_data_lake.py::test_v3_accrued_fees_by_day)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        scaled = float(payload["accrued_to_treasury_scaled"]) / 10 ** int(req["decimals"])
        idx = float(payload["liquidity_index"]) / 1e27
        return [
            {
                "market": req["market"],
                "reserve": req["reserve"].lower(),
                "symbol": req["symbol"],
                "atoken": req["atoken"].lower(),
                "atoken_symbol": req["atoken_symbol"],
                "block_height": req["block_height"],
                "block_day": req["block_day"],
                "accrued_fees_scaled": scaled,
                "liquidity_index": idx,
                "accrued_fees": scaled * idx,
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.V3_ACCRUED_FEES_BY_DAY, policy)


def v3_minted_to_treasury_by_day(
    spark: SparkSession,
    transport: Transport,
    market_tokens: DataFrame,
    start_block: int,
    end_block: int,
    chain_id: int,
    pool: str,
    market: str,
    block_day: str,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """MintedToTreasury amounts joined to their Mint twins, rolled to day.

    Reference data_lake.py:929-1092: fetch MintedToTreasury events at the
    pool (S8), ABI-decode amount (data word 0) + reserve (topic 1), inner
    join the token dim on the reserve, then fetch Mint events, keep only
    tx_hashes present in the minted set (the ``isin`` filter :1029 →
    LEFT SEMI here), decode value (word 0 of the 3×uint256 data), join on
    (tx_hash, atoken = sender) and group-to-day with summed amounts
    (:1066 catches multiple MintToTreasury events in a day).

    ``block_day`` must be the day the scanned [start_block, end_block]
    range COVERS. The reference labels partition - 1 day (:988) because
    its partition D scans day D-1's blocks; this repo's
    block_numbers_by_day partition D covers day D itself, so the plan
    passes the partition date unshifted and rows land on the same day as
    the collector transfers/balances. Decodes are JVM-side limb
    expressions (uint256_hex_to_double); the token dim is broadcast; the
    only shuffle is the final day rollup. The transport returns raw log
    items only (the reference drops covalent-predecoded rows, :1030)."""
    minted_ev = events_by_topic_hash(
        spark, transport, start_block, end_block, chain_id,
        MINTED_TO_TREASURY_TOPIC, sender_address=pool, policy=policy,
    )
    if minted_ev.first() is None:  # no events → typed empty (:1067-1070)
        return empty_frame(spark, schemas.V3_MINTED_TO_TREASURY_BY_DAY)

    minted = (
        minted_ev.filter(F.col("raw_log_topics_0").isNotNull())  # :977
        .select(
            "tx_hash",
            topic_address(F.col("raw_log_topics_1")).alias("minted_reserve"),
            uint256_hex_to_double(F.col("raw_log_data")).alias("minted_raw"),
        )
    )
    toks = market_tokens.select(
        "reserve", "symbol", "decimals", "atoken", "atoken_symbol", "block_height"
    )
    joined = (
        minted.join(F.broadcast(toks), minted.minted_reserve == toks.reserve, "inner")
        .withColumn(
            "minted_to_treasury_amount",
            F.col("minted_raw") / F.pow(F.lit(10.0), F.col("decimals")),
        )
    )

    mint_ev = events_by_topic_hash(
        spark, transport, start_block, end_block, chain_id, MINT_TOPIC, policy=policy
    )
    mints = (
        mint_ev.join(joined.select("tx_hash"), "tx_hash", "left_semi")
        .select(
            "tx_hash",
            F.col("sender_address").alias("minted_atoken"),
            uint256_hex_to_double(F.col("raw_log_data")).alias("value_raw"),
        )
    )
    out = (
        joined.join(
            mints,
            (joined.tx_hash == mints.tx_hash) & (joined.atoken == mints.minted_atoken),
            "inner",
        )
        .drop(mints.tx_hash)
        .withColumn("minted_amount", F.col("value_raw") / F.pow(F.lit(10.0), F.col("decimals")))
    )

    out = (
        out.withColumn("market", F.lit(market))
        .withColumn("block_day", F.lit(datetime.fromisoformat(block_day)))
        .groupBy("market", "reserve", "symbol", "atoken", "atoken_symbol",
                 "block_height", "block_day")
        .agg(
            F.sum("minted_to_treasury_amount").alias("minted_to_treasury_amount"),
            F.sum("minted_amount").alias("minted_amount"),
        )
    )
    return standardise_types(out.to(schemas.V3_MINTED_TO_TREASURY_BY_DAY))


def treasury_accrued_incentives_by_day(
    spark: SparkSession,
    transport: Transport,
    chain: str,
    market: str,
    collector: str,
    incentives_controller: str | None,
    version: int,
    block_height: int,
    block_day: str,
    rewards_token: str | None = None,
    rewards_token_symbol: str | None = None,
    rewards_token_decimals: int | None = None,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Accrued LM rewards owed to the treasury from holding aTokens.

    Reference data_lake.py:1095-1279. v3: the transport enumerates
    getRewardsList() and returns one element per reward token with its
    ERC20 symbol/decimals and getUserAccruedRewards(collector, token)
    raw amount; v2: a single getUserUnclaimedRewards(collector) amount
    with token/symbol/decimals from market config (:1232-1250). No
    incentives controller (or other versions) → typed empty (:1181-1182).
    ``block_height`` is the day's snapshot block: the reference passes
    prev-day end_block+1 (:1191), which under its block convention IS the
    labeled day's 00:00 start block — the plan passes the partition day's
    start block (hb.block_height), the same chain state."""
    if incentives_controller is None or version not in (2, 3):
        return empty_frame(spark, schemas.TREASURY_ACCRUED_INCENTIVES_BY_DAY)
    if version == 2 and (rewards_token is None or rewards_token_decimals is None):
        # the reference indexes CONFIG_MARKETS[...]['rewards_token'] and
        # would KeyError; a silent 'none'-address row with raw-wei amounts
        # must never flow into treasury aggregations
        raise ValueError(
            f"treasury_accrued_incentives_by_day: v2 market {market!r} has an"
            " incentives controller but no rewards_token/rewards_token_decimals"
            " config"
        )

    day = datetime.fromisoformat(block_day)
    base_row = {
        "chain": chain,
        "market": market,
        "collector_contract": collector.lower(),
        "block_height": block_height,
        "block_day": day,
    }

    def rows(payload: Any) -> list[dict[str, Any]]:
        if version == 3:
            return [
                {
                    **base_row,
                    "rewards_token_address": rw["address"].lower(),
                    "rewards_token_symbol": rw["symbol"],
                    "accrued_rewards": float(rw["accrued"]) / 10 ** int(rw["decimals"]),
                }
                for rw in payload["rewards"]
            ]
        return [
            {
                **base_row,
                "rewards_token_address": rewards_token.lower(),
                "rewards_token_symbol": rewards_token_symbol,
                "accrued_rewards": float(payload["raw"]) / 10 ** int(rewards_token_decimals),
            }
        ]

    req = {
        "kind": "treasury_incentives",
        "controller": incentives_controller,
        "user": collector,
        "block": block_height,
        "version": version,
    }
    return driver_fetch(
        spark, transport, req, rows, schemas.TREASURY_ACCRUED_INCENTIVES_BY_DAY, policy
    )


# ---------------------------------------------------------------------------
# Non-atoken twins: wallet-config fan-out over CONFIG_TOKENS instead of the
# market token dim. Reference: non_atoken_transfers_by_day data_lake.py:472-532,
# non_atoken_balances_by_day data_lake.py:652-724.
# ---------------------------------------------------------------------------
def non_atoken_transfers_by_day(
    requests: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Treasury-swap / governance / incentives-payment transfers.

    Same Covalent transfer flatten + day rollup as the collector variant
    (the reference calls the identical helper, data_lake.py:509-515);
    only the request keys differ — one row per (wallet, token) from the
    CONFIG_TOKENS map with collector = the config wallet address
    (:506-517), built by the caller (plans/reference_pipeline.py)."""
    return token_transfers_by_day(requests, transport, policy)


def non_atoken_balances_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """balanceOf() scan over the CONFIG_TOKENS wallet×token fan-out.

    keys: (contract_address, chain, market, token, decimals, symbol,
    block_height, block_day) — block_height is end_block+1 of the PREVIOUS
    day's range (data_lake.py:675-677). Decimals come from config (not an
    RPC), so the decimal shift uses the key (:700-706)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        return [
            {
                "contract_address": req["contract_address"].lower(),
                "chain": req["chain"],
                "market": req["market"],
                "token": req["token"].lower(),
                "decimals": int(req["decimals"]),
                "symbol": req["symbol"],
                "block_height": req["block_height"],
                "block_day": req["block_day"],
                "balance": float(payload["raw"]) / 10 ** int(req["decimals"]),
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.NON_ATOKEN_BALANCES_BY_DAY, policy)


# ---------------------------------------------------------------------------
# S20 completion — safety-module + LSD scans.
# Reference: safety_module_rpc protocol_data_lake.py:1141-1249,
# matic_lsd_token_supply_by_day :723-830,
# safety_module_bal_pool_contents :1673-1759.
# ---------------------------------------------------------------------------
def safety_module_rpc(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Safety-module staked/unstaked supplies + LM emission config.

    keys: (block_day, block_height, stk_token_address, stk_token_symbol,
    unstaked_token_address, unstaked_token_symbol, reward_token_address,
    reward_token_symbol, decimals) — one multicall per SM token from
    CONFIG_SM_TOKENS. Payload carries the raw multicall fields
    {stk_token_supply, unstaked_token_supply, emission_per_second,
    last_update_timestamp, index}; the assets() index is dropped like the
    reference (:1238). emission_per_day = emission_per_second × 86400
    (:1187); block_height is the labeled day's snapshot block — the
    reference's prev-day end_block + 1 (:1163) = day start under its
    convention; the plan passes the partition day's start block."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        unit = 10 ** int(req["decimals"])
        eps = float(payload["emission_per_second"]) / unit
        return [
            {
                "emission_per_second": eps,
                "emission_per_day": eps * 86400,
                "last_update_timestamp": _utc(payload["last_update_timestamp"]),
                "stk_token_supply": float(payload["stk_token_supply"]) / unit,
                "unstaked_token_supply": float(payload["unstaked_token_supply"]) / unit,
                "block_day": req["block_day"],
                "block_height": req["block_height"],
                "stk_token_address": req["stk_token_address"].lower(),
                "stk_token_symbol": req["stk_token_symbol"],
                "unstaked_token_address": req["unstaked_token_address"].lower(),
                "unstaked_token_symbol": req["unstaked_token_symbol"],
                "reward_token_address": req["reward_token_address"].lower(),
                "reward_token_symbol": req["reward_token_symbol"],
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.SAFETY_MODULE_RPC, policy)


def matic_lsd_token_supply_by_day(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """LSD token totalSupply() per (chain, token) at prev-day end_block+1.

    keys: (block_day, block_height, chain, address, symbol, decimals) —
    the TOKENS dict fan-out (:747-769). A null/absent supply fills to 0
    like the reference's fillna (:819)."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        raw = payload.get("raw")
        supply = 0.0 if raw is None else float(raw) / 10 ** int(req["decimals"])
        return [
            {
                "block_day": req["block_day"],
                "block_height": req["block_height"],
                "chain": req["chain"],
                "address": req["address"].lower(),
                "symbol": req["symbol"],
                "decimals": req["decimals"],
                "total_supply": supply,
            }
        ]

    return fanout_fetch(keys, transport, rows, schemas.MATIC_LSD_SUPPLY_BY_DAY, policy)


def safety_module_bal_pool_contents(
    keys: DataFrame,
    transport: Transport,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Balancer pool token weights + balances backing a safety-module token.

    keys: (block_day, block_height, chain, safety_module_token,
    bal_pool_address) — SM tokens WITH a bal_pool_address (:1706); the
    transport enumerates getCurrentTokens() and the per-token
    decimals/symbol/weight/balance multicalls in one payload
    {"tokens": [{address, symbol, decimals, weight, balance}]}.
    weight/1e18, balance/10^decimals (:1736-1737); decimals dropped."""

    def rows(req: dict[str, Any], payload: Any) -> list[dict[str, Any]]:
        return [
            {
                "block_day": req["block_day"],
                "block_height": req["block_height"],
                "chain": req["chain"],
                "safety_module_token": req["safety_module_token"],
                "bal_pool_address": req["bal_pool_address"].lower(),
                "token_address": tk["address"].lower(),
                "symbol": tk["symbol"],
                "weight": float(tk["weight"]) / 1e18,
                "balance": float(tk["balance"]) / 10 ** int(tk["decimals"]),
            }
            for tk in payload["tokens"]
        ]

    return fanout_fetch(keys, transport, rows, schemas.SM_BAL_POOL_CONTENTS, policy)
