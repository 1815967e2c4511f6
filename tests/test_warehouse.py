"""Warehouse-transform golden tests with hand-built fixture frames — the
reference's own strategy (test_data_warehouse.py:100-212, incl. the
IN/OUT × internal/external transfer quadrant)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.warehouse import (
    atoken_measures_by_day,
    incentives_by_day,
    liquidity_depth,
    paraswap_fees_dedup,
    token_prices_by_day,
)
from aave_etl_spark.warehouse.liquidity import shortfall_simulation

DAY = datetime(2023, 1, 19)


@pytest.fixture(scope="module")
def market_chain(spark):
    return spark.createDataFrame(
        [("polygon_v3", "polygon"), ("ethereum_v1", "ethereum")], ["market", "chain"]
    )


def test_atoken_measures_quadrant(spark, market_chain):
    balances = spark.createDataFrame(
        [("0xcol", "polygon_v3", "0xatok", "aPolWBTC", 100, DAY, 1.5, 1.4)],
        ["collector", "market", "token", "symbol", "block_height", "block_day",
         "balance", "scaled_balance"],
    )
    # the 2×2 quadrant: IN/OUT × internal/external counterparty
    transfers = spark.createDataFrame(
        [
            ("IN", "0xint", "0xcol", "0xatok", "n", 8, "aPolWBTC", DAY, 0.1, 1, 2, "polygon_v3", "0xcol"),
            ("IN", "0xext", "0xcol", "0xatok", "n", 8, "aPolWBTC", DAY, 0.2, 1, 2, "polygon_v3", "0xcol"),
            ("OUT", "0xcol", "0xint", "0xatok", "n", 8, "aPolWBTC", DAY, 0.3, 1, 2, "polygon_v3", "0xcol"),
            ("OUT", "0xcol", "0xext", "0xatok", "n", 8, "aPolWBTC", DAY, 0.4, 1, 2, "polygon_v3", "0xcol"),
        ],
        ["transfers_transfer_type", "transfers_from_address", "transfers_to_address",
         "transfers_contract_address", "transfers_contract_name",
         "transfers_contract_decimals", "transfers_contract_symbol", "block_day",
         "amount_transferred", "start_block", "end_block", "market", "collector"],
    )
    fees = spark.createDataFrame(
        [("polygon_v3", "0xres", "WBTC", "0xatok", "aPolWBTC", 100, DAY, 0.01, 1.02, 0.0102)],
        ["market", "reserve", "symbol", "atoken", "atoken_symbol", "block_height",
         "block_day", "accrued_fees_scaled", "liquidity_index", "accrued_fees"],
    )
    minted = spark.createDataFrame(
        [("polygon_v3", "0xres", "WBTC", "0xatok", "aPolWBTC", 100, DAY, 0.005, 0.006)],
        ["market", "reserve", "symbol", "atoken", "atoken_symbol", "block_height",
         "block_day", "minted_to_treasury_amount", "minted_amount"],
    )
    internal = spark.createDataFrame(
        [("polygon", "label", "0xint", "aave_internal")],
        ["chain", "label", "contract_address", "internal_external"],
    )

    out = atoken_measures_by_day(balances, transfers, fees, minted, internal, market_chain)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    # quadrant classification (data_warehouse.py:171-179)
    assert r.tokens_in_internal == pytest.approx(0.1)
    assert r.tokens_in_external == pytest.approx(0.2)
    assert r.tokens_out_internal == pytest.approx(0.3)
    assert r.tokens_out_external == pytest.approx(0.4)
    # fees join on (market, token=atoken, symbol=atoken_symbol, height, day)
    assert r.accrued_fees == pytest.approx(0.0102)
    assert r.minted_to_treasury_amount == pytest.approx(0.005)
    assert r.chain == "polygon"


def test_atoken_measures_fillna_and_symbol_patch(spark, market_chain):
    balances = spark.createDataFrame(
        [("0xcol", "ethereum_v1", "0xeth", "ETH", 1, DAY, 1.0, 1.0)],
        ["collector", "market", "token", "symbol", "block_height", "block_day",
         "balance", "scaled_balance"],
    )
    empty_t = spark.createDataFrame([], balances.schema)  # placeholder; use schema-correct empties below
    schema_t = ("transfers_transfer_type string, transfers_from_address string,"
                "transfers_to_address string, transfers_contract_address string,"
                "transfers_contract_name string, transfers_contract_decimals long,"
                "transfers_contract_symbol string, block_day timestamp,"
                "amount_transferred double, start_block long, end_block long,"
                "market string, collector string")
    transfers = spark.createDataFrame([], schema_t)
    fees = spark.createDataFrame(
        [], "market string, reserve string, symbol string, atoken string,"
            "atoken_symbol string, block_height long, block_day timestamp,"
            "accrued_fees_scaled double, liquidity_index double, accrued_fees double")
    minted = spark.createDataFrame(
        [], "market string, reserve string, symbol string, atoken string,"
            "atoken_symbol string, block_height long, block_day timestamp,"
            "minted_to_treasury_amount double, minted_amount double")
    internal = spark.createDataFrame(
        [], "chain string, label string, contract_address string, internal_external string")

    r = atoken_measures_by_day(balances, transfers, fees, minted, internal, market_chain).first()
    # missing measures → 0 after the joins (data_warehouse.py:210)
    assert r.accrued_fees == 0.0
    assert r.tokens_in_external == 0.0
    assert r.minted_amount == 0.0
    # eth_v1 ETH → WETH (:208)
    assert r.symbol == "WETH"


def test_token_prices_min_rank(spark):
    prices = spark.createDataFrame(
        [
            ("ethereum_v2", "0xres", "WETH", 1, DAY, 1500.0),
            ("ethereum_v1", "0xres", "WETH", 1, DAY, 1501.0),
        ],
        ["market", "reserve", "symbol", "block_height", "block_day", "usd_price"],
    )
    ranks = spark.createDataFrame(
        [("ethereum_v2", "ethereum", 1), ("ethereum_v1", "ethereum", 2)],
        ["market", "chain", "price_rank"],
    )
    out = token_prices_by_day(prices, ranks).collect()
    assert len(out) == 1  # min-rank pick (data_warehouse.py:510-518)
    assert out[0].usd_price == 1500.0
    assert out[0].pricing_source == "aave_oracle"


def test_incentives_apr(spark):
    inc = spark.createDataFrame(
        [
            (DAY, 1, "polygon_v3", "0xres", "0xatok", "atoken", "0xrw", "SD",
             18, 1e15, 4102444800, 2e6, 6),
            (DAY, 1, "polygon_v3", "0xres", "0xvtok", "vtoken", "0xrw", "SD",
             18, 1e15, 4102444800, 2e6, 6),
            # expired program → emission zeroed (protocol_data_warehouse.py:220)
            (DAY, 1, "polygon_v3", "0xres", "0xstok", "stoken", "0xrw", "SD",
             18, 1e15, 100, 2e6, 6),
        ],
        ["block_day", "block_height", "market", "underlying_asset", "token_address",
         "token_type", "reward_token_address", "reward_token_symbol",
         "reward_token_decimals", "emission_per_second", "emission_end_timestamp",
         "reward_price_feed", "price_feed_decimals"],
    )
    protocol = spark.createDataFrame(
        [(DAY, 1, "polygon_v3", "0xres", 1000.0, 0.0, 100.0)],
        ["block_day", "block_height", "market", "reserve", "atoken_supply",
         "stable_debt", "variable_debt"],
    )
    prices = spark.createDataFrame(
        [(DAY, 1, "polygon_v3", "0xres", "WBTC", 2.0)],
        ["block_day", "block_height", "market", "reserve", "symbol", "usd_price"],
    )
    out = incentives_by_day(inc, protocol, prices).collect()
    assert len(out) == 1  # grouped over token types; expired row filtered out
    r = out[0]
    # emission_per_day = 1e15 * 86400 / 1e18 = 86.4; usd = *2.0 (feed 2e6/1e6)
    assert r.supply_rewards == pytest.approx(86.4)
    assert r.supply_rewards_usd == pytest.approx(172.8)
    assert r.variable_debt_rewards_usd == pytest.approx(172.8)
    assert r.stable_debt_rewards == 0.0
    # apr = 172.8 / (1000 × 2.0) × 365
    assert r.supply_rewards_apr == pytest.approx(172.8 / 2000.0 * 365)


def test_liquidity_depth_interp(spark):
    raw = spark.createDataFrame(
        [
            ("k", "m", "c", "lm", "USDC", "0xu", 6, "WETH", "0xw", 18,
             2000.0, 1.0, 1, 1e4, 5.0, 9.9e3, 9.9e3, 0.005, DAY),
            ("k", "m", "c", "lm", "USDC", "0xu", 6, "WETH", "0xw", 18,
             2000.0, 1.0, 1, 1e6, 500.0, 9.0e5, 9.0e5, 0.10, DAY),
        ],
        ["market_key", "market", "chain", "loop_market", "to_asset",
         "to_asset_address", "to_asset_decimals", "from_asset",
         "from_asset_address", "from_asset_decimals", "from_asset_price",
         "to_asset_price", "chain_id", "from_amount_usd", "from_amount_native",
         "to_amount_native", "to_amount_usd", "price_impact", "fetch_time"],
    )
    out = liquidity_depth(raw)
    interp = out.filter(F.col("is_interpolated")).orderBy("price_impact").collect()
    assert len(interp) == 17  # 0.01..0.05 step 0.0025 (:362-366)
    # linear between (0.005, 1e4) and (0.10, 1e6): at 0.05 →
    first = interp[0]
    expected = 1e4 + (0.01 - 0.005) / (0.10 - 0.005) * (1e6 - 1e4)
    assert first.from_amount_usd == pytest.approx(expected, rel=1e-9)
    assert first.to_amount_usd == pytest.approx((1 - 0.01) * expected, rel=1e-9)
    # metadata forward-filled onto interpolated rows (:406-407)
    assert first.chain == "c"
    assert first.from_asset_price == 2000.0
    assert first.from_amount_native == pytest.approx(expected / 2000.0)


def test_paraswap_fees_keep_last(spark):
    fees = spark.createDataFrame(
        [
            (DAY, "polygon", "a_market", "0xclaimer", "0xres", "WBTC", 1.0),
            (DAY, "polygon", "z_market", "0xclaimer", "0xres", "WBTC", 2.0),
            (DAY, "polygon", "b_market", "0xclaimer", "0xzero", "X", 0.0),
        ],
        ["block_day", "chain", "market", "paraswap_fee_claimer", "reserve",
         "symbol", "claimable"],
    )
    out = paraswap_fees_dedup(fees).collect()
    assert len(out) == 1  # zero-claimable dropped (data_warehouse.py:709)
    assert out[0].claimable == 2.0  # keep-last by market sort (:706)


def test_shortfall_simulation_linear_fallback(spark):
    liq = spark.createDataFrame(
        [(DAY, 1e6 * (i + 1), 0.0, 0.01 * i) for i in range(5)],
        ["fetch_time", "from_amount_usd", "to_amount_usd", "price_impact"],
    )
    sm = spark.createDataFrame(
        [(DAY, 3e6), (DAY, 2e6)], ["block_day", "staked_value_usd"]
    )
    out = shortfall_simulation(liq, sm)
    rows = out.filter(F.col("bad_debt") == 1e6).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.staked_value_usd == pytest.approx(5e6)  # summed by day
    assert r.sm_coverage == pytest.approx(1.5e6)  # ×0.3 (:512)
    assert r.aave_sold_usd == pytest.approx(9e5)
    assert r.overhang >= 0.0
    assert out.count() == 104  # 99 + 5 bad-debt grid points (:555-558)


def test_blocks_by_day_dedup_projection(spark):
    """Reference data_warehouse.py:44-82: per-market rows collapse to one
    per-chain row via the 5-col projection + drop_duplicates (the extra
    `market` column is what makes the duplicates)."""
    from aave_etl_spark.warehouse import blocks_by_day

    src = spark.createDataFrame(
        [
            ("polygon_v3", DAY, DAY, 100, 150, "polygon"),
            ("polygon_v2", DAY, DAY, 100, 150, "polygon"),  # same chain-day block
            ("ethereum_v2", DAY, DAY, 200, 260, "ethereum"),
        ],
        ["market", "block_day", "block_time", "block_height", "end_block", "chain"],
    )
    out = blocks_by_day(src)
    assert out.columns == ["block_day", "block_time", "block_height", "end_block", "chain"]
    rows = {(r.chain, r.block_height) for r in out.collect()}
    assert rows == {("polygon", 100), ("ethereum", 200)}


def test_treasury_incentives_projection_and_empty(spark):
    """Reference data_warehouse.py:417-459: projection + held_rewards=0.0;
    empty input stays a typed empty frame (pandas' .empty special case has
    no Spark analogue — schema survives)."""
    from aave_etl_spark.warehouse import treasury_incentives_by_day

    src = spark.createDataFrame(
        [
            ("polygon", "polygon_v3", "0xCOL", DAY, "0xREW", "WMATIC", 12.5, "extra"),
        ],
        ["chain", "market", "collector_contract", "block_day",
         "rewards_token_address", "rewards_token_symbol", "accrued_rewards",
         "dropped_col"],
    )
    out = treasury_incentives_by_day(src)
    assert out.columns == [
        "chain", "market", "collector_contract", "block_day",
        "rewards_token_address", "rewards_token_symbol", "accrued_rewards",
        "held_rewards",
    ]
    row = out.collect()[0]
    assert row.held_rewards == 0.0 and row.accrued_rewards == 12.5
    # addresses lowercased through the standardise chokepoint
    assert row.collector_contract == "0xcol" and row.rewards_token_address == "0xrew"

    empty = treasury_incentives_by_day(src.limit(0))
    assert empty.count() == 0 and empty.columns == out.columns


def test_market_state_by_day_projection_and_apy(spark):
    """Reference protocol_data_warehouse.py:98-160: 17-col projection,
    symbol→atoken_symbol, four per-second-compounding APY columns."""
    import math

    from aave_etl_spark.warehouse.market import SECONDS_IN_YEAR, market_state_by_day

    pdd = spark.createDataFrame(
        [(DAY, 1, "ethereum_v2", "0xr", "aRSV", 0.0, 0.0, 1000.0, 100.0, 400.0,
          0.02, 0.04, 0.06, 0.05, 1.01, 1.02, 500.0, "extra")],
        "block_day timestamp, block_height long, market string, reserve string, symbol string,"
        "unbacked_atokens double, scaled_accrued_to_treasury double, atoken_supply double,"
        "stable_debt double, variable_debt double, liquidity_rate double, variable_borrow_rate double,"
        "stable_borrow_rate double, average_stable_rate double, liquidity_index double,"
        "variable_borrow_index double, available_liquidity double, dropped_col string",
    )
    out = market_state_by_day(pdd)
    assert "atoken_symbol" in out.columns and "symbol" not in out.columns
    assert "dropped_col" not in out.columns
    assert out.columns[-4:] == [
        "deposit_apy", "variable_borrow_apy", "stable_borrow_apy", "av_stable_borrow_apy",
    ]
    row = out.collect()[0]
    expect = (1 + 0.02 / SECONDS_IN_YEAR) ** SECONDS_IN_YEAR - 1
    assert math.isclose(row.deposit_apy, expect, rel_tol=1e-12)
    assert math.isclose(row.variable_borrow_apy, (1 + 0.04 / SECONDS_IN_YEAR) ** SECONDS_IN_YEAR - 1, rel_tol=1e-12)


def test_market_config_by_day_emode_join(spark):
    """Reference protocol_data_warehouse.py:33-95: config projection +
    eMode left join on (block_day, block_height, market, category), price
    address dropped, unmatched categories carry NULL emode fields."""
    from aave_etl_spark.warehouse.market import market_config_by_day

    pdd = spark.createDataFrame(
        [
            (DAY, 1, "ethereum_v2", "0xr1", "aR1", 18, 0.8, 0.85, 1.05, 0.1,
             True, True, False, True, False, 1, 0, 0, False, False, 0.0, 0, 0),
            (DAY, 1, "ethereum_v2", "0xr2", "aR2", 18, 0.8, 0.85, 1.05, 0.1,
             True, True, False, True, False, 2, 0, 0, False, False, 0.0, 0, 0),
        ],
        "block_day timestamp, block_height long, market string, reserve string, symbol string, decimals long,"
        "ltv double, liquidation_threshold double, liquidation_bonus double, reserve_factor double,"
        "usage_as_collateral_enabled boolean, borrowing_enabled boolean, stable_borrow_rate_enabled boolean,"
        "is_active boolean, is_frozen boolean, reserve_emode_category long, borrow_cap long, supply_cap long,"
        "is_paused boolean, siloed_borrowing boolean, liquidation_protocol_fee double, unbacked_mint_cap long,"
        "debt_ceiling long",
    )
    emode = spark.createDataFrame(
        [(DAY, 1, "ethereum_v2", 1, "Stablecoins", 0.9, 0.93, 1.01, "0xfeed")],
        "block_day timestamp, block_height long, market string, reserve_emode_category long,"
        "emode_category_name string, emode_ltv double, emode_liquidation_threshold double,"
        "emode_liquidation_bonus double, emode_price_address string",
    )
    out = market_config_by_day(pdd, emode)
    assert "emode_price_address" not in out.columns
    assert "atoken_symbol" in out.columns and "symbol" not in out.columns
    # reference pandas-merge order: left frame cols then eMode extras
    assert out.columns[:5] == ["block_day", "block_height", "market", "reserve", "atoken_symbol"]
    assert out.columns[-4:] == [
        "emode_category_name", "emode_ltv", "emode_liquidation_threshold", "emode_liquidation_bonus",
    ]
    rows = {r.reserve: r for r in out.collect()}
    assert rows["0xr1"].emode_category_name == "Stablecoins"
    assert rows["0xr1"].emode_ltv == 0.9
    assert rows["0xr2"].emode_category_name is None  # category 2 unconfigured
    assert rows["0xr2"].emode_ltv is None


def test_paraswap_legacy_keep_last_and_zero_drop(spark):
    """Reference data_warehouse.py:721-765: dedup key includes the legacy
    claimer; zeroes drop AFTER dedup (a winning zero row removes its key)."""
    from aave_etl_spark.warehouse.liquidity import paraswap_legacy_claimable_fees

    fees = spark.createDataFrame(
        [
            # dominated dup: 'aaa' market sorts first -> keep-last keeps 'zzz'
            (DAY, "ethereum", "aaa_v2", "0xc", "0xl", "0xr", "RSV", 999.0, "x"),
            (DAY, "ethereum", "zzz_v2", "0xc", "0xl", "0xr", "RSV", 4.0, "x"),
            # distinct legacy claimer = distinct key, both kept
            (DAY, "ethereum", "zzz_v2", "0xc", "0xl2", "0xr", "RSV", 5.0, "x"),
            # zero row wins its key -> key vanishes
            (DAY, "ethereum", "zzz_v2", "0xc", "0xl", "0xzero", "Z", 0.0, "x"),
        ],
        "block_day timestamp, chain string, market string, paraswap_fee_claimer string,"
        "paraswap_legacy_claimer string, reserve string, symbol string, claimable double,"
        "dropped_col string",
    )
    out = paraswap_legacy_claimable_fees(fees)
    assert "dropped_col" not in out.columns
    rows = {(r.paraswap_legacy_claimer, r.reserve): r for r in out.collect()}
    assert set(rows) == {("0xl", "0xr"), ("0xl2", "0xr")}
    assert rows[("0xl", "0xr")].market == "zzz_v2"
    assert rows[("0xl", "0xr")].claimable == 4.0


def test_balancer_bpt_warehouse_pricing(spark):
    """warehouse/bpt.py balancer_bpt_by_day: price join on (chain, day,
    price_token, price_symbol), missing price -> 1 (USD denom), BPT price
    and TVL products (protocol_data_warehouse.py:427-472)."""
    from datetime import datetime

    from aave_etl_spark.warehouse.bpt import balancer_bpt_by_day

    day = datetime(2024, 1, 1)
    bpt = spark.createDataFrame(
        [("0xp1", "B-80AAVE-20WETH", "Bal 80/20", 18, "AAVE", "0xaave", "AAVE",
          day, 100, "ethereum", 1.05, 2000.0),
         ("0xp2", "B-USD", "Bal USD", 18, "usd", "0xnope", "NOPE",
          day, 100, "ethereum", 1.10, 500.0)],
        "pool string, symbol string, name string, decimals long, denom string,"
        "price_token string, price_symbol string, block_day timestamp,"
        "block_height long, chain string, rate double, actual_supply double",
    )
    prices = spark.createDataFrame(
        [("ethereum", day, "0xaave", "AAVE", 90.0)],
        "chain string, block_day timestamp, reserve string, symbol string,"
        "usd_price double",
    )
    out = {r.pool: r for r in balancer_bpt_by_day(bpt, prices).collect()}
    assert out["0xp1"].underlying_asset_price == 90.0
    assert out["0xp1"].bpt_usd_price == pytest.approx(1.05 * 90.0)
    assert out["0xp1"].pool_tvl_usd == pytest.approx(1.05 * 90.0 * 2000.0)
    # no price row -> USD-denominated: price fills to 1
    assert out["0xp2"].underlying_asset_price == 1.0
    assert out["0xp2"].bpt_usd_price == pytest.approx(1.10)
    assert out["0xp2"].pool_tvl_usd == pytest.approx(1.10 * 500.0)


def test_classify_transfers_quadrants_by_counterparty_and_chain(spark, market_chain):
    from aave_etl_spark.warehouse.measures import classify_transfers

    transfers = spark.createDataFrame(
        [
            ("polygon_v3", "IN", "0xint", "0xme", 1.0),    # from internal
            ("polygon_v3", "IN", "0xwho", "0xme", 2.0),    # from unknown
            ("polygon_v3", "OUT", "0xme", "0xint", 4.0),   # to internal
            ("polygon_v3", "OUT", "0xme", "0xwho", 8.0),   # to unknown
            # same counterparty, but it is internal only on polygon
            ("ethereum_v1", "OUT", "0xme", "0xint", 16.0),
        ],
        ["transfers_market", "transfers_transfer_type", "transfers_from_address",
         "transfers_to_address", "transfers_amount_transferred"],
    )
    internal = spark.createDataFrame(
        [("polygon", "label", "0xint", "aave_internal")],
        ["chain", "label", "contract_address", "internal_external"],
    )
    out = classify_transfers(transfers, internal, market_chain)
    # the transfers_ prefix is stripped and the chain joined from the market
    assert {"market", "chain", "amount_transferred"} <= set(out.columns)
    got = {
        r.amount_transferred: (
            r.internal_external, r.tokens_in_external, r.tokens_in_internal,
            r.tokens_out_external, r.tokens_out_internal,
        )
        for r in out.collect()
    }
    assert got == {
        1.0: ("aave_internal", 0.0, 1.0, 0.0, 0.0),
        2.0: ("aave_external", 2.0, 0.0, 0.0, 0.0),
        4.0: ("aave_internal", 0.0, 0.0, 0.0, 4.0),
        8.0: ("aave_external", 0.0, 0.0, 8.0, 0.0),
        16.0: ("aave_external", 0.0, 0.0, 16.0, 0.0),
    }


def test_classify_transfers_unknown_market_defaults_external(spark, market_chain):
    from aave_etl_spark.warehouse.measures import classify_transfers

    transfers = spark.createDataFrame(
        [("arbitrum_v3", "IN", "0xint", "0xme", 5.0)],
        ["transfers_market", "transfers_transfer_type", "transfers_from_address",
         "transfers_to_address", "transfers_amount_transferred"],
    )
    internal = spark.createDataFrame(
        [("polygon", "label", "0xint", "aave_internal")],
        ["chain", "label", "contract_address", "internal_external"],
    )
    r = classify_transfers(transfers, internal, market_chain).first()
    assert r.chain is None
    assert (r.internal_external, r.tokens_in_external) == ("aave_external", 5.0)


def test_default_liquidity_targets_grid():
    from aave_etl_spark.warehouse.liquidity import default_targets

    grid = default_targets()
    assert len(grid) == 17
    assert grid[0] == pytest.approx(0.01) and grid[-1] == pytest.approx(0.05)
    assert all(b - a == pytest.approx(0.0025) for a, b in zip(grid, grid[1:]))
    assert default_targets(0.02, 0.03, 0.005) == pytest.approx([0.02, 0.025, 0.03])
