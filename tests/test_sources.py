"""Connector-layer tests (SURVEY §2.1) with injected fake transports —
the same strategy as the reference's golden tests, which pin API responses
at fixed block heights (aave_data_tests/financials/test_data_lake.py)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from aave_etl_spark.sources import base, connectors, schemas

FAST = base.RetryPolicy(initial_s=0.0, max_retries=3, jitter_s=0.0)


def test_retrying_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("boom")
        return "ok"

    assert base.retrying(flaky, FAST) == "ok"
    assert calls["n"] == 3


def test_retrying_exhausts_and_raises():
    def always_fails():
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        base.retrying(always_fails, FAST)


def test_retry_budget_sleeps_only_between_attempts(monkeypatch):
    """An exhausted request under the default policy makes max_retries
    attempts, sleeps between them only (no dead backoff after the last),
    and raises the transport's own exception."""
    sleeps: list[float] = []
    monkeypatch.setattr(base.time, "sleep", sleeps.append)
    calls = {"n": 0}
    down = ConnectionError("down")

    def transport(req):
        calls["n"] += 1
        raise down

    with pytest.raises(ConnectionError) as info:
        base.retrying(lambda: transport({}))
    policy = base.DEFAULT_RETRY
    assert info.value is down
    assert calls["n"] == policy.max_retries
    assert len(sleeps) == policy.max_retries - 1
    # exponential from initial_s, plus bounded jitter
    for i, s in enumerate(sleeps):
        assert policy.initial_s * 2**i <= s <= policy.initial_s * 2**i + policy.jitter_s

    # a policy without retries still makes its one attempt
    calls["n"] = 0
    with pytest.raises(ConnectionError):
        base.retrying(lambda: transport({}), base.RetryPolicy(max_retries=0))
    assert calls["n"] == 1


def test_fanout_exhausted_retries_surface_as_error(spark):
    """A request that never succeeds fails the fan-out's job; it is not
    turned into an empty partition."""
    keys = spark.createDataFrame([(1,), (2,)], ["block_height"])

    def transport(req):
        raise ConnectionError(f"rpc down at {req['block_height']}")

    schema = StructType([StructField("answer", LongType())])
    df = base.fanout_fetch(keys, transport, lambda req, payload: [payload], schema, FAST)
    with pytest.raises(Exception, match="rpc down at"):
        df.collect()


def test_block_numbers_by_day(spark):
    def transport(req):
        assert req["kind"] == "closest_block"
        return {
            "start": {"height": 13916166, "timestamp": 1640995205},
            "next": {"height": 13922672, "timestamp": 1641081602},
        }

    df = connectors.block_numbers_by_day(
        spark, transport, "2022-01-01", "ethereum", "ethereum_v2", FAST
    )
    assert df.schema == schemas.BLOCK_NUMBERS_BY_DAY
    row = df.first()
    # end_block = next day's first block - 1 (data_lake.py:169-171)
    assert row.block_height == 13916166
    assert row.end_block == 13922671
    assert row.block_height <= row.end_block


def test_market_tokens_eth_to_weth_and_lowercase(spark):
    def transport(req):
        return {
            "reserves": [
                {
                    "underlyingAsset": "0xEEEEeEeeeEeEeeEeEeEeeEEEeeeeEeeeeeeeEEeE",
                    "name": "Ether",
                    "symbol": "ETH",
                    "decimals": 18,
                    "aToken": {"id": "0xAAAA000000000000000000000000000000000001"},
                    "pool": {"id": "0xPOOL00000000000000000000000000000000000A"},
                }
            ]
        }

    df = connectors.market_tokens_at_block(
        spark, transport, "ethereum_v2", 13916166, "2022-01-01", FAST
    )
    row = df.first()
    assert row.reserve == connectors.WETH  # data_lake.py:189 patch
    assert row.atoken == "0xaaaa000000000000000000000000000000000001"
    assert row.block_height == 13916166


def test_fanout_balances_decimal_adjust(spark):
    keys = spark.createDataFrame(
        [
            ("0xC0l", "polygon_v3", "0xT0K", "aPolWBTC", 38249632, datetime(2023, 1, 19)),
        ],
        ["collector", "market", "token", "symbol", "block_height", "block_day"],
    )

    def transport(req):
        return {"decimals": 8, "balance": 43899600, "scaled_balance": 40000000}

    df = connectors.collector_atoken_balances_by_day(keys, transport, FAST)
    row = df.first()
    assert row.balance == pytest.approx(0.438996)  # raw/10**8 (helpers.py:535)
    assert row.scaled_balance == pytest.approx(0.4)
    assert row.collector == "0xc0l"


def test_token_transfers_grouped_to_day(spark):
    reqs = spark.createDataFrame(
        [
            ("0xCollector", "0xToken", 100, 200, "polygon_v3", datetime(2023, 1, 19)),
        ],
        ["collector", "token", "start_block", "end_block", "market", "block_day"],
    )

    def transport(req):
        # two transfers, same (type, from, to) — must sum to one row
        tr = {
            "type": "IN",
            "from": "0xAAA",
            "to": "0xCollector",
            "decimals": 8,
            "name": "Aave Polygon WBTC",
            "symbol": "aPolWBTC",
        }
        return {"transfers": [{**tr, "raw_amount": 5_000_000}, {**tr, "raw_amount": 5_000_000}]}

    df = connectors.token_transfers_by_day(reqs, transport, FAST)
    rows = df.collect()
    assert len(rows) == 1  # grouped (helpers.py:239-248)
    assert rows[0].amount_transferred == pytest.approx(0.1)
    assert df.schema == schemas.TOKEN_TRANSFERS_BY_DAY


def test_protocol_data_unit_shifts_and_v2_fill(spark):
    keys = spark.createDataFrame(
        [("ethereum_v2", "0xRES", "WETH", 18, 13916166, datetime(2022, 1, 1))],
        ["market", "reserve", "symbol", "decimals", "block_height", "block_day"],
    )

    def transport(req):
        return {  # v2 payload: no v3-only fields (helpers.py:929-931)
            "ltv": 8000, "liquidation_threshold": 8250, "liquidation_bonus": 10500,
            "reserve_factor": 1000,
            "usage_as_collateral_enabled": True, "borrowing_enabled": True,
            "stable_borrow_rate_enabled": False, "is_active": True, "is_frozen": False,
            "atoken_supply": 2 * 10**18, "stable_debt": 0, "variable_debt": 10**18,
            "liquidity_rate": 2 * 10**25, "variable_borrow_rate": 3 * 10**25,
            "stable_borrow_rate": 4 * 10**25, "liquidity_index": 1.01 * 10**27,
            "variable_borrow_index": 1.02 * 10**27,
            "last_update_timestamp": 1640995200,
        }

    df = connectors.protocol_data_by_day(keys, transport, FAST)
    row = df.first()
    assert row.ltv == pytest.approx(0.80)  # bps/1e4 (helpers.py:758-761)
    assert row.liquidity_rate == pytest.approx(0.02)  # ray/1e27 (:789-795)
    assert row.atoken_supply == pytest.approx(2.0)
    # invariant helpers.py:796: available = supply - stable - variable
    assert row.available_liquidity == pytest.approx(1.0)
    # v2→v3 fill (:929-931)
    assert row.is_paused is False
    assert row.reserve_emode_category == 0


def test_compound_apy_formula():
    # rate=0 → APY 0; sanity monotonicity
    assert connectors.compound_rate_to_apy(0.0) == pytest.approx(0.0)
    low = connectors.compound_rate_to_apy(1e9)
    high = connectors.compound_rate_to_apy(1e10)
    assert 0 < low < high


def test_liquidity_depth_sweep_grid(spark):
    pairs = spark.createDataFrame(
        [
            (
                "eth_weth_usdc", "ethereum_v2", "ethereum", "ethereum_v2",
                "USDC", "0xusdc", 6, "WETH", "0xweth", 18,
                2000.0, 1.0, 1,
            )
        ],
        [
            "market_key", "market", "chain", "loop_market",
            "to_asset", "to_asset_address", "to_asset_decimals",
            "from_asset", "from_asset_address", "from_asset_decimals",
            "from_asset_price", "to_asset_price", "chain_id",
        ],
    )

    def transport(req):
        # constant 1% slippage quote
        return {"to_amount_native": req["from_amount_usd"] * 0.99}

    df = connectors.liquidity_depth_sweep(
        pairs, transport, datetime(2024, 1, 1), n_points=5,
        low_usd=1e4, high_usd=1e5, policy=FAST,
    )
    rows = df.orderBy("from_amount_usd").collect()
    assert len(rows) == 5  # linspace grid (protocol_data_lake.py:995-996)
    assert rows[0].from_amount_usd == pytest.approx(1e4)
    assert rows[-1].from_amount_usd == pytest.approx(1e5)
    assert rows[0].price_impact == pytest.approx(0.01)


def test_seed_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "tx_classification.csv"
    p.write_text("measure,measure_type,currency\nrevenue,income,usd\n")
    df = connectors.read_seed_csv(spark, str(p), schemas.TX_CLASSIFICATION)
    row = df.first()
    assert row.measure == "revenue"
    assert row.measure_type == "income"


def test_driver_fetch_empty_short_circuit(spark):
    def transport(req):
        return {"reserves": []}

    df = connectors.market_tokens_at_block(spark, transport, "m", 1, "2022-01-01", FAST)
    assert df.count() == 0
    assert df.schema == schemas.MARKET_TOKENS_BY_DAY


def test_incentives_nested_flatten(spark):
    keys = spark.createDataFrame(
        [("polygon_v3", 100, datetime(2023, 3, 27))],
        ["market", "block_height", "block_day"],
    )
    reward = {
        "symbol": "SD", "address": "0xRW", "oracle": "0xOR",
        "emission_per_second": 3.9e15, "last_update": 1, "index": 0.5,
        "emission_end": 2, "price_feed": 1135753.0, "decimals": 18,
        "precision": 18, "price_feed_decimals": 6,
    }

    def transport(req):
        return {
            "reserves": [
                {
                    "underlying_asset": "0xRES",
                    "atoken": {"token_address": "0xA", "controller": "0xC", "rewards": [reward, reward]},
                    "vtoken": {"token_address": "0xV", "controller": "0xC", "rewards": [reward]},
                    # stoken side absent → skipped
                }
            ]
        }

    df = connectors.raw_incentives_by_day(keys, transport, FAST)
    rows = df.collect()
    # 2 atoken rewards + 1 vtoken reward (protocol_data_lake.py:526-555 flatten)
    assert len(rows) == 3
    assert {r.token_type for r in rows} == {"atoken", "vtoken"}
    assert rows[0].underlying_asset == "0xres"
    assert df.schema == schemas.RAW_INCENTIVES_BY_DAY


def test_emode_distinct_categories_only(spark):
    protocol = spark.createDataFrame(
        [
            (datetime(2023, 1, 1), 1, "polygon_v3", 1),
            (datetime(2023, 1, 1), 1, "polygon_v3", 1),  # dup category → one request
            (datetime(2023, 1, 1), 1, "polygon_v3", 0),  # category 0 → excluded (:649)
        ],
        ["block_day", "block_height", "market", "reserve_emode_category"],
    )
    calls = []

    def transport(req):
        return {
            "ltv": 9300, "liquidation_threshold": 9500, "liquidation_bonus": 10100,
            "price_source": "0xFEED", "label": "Stablecoins",
        }

    out = connectors.emode_config_by_day(protocol, transport, FAST).collect()
    assert len(out) == 1  # distinct (day, market, category), zero excluded
    assert out[0].emode_ltv == pytest.approx(0.93)
    assert out[0].emode_category_name == "Stablecoins"


def test_token_holders_drops_zero_balances(spark):
    keys = spark.createDataFrame(
        [(datetime(2023, 1, 1), "ethereum", "stkAAVE", "0xSTK", 100)],
        ["block_day", "chain", "safety_module_token", "stk_token_address", "block_height"],
    )

    def transport(req):
        return {
            "decimals": 18,
            "total_supply": 3 * 10**18,
            "holders": [
                {"address": "0xH1", "balance": 2 * 10**18},
                {"address": "0xH2", "balance": 0},  # dropped (:1805)
                {"address": "0xH3", "balance": 10**18},
            ],
        }

    rows = connectors.token_holders_by_day(keys, transport, FAST).collect()
    assert len(rows) == 2
    assert sum(r.balance for r in rows) == pytest.approx(3.0)
    assert all(r.total_supply == pytest.approx(3.0) for r in rows)


def test_balancer_bpt_predeploy_nulls(spark):
    keys = spark.createDataFrame(
        [
            ("0xPOOL", "B-80AAVE-20WETH", "Balancer 80/20", 18, "usd", "0xP", "AAVE",
             datetime(2023, 1, 1), 100, "ethereum"),
        ],
        ["pool", "symbol", "name", "decimals", "denom", "price_token", "price_symbol",
         "block_day", "block_height", "chain"],
    )

    def deployed(req):
        return {"deployed": True, "rate": 1.05e18, "actual_supply": 2 * 10**18}

    def not_deployed(req):
        return {"deployed": False, "rate": 0, "actual_supply": 0}

    r1 = connectors.balancer_bpt_by_day(keys, deployed, FAST).first()
    assert r1.rate == pytest.approx(1.05)
    assert r1.actual_supply == pytest.approx(2.0)
    r2 = connectors.balancer_bpt_by_day(keys, not_deployed, FAST).first()
    # contract-existence check → NULLs (helpers.py:1150-1160)
    assert r2.rate is None and r2.actual_supply is None


def test_eth_and_erc20_balance_units(spark):
    eth_keys = spark.createDataFrame(
        [(1, datetime(2023, 1, 1), "ethereum", "ethereum_v2", "0xC", "0xW", "ETH")],
        ["block_height", "block_day", "chain", "market", "collector",
         "wrapped_gas_token", "gas_token"],
    )
    r = connectors.eth_balances_by_day(eth_keys, lambda q: {"wei": 15 * 10**17}, FAST).first()
    assert r.balance == pytest.approx(1.5)  # wei/1e18 (data_lake.py:1950)

    erc_keys = spark.createDataFrame(
        [(datetime(2023, 1, 1), 1, "ethereum", "0xW", "USDC", "0xU")],
        ["block_day", "block_height", "chain", "wallet_address", "token", "token_address"],
    )
    r2 = connectors.erc20_balances_by_day(
        erc_keys, lambda q: {"raw": 2_500_000, "decimals": 6}, FAST
    ).first()
    assert r2.balance == pytest.approx(2.5)


def test_block_numbers_by_hour(spark):
    """S21 parity (protocol_hourly_data_lake.py:80-133): single closest-block
    call, partition key in the reference's '%Y-%m-%d-%H:%M' format, no
    end_block column."""

    def transport(req):
        assert req["kind"] == "closest_block_hour"
        assert req["hour"] == "2023-04-15-06:00"
        return {"height": 17249150, "timestamp": 1681538407}

    df = connectors.block_numbers_by_hour(
        spark, transport, "2023-04-15-06:00", "ethereum", "ethereum_v3", FAST
    )
    assert df.schema == schemas.BLOCK_NUMBERS_BY_HOUR
    row = df.first()
    assert row.block_hour == datetime(2023, 4, 15, 6, 0)
    assert row.block_height == 17249150
    # actual block time trails the target hour (closest block at-or-after)
    assert row.block_time == datetime(2023, 4, 15, 6, 0, 7)
    assert "end_block" not in df.columns


def test_compound_by_hour_v2_v3_math(spark):
    """S22 parity (protocol_hourly_data_lake.py:287-322 v2, :406-446 v3):
    v2 compounds per block and de-scales deposits through the stored
    exchange rate; v3 annualizes per second and keeps base-token units."""
    keys = spark.createDataFrame(
        [
            (datetime(2023, 4, 15, 6), 17249150, "ethereum", "compound_v2",
             "cUSDC", "0xCusdc", "USDC", "0xUsdc", 8, 6),
            (datetime(2023, 4, 15, 6), 17249150, "ethereum", "compound_v3",
             "cUSDCv3", "0xCv3", "USDC", "0xUsdc", 6, 6),
        ],
        "block_hour timestamp, block_height long, chain string, compound_version string,"
        "symbol string, address string, underlying_symbol string, underlying_address string,"
        "ctoken_decimals long, underlying_decimals long",
    )

    def transport(req):
        if req["compound_version"] == "compound_v2":
            return {
                "supply_rate_per_block": 1e10,
                "borrow_rate_per_block": 2e10,
                # 100 cUSDC (8 dec) at exchange rate 0.02 scaled by
                # 10^(18+6-8)=1e16 -> deposits = 100 * 0.02 = 2 USDC
                "total_supply": 100 * 10**8,
                "exchange_rate": 0.02 * 10**16,
                "total_borrows": 7 * 10**6,
            }
        return {
            "supply_rate": 1e9,
            "borrow_rate": 2e9,
            "total_supply": 11 * 10**6,
            "total_borrows": 3 * 10**6,
        }

    out = {r.compound_version: r for r in connectors.compound_by_hour(keys, transport, FAST).collect()}
    v2, v3 = out["compound_v2"], out["compound_v3"]
    assert v2.supply_apy == pytest.approx((1e10 / 1e18 * 7200 + 1) ** 365 - 1)
    assert v2.borrow_apy == pytest.approx((2e10 / 1e18 * 7200 + 1) ** 365 - 1)
    assert v2.deposits == pytest.approx(2.0)
    assert v2.borrows == pytest.approx(7.0)
    assert v2.address == "0xcusdc"  # lowercased
    assert v3.supply_apy == pytest.approx(1e9 / 1e18 * 31536000)
    assert v3.borrow_apy == pytest.approx(2e9 / 1e18 * 31536000)
    assert v3.deposits == pytest.approx(11.0)
    assert v3.borrows == pytest.approx(3.0)


def test_paraswap_claimable_fees_positional_join_and_bails(spark):
    tokens = spark.createDataFrame(
        [
            (datetime(2023, 1, 5), 1000, "0xdai", "DAI", 18),
            (datetime(2023, 1, 5), 1000, "0xusdc", "USDC", 6),
        ],
        ["block_day", "block_height", "reserve", "symbol", "decimals"],
    )

    def transport(req):
        assert req["tokens"] == ["0xdai", "0xusdc"]  # call carries token order
        return {"claimable": [5 * 10**18, 7 * 10**6]}

    out = connectors.paraswap_claimable_fees(
        spark, transport, tokens, "ethereum", "ethereum_v3", "0xCLAIMER", FAST
    )
    rows = {r.reserve: r for r in out.collect()}
    # uint256[] joined back BY POSITION, per-token decimal shift
    assert rows["0xdai"].claimable == pytest.approx(5.0)
    assert rows["0xusdc"].claimable == pytest.approx(7.0)
    assert rows["0xdai"].paraswap_fee_claimer == "0xclaimer"  # lowercased

    # bails: pre-deployment date / no claimer / empty dim -> typed empty
    early = spark.createDataFrame(
        [(datetime(2022, 6, 1), 900, "0xdai", "DAI", 18)], tokens.columns
    )
    assert connectors.paraswap_claimable_fees(
        spark, transport, early, "ethereum", "ethereum_v3", "0xCLAIMER", FAST
    ).count() == 0
    assert connectors.paraswap_claimable_fees(
        spark, transport, tokens, "ethereum", "ethereum_v3", None, FAST
    ).count() == 0
    assert connectors.paraswap_claimable_fees(
        spark, transport, tokens.limit(0), "ethereum", "ethereum_v3", "0xC", FAST
    ).count() == 0

    # a mis-sized response is an error, not a silent truncation
    def short(req):
        return {"claimable": [1]}

    with pytest.raises(Exception, match="2 tokens"):
        connectors.paraswap_claimable_fees(
            spark, short, tokens, "ethereum", "ethereum_v3", "0xC", FAST
        ).collect()


def test_liquidity_depth_refine_grid_two_phase(spark):
    # reference protocol_data_lake.py:957-1003: pick the amount just inside
    # the 1% impact boundary and just past 5%, then linspace between them
    # (endpoint=False), excluding the already-quoted low point
    rows = [
        # pair A: boundary picks at 20k (impact .008) and 60k (impact .055)
        ("A", "usdc", "weth", 2000.0, 10_000.0, 0.002),
        ("A", "usdc", "weth", 2000.0, 20_000.0, 0.008),
        ("A", "usdc", "weth", 2000.0, 30_000.0, 0.012),
        ("A", "usdc", "weth", 2000.0, 60_000.0, 0.055),
        ("A", "usdc", "weth", 2000.0, 80_000.0, 0.090),
        # pair B: never crosses the 5% boundary -> no refinement rows
        ("B", "dai", "weth", 1.0, 10_000.0, 0.002),
        ("B", "dai", "weth", 1.0, 80_000.0, 0.030),
    ]
    coarse = spark.createDataFrame(
        [(*r, 1) for r in rows],
        "market_key string, from_asset string, to_asset string,"
        " from_asset_price double, from_amount_usd double, price_impact double,"
        " chain_id long",
    )
    out = connectors.liquidity_depth_refine_grid(coarse).collect()
    assert all(r.chain_id == 1 for r in out)  # non-quote columns carry through
    assert all(r.market_key == "A" for r in out)
    amounts = sorted(r.from_amount_usd for r in out)
    # linspace(20k, 60k, 20, endpoint=False) = 20k + i*2k, minus the low point
    assert amounts == [20_000.0 + i * 2_000.0 for i in range(1, 20)]
    for r in out:
        assert r.from_amount_native == pytest.approx(r.from_amount_usd / 2000.0)


# --- treasury-measure chain (data_lake.py:744-1279) -----------------------
def test_v3_accrued_fees_golden(spark):
    """Pins the reference golden values (test_data_lake.py::
    test_v3_accrued_fees_by_day, polygon_v3 USDC @ block 36068925)."""
    keys = spark.createDataFrame(
        [("polygon_v3", "0x2791bca1f2de4661ed88a30c99a7a9449aa84174", "USDC", 6,
          "0x625e7708f30ca75bfd92586e17077590c60eb4cd", "aPolUSDC", 36068925,
          datetime(2022, 11, 26))],
        "market string, reserve string, symbol string, decimals long,"
        "atoken string, atoken_symbol string, block_height long, block_day timestamp",
    )

    def transport(req):
        assert req["block_height"] == 36068925
        # raw values chosen to reproduce the golden floats exactly
        return {
            "accrued_to_treasury_scaled": 43.39621 * 1e6,
            "liquidity_index": 1.009852 * 1e27,
        }

    df = connectors.v3_accrued_fees_by_day(keys, transport, FAST)
    assert df.schema == schemas.V3_ACCRUED_FEES_BY_DAY
    row = df.first()
    assert row.accrued_fees_scaled == pytest.approx(43.39621)
    assert row.liquidity_index == pytest.approx(1.009852)
    # accrued_fees = scaled × index (data_lake.py:884-886)
    assert row.accrued_fees == pytest.approx(43.39621 * 1.009852)
    assert row.atoken_symbol == "aPolUSDC"  # casing survives standardise


def test_uint256_hex_decode_words(spark):
    from pyspark.sql import functions as F

    big = 193399934 * 10**12  # > 2^53, needs two limbs
    data = "0x" + format(191977829, "064x") + format(big, "064x")
    df = spark.range(1).select(
        connectors.uint256_hex_to_double(F.lit(data)).alias("w0"),
        connectors.uint256_hex_to_double(F.lit(data), word=1).alias("w1"),
        connectors.topic_address(
            F.lit("0x000000000000000000000000" + "AB" * 20)
        ).alias("addr"),
    )
    row = df.first()
    assert row.w0 == float(191977829)
    assert row.w1 == float(big)
    assert row.addr == "0x" + "ab" * 20


def test_v3_minted_to_treasury_golden(spark):
    """Mints×tokens inner join, tx-hash semi-join, ABI decode, group-to-day
    (data_lake.py:929-1092; golden: polygon_v3 USDC partition 2022-12-15 →
    minted_to_treasury 191.977829, minted 193.399934, block_day = 12-14 —
    the day the reference's partition-D range covers; here the caller
    passes that covered day directly)."""
    tokens = spark.createDataFrame(
        [("0x2791bca1f2de4661ed88a30c99a7a9449aa84174", "USDC", 6,
          "0x625e7708f30ca75bfd92586e17077590c60eb4cd", "aPolUSDC", 36839447)],
        "reserve string, symbol string, decimals long, atoken string,"
        "atoken_symbol string, block_height long",
    )
    reserve_topic = "0x000000000000000000000000" + "2791bca1f2de4661ed88a30c99a7a9449aa84174"
    minted_data = "0x" + format(191977829, "064x")
    # Mint data = (value, balanceIncrease, index) — only word 0 is used
    mint_data = "0x" + format(193399934, "064x") + format(7, "064x") + format(10**27, "064x")

    def transport(req):
        assert req["kind"] == "events_by_topic"
        if req["topic"] == connectors.MINTED_TO_TREASURY_TOPIC:
            return {"items": [
                {"block_signed_at": 1671062400, "block_height": 36850000,
                 "tx_hash": "0xTX1", "topics": [connectors.MINTED_TO_TREASURY_TOPIC,
                                                 reserve_topic],
                 "sender_address": "0x794a61358D6845594F94dc1DB02A252b5b4814aD",
                 "raw_log_data": minted_data},
                # an unrelated tx that no Mint row matches → dropped by join
                {"block_signed_at": 1671062400, "block_height": 36850001,
                 "tx_hash": "0xTX9", "topics": [connectors.MINTED_TO_TREASURY_TOPIC,
                                                 "0x" + "00" * 12 + "99" * 20],
                 "sender_address": "0x794a61358D6845594F94dc1DB02A252b5b4814aD",
                 "raw_log_data": minted_data},
            ]}
        assert req["topic"] == connectors.MINT_TOPIC
        return {"items": [
            {"block_signed_at": 1671062400, "block_height": 36850000,
             "tx_hash": "0xTX1", "topics": [connectors.MINT_TOPIC],
             "sender_address": "0x625E7708f30cA75bfd92586e17077590C60eb4cD",
             "raw_log_data": mint_data},
        ]}

    df = connectors.v3_minted_to_treasury_by_day(
        spark, transport, tokens, 36839447, 36879843, 137,
        "0x794a61358d6845594f94dc1db02a252b5b4814ad", "polygon_v3",
        "2022-12-14", FAST,  # the day the [start, end] block range covers
    )
    # lit-built columns come out non-nullable; names+types are the contract
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in schemas.V3_MINTED_TO_TREASURY_BY_DAY.fields
    ]
    rows = df.collect()
    assert len(rows) == 1  # unmatched reserve/tx dropped by the inner joins
    row = rows[0]
    assert row.minted_to_treasury_amount == pytest.approx(191.977829)
    assert row.minted_amount == pytest.approx(193.399934)
    assert row.block_day == datetime(2022, 12, 14)  # the covered day (:988)
    assert row.atoken_symbol == "aPolUSDC"


def test_v3_minted_to_treasury_no_events(spark):
    def transport(req):
        return {"items": []}

    df = connectors.v3_minted_to_treasury_by_day(
        spark, transport, spark.createDataFrame([], "reserve string"), 1, 2, 137,
        "0xpool", "polygon_v3", "2022-12-15", FAST,
    )
    assert df.schema == schemas.V3_MINTED_TO_TREASURY_BY_DAY
    assert df.count() == 0


def test_treasury_accrued_incentives_v3_v2_none(spark):
    """v3 rewards enumeration, v2 config-token path, no-controller empty
    (data_lake.py:1095-1279; golden WAVAX accruals)."""
    def transport(req):
        if req["version"] == 3:
            return {"rewards": [
                {"address": "0xB31f66AA3C1e785363F0875A1B74E27b85FD66c7",
                 "symbol": "WAVAX", "decimals": 18,
                 "accrued": 584.4829744983532 * 1e18},
            ]}
        return {"raw": 724.8002888143623 * 1e18}

    v3 = connectors.treasury_accrued_incentives_by_day(
        spark, transport, "avalanche", "avax_v3",
        "0x5ba7fd868c40c16f7aDfAe6CF87121E13FC2F7a0", "0xctrl", 3,
        23686858, "2022-12-15", policy=FAST,
    )
    assert v3.schema == schemas.TREASURY_ACCRUED_INCENTIVES_BY_DAY
    row = v3.first()
    assert row.accrued_rewards == pytest.approx(584.4829744983532)
    assert row.rewards_token_symbol == "WAVAX"
    assert row.collector_contract == "0x5ba7fd868c40c16f7adfae6cf87121e13fc2f7a0"

    v2 = connectors.treasury_accrued_incentives_by_day(
        spark, transport, "avalanche", "avax_v2", "0xC2", "0xctrl", 2,
        23686858, "2022-12-15",
        rewards_token="0xB31f66AA3C1e785363F0875A1B74E27b85FD66c7",
        rewards_token_symbol="WAVAX", rewards_token_decimals=18, policy=FAST,
    )
    assert v2.first().accrued_rewards == pytest.approx(724.8002888143623)

    none = connectors.treasury_accrued_incentives_by_day(
        spark, transport, "ethereum", "aave_arc", "0xC3", None, 2,
        1, "2023-01-29", policy=FAST,
    )
    assert none.count() == 0
    assert none.schema == schemas.TREASURY_ACCRUED_INCENTIVES_BY_DAY


def test_non_atoken_balances_config_decimals(spark):
    """Decimal shift uses CONFIG decimals, not an RPC (data_lake.py:700-706)."""
    keys = spark.createDataFrame(
        [("0xWALLET", "ethereum", "ethereum_v2", "0xTOKEN", 6, "usdc",
          1_000_001, datetime(2024, 1, 1))],
        "contract_address string, chain string, market string, token string,"
        "decimals long, symbol string, block_height long, block_day timestamp",
    )

    def transport(req):
        return {"raw": 12_345_678}

    df = connectors.non_atoken_balances_by_day(keys, transport, FAST)
    assert df.schema == schemas.NON_ATOKEN_BALANCES_BY_DAY
    row = df.first()
    assert row.balance == pytest.approx(12.345678)
    assert row.contract_address == "0xwallet"


# --- S20 completion: safety-module + LSD scans ----------------------------
def test_safety_module_rpc_units(spark):
    """Unit shifts + emission_per_day derivation
    (protocol_data_lake.py:1182-1196); assets() index dropped."""
    keys = spark.createDataFrame(
        [(datetime(2023, 4, 16), 17072018, "0xSTK", "stkAAVE", "0xAAVE", "AAVE",
          "0xAAVE", "AAVE", 18)],
        "block_day timestamp, block_height long, stk_token_address string,"
        "stk_token_symbol string, unstaked_token_address string,"
        "unstaked_token_symbol string, reward_token_address string,"
        "reward_token_symbol string, decimals long",
    )

    def transport(req):
        return {
            "stk_token_supply": 2_500_000 * 10**18,
            "unstaked_token_supply": 16_000_000 * 10**18,
            "emission_per_second": 5 * 10**15,
            "last_update_timestamp": 1681603200,
            "index": 123,  # dropped
        }

    df = connectors.safety_module_rpc(keys, transport, FAST)
    assert df.schema == schemas.SAFETY_MODULE_RPC
    r = df.first()
    assert r.emission_per_second == pytest.approx(0.005)
    assert r.emission_per_day == pytest.approx(0.005 * 86400)
    assert r.stk_token_supply == pytest.approx(2_500_000.0)
    assert r.unstaked_token_supply == pytest.approx(16_000_000.0)
    assert r.last_update_timestamp == datetime(2023, 4, 16)
    assert r.stk_token_address == "0xstk"
    assert "index" not in df.columns


def test_matic_lsd_supply_fillna_zero(spark):
    keys = spark.createDataFrame(
        [(datetime(2024, 1, 1), 100, "polygon", "0xSTM", "stMATIC", 18),
         (datetime(2024, 1, 1), 100, "polygon", "0xMX", "MaticX", 18)],
        "block_day timestamp, block_height long, chain string, address string,"
        "symbol string, decimals long",
    )

    def transport(req):
        # MaticX returns no supply -> fillna(0) parity (:819)
        return {"raw": None if req["address"] == "0xMX" else 7 * 10**18}

    df = connectors.matic_lsd_token_supply_by_day(keys, transport, FAST)
    assert df.schema == schemas.MATIC_LSD_SUPPLY_BY_DAY
    out = {r.symbol: r for r in df.collect()}
    assert out["stMATIC"].total_supply == pytest.approx(7.0)
    assert out["MaticX"].total_supply == 0.0
    assert out["stMATIC"].address == "0xstm"


def test_sm_bal_pool_contents_weights(spark):
    keys = spark.createDataFrame(
        [(datetime(2023, 5, 18), 17282745, "ethereum", "stkABPT", "0xPOOL")],
        "block_day timestamp, block_height long, chain string,"
        "safety_module_token string, bal_pool_address string",
    )

    def transport(req):
        assert req["bal_pool_address"] == "0xPOOL"
        return {"tokens": [
            {"address": "0xAAVE", "symbol": "AAVE", "decimals": 18,
             "weight": int(0.8 * 1e18), "balance": 300_000 * 10**18},
            {"address": "0xWETH", "symbol": "WETH", "decimals": 18,
             "weight": int(0.2 * 1e18), "balance": 4_000 * 10**18},
        ]}

    df = connectors.safety_module_bal_pool_contents(keys, transport, FAST)
    assert df.schema == schemas.SM_BAL_POOL_CONTENTS
    out = {r.symbol: r for r in df.collect()}
    assert out["AAVE"].weight == pytest.approx(0.8)
    assert out["WETH"].weight == pytest.approx(0.2)
    assert out["AAVE"].balance == pytest.approx(300_000.0)
    assert out["AAVE"].token_address == "0xaave"
    assert "decimals" not in df.columns


def test_oracle_prices_weth_overwrite(spark):
    """S4 parity (data_lake.py:295-342): wei-base markets multiply by
    eth_usd/1e18; ethereum_v1's WETH row is then overwritten with the
    Chainlink ETH/USD answer itself (v1's ETH entry doesn't use the WETH
    oracle slot). Other markets' WETH rows are NOT touched."""
    keys = spark.createDataFrame(
        [(connectors.WETH, "WETH", "ethereum_v1", 100, datetime(2024, 3, 10)),
         ("0x" + "1" * 40, "DAI", "ethereum_v1", 100, datetime(2024, 3, 10)),
         (connectors.WETH, "WETH", "ethereum_v2", 100, datetime(2024, 3, 10))],
        "reserve string, symbol string, market string, block_height long,"
        "block_day timestamp",
    )
    out = {
        (r.market, r.symbol): r.usd_price
        for r in connectors.oracle_prices_by_day(
            keys, lambda req: {"price": 4 * 10**18},
            price_multiplier=2000.0 / 1e18, eth_usd_price=2000.0, policy=FAST,
        ).collect()
    }
    assert out[("ethereum_v1", "WETH")] == 2000.0          # overwritten
    assert out[("ethereum_v1", "DAI")] == pytest.approx(8000.0)   # 4e18 * 2000/1e18
    assert out[("ethereum_v2", "WETH")] == pytest.approx(8000.0)  # untouched


def test_seed_csv_quote_none_literal_quotes(spark, tmp_path):
    """S13 parity (data_lake.py:1422, quoting=3): a leading literal '\"' in
    an unquoted field survives the parse instead of opening a quoted
    field."""
    p = tmp_path / "seed.csv"
    p.write_text('symbol,label\ntok0,"L0\n')
    row = connectors.read_seed_csv(
        spark, str(p), "symbol string, label string"
    ).first()
    assert row.label == '"L0'


def test_retry_policy_delays_double_from_initial_with_bounded_jitter():
    exact = base.RetryPolicy(initial_s=0.01, max_retries=4, jitter_s=0.0)
    assert list(exact.delays()) == [0.01, 0.02, 0.04, 0.08]
    jittered = base.RetryPolicy(initial_s=1.0, max_retries=3, jitter_s=0.5)
    for i, d in enumerate(jittered.delays()):
        assert 2.0**i <= d <= 2.0**i + 0.5
    assert list(base.RetryPolicy(max_retries=0).delays()) == []


def test_retrying_raises_non_retryable_errors_at_once(monkeypatch):
    sleeps: list[float] = []
    monkeypatch.setattr(base.time, "sleep", sleeps.append)
    calls = {"n": 0}

    def bad_request():
        calls["n"] += 1
        raise ValueError("malformed request")

    with pytest.raises(ValueError):
        base.retrying(bad_request, base.DEFAULT_RETRY, retryable=(ConnectionError,))
    assert calls["n"] == 1
    assert sleeps == []


def test_driver_fetch_builds_typed_frame_from_one_retried_request(spark):
    schema = StructType([StructField("k", LongType()), StructField("v", LongType())])
    seen: list[dict] = []

    def transport(req):
        seen.append(req)
        if len(seen) == 1:
            raise ConnectionError("first attempt drops")
        return {"items": [[1, 10], [2, None]]}

    df = base.driver_fetch(
        spark, transport, {"block": 7},
        lambda p: [{"k": k, "v": v} for k, v in p["items"]], schema, FAST,
    )
    assert seen == [{"block": 7}, {"block": 7}]
    assert df.schema == schema
    assert sorted(tuple(r) for r in df.collect()) == [(1, 10), (2, None)]


def test_empty_frame_is_typed_and_empty(spark):
    df = base.empty_frame(spark, schemas.MARKET_TOKENS_BY_DAY)
    assert df.schema == schemas.MARKET_TOKENS_BY_DAY
    assert df.count() == 0


def test_compound_v3_rate_to_apy_is_linear_in_per_second_rate():
    assert connectors.compound_v3_rate_to_apy(0.0) == 0.0
    one_year = 1e18 / connectors.SECONDS_PER_YEAR
    assert connectors.compound_v3_rate_to_apy(one_year) == pytest.approx(1.0)
    assert connectors.compound_v3_rate_to_apy(3 * one_year) == pytest.approx(3.0)


def test_compound_by_day_units_and_lowercased_addresses(spark):
    keys = spark.createDataFrame(
        [(datetime(2024, 1, 1), 100, "ethereum", "v2", "cUSDC", "0xC0FFEE", "USDC", "0xUSDC", 6)],
        "block_day timestamp, block_height long, chain string, compound_version string, "
        "symbol string, address string, underlying_symbol string, "
        "underlying_address string, underlying_decimals long",
    )

    def transport(req):
        assert req["block_height"] == 100
        return {
            "supply_rate_per_block": 0,
            "borrow_rate_per_block": 1e9,
            "total_supply_underlying": 5_000_000,
            "total_borrows": 1_500_000,
        }

    r = connectors.compound_by_day(keys, transport, FAST).first()
    assert (r.address, r.underlying_address) == ("0xc0ffee", "0xusdc")
    assert (r.deposits, r.borrows) == (5.0, 1.5)
    assert r.supply_apy == 0.0
    assert r.borrow_apy == pytest.approx(connectors.compound_rate_to_apy(1e9))
    assert r.block_day == datetime(2024, 1, 1)


def test_market_tokens_at_block_rpc_zips_reserves_with_atokens(spark):
    seen: list[dict] = []

    def transport(req):
        seen.append(req)
        return {
            "pool": "0xPOOL",
            "reserves": [
                {"address": "0xAAA", "name": "Token A", "symbol": "A", "decimals": 18},
                {"address": "0xBBB", "symbol": "B", "decimals": 6},
            ],
            "atokens": [{"address": "0xAA1", "symbol": "aA"}, {"address": "0xBB1", "symbol": "aB"}],
        }

    df = connectors.market_tokens_at_block_rpc(spark, transport, "ethereum_v2", 42, "2022-01-01", FAST)
    assert seen == [{"kind": "rpc_tokens", "market": "ethereum_v2", "block": 42}]
    got = sorted(
        (r.reserve, r.name, r.atoken, r.atoken_symbol, r.pool, r.decimals, r.atoken_decimals)
        for r in df.collect()
    )
    assert got == [
        ("0xaaa", "Token A", "0xaa1", "aA", "0xpool", 18, 18),
        ("0xbbb", None, "0xbb1", "aB", "0xpool", 6, 6),
    ]
    assert {r.block_day for r in df.collect()} == {datetime(2022, 1, 1)}


def test_events_by_topic_hash_flattens_and_filters_sender(spark):
    def transport(req):
        assert (req["start_block"], req["end_block"], req["topic"]) == (10, 20, "0xTOPIC")
        return {
            "items": [
                {"block_signed_at": 1_700_000_000, "block_height": 11, "tx_hash": "0xT1",
                 "topics": ["0xTOPIC", "0xUSER"], "sender_address": "0xPOOL", "raw_log_data": "0x01"},
                {"block_signed_at": 1_700_000_060, "block_height": 12, "tx_hash": "0xT2",
                 "topics": ["0xTOPIC"], "sender_address": "0xOTHER"},
            ]
        }

    all_rows = connectors.events_by_topic_hash(spark, transport, 10, 20, 1, "0xTOPIC", policy=FAST)
    assert all_rows.schema == schemas.EVENTS_BY_TOPIC
    got = sorted(
        (r.tx_hash, r.raw_log_topics_0, r.raw_log_topics_1, r.sender_address, r.raw_log_data)
        for r in all_rows.collect()
    )
    assert got == [
        ("0xt1", "0xtopic", "0xuser", "0xpool", "0x01"),
        ("0xt2", "0xtopic", None, "0xother", None),
    ]
    only = connectors.events_by_topic_hash(
        spark, transport, 10, 20, 1, "0xTOPIC", sender_address="0xPool", policy=FAST
    )
    rows = only.collect()
    assert [(r.tx_hash, r.block_signed_at) for r in rows] == [
        ("0xt1", datetime(2023, 11, 14, 22, 13, 20))
    ]


def test_beacon_staking_returns_by_day_one_row(spark):
    def transport(req):
        assert req == {"kind": "beacon_day", "date": "2023-06-01"}
        return {"data": {"day": "900", "day_start": 1_685_577_600, "day_end": 1_685_663_999,
                         "apr": "0.042", "cl_apr": 0.03, "el_apr": 0.012}}

    df = connectors.beacon_staking_returns_by_day(spark, transport, "2023-06-01", FAST)
    assert df.schema == schemas.BEACON_STAKING_RETURNS_BY_DAY
    r = df.first()
    assert (r.partition_date, r.beaconchain_day) == ("2023-06-01", 900)
    assert r.day_start == datetime(2023, 6, 1)
    assert r.day_end == datetime(2023, 6, 1, 23, 59, 59)
    assert (r.apr, r.cl_apr, r.el_apr) == (0.042, 0.03, 0.012)
