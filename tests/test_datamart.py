"""End-to-end datamart DAG test: tiny fixture frames for every source
table, one `run_datamart` pass, assertions per model family. Catches SQL
dialect errors in every model (all models execute) plus semantic checks on
the flagship chain (LEAD pairing, UNPIVOT, classification filter,
rollups, PIVOT, bucketing, ignore-nulls ffill)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.plans import run_datamart

D1 = datetime(2024, 1, 1)
D2 = datetime(2024, 1, 2)
H1 = datetime(2024, 1, 1, 0)
H2 = datetime(2024, 1, 1, 1)

COL = "0xcol"
ATOK = "0xatok"
RES = "0xres"


@pytest.fixture(scope="module")
def datamart_inputs(spark):
    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

    inputs = {
        "display_names": df(
            [(COL, "ethereum", "ethereum_v2", "Ethereum", "Ethereum V2")],
            "collector string, chain string, market string, display_chain string, display_name string",
        ),
        "block_numbers_by_day": df(
            [(D1, D1, 1, 10, "ethereum", "ethereum_v2")],
            "block_day timestamp, block_time timestamp, block_height long, end_block long, chain string, market string",
        ),
        "market_tokens_by_day": df(
            [(RES, "Reserve", "RSV", 18, ATOK, "aRSV", "0xpool", "ethereum_v2", 18, 1, D1)],
            "reserve string, name string, symbol string, decimals long, atoken string, atoken_symbol string, pool string, market string, atoken_decimals long, block_height long, block_day timestamp",
        ),
        "eth_balances_by_day": df(
            [(1, D1, "ethereum", "ethereum_v2", COL, "0xweth", "ETH", 2.0),
             (2, D2, "ethereum", "ethereum_v2", COL, "0xweth", "ETH", 2.0)],
            "block_height long, block_day timestamp, chain string, market string, collector string, wrapped_gas_token string, gas_token string, balance double",
        ),
        "atoken_measures_by_day": df(
            [
                (COL, "ethereum", "ethereum_v2", ATOK, "aRSV", D1, 100.0, 95.0, 1.0,
                 10.0, 5.0, 3.0, 2.0, 0.5, 0.8),
                (COL, "ethereum", "ethereum_v2", ATOK, "aRSV", D2, 110.0, 96.0, 1.2,
                 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
            ],
            "collector string, chain string, market string, token string, symbol string, block_day timestamp,"
            "balance double, scaled_balance double, accrued_fees double,"
            "tokens_in_external double, tokens_in_internal double, tokens_out_external double,"
            "tokens_out_internal double, minted_to_treasury_amount double, minted_amount double",
        ),
        "non_atoken_measures_by_day": df(
            [],
            "block_day timestamp, chain string, market string, contract_address string, token string, symbol string,"
            "balance double, tokens_in_external double, tokens_in_internal double,"
            "tokens_out_external double, tokens_out_internal double, paraswap_fees_claimable double",
        ),
        "aave_oracle_prices_by_day": df(
            [(RES, "RSV", "ethereum_v2", 1, D1, 2.0), (RES, "RSV", "ethereum_v2", 2, D2, 3.0)],
            "reserve string, symbol string, market string, block_height long, block_day timestamp, usd_price double",
        ),
        "coingecko_data_by_day": df(
            [(D1, 1.0, "WETH", "weth", "0xweth", "ethereum", 18),
             (D1, 1.0, "USDC", "usd-coin", "0xusdc", "ethereum", 6),
             (D2, 1.0, "USDC", "usd-coin", "0xusdc", "ethereum", 6)],
            "block_day timestamp, price_usd double, symbol string, cg_id string, address string, chain string, decimals long",
        ),
        "user_rewards_by_day": df(
            [],
            "market string, block_day timestamp, vault_address string, token_address string,"
            "sm_stkAAVE_claims double, sm_stkABPT_claims double, lm_aave_v2_claims double",
        ),
        "tx_classification": df(
            [("end_balance_usd", "balance", "usd"), ("end_balance", "balance", "native"),
             ("atoken_interest_usd", "income", "usd"), ("treasury_spend_usd", "spend", "usd"),
             ("end_accrued_fees_usd", "balance", "usd"), ("end_accrued_fees", "balance", "native"),
             ("end_paraswap_fees_claimable_usd", "balance", "usd"),
             ("end_paraswap_fees_claimable", "balance", "native")],
            "measure string, measure_type string, currency string",
        ),
        "aave_internal_addresses": df(
            [("ethereum", "Treasury", COL, "aave_internal")],
            "chain string, label string, contract_address string, internal_external string",
        ),
        "balance_group_lookup": df(
            [("ethereum_v2", ATOK, "aRSV", RES, "RSV", "ethereum", "Other Token", "unstablecoin")],
            "market string, atoken string, atoken_symbol string, reserve string, symbol string, chain string, balance_group string, stable_class string",
        ),
        "paraswap_legacy_claimable_fees": df(
            [(D2, "ethereum", "ethereum_v2", "0xclaimer", "0xlegacy", RES, "RSV", 4.0)],
            "block_day timestamp, chain string, market string, paraswap_fee_claimer string, paraswap_legacy_claimer string, reserve string, symbol string, claimable double",
        ),
        "token_prices_by_day": df(
            [(D1, "ethereum", RES, "RSV", 2.0, "aave_oracle"),
             (D2, "ethereum", RES, "RSV", 3.0, "aave_oracle")],
            "block_day timestamp, chain string, reserve string, symbol string, usd_price double, pricing_source string",
        ),
        "protocol_data_by_hour": df(
            [(H1, 1, "ethereum_v2", RES, "aRSV", 18, 0.8, 0.85, 1.05, 0.1,
              True, True, False, True, False, False, False, 1,
              0, 0, 0, 0, 0.0, 0.0, 0.0, 1000.0, 100.0, 400.0, 500.0,
              0.02, 0.04, 0.06, 0.05, 1.01, 1.02, H1),
             (H2, 2, "ethereum_v2", RES, "aRSV", 18, 0.8, 0.85, 1.05, 0.1,
              True, True, False, True, False, False, False, 1,
              0, 0, 0, 0, 0.0, 0.0, 0.0, 1001.0, 100.0, 400.0, 501.0,
              0.02, 0.04, 0.06, 0.05, 1.01, 1.02, H2)],
            "block_hour timestamp, block_height long, market string, reserve string, symbol string, decimals long,"
            "ltv double, liquidation_threshold double, liquidation_bonus double, reserve_factor double,"
            "usage_as_collateral_enabled boolean, borrowing_enabled boolean, stable_borrow_rate_enabled boolean,"
            "is_active boolean, is_frozen boolean, is_paused boolean, siloed_borrowing boolean,"
            "reserve_emode_category long, borrow_cap long, supply_cap long, unbacked_mint_cap long, debt_ceiling long,"
            "liquidation_protocol_fee double, unbacked_atokens double, scaled_accrued_to_treasury double,"
            "atoken_supply double, stable_debt double, variable_debt double, available_liquidity double,"
            "liquidity_rate double, variable_borrow_rate double, stable_borrow_rate double, average_stable_rate double,"
            "liquidity_index double, variable_borrow_index double, last_update_timestamp timestamp",
        ),
        # emode only known in hour 1 → hour 2 must forward-fill
        "emode_config_by_day": df(
            [(D1, 1, "ethereum_v2", 1, 0.9, 0.93, 1.01, "0xfeed", "Stablecoins")],
            "block_day timestamp, block_height long, market string, reserve_emode_category long,"
            "emode_ltv double, emode_liquidation_threshold double, emode_liquidation_bonus double,"
            "emode_price_address string, emode_category_name string",
        ),
        "safety_module_rpc": df(
            [(0.01, 864.0, 1, 1000.0, 10000.0, D1, 1, "0xstk", "stkAAVE",
              "0xaave", "AAVE", "0xaave", "AAVE")],
            "emission_per_second double, emission_per_day double, last_update_timestamp long,"
            "stk_token_supply double, unstaked_token_supply double, block_day timestamp, block_height long,"
            "stk_token_address string, stk_token_symbol string, unstaked_token_address string,"
            "unstaked_token_symbol string, reward_token_address string, reward_token_symbol string",
        ),
        "safety_module_token_hodlers_by_day": df(
            [(D1, "ethereum", "stkAAVE", "0xstk", "0xh1", 150000.0, 1000000.0, 1),
             (D1, "ethereum", "stkAAVE", "0xstk", "0xh2", 5.0, 1000000.0, 1),
             (D1, "ethereum", "stkABPT", "0xstkb", "0xh3", 2_000_000.0, 10_000_000.0, 1)],
            "block_day timestamp, chain string, safety_module_token string, stk_token_address string,"
            "holder_address string, balance double, total_supply double, block_height long",
        ),
        "incentives_by_day": df(
            [(D1, 1, "ethereum_v2", RES, "aRSV", "AAVE", "0xaave",
              0.1, 0.0, 0.0, 10.0, 0.0, 0.0, 20.0, 0.0, 0.0)],
            "block_day timestamp, block_height long, market string, reserve string, symbol string,"
            "reward_token_symbol string, reward_token_address string,"
            "supply_rewards_apr double, variable_borrow_rewards_apr double, stable_borrow_rewards_apr double,"
            "supply_rewards double, variable_debt_rewards double, stable_debt_rewards double,"
            "supply_rewards_usd double, variable_debt_rewards_usd double, stable_debt_rewards_usd double",
        ),
        "matic_lsd_token_supply_by_day": df(
            [(D1, 1, "polygon", "0xlsd", "stMATIC", 18, 1e6)],
            "block_day timestamp, block_height long, chain string, address string, symbol string, decimals long, total_supply double",
        ),
        "aave_token_liquidity_depth": df(
            [(H1, "USDC", 1.0, 1e4, 1e4, "AAVE", 100.0, 99.0, 9900.0, 0.01),
             (H2, "USDC", 1.0, 2e4, 2e4, "AAVE", 100.0, 190.0, 19000.0, 0.05)],
            "fetch_time timestamp, from_asset string, from_asset_price double, from_amount_native double,"
            "from_amount_usd double, to_asset string, to_asset_price double, to_amount_native double,"
            "to_amount_usd double, price_impact double",
        ),
        "liquidity_depth": df(
            [("k", "ethereum_v2", "ethereum", "lm", "USDC", "0xu", 6, "WETH", "0xw", 18,
              2000.0, 1.0, 1, 1e4, 5.0, 9.9e3, 9.9e3, 0.005, H1, False)],
            "market_key string, market string, chain string, loop_market string, to_asset string,"
            "to_asset_address string, to_asset_decimals long, from_asset string, from_asset_address string,"
            "from_asset_decimals long, from_asset_price double, to_asset_price double, chain_id long,"
            "from_amount_usd double, from_amount_native double, to_amount_native double, to_amount_usd double,"
            "price_impact double, fetch_time timestamp, is_interpolated boolean",
        ),
        "streams_metadata": df(
            [("Vendor", "Stream A", 100, "0xstream", ATOK, 7, "aDAI", "12m", 0.0, 50.0)],
            "vendor_label string, stream_label string, proposal_id long, stream_contract string,"
            "token string, stream_id long, symbol string, term string, upfront_native double, bonus_usd double",
        ),
        "streaming_payments_state": df(
            [(D1, "0xstream", "0xrcpt", "0xsndr", ATOK, 7, 0, 86400, D1, D2,
              0.001, "aDAI", 18, 86.4, 10.0, 40.0, 46.4, 30.0)],
            "deposit_day timestamp, contract_address string, recipient string, sender string,"
            "token_address string, stream_id long, start_time_s long, stop_time_s long,"
            "start_time timestamp, stop_time timestamp, stream_rate double, symbol string, decimals long,"
            "deposit double, claims double, vested double, unvested double, unclaimed double",
        ),
        "compound_v2_by_day": df(
            [(D1, 1, "ethereum", "compound_v2", "cUSDC", "0xcusdc", "USDC", "0xusdc",
              0.03, 0.05, 36500.0, 10000.0),
             (D2, 2, "ethereum", "compound_v2", "cUSDC", "0xcusdc", "USDC", "0xusdc",
              0.03, 0.05, 36500.0, 10000.0)],
            "block_day timestamp, block_height long, chain string, compound_version string, symbol string,"
            "address string, underlying_symbol string, underlying_address string,"
            "supply_apy double, borrow_apy double, deposits double, borrows double",
        ),
        "compound_v3_by_day": df(
            [],
            "block_day timestamp, block_height long, chain string, compound_version string, symbol string,"
            "address string, underlying_symbol string, underlying_address string,"
            "supply_apy double, borrow_apy double, deposits double, borrows double",
        ),
        "compound_v2_by_hour": df(
            [],
            "block_hour timestamp, block_height long, chain string, compound_version string, symbol string,"
            "address string, underlying_symbol string, underlying_address string,"
            "supply_apy double, borrow_apy double, deposits double, borrows double",
        ),
        "compound_v3_by_hour": df(
            [],
            "block_hour timestamp, block_height long, chain string, compound_version string, symbol string,"
            "address string, underlying_symbol string, underlying_address string,"
            "supply_apy double, borrow_apy double, deposits double, borrows double",
        ),
        # full per-day lake superset: the warehouse market_state/config
        # transforms (warehouse/market.py) project from this below
        "protocol_data_by_day": df(
            [(D1, 1, "ethereum_v2", RES, "aRSV", 0.0, 0.0, 1000.0, 100.0, 400.0,
              0.02, 0.04, 0.06, 0.05, 1.01, 1.02, 500.0,
              18, 0.8, 0.85, 1.05, 0.1, True, True, False, True, False, 1,
              0, 0, False, False, 0.0, 0, 0)],
            "block_day timestamp, block_height long, market string, reserve string, symbol string,"
            "unbacked_atokens double, scaled_accrued_to_treasury double, atoken_supply double,"
            "stable_debt double, variable_debt double, liquidity_rate double, variable_borrow_rate double,"
            "stable_borrow_rate double, average_stable_rate double, liquidity_index double,"
            "variable_borrow_index double, available_liquidity double, decimals long,"
            "ltv double, liquidation_threshold double, liquidation_bonus double, reserve_factor double,"
            "usage_as_collateral_enabled boolean, borrowing_enabled boolean, stable_borrow_rate_enabled boolean,"
            "is_active boolean, is_frozen boolean, reserve_emode_category long, borrow_cap long, supply_cap long,"
            "is_paused boolean, siloed_borrowing boolean, liquidation_protocol_fee double, unbacked_mint_cap long,"
            "debt_ceiling long",
        ),
        "non_atoken_balances_by_day": df(
            [("0xca", "ethereum", "ethereum_v2", "0xwsteth", 18, "wstETH", 1, datetime(2023, 8, 1), 5.0)],
            "contract_address string, chain string, market string, token string, decimals long,"
            "symbol string, block_height long, block_day timestamp, balance double",
        ),
        "collector_atoken_balances_by_day": df(
            [("0xcol", "ethereum_v2", ATOK, "aRSV", 1, D1, 10.0, 9.5),
             ("0xcol", "ethereum_v2", ATOK, "aRSV", 2, D2, 11.0, 9.6)],
            "collector string, market string, token string, symbol string,"
            "block_height long, block_day timestamp, balance double, scaled_balance double",
        ),
        "safety_module_bal_pool_contents": df(
            [(D1, "stkABPT", "BAL", 0.2, 1000.0)],
            "block_day timestamp, safety_module_token string, symbol string, weight double, balance double",
        ),
        "beacon_chain_staking_returns_by_day": df(
            [(D1, 800, D1, D2, 0.04, 0.03, 0.01)],
            "partition_date timestamp, beaconchain_day long, day_start timestamp, day_end timestamp,"
            "apr double, cl_apr double, el_apr double",
        ),
        # model #61 balancer_bpt_by_day: rate known both days → LAG APR on day 2
        "warehouse_balancer_bpt_by_day": df(
            [(D1, "ethereum", "B-80AAVE-20WETH", "Balancer 80/20", "0xpool80", "AAVE",
              100.0, 1.00, 1000.0, 120.0, 120000.0),
             (D2, "ethereum", "B-80AAVE-20WETH", "Balancer 80/20", "0xpool80", "AAVE",
              101.0, 1.01, 1000.0, 121.0, 121000.0)],
            "block_day timestamp, chain string, symbol string, name string, pool string, denom string,"
            "underlying_asset_price double, rate double, actual_supply double,"
            "bpt_usd_price double, pool_tvl_usd double",
        ),
        # model #62 grants_dao_token_balances_by_day: one grants-wallet row
        # (atoken → priced via reserve fallback) + one non-wallet row dropped
        "erc20_balances_by_day": df(
            [(D1, "ethereum", "aRSV", ATOK, "0x89c51828427f70d77875c6747759fb17ba10ceb0", 7.0),
             (D1, "ethereum", "RSV", RES, "0xother", 3.0)],
            "block_day timestamp, chain string, token string, token_address string,"
            "wallet_address string, balance double",
        ),
    }
    # the two warehouse views come from the REAL transforms, not fixtures
    from aave_etl_spark.warehouse.market import market_config_by_day, market_state_by_day

    inputs["warehouse_market_state_by_day"] = market_state_by_day(
        inputs["protocol_data_by_day"]
    )
    inputs["warehouse_market_config_by_day"] = market_config_by_day(
        inputs["protocol_data_by_day"], inputs["emode_config_by_day"]
    )
    return inputs


@pytest.fixture(scope="module")
def datamart(spark, datamart_inputs):
    return run_datamart(spark, datamart_inputs)


def test_all_models_ran(datamart):
    from aave_etl_spark.datamart import MODELS

    assert set(datamart) == set(MODELS)
    for name, df in datamart.items():
        assert df.columns, name


def test_all_financials_lead_pairing_and_filter(datamart):
    af = datamart["all_financials"]
    rows = af.filter(
        (F.col("token") == ATOK) & (F.col("measure") == "end_balance_usd")
    ).collect()
    # 2 input days → LEAD keeps only day 1 (last-day drop, all_financials.sql:191-193)
    assert len(rows) == 1
    r = rows[0]
    assert r.block_day == D1
    # end_balance(110) × end price(3.0)
    assert r.value == pytest.approx(330.0)
    assert r.measure_type == "balance"
    assert r.display_name == "Ethereum V2"
    assert r.collector_label == "Treasury"
    # unclassified measures silently dropped (the not-null filter)
    assert af.filter(F.col("measure") == "start_balance_usd").count() == 0


def test_treasury_rollups(datamart):
    tt = datamart["treasury_totals"].collect()
    measures = {r.measure for r in tt}
    assert measures == {"total_treasury_value", "total_treasury_value_ex_aave"}
    # display day shifted +1 (treasury_totals.sql:7)
    assert all(r.block_day in (D2, datetime(2024, 1, 3)) for r in tt)
    latest = datamart["treasury_totals_latest"].collect()
    assert {r.block_day for r in latest} == {max(r.block_day for r in tt)}


def test_market_config_by_hour_ffill(datamart):
    mc = datamart["market_config_by_hour"].orderBy("block_hour").collect()
    assert len(mc) == 2
    # emode joined at day grain applies to both hours; ffill keeps hour2 populated
    assert mc[0].emode_category_name == "Stablecoins"
    assert mc[1].emode_category_name == "Stablecoins"
    assert mc[1].emode_ltv == pytest.approx(0.9)


def test_market_state_by_hour_apy(datamart):
    ms = datamart["market_state_by_hour"].first()
    # pow(1 + r/sec_per_year, sec_per_year) - 1 ~ e^r - 1
    import math

    assert ms.deposit_apy == pytest.approx(math.exp(0.02) - 1, rel=1e-4)


def test_sm_token_holder_distro_buckets(datamart):
    rows = {(r.safety_module_token, r.holder_bucket): r for r in datamart["sm_token_holder_distro"].collect()}
    assert ("stkAAVE", "holders >100k") in rows
    assert ("stkAAVE", "holders 1-10") in rows
    assert ("stkABPT", "holders 1m-10m") in rows  # stkABPT uses the wider buckets
    r = rows[("stkAAVE", "holders >100k")]
    assert r.balance_percentage == pytest.approx(0.15)
    assert r.holder_percentage == pytest.approx(0.5)


def test_streaming_payments_summary_pivot(datamart):
    sp = datamart["streaming_payments_summary"].collect()
    assert len(sp) == 1
    r = sp[0]
    assert r.stream_amount_aDAI == pytest.approx(86.4)
    assert r.remaining_amount_aDAI == pytest.approx(46.4)
    assert r.stream_amount_AAVE == 0.0
    assert r.stream_amount_stables == pytest.approx(86.4)


def test_safety_module_family(datamart):
    t = datamart["safety_module_totals_by_day"].first()
    # stk price falls back: no stk/unstaked oracle price, no coingecko → reward price join only
    apr = datamart["sm_staking_apr_by_day"].first()
    cover = datamart["sm_protocol_cover_by_day"].first()
    assert t.emission_per_day == pytest.approx(864.0)
    assert cover is not None and apr is not None


def test_inv_defi_ref_rates(datamart):
    rows = datamart["inv_defi_ref_rates_by_day"].orderBy("block_day").collect()
    # compound USDC deposits 36500 at 3% APY, $1 → ratio-of-sums gives 3%
    assert rows[0].stable_reference_rate_ex_price == pytest.approx(0.03)
    # eth rate known on day 1 only → day 2 forward-filled (explicit RANGE frame)
    assert rows[1].eth_reference_rate == pytest.approx(0.04)


def test_balancer_bpt_lag_apr(datamart):
    rows = datamart["balancer_bpt_by_day"].orderBy("block_day").collect()
    assert len(rows) == 2
    # day 1: LAG is null → coalesce to self → apr 0; day 2: (1.01/1.00 - 1) * 365
    assert rows[0].daily_apr == pytest.approx(0.0)
    assert rows[1].daily_apr == pytest.approx(3.65)
    assert rows[0].bpt_underlying_asset == "AAVE"


def test_grants_dao_balances(datamart):
    rows = datamart["grants_dao_token_balances_by_day"].collect()
    # only the grants wallet row survives; atoken priced via reserve fallback
    assert len(rows) == 1
    assert rows[0].token_symbol == "aRSV"
    assert rows[0].balance_usd == pytest.approx(7.0 * 2.0)


def test_impact_proposal_and_inv_lst_models_run(datamart):
    # parameterized impact_proposal generator executes (polygon fixture has
    # no rows for those markets — shape-only here, full values in round 2)
    assert datamart["impact_proposal_130"].columns == [
        "block_day", "market", "reserve", "atoken_symbol", "measure", "value"
    ]
    assert "receipts_usd" in datamart["inv_lst_performance_base"].columns
    assert "deposits_usd" in datamart["market_state_by_time"].columns


# ---------------------------------------------------------------------------
# The runner's ready-queue scheduling: independent models build
# concurrently, on worker threads, with the caller's job group.
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def hourly(datamart_inputs, datamart):
    """The five-model hourly selection and its inputs: fixture sources plus
    the daily model tables the selection reads instead of rebuilding."""
    from aave_etl_spark.plans.reference_pipeline import hourly_datamart_models

    models = hourly_datamart_models()
    needed = {s for m in models.values() for s in m.sources}
    inputs = {n: datamart_inputs[n] if n in datamart_inputs else datamart[n] for n in needed}
    return models, inputs


def _group_fence(sc, group: str) -> int:
    """Run one job under ``group`` and return its id: every job started
    between two fences has an id strictly between theirs."""
    sc.setJobGroup(group, group)
    sc.parallelize([1], 1).count()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_runner_jobs_stay_in_callers_job_group(spark, hourly, tmp_path):
    """Every Spark job of a store-backed run lands in the job group the
    caller set, although the models run on pool threads."""
    import warnings

    from aave_etl_spark.io.table_store import TableStore

    models, inputs = hourly
    sc = spark.sparkContext
    store = TableStore(spark, str(tmp_path))
    try:
        first = _group_fence(sc, "runner-before")
        sc.setJobGroup("runner-run", "hourly datamart")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_datamart(spark, inputs, models=models, store=store)
        last = _group_fence(sc, "runner-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup("runner-run"))
    assert jobs == set(range(first + 1, last))
    assert len(jobs) >= len(models)  # at least one write job per model
    assert not [w for w in caught if "not be inherited" in str(w.message)]


def test_runner_store_rows_match_storeless_run(spark, hourly, tmp_path):
    """The tables a store-backed run writes hold the rows a storeless run
    computes, and both return the models in topo order."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans import topo_order

    models, inputs = hourly
    store = TableStore(spark, str(tmp_path))
    stored = run_datamart(spark, inputs, models=models, store=store)
    plain = run_datamart(spark, inputs, models=models)
    assert list(stored) == list(plain) == topo_order(models)
    for name in models:
        got, want = store.read(name), plain[name]
        assert got.columns == want.columns, name
        rows = want.orderBy(*want.columns).collect()
        assert rows, name
        assert got.orderBy(*got.columns).collect() == rows, name


def test_runner_failure_stops_scheduling_and_keeps_finished_tables(spark, tmp_path):
    """A model failing at execution: the run raises the failure earliest in
    topo order once the running models finish; a sibling that succeeded
    keeps its table; nothing downstream of the failure is written; no
    staging debris or pool thread is left behind."""
    import os
    import threading

    from aave_etl_spark.datamart.models import Model
    from aave_etl_spark.io.table_store import TableStore

    def boom(msg: str, n: int) -> str:
        return f"SELECT IF(id = {n - 1}, raise_error('{msg}'), id) AS x FROM range({n})"

    models = {
        "sibling": Model("sibling", "SELECT id FROM range(3)"),
        "exploding": Model("exploding", boom("first model exploded", 3)),
        "also_exploding": Model("also_exploding", boom("second model exploded", 2)),
        "downstream": Model("downstream", "SELECT * FROM exploding", refs=("exploding",)),
    }
    store = TableStore(spark, str(tmp_path))
    with pytest.raises(Exception, match="first model exploded"):
        run_datamart(spark, {}, models=models, store=store)
    assert store.read("sibling").count() == 3
    for name in ("exploding", "also_exploding", "downstream"):
        assert not store.exists(name), name
    assert sorted(os.listdir(tmp_path)) == ["sibling"]
    assert not [t for t in threading.enumerate() if t.name.startswith("datamart")]


def test_runner_layered_dag_sees_every_ref(spark):
    """Six-wide, four-deep DAG of tiny models, with thread switches forced
    often: every model resolves the refs built before it, and each value
    matches the one computed serially in Python."""
    import sys

    from aave_etl_spark.datamart.models import Model

    width, depth = 6, 4
    models: dict[str, Model] = {}
    want: dict[str, int] = {}
    for layer in range(depth):
        for j in range(width):
            name = f"layered_{layer}_{j}"
            if layer == 0:
                models[name] = Model(name, f"SELECT CAST({j + 1} AS BIGINT) AS v")
                want[name] = j + 1
                continue
            a, b = f"layered_{layer - 1}_{j}", f"layered_{layer - 1}_{(j + 1) % width}"
            models[name] = Model(
                name, f"SELECT x.v * 10 + y.v AS v FROM {a} x CROSS JOIN {b} y", refs=(a, b)
            )
            want[name] = want[a] * 10 + want[b]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = run_datamart(spark, {}, models=models)
    finally:
        sys.setswitchinterval(interval)
    assert {n: df.first().v for n, df in out.items()} == want


def test_runner_empty_selection_runs_nothing(spark, tmp_path):
    """An empty ``models`` selection is a selection of nothing, not of the
    whole datamart: no source is required, no model runs, no table is
    written."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans.runner import topo_order

    assert topo_order({}) == []
    assert run_datamart(spark, {}, models={}) == {}
    store = TableStore(spark, str(tmp_path))
    assert run_datamart(spark, {}, models={}, store=store) == {}
    assert not list(tmp_path.iterdir())
