"""Seeded inputs for the ``cadence_hourly`` workload: fake chain transports
and the configuration resources ``reference_graph`` consumes.

Everything is derived from the seed and nothing else, so the same seed
yields byte-identical payloads. Sizes (markets, reserves, days) are fixed;
the seed moves addresses, amounts, prices and the start day.

Transports are built as closures inside :func:`chain_transports` so that
cloudpickle ships them by value to the Python workers (module-level
functions would be pickled by reference).
"""

from __future__ import annotations

import random
import zlib
from datetime import date, datetime, timedelta

#: the one market the cadence runs: a wei-base v2 market on ethereum (the
#: Chainlink ETH/USD oracle multiplier path; the chain the safety-module,
#: balancer and compound assets price on). One cold market-day already
#: costs about 13 asset writes, which is what the run budget allows.
MARKET = ("ethereum_v2", "ethereum", 2, 1, "wei")
N_RESERVES = 3
#: transports whose every request fails once with a transient error: the
#: driver-side block and token lookups (one request per market and
#: partition), so every run takes the sources retry path the same number
#: of times -- once per hourly tick -- whatever the seed. The share is a
#: choice of the benchmark, not a measured failure rate. Fan-out
#: transports never fail: their retries would sleep in Python workers,
#: whose back-off jitter the benchmark cannot fix.
FAIL_ONCE = frozenset({"closest_block", "closest_block_hour", "subgraph_tokens"})
_FAIL_KEY = "_perfbench_failed"


def chain_params(seed: int) -> dict:
    """Plain-data description of one cadence input set."""
    rng = random.Random(seed)
    start = date(2023, 1, 1) + timedelta(days=rng.randrange(0, 600))
    name, chain, version, chain_id, base = MARKET
    tag = format(rng.randrange(16, 256), "02x")
    market = {
        "chain": chain, "version": version, "chain_id": chain_id,
        "pool": f"0xpool_{tag}", "collector": f"0xcol{tag}",
        "incentives_controller": f"0xic{tag}",
        "oracle_base_currency": base,
        "reserve_tag": tag,
        "rewards_token": "0xAAVE", "rewards_token_symbol": "stkAAVE",
        "rewards_token_decimals": 18,
    }
    return {
        "seed": seed,
        "days": [start.isoformat()],
        "markets": {name: market},
        "n_reserves": N_RESERVES,
        "price_base": rng.uniform(0.5, 4.0),
        "supply_base": rng.randrange(80, 400),
    }


def chain_transports(params: dict, counters=None) -> dict:
    """The fake transport set. ``counters`` (optional) is a pair of Spark
    accumulators ``(requests, injected_failures)``; transports add to them
    wherever they run (driver or Python worker)."""
    seed = params["seed"]
    n_res = params["n_reserves"]
    price_base = params["price_base"]
    supply_base = params["supply_base"]
    tags = {m: c["reserve_tag"] for m, c in params["markets"].items()}
    chain_ids = {c["chain_id"]: m for m, c in params["markets"].items()}
    marker = _FAIL_KEY

    def res_addr(market, i):
        # 40-hex address: the market tag repeated, index suffix
        return "0x" + (tags[market] * 18) + f"{i:04d}"

    def h(*parts) -> int:
        return zlib.crc32(repr((seed,) + parts).encode())

    def instrument(name, fn):
        def call(req):
            # fail once: the retried call sees the marker on the same dict
            if marker in req:
                req.pop(marker)
            elif name in FAIL_ONCE:
                req[marker] = True
                if counters is not None:
                    counters[1].add(1)
                raise ConnectionError(f"injected transient failure: {name}")
            if counters is not None:
                counters[0].add(1)
            return fn(req)

        return call

    def closest_block(req):
        from datetime import datetime, timezone

        day = datetime.fromisoformat(req["day"]).replace(tzinfo=timezone.utc)
        base = 1_000_000 if req["chain"] == "ethereum" else 40_000_000
        hgt = base + int(day.timestamp() // 86400) * 7000
        return {
            "start": {"height": hgt, "timestamp": day.timestamp()},
            "next": {"height": hgt + 7000, "timestamp": day.timestamp() + 86400},
        }

    def closest_block_hour(req):
        hh = int(req["hour"].split("-")[-1].split(":")[0])
        return {"height": 2_000_000 + hh * 300, "timestamp": 1704067200 + hh * 3600}

    def subgraph_tokens(req):
        m = req["market"]
        return {"reserves": [
            {"underlyingAsset": res_addr(m, i), "name": f"Token {i}",
             "symbol": f"T{i}", "decimals": 18,
             "aToken": {"id": f"0xatok_{tags[m]}_{i}"}, "pool": {"id": "0xPOOL"}}
            for i in range(n_res)
        ]}

    def oracle_prices(req):
        return {"price": price_base + (h("px", req["reserve"], req["block_height"]) % 700) / 100}

    def eth_usd_price(req):
        return {"answer": 2000 * 10**8 + req["block_height"] % 10**8}

    def base_currency_unit(req):
        return {"answer": 10**8}

    def protocol_data(req):
        i = int(req["reserve"][-4:])
        supply = (supply_base + i + h("sup", req["reserve"]) % 50) * 10**18
        return {
            "ltv": 8000, "liquidation_threshold": 8250, "liquidation_bonus": 10500,
            "reserve_factor": 1000,
            "usage_as_collateral_enabled": True, "borrowing_enabled": True,
            "stable_borrow_rate_enabled": False, "is_active": True, "is_frozen": False,
            "atoken_supply": supply, "stable_debt": 10 * 10**18,
            "variable_debt": 20 * 10**18,
            "liquidity_rate": 2 * 10**25, "variable_borrow_rate": 3 * 10**25,
            "stable_borrow_rate": 4 * 10**25, "liquidity_index": 1.01 * 10**27,
            "variable_borrow_index": 1.02 * 10**27,
            "last_update_timestamp": 1704067200,
            "is_paused": False, "siloed_borrowing": False,
            "reserve_emode_category": i % 2,
            "borrow_cap": 0, "supply_cap": 0, "unbacked_mint_cap": 0,
            "debt_ceiling": 0, "liquidation_protocol_fee": 1000,
            "unbacked_atokens": 0, "scaled_accrued_to_treasury": 0,
        }

    def emode(req):
        return {"ltv": 9300, "liquidation_threshold": 9500, "liquidation_bonus": 10100,
                "price_source": "0xFEED", "label": "Stablecoins"}

    def incentives(req):
        reward = {
            "symbol": "SD", "address": "0xRW", "oracle": "0xOR",
            "emission_per_second": 3.9e15, "last_update": 1, "index": 0.5,
            "emission_end": 2_000_000_000, "price_feed": 1135753.0, "decimals": 18,
            "precision": 18, "price_feed_decimals": 6,
        }
        return {"reserves": [
            {"underlying_asset": res_addr(req["market"], 0),
             "atoken": {"token_address": "0xA", "controller": "0xC", "rewards": [reward]}},
        ]}

    def compound(req):
        return {"supply_rate_per_block": 1e10, "borrow_rate_per_block": 2e10,
                "total_supply_underlying": 5_000_000 * 10**6,
                "total_borrows": 2_000_000 * 10**6}

    def erc20_balance(req):
        return {"raw": 7_500_000 + h("erc", req.get("block_day")) % 1000, "decimals": 6}

    def beacon(req):
        return {"data": {"day": 800, "day_start": 1704067200, "day_end": 1704153600,
                         "apr": 0.04, "cl_apr": 0.03, "el_apr": 0.01}}

    def swap_quote(req):
        return {"to_amount_native": req["from_amount_usd"] * 0.985}

    def holders(req):
        return {"decimals": 18, "total_supply": 3 * 10**18, "holders": [
            {"address": "0xH1", "balance": 2 * 10**18},
            {"address": "0xH2", "balance": 0},
            {"address": "0xH3", "balance": 10**18},
        ]}

    def balancer(req):
        return {"deployed": True, "rate": 1.05e18, "actual_supply": 2 * 10**18}

    def coingecko(req):
        return {"aave": [[1704067200000, 95.0], [1704153600000, 97.5]]}

    def token_transfers(req):
        i = int(req["token"][-1]) if req["token"][-1].isdigit() else 0
        sym = f"aT{i}" if "atok" in req["token"] else "GOV"
        amt = 3 + h("tt", req["token"], req["start_block"]) % 5
        return {"transfers": [
            {"type": "IN", "from": "0xEXT1", "to": req["collector"],
             "raw_amount": amt * 10**18, "decimals": 18, "name": "T", "symbol": sym},
            {"type": "OUT", "from": req["collector"], "to": "0xINT1",
             "raw_amount": 1 * 10**18, "decimals": 18, "name": "T", "symbol": sym},
        ]}

    def balance_of(req):
        b = 5 + h("bal", req.get("token"), req.get("block_height")) % 5
        return {"decimals": 18, "balance": b * 10**18,
                "scaled_balance": 4 * 10**18, "raw": 9 * 10**18}

    def reserve_data(req):
        return {"accrued_to_treasury_scaled": 2 * 10**18, "liquidity_index": 1.01 * 10**27}

    def events_by_topic(req):
        from aave_etl_spark.sources.connectors import MINT_TOPIC, MINTED_TO_TREASURY_TOPIC

        market = chain_ids.get(req["chain_id"], next(iter(tags)))
        res = res_addr(market, 0)
        if req["topic"] == MINTED_TO_TREASURY_TOPIC:
            topic1 = "0x" + "0" * 24 + res[2:]
            return {"items": [
                {"block_signed_at": 1704100000, "block_height": req["start_block"] + 5,
                 "tx_hash": "0xTXMT", "topics": [MINTED_TO_TREASURY_TOPIC, topic1],
                 "sender_address": "0xpool",
                 "raw_log_data": "0x" + format(6 * 10**18, "064x")},
            ]}
        return {"items": [
            {"block_signed_at": 1704100000, "block_height": req["start_block"] + 5,
             "tx_hash": "0xTXMT", "topics": [MINT_TOPIC],
             "sender_address": f"0xatok_{tags[market]}_0",
             "raw_log_data": "0x" + format(7 * 10**18, "064x")
             + format(10**18, "064x") + format(10**27, "064x")},
        ]}

    def treasury_incentives(req):
        if req["version"] == 3:
            return {"rewards": [{"address": "0xWMATIC", "symbol": "WMATIC",
                                 "decimals": 18, "accrued": 11 * 10**18}]}
        return {"raw": 13 * 10**18}

    def paraswap_claimable(req):
        return {"claimable": [2 * 10**6 for _ in req["tokens"]]}

    def sm_rpc(req):
        return {"stk_token_supply": 3 * 10**18, "unstaked_token_supply": 20 * 10**18,
                "emission_per_second": 10**15, "last_update_timestamp": 1704067200,
                "index": 1}

    def total_supply(req):
        return {"raw": None if req["symbol"] == "MaticX" else 5 * 10**18}

    def bal_pool(req):
        return {"tokens": [
            {"address": "0xAAVE", "symbol": "AAVE", "decimals": 18,
             "weight": int(0.8 * 1e18), "balance": 10 * 10**18},
            {"address": "0xWETH", "symbol": "WETH", "decimals": 18,
             "weight": int(0.2 * 1e18), "balance": 2 * 10**18},
        ]}

    raw = {
        "sm_rpc": sm_rpc, "total_supply": total_supply, "bal_pool": bal_pool,
        "token_transfers": token_transfers, "balance_of": balance_of,
        "reserve_data": reserve_data, "events_by_topic": events_by_topic,
        "treasury_incentives": treasury_incentives,
        "paraswap_claimable": paraswap_claimable, "closest_block": closest_block,
        "closest_block_hour": closest_block_hour, "subgraph_tokens": subgraph_tokens,
        "oracle_prices": oracle_prices, "eth_usd_price": eth_usd_price,
        "base_currency_unit": base_currency_unit, "protocol_data": protocol_data,
        "emode": emode, "incentives": incentives, "compound": compound,
        "erc20_balance": erc20_balance, "beacon": beacon, "swap_quote": swap_quote,
        "holders": holders, "balancer": balancer, "coingecko": coingecko,
    }
    return {name: instrument(name, fn) for name, fn in raw.items()}


def chain_resources(spark, params: dict, counters=None) -> dict:
    """The ``resources`` dict ``run_day``/``run_hour`` hand to asset fns."""
    markets = {
        m: {k: v for k, v in c.items() if k != "reserve_tag"}
        for m, c in params["markets"].items()
    }
    names = list(markets)

    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

    cols = {m: c["collector"] for m, c in markets.items()}
    return {
        "transports": chain_transports(params, counters),
        "markets": markets,
        "market_chain_rank": df(
            [(m, c["chain"], i + 1) for i, (m, c) in enumerate(markets.items())],
            "market string, chain string, price_rank long",
        ),
        "display_names": df(
            [(cols[m], c["chain"], m, c["chain"].title(), m.replace("_", " ").title())
             for m, c in markets.items()],
            "collector string, chain string, market string, display_chain string,"
            " display_name string",
        ),
        "compound_v2_tokens": df(
            [("ethereum", "compound_v2", "cUSDC", "0xcusdc", "USDC", "0xusdc", 6)],
            "chain string, compound_version string, symbol string, address string,"
            "underlying_symbol string, underlying_address string, underlying_decimals long",
        ),
        # a member of the grants-DAO wallet list the datamart model filters to
        "grants_wallets": df(
            [("ethereum", "0x89c51828427f70d77875c6747759fb17ba10ceb0", "USDC", "0xusdc")],
            "chain string, wallet_address string, token string, token_address string",
        ),
        "liquidity_pairs": df(
            [("eth_weth_usdc", names[0], "ethereum", names[0], "USDC", "0xusdc", 6,
              "WETH", "0xweth", 18, 2000.0, 1.0, 1)],
            "market_key string, market string, chain string, loop_market string,"
            "to_asset string, to_asset_address string, to_asset_decimals long,"
            "from_asset string, from_asset_address string, from_asset_decimals long,"
            "from_asset_price double, to_asset_price double, chain_id long",
        ),
        "fetch_time": datetime.fromisoformat(params["days"][0]).replace(hour=2),
        "sm_tokens": df(
            [("ethereum", "stkAAVE", "0xstk")],
            "chain string, safety_module_token string, stk_token_address string",
        ),
        "balancer_pools": df(
            [("0xpool80", "B-80AAVE-20WETH", "Balancer 80/20", 18, "usd", "0xp",
              "AAVE", "ethereum")],
            "pool string, symbol string, name string, decimals long, denom string,"
            "price_token string, price_symbol string, chain string",
        ),
        "coingecko_tokens": [
            {"cg_id": "aave", "symbol": "AAVE", "address": "0xAAVE",
             "chain": "ethereum", "decimals": 18},
        ],
        "config_tokens": df(
            [(m, "treasury", f"0xwal{i}", "gov", f"0xgov{i}", 18)
             for i, m in enumerate(markets)],
            "market string, wallet_label string, wallet_address string,"
            "symbol string, token_address string, decimals long",
        ),
        "internal_addresses": df(
            [(c["chain"], "0xint1", "aave_internal") for c in markets.values()],
            "chain string, contract_address string, internal_external string",
        ),
        "sm_rpc_tokens": df(
            [("stkAAVE", "0xSTK", "stkAAVE", "0xAAVE", "AAVE", "0xAAVE", "AAVE", 18, None),
             ("stkABPT", "0xSTKB", "stkABPT", "0xABPT", "ABPT", "0xAAVE", "AAVE", 18,
              "0xBALPOOL")],
            "safety_module_token string, stk_token_address string,"
            "stk_token_symbol string, unstaked_token_address string,"
            "unstaked_token_symbol string, reward_token_address string,"
            "reward_token_symbol string, decimals long, bal_pool_address string",
        ),
        "lsd_tokens": df(
            [("polygon", "0xSTM_P", "stMATIC", 18), ("polygon", "0xMX_P", "MaticX", 18),
             ("ethereum", "0xSTM_E", "stMATIC", 18), ("ethereum", "0xMX_E", "MaticX", 18)],
            "chain string, address string, symbol string, decimals long",
        ),
    }


def expected_lake_rows(params: dict) -> dict[str, int]:
    """Row counts the day's lake partitions must hold, derived from the
    generator's sizes alone."""
    n_r = params["n_reserves"]
    cells = len(params["days"]) * len(params["markets"])
    return {
        "block_numbers_by_day": cells,
        "market_tokens_by_day": cells * n_r,
        "aave_oracle_prices_by_day": cells * n_r,
        "protocol_data_by_day": cells * n_r,
        # one eMode category > 0 (odd reserve indices) per (day, market)
        "emode_config_by_day": cells * (1 if n_r > 1 else 0),
    }
