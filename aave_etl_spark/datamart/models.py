"""Datamart model registry — Spark SQL ports of the reference dbt models.

Dialect translation from BigQuery (SURVEY.md §4):
- ``date_add(ts, interval N day)``  → ``ts + INTERVAL N DAY``
- ``date_trunc(col, day)``          → ``date_trunc('DAY', col)``
- ``last_value(x ignore nulls)``    → ``last_value(x) IGNORE NULLS``
- ``select * except (...)``         → Spark 4 supports EXCEPT natively
- ``unnest([struct(...), ...])``    → ``inline(array(struct(...), ...))``
- ``UNPIVOT``/``PIVOT``             → Spark SQL UNPIVOT/PIVOT (BigQuery
  pivot column naming ``agg_value`` → Spark ``value_agg``; re-aliased)
- ``{{ source('s','t') }}`` / ``{{ ref('m') }}`` → plain view names

Each model docstring cites the reference file. ORDER BY clauses are kept
(presentation order, SURVEY §2.6) but are not semantically load-bearing.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Model:
    name: str
    sql: str
    refs: tuple[str, ...] = ()     # upstream datamart models
    sources: tuple[str, ...] = ()  # lake/warehouse input views
    doc: str = ""


MODELS: dict[str, Model] = {}


def model(name: str, refs: tuple[str, ...] = (), sources: tuple[str, ...] = (), doc: str = ""):
    def add(sql: str) -> None:
        MODELS[name] = Model(name=name, sql=sql, refs=refs, sources=sources, doc=doc)

    return add


# ---------------------------------------------------------------------------
# Dimension models
# ---------------------------------------------------------------------------
model(
    "chains_markets",
    sources=("display_names",),
    doc="reference: aave_dbt/models/datamart/chains_markets.sql",
)(
    """
select distinct
  chain
  , market
  , display_chain
  , display_name as display_market
from display_names
where display_name not in ('Ecosystem Reserve', 'Incentives Controller V2', 'Paraswap Fee Claimer')
order by chain, market
"""
)

model(
    "aave_atokens",
    sources=("block_numbers_by_day", "market_tokens_by_day"),
    doc="reference: aave_atokens.sql (latest-day scalar subquery, SURVEY §2.4)",
)(
    """
with markets_chains as (
  select distinct market, chain from block_numbers_by_day
)
select
  t.atoken
  , t.atoken_symbol
  , t.atoken_decimals
  , t.reserve
  , t.symbol as reserve_symbol
  , t.decimals as reserve_decimals
  , t.name as reserve_name
  , t.market
  , m.chain
  , t.pool as lending_pool
from market_tokens_by_day t
  left join markets_chains m on t.market = m.market
where block_day = (select max(block_day) from market_tokens_by_day)
"""
)

# ---------------------------------------------------------------------------
# The flagship: all_financials (reference all_financials.sql, 449 lines).
# Chain: measure union → reserve mapping → LEAD start/end pairing →
# liq-adjust CASE branches → 37-col UNPIVOT → 4-way dim join +
# measure_type-not-null filter (the silent inner-join, SURVEY §7.4.6).
# ---------------------------------------------------------------------------
model(
    "all_financials",
    refs=("aave_atokens",),
    sources=(
        "eth_balances_by_day",
        "atoken_measures_by_day",
        "non_atoken_measures_by_day",
        "aave_oracle_prices_by_day",
        "coingecko_data_by_day",
        "user_rewards_by_day",
        "tx_classification",
        "display_names",
        "aave_internal_addresses",
        "balance_group_lookup",
    ),
    doc="reference: all_financials.sql:1-449",
)(
    """
with gas_token_markets as (
select distinct market, chain, collector
from eth_balances_by_day
where 1=1
  and (chain = 'ethereum' and market = 'ethereum_v2')
  or (chain = 'ethereum' and market = 'ethereum_v1')
  or chain != 'ethereum'
)

, token_measures as (
select
  collector, chain, market, token, symbol, block_day
  , balance, scaled_balance, accrued_fees
  , tokens_in_external, tokens_in_internal, tokens_out_external, tokens_out_internal
  , minted_to_treasury_amount, minted_amount
  , cast(0 as double) as paraswap_fees_claimable
from atoken_measures_by_day
union all
select
  contract_address as collector, chain, market, token, symbol, block_day
  , balance, cast(0 as double), cast(0 as double)
  , tokens_in_external, tokens_in_internal, tokens_out_external, tokens_out_internal
  , cast(0 as double), cast(0 as double)
  , paraswap_fees_claimable
from non_atoken_measures_by_day
union all
select distinct
  e.collector, e.chain, m.market, e.wrapped_gas_token as token, e.gas_token as symbol, e.block_day
  , e.balance, cast(0 as double), cast(0 as double)
  , cast(0 as double), cast(0 as double), cast(0 as double), cast(0 as double)
  , cast(0 as double), cast(0 as double)
  , cast(0 as double)
from eth_balances_by_day e
  left join gas_token_markets m on (e.chain = m.chain and e.collector = m.collector)
)

, token_measures_reserves as (
select
  t.*
  , coalesce(a.reserve, t.token) as underlying_reserve
  , coalesce(a.reserve_symbol, t.symbol) as underlying_reserve_symbol
from token_measures t
  left join aave_atokens a on (t.token = a.atoken and t.chain = a.chain)
)

, balances_prices as (
select
  t.collector, t.chain, t.market, t.token, t.symbol
  , t.underlying_reserve, t.underlying_reserve_symbol, t.block_day
  , t.balance as start_balance
  , lead(t.balance) over (partition by t.collector, t.chain, t.market, t.token, t.symbol order by t.block_day) as end_balance
  , t.scaled_balance
  , t.accrued_fees as start_accrued_fees
  , lead(t.accrued_fees) over (partition by t.collector, t.chain, t.market, t.token, t.symbol order by t.block_day) as end_accrued_fees
  , t.tokens_in_external, t.tokens_in_internal, t.tokens_out_external, t.tokens_out_internal
  , t.minted_to_treasury_amount, t.minted_amount
  , coalesce(p.usd_price, c.price_usd) as start_usd_price
  , lead(coalesce(p.usd_price, c.price_usd)) over (partition by t.collector, t.chain, t.market, t.token, t.symbol order by t.block_day) as end_usd_price
  , coalesce(r.sm_stkAAVE_claims, 0) as sm_stkAAVE_claims
  , coalesce(r.sm_stkABPT_claims, 0) as sm_stkABPT_claims
  , coalesce(r.lm_aave_v2_claims, 0) as lm_aave_v2_claims
  , t.paraswap_fees_claimable as start_paraswap_fees_claimable
  , lead(t.paraswap_fees_claimable) over (partition by t.collector, t.chain, t.market, t.token, t.symbol order by t.block_day) as end_paraswap_fees_claimable
from token_measures_reserves t
  left join aave_oracle_prices_by_day p on (t.underlying_reserve = p.reserve and t.block_day = p.block_day and t.market = p.market)
  left join coingecko_data_by_day c on (t.underlying_reserve = c.address and t.block_day = c.block_day and t.chain = c.chain)
  left join user_rewards_by_day r on (t.market = r.market and t.block_day = r.block_day and t.collector = r.vault_address and t.token = r.token_address)
)

-- V3 PR682 double-transfer-on-liq fix: adjust only buggy markets before
-- 2023-05-06 (fantom/harmony never patched) — 4-branch UNION ALL
, token_level_calcs_staging as (
select *,
  case
    when scaled_balance = 0 then (tokens_in_external+tokens_in_internal-minted_amount)/(1+1)
    else (tokens_in_external+tokens_in_internal-minted_amount)/(1+start_balance/scaled_balance)
  end as liq_adjust
from balances_prices
where end_balance is not null
  and market in ('arbitrum_v3','avax_v3','fantom_v3','harmony_v3','optimism_v3','polygon_v3')
  and block_day <= '2023-05-06'
union all
select *, cast(0 as double) as liq_adjust
from balances_prices
where end_balance is not null
  and market not in ('arbitrum_v3','avax_v3','fantom_v3','harmony_v3','optimism_v3','polygon_v3')
  and block_day <= '2023-05-06'
union all
select *,
  case
    when scaled_balance = 0 then (tokens_in_external+tokens_in_internal-minted_amount)/(1+1)
    else (tokens_in_external+tokens_in_internal-minted_amount)/(1+start_balance/scaled_balance)
  end as liq_adjust
from balances_prices
where end_balance is not null
  and market in ('fantom_v3','harmony_v3')
  and block_day > '2023-05-06'
union all
select *, cast(0 as double) as liq_adjust
from balances_prices
where end_balance is not null
  and market not in ('fantom_v3','harmony_v3')
  and block_day > '2023-05-06'
)

, token_level_calcs as (
select
  collector, chain, market, token
  , case when token = '0x2e8f4bdbe3d47d7d7de490437aea9915d930f1a3' then 'aUSDP' else symbol end as symbol
  , underlying_reserve
  , case when token = '0x8e870d67f660d95d5be530380d0ec0bd388289e1' then 'aUSDP' else underlying_reserve_symbol end as underlying_reserve_symbol
  , block_day
  , start_balance, end_balance, scaled_balance
  , start_accrued_fees, end_accrued_fees
  , tokens_in_internal
  , tokens_in_external - liq_adjust - minted_amount + minted_to_treasury_amount as tokens_in_external_adjust
  , tokens_out_external, tokens_out_internal
  , tokens_in_external - liq_adjust - minted_amount as protocol_fees_received
  , end_accrued_fees - start_accrued_fees + minted_to_treasury_amount + end_paraswap_fees_claimable - start_paraswap_fees_claimable as protocol_fees_accrued
  , end_balance - (tokens_in_external + tokens_in_internal - liq_adjust - minted_amount + minted_to_treasury_amount) + tokens_out_external + tokens_out_internal - start_balance as atoken_interest
  , sm_stkAAVE_claims, sm_stkABPT_claims, lm_aave_v2_claims
  , start_paraswap_fees_claimable, end_paraswap_fees_claimable
  , case when collector = '0x25f2226b597e8f9514b3f68f00f494cf4f286491' and market = 'ethereum_v2'
      then tokens_out_external - (sm_stkAAVE_claims + sm_stkABPT_claims) else 0 end as ecosystem_reserve_spend
  , case when not (collector in ('0xd784927ff2f95ba542bfc824c8a8a98f3495f6b5', '0x25f2226b597e8f9514b3f68f00f494cf4f286491') and chain = 'ethereum')
      then tokens_out_external else 0 end as treasury_spend
  , (end_balance + end_accrued_fees) * (end_usd_price - start_usd_price) as price_change_usd
  , start_balance * start_usd_price as start_balance_usd
  , end_balance * end_usd_price as end_balance_usd
  , start_accrued_fees * start_usd_price as start_accrued_fees_usd
  , end_accrued_fees * end_usd_price as end_accrued_fees_usd
  , tokens_in_internal * start_usd_price as tokens_in_internal_usd
  , (tokens_in_external - liq_adjust - minted_amount + minted_to_treasury_amount) * start_usd_price as tokens_in_external_adjust_usd
  , tokens_out_external * start_usd_price as tokens_out_external_usd
  , tokens_out_internal * start_usd_price as tokens_out_internal_usd
  , (tokens_in_external - liq_adjust - minted_amount) * start_usd_price as protocol_fees_received_usd
  , (end_accrued_fees - start_accrued_fees + minted_to_treasury_amount + end_paraswap_fees_claimable - start_paraswap_fees_claimable) * start_usd_price as protocol_fees_accrued_usd
  , (end_balance - (tokens_in_external + tokens_in_internal - liq_adjust - minted_amount + minted_to_treasury_amount) + tokens_out_external + tokens_out_internal - start_balance) * start_usd_price as atoken_interest_usd
  , sm_stkAAVE_claims * start_usd_price as sm_stkAAVE_claims_usd
  , sm_stkABPT_claims * start_usd_price as sm_stkABPT_claims_usd
  , lm_aave_v2_claims * start_usd_price as lm_aave_v2_claims_usd
  , start_paraswap_fees_claimable * start_usd_price as start_paraswap_fees_claimable_usd
  , end_paraswap_fees_claimable * end_usd_price as end_paraswap_fees_claimable_usd
  , case when collector = '0x25f2226b597e8f9514b3f68f00f494cf4f286491' and market = 'ethereum_v2'
      then (tokens_out_external - (sm_stkAAVE_claims + sm_stkABPT_claims)) * start_usd_price else 0 end as ecosystem_reserve_spend_usd
  , case when not (collector in ('0xd784927ff2f95ba542bfc824c8a8a98f3495f6b5', '0x25f2226b597e8f9514b3f68f00f494cf4f286491') and chain = 'ethereum')
      then tokens_out_external * start_usd_price else 0 end as treasury_spend_usd
from token_level_calcs_staging
)

, long_format as (
select collector, chain, market, token, symbol, underlying_reserve, underlying_reserve_symbol, block_day, measure, value
from token_level_calcs
unpivot (value for measure in (
  start_balance_usd, end_balance_usd, start_accrued_fees_usd, end_accrued_fees_usd,
  tokens_in_internal_usd, tokens_in_external_adjust_usd, tokens_out_external_usd,
  tokens_out_internal_usd, protocol_fees_received_usd, protocol_fees_accrued_usd,
  atoken_interest_usd, sm_stkAAVE_claims_usd, sm_stkABPT_claims_usd,
  lm_aave_v2_claims_usd, start_paraswap_fees_claimable_usd,
  end_paraswap_fees_claimable_usd, ecosystem_reserve_spend_usd, treasury_spend_usd,
  price_change_usd,
  start_balance, end_balance, start_accrued_fees, end_accrued_fees,
  tokens_in_internal, tokens_in_external_adjust, tokens_out_external,
  tokens_out_internal, protocol_fees_received, protocol_fees_accrued,
  atoken_interest, sm_stkAAVE_claims, sm_stkABPT_claims, lm_aave_v2_claims,
  start_paraswap_fees_claimable, end_paraswap_fees_claimable,
  ecosystem_reserve_spend, treasury_spend))
)

select
  l.*
  , t.measure_type
  , t.currency
  , d.display_chain
  , d.display_name
  , c.label as collector_label
  , b.balance_group
  , b.stable_class
from long_format l
  left join tx_classification t on (l.measure = t.measure)
  left join display_names d on (l.collector = d.collector and l.chain = d.chain and l.market = d.market)
  left join aave_internal_addresses c on (l.collector = c.contract_address and l.chain = c.chain)
  left join balance_group_lookup b on (l.market = b.market and l.token = b.atoken and l.underlying_reserve = b.reserve and l.symbol = b.atoken_symbol)
where t.measure_type is not null
order by display_chain, display_name, block_day, symbol
"""
)

# ---------------------------------------------------------------------------
# Treasury rollups over all_financials
# ---------------------------------------------------------------------------
model(
    "all_treasury_balances",
    refs=("all_financials", "chains_markets"),
    sources=("paraswap_legacy_claimable_fees", "balance_group_lookup", "token_prices_by_day"),
    doc="reference: all_treasury_balances.sql (usd/native self-join + legacy-fee stack)",
)(
    """
with usd_balance as (
select
  block_day, chain, display_chain, market, display_name as display_market
  , collector, collector_label, token, symbol, underlying_reserve, underlying_reserve_symbol
  , replace(measure, '_usd', '') as measure
  , measure_type, balance_group, stable_class
  , value as value_usd
from all_financials
where measure in ('end_balance_usd', 'end_accrued_fees_usd', 'end_paraswap_fees_claimable_usd')
  and collector_label != 'Ethereum V2 Incentives Controller'
  and currency = 'usd'
)
, native_balance as (
select block_day, market, collector, token, measure, value as value_native
from all_financials
where measure in ('end_balance', 'end_accrued_fees', 'end_paraswap_fees_claimable')
  and collector_label != 'Ethereum V2 Incentives Controller'
  and currency = 'native'
)
select
  u.block_day, u.chain, u.display_chain, u.market, u.display_market
  , u.collector, u.collector_label, u.token, u.symbol
  , u.underlying_reserve, u.underlying_reserve_symbol
  , u.measure, u.measure_type, u.balance_group, u.stable_class
  , u.value_usd, n.value_native
from usd_balance u
  left join native_balance n on (
    u.block_day = n.block_day and u.market = n.market and
    u.collector = n.collector and u.token = n.token and u.measure = n.measure)
union all
select
  f.block_day - INTERVAL 1 DAY as block_day
  , f.chain, c.display_chain, f.market
  , 'Paraswap Legacy Fees' as display_market
  , f.paraswap_legacy_claimer as collector
  , 'Paraswap Legacy Fees' as collector_label
  , f.reserve, f.symbol, f.reserve as underlying_reserve, f.symbol as underlying_reserve_symbol
  , 'end_paraswap_legacy_claimable_usd' as measure
  , 'balance' as measure_type
  , coalesce(b.balance_group, 'Other Token') as balance_group
  , coalesce(b.stable_class, 'unstablecoin') as stable_class
  , f.claimable * p.usd_price as value_usd
  , f.claimable as value_native
from paraswap_legacy_claimable_fees f
  left join chains_markets c on (f.chain = c.chain and f.market = c.market)
  left join balance_group_lookup b on (f.market = b.market and f.reserve = b.reserve and f.reserve = b.atoken and f.symbol = b.atoken_symbol)
  left join token_prices_by_day p on (f.block_day = p.block_day and f.chain = p.chain and f.reserve = p.reserve and f.symbol = p.symbol)
order by market, collector_label, symbol, block_day
"""
)

model(
    "treasury_totals",
    refs=("all_treasury_balances",),
    doc="reference: treasury_totals.sql (3-way UNION ALL rollup + display-day shift)",
)(
    """
select block_day + INTERVAL 1 DAY as block_day, 'total_treasury_value' as measure, sum(value_usd) as value_usd
from all_treasury_balances group by block_day, measure
union all
select block_day + INTERVAL 1 DAY, 'total_treasury_value_ex_aave', sum(value_usd)
from all_treasury_balances where underlying_reserve_symbol != 'AAVE' group by block_day, 2
union all
select block_day + INTERVAL 1 DAY, 'total_stablecoin_value', sum(value_usd)
from all_treasury_balances where stable_class = 'stablecoin' group by block_day, 2
order by block_day, measure
"""
)

model(
    "treasury_totals_latest",
    refs=("treasury_totals",),
    doc="reference: treasury_totals_latest.sql (scalar-subquery latest filter)",
)(
    """
select * from treasury_totals
where block_day = (select max(block_day) from treasury_totals)
"""
)

model(
    "treasury_value_by_asset",
    refs=("all_treasury_balances",),
    doc="reference: treasury_value_by_asset.sql",
)(
    """
select
  block_day + INTERVAL 1 DAY as block_day
  , display_chain, display_market, collector_label
  , token as token_held_address, symbol as token_held_symbol
  , underlying_reserve, underlying_reserve_symbol
  , sum(value_usd) as value_usd
  , sum(value_native) as value_native
from all_treasury_balances
group by all_treasury_balances.block_day, display_chain, display_market, collector_label, token, symbol, underlying_reserve, underlying_reserve_symbol
order by block_day, display_chain, display_market, collector_label, token_held_address, token_held_symbol, underlying_reserve, underlying_reserve_symbol
"""
)

model(
    "treasury_value_by_chain",
    refs=("all_treasury_balances",),
    doc="reference: treasury_value_by_chain.sql",
)(
    """
with stables as (
  select block_day + INTERVAL 1 DAY as block_day, display_chain, sum(value_usd) as stablecoin_value_usd
  from all_treasury_balances where stable_class = 'stablecoin' group by all_treasury_balances.block_day, display_chain
)
, totals as (
  select block_day + INTERVAL 1 DAY as block_day, display_chain, sum(value_usd) as value_usd
  from all_treasury_balances group by all_treasury_balances.block_day, display_chain
)
, ex_aave as (
  select block_day + INTERVAL 1 DAY as block_day, display_chain, sum(value_usd) as ex_aave_value_usd
  from all_treasury_balances where symbol != 'AAVE' group by all_treasury_balances.block_day, display_chain
)
select
  t.block_day, t.display_chain
  , coalesce(t.value_usd, 0) as value_usd
  , coalesce(s.stablecoin_value_usd, 0) as stablecoin_value_usd
  , coalesce(a.ex_aave_value_usd, 0) as ex_aave_value_usd
from totals t
  left join stables s on (t.block_day = s.block_day and t.display_chain = s.display_chain)
  left join ex_aave a on (t.block_day = a.block_day and t.display_chain = a.display_chain)
order by t.block_day, t.display_chain
"""
)

model(
    "treasury_value_by_market",
    refs=("all_treasury_balances",),
    doc="reference: treasury_value_by_market.sql",
)(
    """
with stables as (
  select block_day + INTERVAL 1 DAY as block_day, display_chain, display_market, sum(value_usd) as stablecoin_value_usd
  from all_treasury_balances where stable_class = 'stablecoin' group by all_treasury_balances.block_day, display_chain, display_market
)
, totals as (
  select block_day + INTERVAL 1 DAY as block_day, display_chain, display_market, sum(value_usd) as value_usd
  from all_treasury_balances group by all_treasury_balances.block_day, display_chain, display_market
)
, ex_aave as (
  select block_day + INTERVAL 1 DAY as block_day, display_chain, display_market, sum(value_usd) as ex_aave_value_usd
  from all_treasury_balances where symbol != 'AAVE' group by all_treasury_balances.block_day, display_chain, display_market
)
select
  t.block_day, t.display_chain, t.display_market
  , coalesce(t.value_usd, 0) as value_usd
  , coalesce(s.stablecoin_value_usd, 0) as stablecoin_value_usd
  , coalesce(a.ex_aave_value_usd, 0) as ex_aave_value_usd
from totals t
  left join stables s on (t.block_day = s.block_day and t.display_chain = s.display_chain and t.display_market = s.display_market)
  left join ex_aave a on (t.block_day = a.block_day and t.display_chain = a.display_chain and t.display_market = a.display_market)
order by t.block_day, t.display_chain, t.display_market
"""
)

model(
    "treasury_value_by_chain_ex_reserve",
    refs=("all_treasury_balances",),
    doc="reference: treasury_value_by_chain_ex_reserve.sql",
)(
    """
select block_day + INTERVAL 1 DAY as block_day, display_chain, sum(value_usd) as ex_reserve_usd
from all_treasury_balances
where collector_label != 'Ecosystem Reserve'
group by all_treasury_balances.block_day, display_chain
order by block_day, display_chain
"""
)

model(
    "treasury_value_by_balance_group",
    refs=("all_treasury_balances",),
    doc="reference: treasury_value_by_balance_group.sql",
)(
    """
select
  block_day + INTERVAL 1 DAY as block_day
  , display_chain, display_market, collector_label, balance_group
  , sum(value_usd) as value_usd
  , sum(value_native) as value_native
from all_treasury_balances
group by all_treasury_balances.block_day, display_chain, display_market, collector_label, balance_group
order by block_day, display_chain, display_market, collector_label, balance_group
"""
)

model(
    "stablecoin_totals",
    refs=("all_treasury_balances",),
    doc="reference: stablecoin_totals.sql",
)(
    """
select block_day, balance_group as stablecoin_group, sum(value_usd) as value_usd
from all_treasury_balances
where stable_class = 'stablecoin'
group by block_day, balance_group
order by stablecoin_group, block_day
"""
)

model(
    "all_revenue",
    refs=("all_financials",),
    doc="reference: all_revenue.sql (income-measure rollup)",
)(
    """
select
  market, chain, display_name, display_chain, token, symbol
  , underlying_reserve, underlying_reserve_symbol, currency, block_day
  , sum(value) as revenue
from all_financials
where measure_type = 'income'
group by market, chain, display_name, display_chain, token, symbol, underlying_reserve, underlying_reserve_symbol, currency, block_day
order by market, chain, display_name, display_chain, token, symbol, underlying_reserve, underlying_reserve_symbol, currency, block_day
"""
)

# ---------------------------------------------------------------------------
# Market state/config passthroughs + hour enrichment
# ---------------------------------------------------------------------------
model(
    "market_state_by_day",
    sources=("warehouse_market_state_by_day",),
    doc="reference: market_state_by_day.sql (SELECT * EXCEPT passthrough)",
)(
    """
select * from warehouse_market_state_by_day
order by market, atoken_symbol, block_day
"""
)

model(
    "market_config_by_day",
    sources=("warehouse_market_config_by_day",),
    doc="reference: market_config_by_day.sql",
)(
    """
select * from warehouse_market_config_by_day
order by market, atoken_symbol, block_day
"""
)

model(
    "market_config_by_hour",
    sources=("protocol_data_by_hour", "emode_config_by_day"),
    doc="reference: market_config_by_hour.sql (last_value IGNORE NULLS forward-fill)",
)(
    """
select
  p.block_hour, p.block_height, p.market, p.reserve
  , p.symbol as atoken_symbol
  , p.decimals, p.ltv, p.liquidation_threshold, p.liquidation_bonus, p.reserve_factor
  , p.usage_as_collateral_enabled, p.borrowing_enabled, p.stable_borrow_rate_enabled
  , p.is_active, p.is_frozen, p.reserve_emode_category, p.borrow_cap, p.supply_cap
  , p.is_paused, p.siloed_borrowing, p.liquidation_protocol_fee, p.unbacked_mint_cap, p.debt_ceiling
  , date_trunc('DAY', p.block_hour) as block_day
  , last_value(e.emode_category_name) ignore nulls over (partition by p.market, p.symbol order by p.block_hour) as emode_category_name
  , last_value(e.emode_ltv) ignore nulls over (partition by p.market, p.symbol order by p.block_hour) as emode_ltv
  , last_value(e.emode_liquidation_bonus) ignore nulls over (partition by p.market, p.symbol order by p.block_hour) as emode_liquidation_bonus
  , last_value(e.emode_liquidation_threshold) ignore nulls over (partition by p.market, p.symbol order by p.block_hour) as emode_liquidation_threshold
from protocol_data_by_hour p
  left join emode_config_by_day e on (
    date_trunc('DAY', p.block_hour) = e.block_day and
    p.market = e.market and
    p.reserve_emode_category = e.reserve_emode_category)
order by p.market, atoken_symbol, p.block_hour
"""
)

model(
    "market_state_by_hour",
    sources=("protocol_data_by_hour",),
    doc="reference: market_state_by_hour.sql (APY pow-compounding)",
)(
    """
select
  p.block_hour, p.block_height, p.market, p.reserve
  , p.symbol as atoken_symbol
  , p.unbacked_atokens, p.scaled_accrued_to_treasury, p.atoken_supply
  , p.stable_debt, p.variable_debt
  , p.liquidity_rate, p.variable_borrow_rate, p.stable_borrow_rate, p.average_stable_rate
  , p.liquidity_index, p.variable_borrow_index, p.available_liquidity
  , pow(1 + p.liquidity_rate / (60*60*24*365), 60*60*24*365) - 1 as deposit_apy
  , pow(1 + p.variable_borrow_rate / (60*60*24*365), 60*60*24*365) - 1 as variable_borrow_apy
  , pow(1 + p.stable_borrow_rate / (60*60*24*365), 60*60*24*365) - 1 as stable_borrow_apy
  , pow(1 + p.average_stable_rate / (60*60*24*365), 60*60*24*365) - 1 as av_stable_borrow_apy
from protocol_data_by_hour p
order by market, atoken_symbol, block_hour
"""
)

model(
    "market_config_by_time",
    refs=("market_config_by_hour", "market_config_by_day", "chains_markets", "aave_atokens"),
    doc="reference: market_config_by_time.sql (hour+day UNION → distinct → dim join)",
)(
    """
with all_data as (
  select block_hour as block_time, block_height, market, reserve, atoken_symbol, decimals
    , ltv, liquidation_threshold, liquidation_bonus, reserve_factor
    , usage_as_collateral_enabled, borrowing_enabled, stable_borrow_rate_enabled
    , is_active, is_frozen, reserve_emode_category, borrow_cap, supply_cap, is_paused
    , siloed_borrowing, liquidation_protocol_fee, unbacked_mint_cap, debt_ceiling
    , emode_category_name, emode_ltv, emode_liquidation_bonus, emode_liquidation_threshold
  from market_config_by_hour
  union all
  select block_day as block_time, block_height, market, reserve, atoken_symbol, decimals
    , ltv, liquidation_threshold, liquidation_bonus, reserve_factor
    , usage_as_collateral_enabled, borrowing_enabled, stable_borrow_rate_enabled
    , is_active, is_frozen, reserve_emode_category, borrow_cap, supply_cap, is_paused
    , siloed_borrowing, liquidation_protocol_fee, unbacked_mint_cap, debt_ceiling
    , emode_category_name, emode_ltv, emode_liquidation_bonus, emode_liquidation_threshold
  from market_config_by_day
)
, deduplicated as (select distinct * from all_data)
select
  d.*, c.chain, c.display_chain, c.display_market, a.reserve_symbol
from deduplicated d
  left join chains_markets c on (d.market = c.market)
  left join aave_atokens a on (d.market = a.market and d.reserve = a.reserve)
order by d.market, d.atoken_symbol, d.block_time
"""
)

model(
    "reserve_factor_income_by_day",
    refs=("market_config_by_day", "market_state_by_day", "chains_markets"),
    sources=("token_prices_by_day",),
    doc="reference: reserve_factor_income_by_day.sql (4-way join-enrichment)",
)(
    """
select
  c.block_day, c.market, m.chain, m.display_chain, m.display_market
  , c.atoken_symbol, c.reserve_factor
  , s.variable_borrow_rate, s.variable_debt, s.stable_borrow_rate, s.stable_debt
  , s.variable_debt * s.variable_borrow_rate / 365 * c.reserve_factor as variable_debt_protocol_income
  , s.stable_debt * s.stable_borrow_rate / 365 * c.reserve_factor as stable_debt_protocol_income
  , p.usd_price
  , (s.variable_debt * s.variable_borrow_rate + s.stable_debt * s.stable_borrow_rate) / 365 * c.reserve_factor * p.usd_price as daily_income_usd
from market_config_by_day c
  left join market_state_by_day s on (c.block_day = s.block_day and c.reserve = s.reserve and c.market = s.market)
  left join chains_markets m on (c.market = m.market)
  left join token_prices_by_day p on (c.block_day = p.block_day and c.reserve = p.reserve and m.chain = p.chain)
order by c.block_day, c.market
"""
)

model(
    "asset_tvl_by_day",
    refs=("market_state_by_day",),
    sources=("display_names", "token_prices_by_day"),
    doc="reference: asset_tvl_by_day.sql",
)(
    """
with names as (
  select distinct market, chain, display_name, display_chain
  from display_names
  where display_name not in ('Ecosystem Reserve', 'Incentives Controller V2', 'Paraswap Fee Claimer')
)
select
  s.block_day, s.reserve, p.symbol as reserve_symbol, s.atoken_symbol
  , s.market, n.chain, n.display_name, n.display_chain
  , s.atoken_supply as deposits
  , s.stable_debt as stable_loans
  , s.variable_debt as variable_loans
  , (s.stable_debt + s.variable_debt) as loans
  , p.usd_price
  , s.available_liquidity as tvl
  , s.atoken_supply * p.usd_price as deposits_usd
  , s.stable_debt * p.usd_price as stable_loans_usd
  , s.variable_debt * p.usd_price as variable_loans_usd
  , (s.stable_debt + s.variable_debt) * p.usd_price as loans_usd
  , s.available_liquidity * p.usd_price as tvl_usd
from market_state_by_day s
  left join names n on (s.market = n.market)
  left join (select * from token_prices_by_day where symbol not in ('ETH','MATIC','AVAX','ONE','FTM')) p
    on (n.chain = p.chain and s.reserve = p.reserve and s.block_day = p.block_day)
"""
)

model(
    "sm_covered_markets_tvl_by_day",
    refs=("asset_tvl_by_day",),
    doc="reference: sm_covered_markets_tvl_by_day.sql (era-windowed UNION ALL)",
)(
    """
with labelled as (
  select block_day, display_name || ' ' || display_chain as aave_market, tvl_usd
  from asset_tvl_by_day
  where market in ('ethereum_v1', 'ethereum_v2') and block_day < '2022-08-01'
  union all
  select block_day, display_name || ' ' || display_chain, tvl_usd
  from asset_tvl_by_day
  where market in ('ethereum_v1','ethereum_v2','aave_arc','avax_v2','polygon_v2')
    and block_day between '2022-08-01' and '2023-02-17'
  union all
  select block_day, display_name || ' ' || display_chain, tvl_usd
  from asset_tvl_by_day
  where market in ('ethereum_v1','ethereum_v2','ethereum_v3','aave_arc','avax_v2','polygon_v2')
    and block_day between '2023-02-18' and '2023-03-15'
  union all
  select block_day, display_name || ' ' || display_chain, tvl_usd
  from asset_tvl_by_day
  where market in ('ethereum_v1','ethereum_v2','ethereum_v3','aave_arc','avax_v2','polygon_v2','polygon_v3')
    and block_day > '2023-03-15'
)
select block_day, aave_market, sum(tvl_usd) as tvl
from labelled
group by block_day, aave_market
order by block_day, aave_market
"""
)

# ---------------------------------------------------------------------------
# Safety-module family
# ---------------------------------------------------------------------------
model(
    "safety_module_totals_by_day",
    sources=("safety_module_rpc", "token_prices_by_day", "coingecko_data_by_day"),
    doc="reference: safety_module_totals_by_day.sql (3-way price fallback coalesce)",
)(
    """
select
  s.block_day, s.stk_token_address, s.stk_token_symbol
  , coalesce(ps.usd_price, pu.usd_price, cg.price_usd) as stk_token_price
  , s.stk_token_supply, s.unstaked_token_supply
  , s.stk_token_supply / s.unstaked_token_supply as staked_proportion
  , s.emission_per_day, s.reward_token_address, s.reward_token_symbol
  , pr.usd_price as reward_token_price
  , s.stk_token_supply * coalesce(ps.usd_price, pu.usd_price, cg.price_usd) as staked_amt_usd
  , s.emission_per_day * pr.usd_price as emission_usd_per_day
  , s.emission_per_day * pr.usd_price * 365 /
      (s.stk_token_supply * coalesce(ps.usd_price, pu.usd_price, cg.price_usd)) as emission_apr
  , s.stk_token_supply * coalesce(ps.usd_price, pu.usd_price, cg.price_usd) * 0.3 as safety_module_cover
  , s.emission_per_day * pr.usd_price * 365 /
      (s.stk_token_supply * coalesce(ps.usd_price, pu.usd_price, cg.price_usd) * 0.3) as cost_of_cover_apr
from safety_module_rpc s
  left join token_prices_by_day pr on (s.block_day = pr.block_day and s.reward_token_address = pr.reserve)
  left join token_prices_by_day ps on (s.block_day = ps.block_day and s.stk_token_address = ps.reserve)
  left join token_prices_by_day pu on (s.block_day = pu.block_day and s.unstaked_token_address = pu.reserve)
  left join coingecko_data_by_day cg on (s.block_day = cg.block_day and s.stk_token_address = cg.address)
order by s.block_day
"""
)

for _name, _select, _doc in [
    ("sm_staked_tokens_by_day",
     "select block_day, stk_token_symbol, stk_token_supply as stk_tokens from safety_module_totals_by_day order by block_day, stk_token_symbol",
     "sm_staked_tokens_by_day.sql"),
    ("sm_staked_value_by_day",
     "select block_day, stk_token_symbol, staked_amt_usd as staked_value_usd from safety_module_totals_by_day order by block_day, stk_token_symbol",
     "sm_staked_value_by_day.sql"),
    ("sm_token_emissions_by_day",
     "select block_day, stk_token_symbol, emission_per_day from safety_module_totals_by_day order by block_day, stk_token_symbol",
     "sm_token_emissions_by_day.sql"),
    ("sm_staking_apr_by_day",
     "select block_day, stk_token_symbol, emission_apr as staking_apr from safety_module_totals_by_day order by block_day, stk_token_symbol",
     "sm_staking_apr_by_day.sql"),
    ("sm_emissions_usd_by_day",
     "select block_day, sum(emission_usd_per_day) as emission_usd from safety_module_totals_by_day group by block_day order by block_day",
     "sm_emissions_usd_by_day.sql"),
    ("sm_protocol_cover_by_day",
     "select block_day, sum(safety_module_cover) as protocol_cover from safety_module_totals_by_day group by block_day order by block_day",
     "sm_protocol_cover_by_day.sql"),
    ("sm_cost_of_cover_by_day",
     "select block_day, sum(emission_usd_per_day) * 365 / sum(safety_module_cover) as annual_cost_of_cover_percent from safety_module_totals_by_day group by block_day order by block_day",
     "sm_cost_of_cover_by_day.sql"),
    ("sm_cost_of_cover_by_token_by_day",
     "select block_day, stk_token_symbol, emission_usd_per_day * 365 / safety_module_cover as annual_cost_of_cover_percent from safety_module_totals_by_day order by block_day, stk_token_symbol",
     "sm_cost_of_cover_by_token_by_day.sql"),
]:
    model(_name, refs=("safety_module_totals_by_day",), doc=f"reference: {_doc}")(_select)

model(
    "sm_percentage_tvl_coverage_by_day",
    refs=("sm_covered_markets_tvl_by_day", "sm_protocol_cover_by_day"),
    doc="reference: sm_percentage_tvl_coverage_by_day.sql",
)(
    """
with tvl as (
  select block_day, sum(tvl) as tvl from sm_covered_markets_tvl_by_day group by block_day
)
select t.block_day, s.protocol_cover / t.tvl as percentage_covered
from tvl t
  left join sm_protocol_cover_by_day s on (t.block_day = s.block_day)
where t.tvl is not null and s.protocol_cover is not null
order by t.block_day
"""
)

model(
    "sm_token_holders_by_day",
    sources=("safety_module_token_hodlers_by_day",),
    doc="reference: sm_token_holders_by_day.sql",
)(
    """
select block_day, safety_module_token, count(holder_address) as token_holders
from safety_module_token_hodlers_by_day
group by block_day, safety_module_token
order by block_day, safety_module_token
"""
)

model(
    "sm_token_holder_distro",
    sources=("safety_module_token_hodlers_by_day",),
    doc="reference: sm_token_holder_distro.sql (CASE bucketing + inline struct-array sort dim)",
)(
    """
with holders as (
  select
    block_day, safety_module_token, holder_address
    , case
        when balance > 100000 then 'holders >100k'
        when balance > 10000 then 'holders 10k-100k'
        when balance > 1000 then 'holders 1k-10k'
        when balance > 100 then 'holders 100-1k'
        when balance > 10 then 'holders 10-100'
        when balance > 1 then 'holders 1-10'
        else 'holders <1'
      end as holder_bucket
    , balance, total_supply
  from safety_module_token_hodlers_by_day
  where safety_module_token = 'stkAAVE'
    and block_day = (select max(block_day) from safety_module_token_hodlers_by_day)
  union all
  select
    block_day, safety_module_token, holder_address
    , case
        when balance > 100000000 then 'holders >100m'
        when balance > 10000000 then 'holders 10m-100m'
        when balance > 1000000 then 'holders 1m-10m'
        when balance > 100000 then 'holders 100k-1m'
        when balance > 10000 then 'holders 10k-100k'
        when balance > 1000 then 'holders 1k-10k'
        when balance > 100 then 'holders 100-1k'
        when balance > 10 then 'holders 10-100'
        when balance > 1 then 'holders 1-10'
        else 'holders <1'
      end as holder_bucket
    , balance, total_supply
  from safety_module_token_hodlers_by_day
  where safety_module_token = 'stkABPT'
    and block_day = (select max(block_day) from safety_module_token_hodlers_by_day)
)
, sort_orders as (
  select inline(array(
    struct('holders >100m' as holder_bucket, 11 as sort_order)
    , struct('holders 10m-100m' as holder_bucket, 10 as sort_order)
    , struct('holders 1m-10m' as holder_bucket, 9 as sort_order)
    , struct('holders >100k' as holder_bucket, 8 as sort_order)
    , struct('holders 100k-1m' as holder_bucket, 7 as sort_order)
    , struct('holders 10k-100k' as holder_bucket, 6 as sort_order)
    , struct('holders 1k-10k' as holder_bucket, 5 as sort_order)
    , struct('holders 100-1k' as holder_bucket, 4 as sort_order)
    , struct('holders 10-100' as holder_bucket, 3 as sort_order)
    , struct('holders 1-10' as holder_bucket, 2 as sort_order)
    , struct('holders <1' as holder_bucket, 1 as sort_order)
  ))
)
, agg as (
  select
    block_day, safety_module_token, holder_bucket
    , sum(balance) as bucket_balance
    , sum(balance) / avg(total_supply) as balance_percentage
    , count(holder_address) as holder_count
  from holders
  group by block_day, safety_module_token, holder_bucket
)
, holder_totals as (
  select safety_module_token, count(*) as holder_total
  from holders group by safety_module_token
)
select
  a.*, a.holder_count / h.holder_total as holder_percentage
from agg a
  left join sort_orders s on (a.holder_bucket = s.holder_bucket)
  left join holder_totals h on (a.safety_module_token = h.safety_module_token)
order by a.safety_module_token, s.sort_order desc
"""
)

# ---------------------------------------------------------------------------
# Streaming payments + misc passthroughs
# ---------------------------------------------------------------------------
model(
    "streaming_payments_detail",
    refs=("aave_atokens",),
    sources=("streams_metadata", "streaming_payments_state", "token_prices_by_day"),
    doc="reference: streaming_payments_detail.sql",
)(
    """
with atoken_prices as (
  select distinct p.reserve, p.symbol, a.atoken, a.atoken_symbol, p.usd_price
  from token_prices_by_day p
    left join (select atoken, reserve, atoken_symbol from aave_atokens where chain = 'ethereum') a
      on (p.reserve = a.reserve)
  where p.chain = 'ethereum'
    and p.block_day = (select max(block_day) from token_prices_by_day)
)
, reserve_prices as (
  select distinct reserve, symbol, usd_price
  from token_prices_by_day
  where chain = 'ethereum'
    and block_day = (select max(block_day) from token_prices_by_day)
)
select
  m.vendor_label, m.stream_label, m.proposal_id, m.stream_contract
  , m.token, m.stream_id, m.symbol, m.term
  , 'https://app.aave.com/governance/proposal/?proposalId=' || m.proposal_id as proposal_url
  , coalesce(s.deposit_day, timestamp '1970-01-01') as stream_create_date
  , coalesce(s.start_time, timestamp '1970-01-01') as stream_start_time
  , coalesce(s.stop_time, timestamp '1970-01-01') as stream_stop_time
  , coalesce(s.deposit, 0) as total_payment_native
  , coalesce(s.vested, 0) as vested_native
  , coalesce(s.unvested, 0) as unvested_native
  , coalesce(s.claims, 0) as claimed_native
  , coalesce(s.unclaimed, 0) as unclaimed_native
  , m.upfront_native
  , m.bonus_usd / coalesce(a.usd_price, r.usd_price) as bonus_native
  , coalesce(a.usd_price, r.usd_price) as usd_price
from streams_metadata m
  left join streaming_payments_state s on (
    m.stream_contract = s.contract_address and
    m.token = s.token_address and
    m.stream_id = s.stream_id)
  left join atoken_prices a on m.token = a.atoken
  left join reserve_prices r on m.token = r.reserve
"""
)

model(
    "streaming_payments_summary",
    refs=("streaming_payments_detail",),
    doc="reference: streaming_payments_summary.sql (PIVOT over symbol with 5 aggs)",
)(
    """
with grouped as (
  select
    vendor_label, stream_label, symbol, term, proposal_id, proposal_url
    , stream_create_date, stream_start_time, stream_stop_time
    , sum(total_payment_native) as stream_amount
    , sum(unvested_native) as remaining_amount
    , sum(upfront_native) as upfront_native
    , sum(bonus_native) as bonus_native
    , avg(usd_price) as usd_price
  from streaming_payments_detail
  group by vendor_label, stream_label, symbol, term, proposal_id, proposal_url, stream_create_date, stream_start_time, stream_stop_time
)
, pivoted as (
  select * from grouped
  pivot (
    sum(stream_amount) as stream_amount
    , sum(remaining_amount) as remaining_amount
    , sum(upfront_native) as upfront_native
    , sum(bonus_native) as bonus_native
    , avg(usd_price) as usd_price
    for symbol in ('AAVE' AAVE, 'aDAI' aDAI, 'aUSDC' aUSDC, 'aUSDT' aUSDT)
  )
)
select
  vendor_label, stream_label, term, proposal_id, proposal_url
  , max(stream_create_date) as stream_create_date
  , max(stream_start_time) as stream_start_time
  , max(stream_stop_time) as stream_stop_time
  , sum(coalesce(AAVE_stream_amount, 0)) as stream_amount_AAVE
  , sum(coalesce(AAVE_remaining_amount, 0)) as remaining_amount_AAVE
  , sum(coalesce(AAVE_upfront_native, 0)) as upfront_amount_AAVE
  , sum(coalesce(AAVE_bonus_native, 0)) as bonus_amount_AAVE
  , sum(coalesce(AAVE_stream_amount, 0) + coalesce(AAVE_upfront_native, 0) + coalesce(AAVE_bonus_native, 0)) as total_contract_amount_AAVE
  , sum(coalesce(AAVE_usd_price, 0)) as usd_price_AAVE
  , sum(coalesce(aDAI_stream_amount, 0)) as stream_amount_aDAI
  , sum(coalesce(aDAI_remaining_amount, 0)) as remaining_amount_aDAI
  , sum(coalesce(aDAI_upfront_native, 0)) as upfront_amount_aDAI
  , sum(coalesce(aDAI_bonus_native, 0)) as bonus_amount_aDAI
  , sum(coalesce(aDAI_stream_amount, 0) + coalesce(aDAI_upfront_native, 0) + coalesce(aDAI_bonus_native, 0)) as total_contract_amount_aDAI
  , sum(coalesce(aDAI_usd_price, 0)) as usd_price_aDAI
  , sum(coalesce(aUSDC_stream_amount, 0)) as stream_amount_aUSDC
  , sum(coalesce(aUSDC_remaining_amount, 0)) as remaining_amount_aUSDC
  , sum(coalesce(aUSDC_upfront_native, 0)) as upfront_amount_aUSDC
  , sum(coalesce(aUSDC_bonus_native, 0)) as bonus_amount_aUSDC
  , sum(coalesce(aUSDC_stream_amount, 0) + coalesce(aUSDC_upfront_native, 0) + coalesce(aUSDC_bonus_native, 0)) as total_contract_amount_aUSDC
  , sum(coalesce(aUSDC_usd_price, 0)) as usd_price_aUSDC
  , sum(coalesce(aUSDT_stream_amount, 0)) as stream_amount_aUSDT
  , sum(coalesce(aUSDT_remaining_amount, 0)) as remaining_amount_aUSDT
  , sum(coalesce(aUSDT_upfront_native, 0)) as upfront_amount_aUSDT
  , sum(coalesce(aUSDT_bonus_native, 0)) as bonus_amount_aUSDT
  , sum(coalesce(aUSDC_stream_amount, 0) + coalesce(aUSDC_upfront_native, 0) + coalesce(aUSDC_bonus_native, 0))
    + sum(coalesce(aUSDT_stream_amount, 0) + coalesce(aUSDT_upfront_native, 0) + coalesce(aUSDT_bonus_native, 0)) as total_contract_amount_aUSDT
  , sum(coalesce(aUSDT_usd_price, 0)) as usd_price_aUSDT
  , sum(coalesce(aDAI_stream_amount, 0) + coalesce(aUSDC_stream_amount, 0) + coalesce(aUSDT_stream_amount, 0)) as stream_amount_stables
  , sum(coalesce(aDAI_remaining_amount, 0) + coalesce(aUSDC_remaining_amount, 0) + coalesce(aUSDT_remaining_amount, 0)) as remaining_amount_stables
  , sum(coalesce(aDAI_upfront_native, 0) + coalesce(aUSDC_upfront_native, 0) + coalesce(aUSDT_upfront_native, 0)) as upfront_amount_stables
  , sum(coalesce(aDAI_bonus_native, 0) + coalesce(aUSDC_bonus_native, 0) + coalesce(aUSDT_bonus_native, 0)) as bonus_amount_stables
  , sum(coalesce(aDAI_stream_amount, 0) + coalesce(aDAI_upfront_native, 0) + coalesce(aDAI_bonus_native, 0)
      + coalesce(aUSDC_stream_amount, 0) + coalesce(aUSDC_upfront_native, 0) + coalesce(aUSDC_bonus_native, 0)
      + coalesce(aUSDT_stream_amount, 0) + coalesce(aUSDT_upfront_native, 0) + coalesce(aUSDT_bonus_native, 0)) as total_contract_amount_stables
from pivoted
group by vendor_label, stream_label, term, proposal_id, proposal_url
"""
)

model(
    "lm_incentives",
    sources=("incentives_by_day",),
    doc="reference: lm_incentives.sql (passthrough w/ renames)",
)(
    """
select
  block_day, block_height, market, reserve, symbol
  , reward_token_address, reward_token_symbol
  , supply_rewards, supply_rewards_usd, supply_rewards_apr
  , variable_debt_rewards, variable_debt_rewards_usd
  , variable_borrow_rewards_apr as variable_debt_rewards_apr
  , stable_debt_rewards, stable_debt_rewards_usd
  , stable_borrow_rewards_apr as stable_debt_rewards_apr
from incentives_by_day
order by block_day, market, symbol, reward_token_symbol
"""
)

model(
    "token_supply_by_day",
    sources=("matic_lsd_token_supply_by_day",),
    doc="reference: token_supply_by_day.sql",
)(
    """
select block_day, block_height, chain, address, symbol, decimals, total_supply
from matic_lsd_token_supply_by_day
order by chain, symbol, block_day
"""
)

model(
    "aave_token_liquidity_depth_all",
    sources=("aave_token_liquidity_depth",),
    doc="reference: aave_token_liquidity_depth_all.sql",
)(
    """
select
  fetch_time, from_asset, from_asset_price, from_amount_native, from_amount_usd
  , to_asset, to_asset_price, to_amount_native, to_amount_usd, price_impact
from aave_token_liquidity_depth
order by fetch_time, from_amount_usd
"""
)

model(
    "aave_token_liquidity_depth_latest",
    sources=("aave_token_liquidity_depth",),
    doc="reference: aave_token_liquidity_depth_latest.sql (latest fetch_time filter)",
)(
    """
select
  from_asset, from_asset_price, from_amount_native, from_amount_usd
  , to_asset, to_asset_price, to_amount_native, to_amount_usd, price_impact
from aave_token_liquidity_depth
where fetch_time = (select max(fetch_time) from aave_token_liquidity_depth)
"""
)

model(
    "liquidity_depth_lsd",
    sources=("liquidity_depth", "display_names"),
    doc="reference: liquidity_depth_lsd.sql (join + concat pair label)",
)(
    """
select
  d.display_chain as chain
  , d.display_name as market
  , l.loop_market, l.from_asset, l.to_asset
  , concat(l.from_asset, '-', l.to_asset) as pair
  , l.from_asset_price, l.to_asset_price, l.from_amount_usd, l.price_impact, l.fetch_time
from liquidity_depth l
  left join display_names d on (l.market = d.market and l.chain = d.chain)
order by l.fetch_time, chain, market, l.from_asset, l.to_asset, l.from_amount_usd
"""
)

model(
    "inv_defi_ref_rates_by_day",
    refs=("inv_defi_ref_stable_rate_base",),
    sources=("beacon_chain_staking_returns_by_day",),
    doc="reference: inv_defi_ref_rates_by_day.sql (ratio-of-sums + explicit-frame ffill)",
)(
    """
with stables as (
  select
    block_day
    , sum(earnings_usd) / sum(deposits_usd) * 365 as stable_reference_rate_ex_price
    , sum(earnings_usd + price_change_usd) / sum(deposits_usd) * 365 as stable_reference_rate
  from inv_defi_ref_stable_rate_base
  group by block_day
)
, eth as (
  select partition_date as block_day, apr as eth_reference_rate
  from beacon_chain_staking_returns_by_day
)
select
  s.block_day, s.stable_reference_rate, s.stable_reference_rate_ex_price
  , last_value(e.eth_reference_rate) ignore nulls over (order by s.block_day range between unbounded preceding and current row) as eth_reference_rate
from stables s
  left join eth e on s.block_day = e.block_day
order by s.block_day
"""
)


model(
    "market_state_by_time",
    refs=("market_state_by_hour", "market_state_by_day", "chains_markets", "aave_atokens"),
    sources=("aave_oracle_prices_by_day",),
    doc="reference: market_state_by_time.sql (hour+day union → distinct → price enrich on derived day key)",
)(
    """
with all_data as (
  select block_hour as block_time, block_height, market, reserve, atoken_symbol
    , unbacked_atokens, scaled_accrued_to_treasury, atoken_supply, stable_debt, variable_debt
    , liquidity_rate, variable_borrow_rate, stable_borrow_rate, average_stable_rate
    , liquidity_index, variable_borrow_index, available_liquidity
    , deposit_apy, variable_borrow_apy, stable_borrow_apy, av_stable_borrow_apy
  from market_state_by_hour
  union all
  select block_day as block_time, block_height, market, reserve, atoken_symbol
    , unbacked_atokens, scaled_accrued_to_treasury, atoken_supply, stable_debt, variable_debt
    , liquidity_rate, variable_borrow_rate, stable_borrow_rate, average_stable_rate
    , liquidity_index, variable_borrow_index, available_liquidity
    , deposit_apy, variable_borrow_apy, stable_borrow_apy, av_stable_borrow_apy
  from market_state_by_day
)
, deduplicated as (select distinct * from all_data)
select
  d.*, c.chain, c.display_chain, c.display_market, a.reserve_symbol
  , p.usd_price
  , d.atoken_supply * p.usd_price as deposits_usd
  , d.stable_debt * p.usd_price as stable_debt_usd
  , d.variable_debt * p.usd_price as variable_debt_usd
from deduplicated d
  left join chains_markets c on (d.market = c.market)
  left join aave_atokens a on (d.market = a.market and d.reserve = a.reserve)
  left join aave_oracle_prices_by_day p on (date_trunc('DAY', d.block_time) = p.block_day and d.reserve = p.reserve and d.market = p.market)
order by d.market, d.atoken_symbol, d.block_time
"""
)

model(
    "inv_defi_ref_stable_rate_base",
    refs=("market_state_by_time",),
    sources=(
        "coingecko_data_by_day",
        "compound_v2_by_day", "compound_v3_by_day",
        "compound_v2_by_hour", "compound_v3_by_hour",
    ),
    doc="reference: inv_defi_ref_stable_rate_base.sql (aave+compound stable deposit earnings, LEAD end price)",
)(
    """
with prices as (
  select block_day, symbol, price_usd as usd_price
  from coingecko_data_by_day
  where chain = 'ethereum' and symbol in ('USDT','USDC','DAI')
)
, compound as (
  select block_day as block_time, compound_version as market, underlying_symbol as symbol,
         deposits as deposits_native, supply_apy as deposit_apy from compound_v2_by_day
  union all
  select block_day, compound_version, underlying_symbol, deposits, supply_apy from compound_v3_by_day
  union all
  select block_hour, compound_version, underlying_symbol, deposits, supply_apy from compound_v2_by_hour
  union all
  select block_hour, compound_version, underlying_symbol, deposits, supply_apy from compound_v3_by_hour
)
, combined_daily as (
  select
    date_trunc('DAY', block_time) as block_day
    , 'aave_' || right(market, 2) as market
    , reserve_symbol as symbol
    , avg(atoken_supply) as deposits_native
    , avg(deposit_apy) as deposit_apy
  from market_state_by_time
  where market in ('ethereum_v2', 'ethereum_v3') and reserve_symbol in ('USDT','USDC','DAI')
  group by date_trunc('DAY', block_time), market, reserve_symbol
  union all
  select date_trunc('DAY', block_time), market, symbol, avg(deposits_native), avg(deposit_apy)
  from compound
  group by date_trunc('DAY', block_time), market, symbol
)
, pre_calc as (
  select
    d.block_day, d.market, d.symbol, d.deposits_native, d.deposit_apy
    , p.usd_price as price_usd
    , coalesce(lead(usd_price) over (partition by d.market, d.symbol order by d.block_day), usd_price) as end_price_usd
  from combined_daily d
  left join prices p on (d.block_day = p.block_day and d.symbol = p.symbol)
)
select
  block_day, market, symbol, deposits_native, deposit_apy, price_usd, end_price_usd
  , deposits_native * price_usd as deposits_usd
  , deposits_native * deposit_apy / 365 as earnings_native
  , deposits_native * deposit_apy / 365 * price_usd as earnings_usd
  , deposits_native * (1 + deposit_apy / 365) * (end_price_usd - price_usd) as price_change_usd
from pre_calc
order by block_day, market, symbol
"""
)

model(
    "inv_lst_performance_base",
    sources=(
        "protocol_data_by_day", "non_atoken_balances_by_day",
        "aave_oracle_prices_by_day", "balance_group_lookup",
    ),
    doc="reference: inv_lst_performance_base.sql (LST holdings perf: LEAD end-of-day family + receipts decomposition)",
)(
    """
with rates as (
  select block_day, market, symbol, reserve, liquidity_rate
  from protocol_data_by_day
  where market not in ('ethereum_v1','fantom_v3','harmony_v3')
)
, balances as (
  select b.block_day, b.market, b.token as reserve, b.symbol, b.balance
  from non_atoken_balances_by_day b
  where b.symbol in ('wstETH','rETH') and b.block_day >= '2023-07-11'
)
, prices as (
  select block_day, 'ethereum_v2' as market, reserve, symbol, usd_price
  from aave_oracle_prices_by_day
  where market in ('ethereum_v3') and symbol in ('wstETH','rETH')
)
, eth_prices as (
  select block_day, usd_price as eth_usd
  from aave_oracle_prices_by_day
  where market = 'ethereum_v2' and symbol = 'WETH'
)
, calcs as (
  select
    b.block_day, b.market, b.symbol, b.reserve
    , l.balance_group, l.stable_class
    , b.balance as balance_native
    , lead(b.balance) over (partition by b.market, b.symbol order by b.block_day) as end_balance_native
    , coalesce(r.liquidity_rate, 0) as liquidity_rate
    , p.usd_price as usd_price
    , lead(p.usd_price) over (partition by b.market, b.symbol order by b.block_day) as end_usd_price
    , e.eth_usd
    , lead(e.eth_usd) over (partition by b.market, b.symbol order by b.block_day) as end_eth_usd
    , b.balance * p.usd_price as balance_usd
    , b.balance * p.usd_price / e.eth_usd as balance_eth
    , b.balance * coalesce(r.liquidity_rate, 0) / 365 as earnings_native
    , b.balance * coalesce(r.liquidity_rate, 0) / 365 * p.usd_price as earnings_usd
    , b.balance * coalesce(r.liquidity_rate, 0) / 365 * p.usd_price / e.eth_usd as earnings_eth
  from balances b
    left join rates r on (b.block_day = r.block_day and b.market = r.market and b.symbol = r.symbol)
    left join prices p on (b.block_day = p.block_day and b.market = p.market and b.reserve = p.reserve)
    left join eth_prices e on (b.block_day = e.block_day)
    left join balance_group_lookup l on (b.market = l.market and b.symbol = l.atoken_symbol)
)
select
  block_day, market, symbol, balance_group, stable_class
  , balance_native, balance_usd, balance_eth, usd_price
  , usd_price / eth_usd as eth_price
  , earnings_native, earnings_usd, earnings_eth
  , (balance_native + earnings_native) * (end_usd_price - usd_price) as price_change_usd
  , (balance_native + earnings_native) * (end_usd_price / end_eth_usd - usd_price / eth_usd) as price_change_eth
  , end_balance_native - earnings_native - balance_native as receipts_native
  , (end_balance_native - earnings_native - balance_native) * usd_price as receipts_usd
  , (end_balance_native - earnings_native - balance_native) * usd_price / eth_usd as receipts_eth
from calcs
"""
)


# ---------------------------------------------------------------------------
# impact_proposal_* family — 12 parameterized variations of the
# state × revenue × incentives join + UNPIVOT pattern (reference
# impact_proposal_130.sql is the fullest instance; 87/115/151/163/167/172
# etc. vary market, reserves, reward tokens and analysis window). One
# generator, registered per proposal.
# ---------------------------------------------------------------------------
def _impact_proposal_sql(
    market: str,
    reward_symbols: list[str],
    reserves: list[str],
    revenue_tokens: list[str],
    proposal_date: str,
    lookback_months: int = 6,
) -> str:
    reward_ctes = "\n".join(
        f""", {sym.lower()}_rewards as (
  select block_day, market, reserve
    , supply_rewards + variable_debt_rewards + stable_debt_rewards as {sym.lower()}_emissions_paid
    , supply_rewards_apr, variable_borrow_rewards_apr
  from incentives_by_day
  where market = '{market}' and reward_token_symbol = '{sym}'
)"""
        for sym in reward_symbols
    )
    aliases = [s.lower() for s in reward_symbols]
    sup_apr = " + ".join(f"coalesce({a}_rewards_apr_{a}, 0)" for a in aliases) or "0"
    # build per-alias joined columns via explicit select list
    reward_joins = "\n".join(
        f"""  left join {a}_rewards {a} on (
    s.block_day = {a}.block_day and s.market = {a}.market and s.reserve = {a}.reserve)"""
        for a in aliases
    )
    sup_apr_sum = " + ".join(f"coalesce({a}.supply_rewards_apr, 0)" for a in aliases) or "cast(0 as double)"
    var_apr_sum = " + ".join(f"coalesce({a}.variable_borrow_rewards_apr, 0)" for a in aliases) or "cast(0 as double)"
    emissions_cols = "\n".join(
        f"  , coalesce({a}.{a}_emissions_paid, 0) as {a}_emissions_paid" for a in aliases
    )
    emissions_measures = "\n".join(f"    , {a}_emissions_paid" for a in aliases)
    reserves_in = ", ".join(f"'{r}'" for r in reserves)
    revenue_in = ", ".join(f"'{t}'" for t in revenue_tokens)
    return f"""
with base as (select 1)
{reward_ctes}
, wide_format as (
select
  s.block_day, s.market, s.reserve, s.atoken_symbol
  , s.atoken_supply - s.variable_debt - s.stable_debt as tvl
  , (s.atoken_supply - s.variable_debt - s.stable_debt) * p.usd_price as tvl_usd
  , s.atoken_supply as deposits
  , s.atoken_supply * p.usd_price as deposits_usd
  , s.variable_debt + s.stable_debt as borrows
  , (s.variable_debt + s.stable_debt) * p.usd_price as borrows_usd
  , n.revenue as revenue
  , u.revenue as revenue_usd
  , p.usd_price
  , s.liquidity_rate as deposit_apy
  , s.variable_borrow_rate as borrow_apy
  , {sup_apr_sum} as deposit_rewards_apr
  , {var_apr_sum} as variable_borrow_rewards_apr
  , s.liquidity_rate + {sup_apr_sum} as deposit_apy_inc_rewards
  , s.variable_borrow_rate + {var_apr_sum} as variable_borrow_apy_inc_rewards
{emissions_cols}
from warehouse_market_state_by_day s
  left join (select * from all_revenue where currency = 'native' and token in ({revenue_in})) n
    on (s.block_day = n.block_day and s.market = n.market and s.reserve = n.underlying_reserve)
  left join (select * from all_revenue where currency = 'usd' and token in ({revenue_in})) u
    on (s.block_day = u.block_day and s.market = u.market and s.reserve = u.underlying_reserve)
  left join aave_oracle_prices_by_day p
    on (s.block_day = p.block_day and s.market = p.market and s.reserve = p.reserve)
{reward_joins}
where s.market = '{market}'
  and s.reserve in ({reserves_in})
  and cast(s.block_day as date) > add_months(DATE '{proposal_date}', -{lookback_months})
)
, by_asset as (
select block_day, market, reserve, atoken_symbol, measure, value
from wide_format
unpivot (
  value for measure in (
    tvl, tvl_usd, deposits, deposits_usd, borrows, borrows_usd
    , revenue, revenue_usd, usd_price, deposit_apy, borrow_apy
    , deposit_rewards_apr, variable_borrow_rewards_apr
    , deposit_apy_inc_rewards, variable_borrow_apy_inc_rewards
{emissions_measures}
  )
)
)
select block_day, market, reserve, atoken_symbol, measure, value
from by_asset
union all
select block_day, market, 'aggregate' as reserve, 'aggregate' as atoken_symbol, measure, sum(value) as value
from by_asset
where measure in ('revenue_usd')
group by block_day, market, reserve, atoken_symbol, measure
order by market, atoken_symbol, measure, block_day
"""


_IMPACT_PROPOSALS: dict[str, dict] = {
    # reference impact_proposal_130.sql — polygon LST incentive program
    "impact_proposal_130": dict(
        market="polygon_v3",
        reward_symbols=["SD", "LDO", "stMATIC", "MaticX"],
        reserves=[
            "0xfa68fb4628dff1028cfec22b4162fccd0d45efb6",  # MaticX
            "0x0d500b1d8e8ef31e21c99d1db9a6444d3adf1270",  # WMATIC
            "0x3a58a54c066fdc0f2d55fc9c89f0415c92ebf3c4",  # stMATIC
        ],
        revenue_tokens=[
            "0x80ca0d8c38d2e2bcbab66aa1648bd1c7160500fe",
            "0x6d80113e533a2c0fe82eabd35f1875dcea89ea97",
            "0xea1132120ddcdda2f119e99fa7a27a0d036f7ac9",
        ],
        proposal_date="2023-03-06",
    ),
    # the rest of the family shares the shape with different parameters
    # (impact_proposal_{115,151,163,167,172}.sql); registered with the
    # polygon parameters of 130 only where the reference's constants were
    # surveyed — each entry below cites its reference file
    "impact_proposal_163": dict(
        market="polygon_v3",
        reward_symbols=["SD"],
        reserves=["0xfa68fb4628dff1028cfec22b4162fccd0d45efb6"],
        revenue_tokens=["0x80ca0d8c38d2e2bcbab66aa1648bd1c7160500fe"],
        proposal_date="2023-05-01",
    ),
}

for _pname, _params in _IMPACT_PROPOSALS.items():
    model(
        _pname,
        refs=("all_revenue",),
        sources=("warehouse_market_state_by_day", "incentives_by_day", "aave_oracle_prices_by_day"),
        doc=f"reference: aave_dbt/models/datamart/{_pname}.sql (parameterized generator)",
    )(_impact_proposal_sql(**_params))


model(
    "reserve_factor_income_by_hour",
    refs=("market_config_by_hour", "market_state_by_hour", "chains_markets"),
    sources=("token_prices_by_day",),
    doc="reference: reserve_factor_income_by_hour.sql (hourly twin; join on derived day key)",
)(
    """
select
  c.block_hour, c.market, m.chain, m.display_chain, m.display_market
  , c.atoken_symbol, c.reserve_factor
  , s.variable_borrow_rate, s.variable_debt, s.stable_borrow_rate, s.stable_debt
  , s.variable_debt * s.variable_borrow_rate / 365 * c.reserve_factor as variable_debt_protocol_income
  , s.stable_debt * s.stable_borrow_rate / 365 * c.reserve_factor as stable_debt_protocol_income
  , p.usd_price
  , (s.variable_debt * s.variable_borrow_rate + s.stable_debt * s.stable_borrow_rate) / 365 * c.reserve_factor * p.usd_price as daily_income_usd
from market_config_by_hour c
  left join market_state_by_hour s on (c.block_hour = s.block_hour and c.reserve = s.reserve and c.market = s.market)
  left join chains_markets m on (c.market = m.market)
  left join token_prices_by_day p on (date_trunc('DAY', c.block_hour) = p.block_day and c.reserve = p.reserve and m.chain = p.chain)
order by c.block_hour, c.market
"""
)

model(
    "sm_bal_pool_contents",
    sources=("safety_module_bal_pool_contents",),
    doc="reference: sm_bal_pool_contents.sql (passthrough)",
)(
    """
select block_day, safety_module_token, symbol, weight, balance
from safety_module_bal_pool_contents
order by block_day, safety_module_token, symbol
"""
)


model(
    "inv_treasury_atoken_performance_base",
    refs=("aave_atokens",),
    sources=(
        "protocol_data_by_day", "collector_atoken_balances_by_day",
        "aave_oracle_prices_by_day", "balance_group_lookup",
    ),
    doc="reference: inv_treasury_atoken_performance_base.sql (treasury atoken perf, LEAD family)",
)(
    """
with rates as (
  select block_day, market, symbol, reserve, liquidity_rate
  from protocol_data_by_day
  where market not in ('ethereum_v1','fantom_v3','harmony_v3')
)
, balances as (
  select b.block_day, b.market, b.token as atoken, b.symbol, a.reserve, a.reserve_symbol, b.balance
  from collector_atoken_balances_by_day b
    left join aave_atokens a on (b.token = a.atoken and b.market = a.market)
  where b.market not in ('ethereum_v1','fantom_v3','harmony_v3')
)
, prices as (
  select block_day, market, reserve, symbol as reserve_symbol, usd_price
  from aave_oracle_prices_by_day
  where market not in ('ethereum_v1','fantom_v3','harmony_v3')
)
, eth_prices as (
  select block_day, usd_price as eth_usd
  from aave_oracle_prices_by_day
  where market = 'ethereum_v2' and symbol = 'WETH'
)
, calcs as (
  select
    b.block_day, b.market, b.symbol, b.reserve_symbol
    , l.balance_group, l.stable_class
    , b.balance as balance_native
    , lead(b.balance) over (partition by b.market, b.symbol order by b.block_day) as end_balance_native
    , r.liquidity_rate
    , p.usd_price
    , lead(p.usd_price) over (partition by b.market, b.symbol order by b.block_day) as end_usd_price
    , e.eth_usd
    , lead(e.eth_usd) over (partition by b.market, b.symbol order by b.block_day) as end_eth_usd
    , b.balance * p.usd_price as balance_usd
    , b.balance * p.usd_price / e.eth_usd as balance_eth
    , b.balance * r.liquidity_rate / 365 as earnings_native
    , b.balance * r.liquidity_rate / 365 * p.usd_price as earnings_usd
    , b.balance * r.liquidity_rate / 365 * p.usd_price / e.eth_usd as earnings_eth
  from balances b
    left join rates r on (b.block_day = r.block_day and b.market = r.market and b.symbol = r.symbol)
    left join prices p on (b.block_day = p.block_day and b.market = p.market and b.reserve = p.reserve)
    left join eth_prices e on (b.block_day = e.block_day)
    left join balance_group_lookup l on (b.market = l.market and b.symbol = l.atoken_symbol)
)
select
  block_day, market, symbol, balance_group, stable_class
  , balance_native, balance_usd, balance_eth, usd_price
  , usd_price / eth_usd as eth_price
  , earnings_native, earnings_usd, earnings_eth
  , (balance_native + earnings_native) * (end_usd_price - usd_price) as price_change_usd
  , (balance_native + earnings_native) * (end_usd_price / end_eth_usd - usd_price / eth_usd) as price_change_eth
  , end_balance_native - earnings_native - balance_native as receipts_native
  , (end_balance_native - earnings_native - balance_native) * usd_price as receipts_usd
  , (end_balance_native - earnings_native - balance_native) * usd_price / eth_usd as receipts_eth
from calcs
where balance_native > 0
order by market, symbol, block_day
"""
)

model(
    "inv_bal_performance_base",
    sources=(
        "protocol_data_by_day", "non_atoken_balances_by_day",
        "aave_oracle_prices_by_day", "coingecko_data_by_day", "balance_group_lookup",
    ),
    doc="reference: inv_bal_performance_base.sql (BAL holdings perf, oracle→coingecko price fallback)",
)(
    """
with rates as (
  select block_day, market, symbol, reserve, liquidity_rate
  from protocol_data_by_day
  where market not in ('ethereum_v1','fantom_v3','harmony_v3')
)
, balances as (
  select b.block_day, b.market, b.token as reserve, b.symbol, b.balance
  from non_atoken_balances_by_day b
  where b.symbol in ('BAL','B-80BAL-20WETH') and b.block_day >= '2022-07-20'
)
, prices as (
  select block_day, market, reserve, symbol, usd_price
  from aave_oracle_prices_by_day
  where market in ('ethereum_v2') and symbol = 'BAL'
)
, cg_prices as (
  select block_day, 'ethereum_v2' as market, address as reserve, symbol, price_usd as usd_price
  from coingecko_data_by_day
  where symbol = 'B-80BAL-20WETH'
)
, eth_prices as (
  select block_day, usd_price as eth_usd
  from aave_oracle_prices_by_day
  where market = 'ethereum_v2' and symbol = 'WETH'
)
, calcs as (
  select
    b.block_day, b.market, b.symbol, b.reserve
    , l.balance_group, l.stable_class
    , b.balance as balance_native
    , lead(b.balance) over (partition by b.market, b.symbol order by b.block_day) as end_balance_native
    , coalesce(r.liquidity_rate, 0) as liquidity_rate
    , coalesce(p.usd_price, c.usd_price) as usd_price
    , lead(coalesce(p.usd_price, c.usd_price)) over (partition by b.market, b.symbol order by b.block_day) as end_usd_price
    , e.eth_usd
    , lead(e.eth_usd) over (partition by b.market, b.symbol order by b.block_day) as end_eth_usd
    , b.balance * coalesce(p.usd_price, c.usd_price) as balance_usd
    , b.balance * coalesce(p.usd_price, c.usd_price) / e.eth_usd as balance_eth
    , b.balance * coalesce(r.liquidity_rate, 0) / 365 as earnings_native
    , b.balance * coalesce(r.liquidity_rate, 0) / 365 * coalesce(p.usd_price, c.usd_price) as earnings_usd
    , b.balance * coalesce(r.liquidity_rate, 0) / 365 * coalesce(p.usd_price, c.usd_price) / e.eth_usd as earnings_eth
  from balances b
    left join rates r on (b.block_day = r.block_day and b.market = r.market and b.symbol = r.symbol)
    left join prices p on (b.block_day = p.block_day and b.market = p.market and b.reserve = p.reserve)
    left join cg_prices c on (b.block_day = c.block_day and b.market = c.market and b.reserve = c.reserve)
    left join eth_prices e on (b.block_day = e.block_day)
    left join balance_group_lookup l on (b.market = l.market and b.symbol = l.atoken_symbol)
)
select
  block_day, market, symbol, balance_group, stable_class
  , balance_native, balance_usd, balance_eth, usd_price
  , usd_price / eth_usd as eth_price
  , earnings_native, earnings_usd, earnings_eth
  , (balance_native + earnings_native) * (end_usd_price - usd_price) as price_change_usd
  , (balance_native + earnings_native) * (end_usd_price / end_eth_usd - usd_price / eth_usd) as price_change_eth
  , end_balance_native - earnings_native - balance_native as receipts_native
  , (end_balance_native - earnings_native - balance_native) * usd_price as receipts_usd
  , (end_balance_native - earnings_native - balance_native) * usd_price / eth_usd as receipts_eth
from calcs
order by block_day, market, symbol
"""
)


def _impact_proposal_simple_sql(
    reserves: list[str],
    revenue_tokens: list[str],
    proposal_date: str,
    market: str | None = None,
    aggregate_revenue: bool = False,
    lookback_months: int = 6,
) -> str:
    """The no-rewards impact_proposal shape (impact_proposal_131.sql etc.):
    state × revenue × prices → 9-measure UNPIVOT, optionally with the
    aggregate revenue_usd union (impact_proposal_167.sql tail)."""
    reserves_in = ", ".join(f"'{r}'" for r in reserves)
    revenue_in = ", ".join(f"'{t}'" for t in revenue_tokens)
    market_pred = f"and s.market = '{market}'" if market else ""
    tail = (
        """
select block_day, market, reserve, atoken_symbol, measure, value
from by_asset
union all
select block_day, market, 'aggregate' as reserve, 'aggregate' as atoken_symbol, measure, sum(value) as value
from by_asset
where measure in ('revenue_usd')
group by block_day, market, reserve, atoken_symbol, measure
order by market, atoken_symbol, measure, block_day
"""
        if aggregate_revenue
        else """
select block_day, market, reserve, atoken_symbol, measure, value
from by_asset
order by block_day, measure
"""
    )
    return f"""
with wide_format as (
select
  s.block_day, s.market, s.reserve, s.atoken_symbol
  , s.atoken_supply - s.variable_debt - s.stable_debt as tvl
  , (s.atoken_supply - s.variable_debt - s.stable_debt) * p.usd_price as tvl_usd
  , s.atoken_supply as deposits
  , s.atoken_supply * p.usd_price as deposits_usd
  , s.variable_debt + s.stable_debt as borrows
  , (s.variable_debt + s.stable_debt) * p.usd_price as borrows_usd
  , n.revenue as revenue
  , u.revenue as revenue_usd
  , p.usd_price
from warehouse_market_state_by_day s
  left join (select * from all_revenue where currency = 'native' and token in ({revenue_in})) n
    on (s.block_day = n.block_day and s.market = n.market and s.reserve = n.underlying_reserve)
  left join (select * from all_revenue where currency = 'usd' and token in ({revenue_in})) u
    on (s.block_day = u.block_day and s.market = u.market and s.reserve = u.underlying_reserve)
  left join aave_oracle_prices_by_day p
    on (s.block_day = p.block_day and s.market = p.market and s.reserve = p.reserve)
where 1=1
  {market_pred}
  and s.reserve in ({reserves_in})
  and cast(s.block_day as date) > add_months(DATE '{proposal_date}', -{lookback_months})
)
, by_asset as (
select block_day, market, reserve, atoken_symbol, measure, value
from wide_format
unpivot (
  value for measure in (
    tvl, tvl_usd, deposits, deposits_usd, borrows, borrows_usd
    , revenue, revenue_usd, usd_price
  )
)
)
{tail}
"""


WETH_ETH = "0xc02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
WMATIC = "0x0d500b1d8e8ef31e21c99d1db9a6444d3adf1270"

_SIMPLE_IMPACT_PROPOSALS: dict[str, dict] = {
    # reference file constants, impact_proposal_{n}.sql
    "impact_proposal_131": dict(
        market="ethereum_v2", reserves=[WETH_ETH],
        revenue_tokens=["0x030ba81f1c18d280636f32af80b9aad02cf0854e"],
        proposal_date="2022-12-19",
    ),
    "impact_proposal_150": dict(
        market="polygon_v3", reserves=[WMATIC],
        revenue_tokens=["0x6d80113e533a2c0fe82eabd35f1875dcea89ea97"],
        proposal_date="2023-02-07",
    ),
    "impact_proposal_151": dict(
        market=None,
        reserves=["0xba100000625a3754423978a60c9317c58a424e3d",
                  "0x9a71012b13ca4d3d0cdc72a177df3ef03b0e76a3"],
        revenue_tokens=["0x272f97b7a56a387ae942350bbc7df5700f8a4576",
                        "0xc4195d4060daeac44058ed668aa5efec50d77ff6",
                        "0x8ffdf2de812095b1d19cb146e4c004587c0a0692"],
        proposal_date="2023-02-07",
    ),
    "impact_proposal_158": dict(
        market="ethereum_v2", reserves=[WETH_ETH],
        revenue_tokens=["0x030ba81f1c18d280636f32af80b9aad02cf0854e"],
        proposal_date="2023-02-21",
    ),
    "impact_proposal_167": dict(
        market="polygon_v3",
        reserves=["0xfa68fb4628dff1028cfec22b4162fccd0d45efb6", WMATIC],
        revenue_tokens=["0x80ca0d8c38d2e2bcbab66aa1648bd1c7160500fe",
                        "0x6d80113e533a2c0fe82eabd35f1875dcea89ea97"],
        proposal_date="2023-03-06", aggregate_revenue=True,
    ),
    "impact_proposal_168": dict(
        market="ethereum_v3",
        reserves=["0xd533a949740bb3306d119cc777fa900ba034cd52"],
        revenue_tokens=["0x7b95ec873268a6bfc6427e7a28e396db9d0ebc65"],
        proposal_date="2023-03-08",
    ),
    "impact_proposal_172": dict(
        market="polygon_v3",
        reserves=["0x3a58a54c066fdc0f2d55fc9c89f0415c92ebf3c4", WMATIC],
        revenue_tokens=["0xea1132120ddcdda2f119e99fa7a27a0d036f7ac9",
                        "0x6d80113e533a2c0fe82eabd35f1875dcea89ea97"],
        proposal_date="2023-03-12", aggregate_revenue=True,
    ),
    "impact_proposal_175": dict(
        market=None,
        reserves=["0xd533a949740bb3306d119cc777fa900ba034cd52",
                  "0x172370d5cd63279efa6d502dab29171933a610af"],
        revenue_tokens=["0x8dae6cb04688c62d939ed9b68d32bc62e49970b1",
                        "0x513c7e3a9c69ca3e22550ef58ac1c0088e918fff",
                        "0x3df8f92b7e798820ddcca2ebea7babda2c90c4ad"],
        proposal_date="2023-03-13",
    ),
}

for _pname, _params in _SIMPLE_IMPACT_PROPOSALS.items():
    model(
        _pname,
        refs=("all_revenue",),
        sources=("warehouse_market_state_by_day", "aave_oracle_prices_by_day"),
        doc=f"reference: aave_dbt/models/datamart/{_pname}.sql (simple impact-proposal shape)",
    )(_impact_proposal_simple_sql(**_params))


def _impact_purchase_sql(
    contract_address: str,
    token: str,
    chain: str,
    start_day: str,
    end_day: str,
) -> str:
    """Purchase-tracking impact-proposal shape (impact_proposal_87.sql:
    window of external inflows → avg purchase price vs current price)."""
    return f"""
with purchase_days as (
  select
    t.block_day
    , t.token as token_address
    , t.symbol
    , t.tokens_in_external as purchase_amount
    , t.tokens_in_external * p.usd_price as purchase_amount_usd
    , p.usd_price
  from non_atoken_measures_by_day t
  left join token_prices_by_day p on (t.block_day = p.block_day and t.token = p.reserve)
  where t.contract_address = '{contract_address}'
    and t.token = '{token}'
    and p.chain = '{chain}'
    and t.tokens_in_external > 0
    and t.block_day between '{start_day}' and '{end_day}'
)
, current_price as (
  select block_day, reserve, usd_price
  from token_prices_by_day
  where reserve = '{token}'
    and block_day = (select max(block_day) from token_prices_by_day)
)
, purchase_price as (
  select
    token_address, symbol
    , sum(purchase_amount) as purchase_amount
    , sum(purchase_amount_usd) as purchase_amount_usd
    , sum(purchase_amount_usd) / sum(purchase_amount) as av_purchase_price
  from purchase_days
  group by token_address, symbol
)
select
  c.block_day
  , p.token_address
  , p.symbol
  , round(p.purchase_amount, 5) as purchase_amount
  , p.purchase_amount_usd
  , p.av_purchase_price
  , c.usd_price as current_price
  , p.purchase_amount * c.usd_price as current_value
  , p.purchase_amount * c.usd_price - p.purchase_amount_usd as net_value_change
from purchase_price p
  left join current_price c on p.token_address = c.reserve
"""


for _pname, _params in {
    "impact_proposal_87": dict(
        contract_address="0x464c71f6c2f760dda6093dcb91c24c39e5d6e18c",
        token="0xba100000625a3754423978a60c9317c58a424e3d",
        chain="ethereum", start_day="2022-07-18", end_day="2022-07-20",
    ),
    "impact_proposal_115": dict(
        contract_address="0x464c71f6c2f760dda6093dcb91c24c39e5d6e18c",
        token="0xba100000625a3754423978a60c9317c58a424e3d",
        chain="ethereum", start_day="2022-11-14", end_day="2022-12-14",
    ),
}.items():
    model(
        _pname,
        sources=("non_atoken_measures_by_day", "token_prices_by_day"),
        doc=f"reference: aave_dbt/models/datamart/{_pname}.sql (purchase-price shape)",
    )(_impact_purchase_sql(**_params))


# ---------------------------------------------------------------------------
# Model #61: balancer_bpt_by_day — the named SURVEY §2.5 LAG citation.
# ---------------------------------------------------------------------------
model(
    "balancer_bpt_by_day",
    sources=("warehouse_balancer_bpt_by_day",),
    doc=(
        "reference: aave_dbt/models/datamart/balancer_bpt_by_day.sql:15 — "
        "LAG(rate) coalesce-to-self daily APR over (chain, pool) series"
    ),
)(
    """
select
  block_day
  , chain
  , symbol
  , name
  , pool
  , denom as bpt_underlying_asset
  , underlying_asset_price
  , rate
  , actual_supply
  , bpt_usd_price as bpt_price_usd
  , pool_tvl_usd
  , ((rate / coalesce(lag(rate) over (partition by chain, pool order by block_day), rate)) - 1) * 365 as daily_apr
from warehouse_balancer_bpt_by_day
order by chain, pool, block_day
"""
)

# ---------------------------------------------------------------------------
# Model #62: grants_dao_token_balances_by_day — join enrichment over the
# grants-DAO wallet's lake balances (atoken → reserve price fallback).
# ---------------------------------------------------------------------------
model(
    "grants_dao_token_balances_by_day",
    refs=("aave_atokens",),
    sources=("erc20_balances_by_day", "token_prices_by_day"),
    doc=(
        "reference: aave_dbt/models/datamart/grants_dao_token_balances_by_day.sql — "
        "wallet-filtered balances left-joined to aave_atokens then priced via "
        "coalesce(reserve, token_address)"
    ),
)(
    """
select
  e.block_day
  , e.token as token_symbol
  , p.usd_price as price_usd
  , e.balance as balance_native
  , p.usd_price * e.balance as balance_usd
from erc20_balances_by_day e
  left join aave_atokens a on (
    e.chain = a.chain and
    e.token_address = a.atoken
  )
  left join token_prices_by_day p on (
    e.chain = p.chain and
    coalesce(a.reserve, e.token_address) = p.reserve and
    e.block_day = p.block_day
  )
where e.wallet_address = '0x89c51828427f70d77875c6747759fb17ba10ceb0'
order by e.block_day
"""
)
