"""Partitioned-run orchestration: the reference's Dagster entry point
re-expressed Spark-first.

Reference mapping (SURVEY §3 entry point 1):

- Multipartitions ``(date × market)`` — ``market_day_multipartition``
  (aave_data/assets/financials/data_lake.py:58-66) and the hourly
  ``market_hour_multipartition`` (protocol_hourly_data_lake.py:49-54) become
  :class:`PartitionKey`; the partition identity lands in the output rows'
  partition columns, so the *store layout* (TableStore dynamic partition
  overwrite, io/table_store.py) carries the same idempotency contract as the
  reference's ``DELETE WHERE _dagster_partition_key`` + append
  (bigquery_io_manager.py:231-249).
- Asset groups / jobs — the reference selects assets into cadence jobs by
  group and explicit key lists (aave_data/__init__.py:243-352). Here an
  :class:`Asset` declares its ``group`` and ``deps``; a job is a group
  selection over the :class:`AssetGraph`, executed in Kahn topological order
  (plans/dag.py, shared with the datamart runner in plans/runner.py).
- Schedules — the reference's cadence chain (data lake 01:00 → warehouse +
  datamart 01:15/01:30, midday 13:00, liquidity every 2 h, hourly lake :05 →
  hourly datamart :10; aave_data/__init__.py:374-434) is declared in
  :data:`SCHEDULES` with the same cron expressions and evaluated by
  :func:`cron_due` — a pure function a real scheduler (cron, Airflow,
  Databricks jobs) would poll.
- Backfill — ``build_schedule_from_partitioned_job``'s backfill semantics
  become :func:`backfill`: re-running any partition is a per-partition
  overwrite, so a backfill is just a loop over :func:`run_day` and is
  idempotent byte-for-byte (tests/test_orchestration.py).

Scale notes (100 TB): each partition run writes only its own ``(day, market)``
slice — dynamic partition overwrite touches one directory, never the table's
history. Unpartitioned warehouse/datamart assets are full-refresh exactly like
the reference's dbt ``materialized='table'`` models; their inputs arrive
through partition-pruned TableStore reads, so a daily run scans the partitions
it names, not the whole lake.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from aave_etl_spark.io.table_store import TableStore
from aave_etl_spark.plans.dag import kahn_order

# Partitioning kinds, mirroring the reference's partitions_defs
# (aave_data/__init__.py:286-352): market_day multipartition, plain daily,
# market_hour multipartition, and unpartitioned full-refresh.
MARKET_DAY = "market_day"
DAILY = "daily"
MARKET_HOUR = "market_hour"
UNPARTITIONED = "unpartitioned"


@dataclass(frozen=True)
class PartitionKey:
    """One multipartition cell: ``date`` ('YYYY-MM-DD'), optional ``market``
    (market_day/market_hour dims), optional ``hour`` (0-23, hourly jobs)."""

    date: str
    market: str | None = None
    hour: int | None = None


@dataclass(frozen=True)
class Asset:
    """A declared pipeline node.

    ``fn(ctx)`` returns the asset's DataFrame for ``ctx.partition``; the
    runner writes it through TableStore with ``partition_cols`` so re-runs
    overwrite exactly the slice they recompute (K1 sink semantics).
    """

    name: str
    fn: Callable[["AssetContext"], DataFrame]
    deps: tuple[str, ...] = ()
    group: str = "default"
    partitioning: str = MARKET_DAY
    partition_cols: tuple[str, ...] = ()
    append_only: bool = False
    # False when fn materializes its own tables (e.g. a datamart asset
    # whose run_datamart(store=...) already wrote every model) — the
    # runner then skips the redundant write of the returned DataFrame.
    write_output: bool = True


class AssetGraph:
    """Validated DAG of assets with group selection and topo execution order."""

    def __init__(self, assets: Sequence[Asset]):
        names = [a.name for a in assets]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(f"duplicate asset names: {sorted(dupes)}")
        self.assets: dict[str, Asset] = {a.name: a for a in assets}
        unknown = {
            (a.name, d) for a in assets for d in a.deps if d not in self.assets
        }
        if unknown:
            raise ValueError(f"unknown deps: {sorted(unknown)}")

    def topo_order(self, selection: Iterable[str] | None = None) -> list[Asset]:
        """Kahn order over the selected assets, each wave in declaration
        order; deps outside the selection are assumed already materialized
        in the store (how the reference's 01:15 warehouse job consumes the
        01:00 lake job's output)."""
        sel = set(selection) if selection is not None else set(self.assets)
        missing = sel - set(self.assets)
        if missing:
            raise ValueError(f"unknown assets in selection: {sorted(missing)}")
        deps = {
            n: [d for d in a.deps if d in sel]
            for n, a in self.assets.items()
            if n in sel
        }
        return [self.assets[n] for n in kahn_order(deps, "dependency cycle")]

    def select_groups(self, *groups: str) -> list[str]:
        sel = [n for n, a in self.assets.items() if a.group in groups]
        if not sel:
            raise ValueError(f"no assets in groups {groups}")
        return sel


@dataclass
class AssetContext:
    """Execution-time context handed to each asset fn (the Dagster
    ``context`` + resources equivalent; resources carry injected transports
    exactly like the reference's ``resource_defs``, aave_data/__init__.py:79)."""

    spark: SparkSession
    store: TableStore
    partition: PartitionKey
    resources: dict[str, Any] = field(default_factory=dict)

    def upstream(
        self,
        name: str,
        this_partition_only: bool = False,
        date_col: str = "block_day",
        market_col: str = "market",
        schema=None,
    ) -> DataFrame:
        """Read an upstream table from the store. ``this_partition_only``
        prunes to the current partition's slice (partition-column predicates
        reach the file listing — K3). Column names default to the reference's
        ``block_day``/``market`` convention (data_lake.py:73-140).

        A table whose every run produced empty output was never written
        (TableStore.write skips empties — reference bigquery_io_manager
        parity — deciding from the row count its own write job observed,
        so an empty run leaves a missing table missing and an existing
        one untouched) and reads back as a ZERO-COLUMN frame; pass ``schema`` to
        get a typed empty instead, or guard on ``df.columns`` before
        running SQL over it (see the datamart assets in
        plans/reference_pipeline.py)."""
        where = None
        if this_partition_only:
            preds = [f"{date_col} = DATE '{self.partition.date}'"]
            if self.partition.market is not None:
                preds.append(f"{market_col} = '{self.partition.market}'")
            where = " AND ".join(preds)
        return self.store.read(name, schema=schema, where=where)


def run_partition(
    spark: SparkSession,
    store: TableStore,
    graph: AssetGraph,
    partition: PartitionKey,
    resources: dict[str, Any] | None = None,
    selection: Iterable[str] | None = None,
) -> dict[str, DataFrame]:
    """Execute the selected assets for one partition, writing each through
    the store. Re-running the same partition is idempotent: partitioned
    assets dynamic-overwrite their own slice; unpartitioned assets
    full-refresh (dbt table materialization)."""
    ctx = AssetContext(spark=spark, store=store, partition=partition, resources=resources or {})
    out: dict[str, DataFrame] = {}
    for asset in graph.topo_order(selection):
        df = asset.fn(ctx)
        if asset.write_output:
            store.write(
                df,
                asset.name,
                partition_cols=list(asset.partition_cols) or None,
                append_only=asset.append_only,
            )
            # the read memoizes the written table's schema for every
            # downstream reader (inferring it once unless the write
            # already seeded it)
            out[asset.name] = store.read(asset.name)
        else:
            out[asset.name] = df
    return out


def _assets_by_kind(
    graph: AssetGraph, groups: Sequence[str] | None
) -> dict[str, list[str]]:
    """Partitioning-kind → asset names, optionally restricted to job
    ``groups`` (the reference's define_asset_job group selections)."""
    allowed = set(graph.select_groups(*groups)) if groups else None
    by_kind: dict[str, list[str]] = {}
    for a in graph.assets.values():
        if allowed is None or a.name in allowed:
            by_kind.setdefault(a.partitioning, []).append(a.name)
    return by_kind


def run_day(
    spark: SparkSession,
    store: TableStore,
    graph: AssetGraph,
    day: str,
    markets: Sequence[str],
    resources: dict[str, Any] | None = None,
    groups: Sequence[str] | None = None,
) -> None:
    """One day of the reference cadence chain (aave_data/__init__.py:374-407):
    market_day lake assets per market (01:00 job), daily assets once (01:25),
    then unpartitioned warehouse/datamart full-refresh (01:15/01:30).
    ``groups`` restricts to a job's group selection — by default everything
    EXCEPT hourly-partitioned assets runs (they belong to run_hour; an
    unpartitioned asset downstream of an hourly one should carry an hourly
    job group and be excluded here via ``groups``)."""
    by_kind = _assets_by_kind(graph, groups)
    for market in markets:
        if by_kind.get(MARKET_DAY):
            run_partition(
                spark, store, graph, PartitionKey(day, market), resources, by_kind[MARKET_DAY]
            )
    if by_kind.get(DAILY):
        run_partition(spark, store, graph, PartitionKey(day), resources, by_kind[DAILY])
    if by_kind.get(UNPARTITIONED):
        run_partition(
            spark, store, graph, PartitionKey(day), resources, by_kind[UNPARTITIONED]
        )


def run_hour(
    spark: SparkSession,
    store: TableStore,
    graph: AssetGraph,
    day: str,
    hour: int,
    markets: Sequence[str],
    resources: dict[str, Any] | None = None,
    groups: Sequence[str] | None = None,
) -> None:
    """One tick of the hourly cadence chain (lake :05 → datamart :10,
    aave_data/__init__.py:428-434): market_hour lake assets per market for
    this (day, hour) cell, then unpartitioned hourly-datamart assets
    full-refresh. Same idempotency contract as run_day — the lake write
    touches one multipartition slice. Pass the hourly job's ``groups`` so
    only its unpartitioned (hourly-datamart) assets refresh here."""
    by_kind = _assets_by_kind(graph, groups)
    for market in markets:
        if by_kind.get(MARKET_HOUR):
            run_partition(
                spark,
                store,
                graph,
                PartitionKey(day, market, hour),
                resources,
                by_kind[MARKET_HOUR],
            )
    if by_kind.get(UNPARTITIONED):
        run_partition(
            spark, store, graph, PartitionKey(day, None, hour), resources,
            by_kind[UNPARTITIONED],
        )


def date_range(start: str, end: str) -> list[str]:
    """Inclusive daily partition keys (DailyPartitionsDefinition, UTC)."""
    d0, d1 = date.fromisoformat(start), date.fromisoformat(end)
    if d1 < d0:
        raise ValueError(f"end {end} before start {start}")
    return [(d0 + timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)]


def backfill(
    spark: SparkSession,
    store: TableStore,
    graph: AssetGraph,
    start: str,
    end: str,
    markets: Sequence[str],
    resources: dict[str, Any] | None = None,
    full_refresh_each_day: bool = False,
    groups: Sequence[str] | None = None,
) -> None:
    """Backfill a date range. Default defers the unpartitioned full-refresh
    layer to one final run (what a Dagster backfill + reconciliation sensor
    converges to); ``full_refresh_each_day`` replays the exact daily cadence.
    Either way every partitioned slice is written exactly once per day —
    re-running any sub-range is a per-partition overwrite, not an append.
    ``groups`` restricts to a job selection (see run_day)."""
    days = date_range(start, end)
    by_kind = _assets_by_kind(graph, groups)
    part_sel = by_kind.get(MARKET_DAY, []) + by_kind.get(DAILY, [])
    unpart_sel = by_kind.get(UNPARTITIONED, [])
    for day in days:
        if full_refresh_each_day:
            run_day(spark, store, graph, day, markets, resources, groups)
            continue
        for market in markets:
            md = [n for n in part_sel if graph.assets[n].partitioning == MARKET_DAY]
            if md:
                run_partition(spark, store, graph, PartitionKey(day, market), resources, md)
        dl = [n for n in part_sel if graph.assets[n].partitioning == DAILY]
        if dl:
            run_partition(spark, store, graph, PartitionKey(day), resources, dl)
    if unpart_sel and not full_refresh_each_day:
        run_partition(spark, store, graph, PartitionKey(days[-1]), resources, unpart_sel)


# ---------------------------------------------------------------------------
# Schedules: the reference's cron cadences verbatim
# (aave_data/__init__.py:374-434).
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Schedule:
    name: str
    job: str  # group selection the schedule fires
    cron: str


SCHEDULES: tuple[Schedule, ...] = (
    Schedule("data_lake_partitioned_schedule", "data_lake", "0 1 * * *"),
    Schedule("data_lake_unpartitioned_schedule", "data_lake_unpartitioned", "0 1 * * *"),
    Schedule("warehouse_datamart_schedule_a", "warehouse_datamart", "15 1 * * *"),
    Schedule("warehouse_datamart_schedule_b", "warehouse_datamart", "30 1 * * *"),
    Schedule("daily_partitioned_schedule", "daily_partitioned", "25 1 * * *"),
    Schedule("daily_midday_partitioned_schedule", "daily_midday", "0 13 * * *"),
    Schedule("liquidity_depth_schedule", "liquidity_depth", "0 */2 * * *"),
    Schedule("chain_day_partitioned_schedule", "chain_day", "25 1 * * *"),
    Schedule("data_lake_hourly_partitioned_schedule", "hourly_data_lake", "5 * * * *"),
    Schedule("datamart_hourly_schedule", "datamart_hourly", "10 * * * *"),
    # beyond-ref: the weekly maintenance pass for the corpus store —
    # Sunday 03:00 UTC, off the daily 01:00-01:30 chain. A scheduler tick
    # whose due_jobs includes "maintenance" dispatches
    # :func:`run_maintenance`.
    Schedule("maintenance_schedule", "maintenance", "0 3 * * 0"),
)


def _cron_field_match(field_expr: str, value: int) -> bool:
    for part in field_expr.split(","):
        if part == "*":
            return True
        if part.startswith("*/"):
            if value % int(part[2:]) == 0:
                return True
        elif "-" in part:
            lo, hi = part.split("-", 1)
            if int(lo) <= value <= int(hi):
                return True
        elif int(part) == value:
            return True
    return False


def cron_due(cron: str, at: datetime) -> bool:
    """5-field cron match (minute hour dom month dow) in UTC — the subset the
    reference's schedules use (ints, ``*``, ``*/n``; aave_data/__init__.py)."""
    fields = cron.split()
    if len(fields) != 5:
        raise ValueError(f"bad cron {cron!r}")
    minute, hour, dom, month, dow = fields
    cron_dow = (at.weekday() + 1) % 7  # cron: 0=Sunday; datetime: 0=Monday
    return (
        _cron_field_match(minute, at.minute)
        and _cron_field_match(hour, at.hour)
        and _cron_field_match(dom, at.day)
        and _cron_field_match(month, at.month)
        and _cron_field_match(dow, cron_dow)
    )


def due_jobs(at: datetime, schedules: Sequence[Schedule] = SCHEDULES) -> list[str]:
    """Job groups a scheduler tick at ``at`` (UTC) should launch — the pure
    core a cron/Airflow/Databricks trigger would call."""
    return [s.job for s in schedules if cron_due(s.cron, at)]


def run_maintenance(
    spark: SparkSession,
    corpus_store: TableStore | None = None,
) -> dict[str, Any]:
    """The ``maintenance`` job group's body — what a scheduler tick whose
    :func:`due_jobs` includes ``"maintenance"`` dispatches (the weekly
    ``maintenance_schedule`` cadence in :data:`SCHEDULES`).

    Runs :func:`~aave_etl_spark.plans.corpus_pipeline.corpus_maintenance`
    (compaction + MinHash band-index reclaim) on the corpus store when one
    is passed. Returns a result dict keyed by store for logging.

    Scale: the off-daily-path cost contract ``corpus_maintenance``
    documents — one scan+rewrite of STATE tables, never raw landing
    history.
    """
    out: dict[str, Any] = {}
    if corpus_store is not None:
        from aave_etl_spark.plans.corpus_pipeline import corpus_maintenance

        out["corpus"] = corpus_maintenance(corpus_store)
    return out
