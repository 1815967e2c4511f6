"""The benchmark workloads. Each takes a :class:`Ctx` and returns an
:class:`Outcome`; ``run.py`` turns outcomes into metrics.

Only public entry points of the program are called: the orchestration
runners (``run_hour``, ``run_partition``, ``run_maintenance``), the
reference and corpus asset graphs, ``TableStore`` and ``run_datamart``.
When ``ctx.tracer`` is set, :func:`instrument` wraps those entry points so
every call records a span.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from perfbench import checks
from perfbench.trace import Tracer

#: models the cadence materializes: the daily tables of its set-up, the
#: hourly datamart job's selection, the liquidity LSD model
CADENCE_MODELS = (
    "chains_markets", "aave_atokens", "market_state_by_day", "market_config_by_day",
    "market_config_by_hour", "market_state_by_hour", "market_config_by_time",
    "market_state_by_time", "reserve_factor_income_by_hour", "liquidity_depth_lsd",
)
#: asset groups of the reference graph the cadence runs
CADENCE_GROUPS = (
    "financials_data_lake", "protocol_data_lake", "data_lake_unpartitioned", "warehouse",
    "protocol_hourly_data_lake", "datamart_hourly", "liquidity_depth",
)
#: the corpus graph's dedup chain: the landing batch, its dedup, and the
#: fold of the survivors into the corpus state (digests, documents, MinHash
#: band index, span index)
CORPUS_ASSETS = ("corpus_landing", "corpus_clean", "corpus_state")
#: consumer reads that end each workload, rounds of one read per kind
READ_KINDS = ("point", "range", "table")
READ_ROUNDS = 3
#: Python ``random`` is reseeded with this before every operation: the
#: sources retry policy draws its back-off jitter from it, so every run
#: sleeps the same
JITTER_SEED = 20_240_101


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    run_dir: str
    tracer: Tracer | None = None
    #: per unit of work: (jobs, stages, tasks), traced runs only
    spark_units: list = field(default_factory=list)


@dataclass
class Outcome:
    #: span/job-group name of the workload's unit of work
    unit_kind: str
    #: input set-up seconds, one per repetition
    setup_reps: list[float]
    #: set-up seconds that are not repeated (the graph-built state)
    setup_once_s: float
    #: primary unit-of-work latencies, seconds
    units: list[float]
    #: wall seconds of the measured phase
    job_s: float
    attempted: int
    failed: int
    errors: list[str]
    #: the workload's own end-to-end figures, printed by name above the
    #: result line: name -> (value, unit, note)
    table: dict
    #: consumer read latencies by kind, seconds
    reads: dict = field(default_factory=dict)
    #: store roots to walk for file counts
    stores: list = field(default_factory=list)
    #: the table whose partition count the read path lists
    listed_table: str | None = None


# ---------------------------------------------------------------------------
# instrumentation
# ---------------------------------------------------------------------------
def _table_arg(pos: int):
    def attrs(args, kwargs):
        name = kwargs.get("name", args[pos] if len(args) > pos else None)
        return {"table": name}

    return attrs


def instrument(tracer: Tracer, spark) -> None:
    """Wrap each layer's public entry points with spans."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans import orchestration, runner

    tracer.patch(TableStore, "write", "io.write", _table_arg(2))
    tracer.patch(TableStore, "read", "io.read", _table_arg(1))
    tracer.patch(TableStore, "merge", "io.merge", _table_arg(2))
    tracer.patch(TableStore, "compact", "io.compact", _table_arg(1))
    tracer.patch(TableStore, "write_bucketed", "io.write_bucketed", _table_arg(2))
    tracer.patch(orchestration, "run_partition", "orchestration.run_partition")
    tracer.patch(orchestration, "run_maintenance", "corpus.maintenance")
    tracer.patch(runner, "run_datamart", "runner.run_datamart")
    # SQL analysis: the runner hands each model's SQL to spark.sql
    tracer.patch(spark, "sql", "spark.sql")


def traced_graph(graph, tracer: Tracer | None):
    """The same graph with every asset fn wrapped in an ``orchestration.asset``
    span carrying the asset's name and group."""
    if tracer is None:
        return graph
    from aave_etl_spark.plans.orchestration import AssetGraph

    return AssetGraph([
        replace(a, fn=tracer.wrap_fn(a.fn, "orchestration.asset", asset=a.name, group=a.group))
        for a in graph.assets.values()
    ])


@contextmanager
def unit(ctx: Ctx, kind: str, index: int):
    """One unit of work: a span and, when traced, a Spark job group whose
    jobs/stages/tasks are counted when the unit ends."""
    tracer = ctx.tracer
    if tracer is None:
        yield
        return
    sc = ctx.spark.sparkContext
    gid = f"perfbench-{kind}-{index}"
    sc.setJobGroup(gid, kind)
    try:
        with tracer.span(f"unit.{kind}", unit=gid):
            yield
    finally:
        ctx.spark_units.append((kind, *job_group_counts(sc, gid)))


def job_group_counts(sc, gid: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped: its output was reused
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
    return len(jobs), stages, tasks


class Ops:
    """Runs the measured operations of a workload: each one is timed,
    counted as attempted, and counted as failed when it raises."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run(self, kind: str, index: int, fn):
        """``(seconds, result)``, or ``(None, None)`` when ``fn`` raised."""
        self.attempted += 1
        random.seed(JITTER_SEED)
        t = time.perf_counter()
        try:
            with unit(self.ctx, kind, index):
                out = fn()
        except Exception as exc:  # an op failure is counted, not fatal
            self.failed += 1
            self.errors.append(f"{kind} {index}: {type(exc).__name__}: {exc}")
            return None, None
        return time.perf_counter() - t, out

    def reads(self, fns: dict, check) -> dict[str, list[float]]:
        """:data:`READ_ROUNDS` rounds of one read per kind; ``check(kind,
        rows)`` returns the read's correctness errors."""
        lat: dict[str, list[float]] = {k: [] for k in fns}
        for r in range(READ_ROUNDS):
            for kind, fn in fns.items():
                dt, rows = self.run(f"read_{kind}", r, fn)
                if dt is not None:
                    lat[kind].append(dt)
                    self.errors += check(kind, rows)
        return lat


#: nominal seconds of one hourly tick on a 4-core machine. A run measures
#: ``--seconds`` worth of nominal ticks: a fixed amount of work, so how many
#: ticks a run measures does not depend on how fast the machine is at the
#: time
TICK_NOMINAL_S = 6.5


def units_for(seconds: float, nominal_s: float) -> int:
    return max(2, round(seconds / nominal_s))


def repeat_setup(reps: int, fn):
    """Run ``fn`` ``reps`` times; return (per-rep seconds, last result)."""
    times, out = [], None
    for _ in range(reps):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return times, out


def _untrace(ctx: Ctx) -> None:
    """End tracing: the checks after the measured phase run untraced."""
    if ctx.tracer:
        ctx.tracer.restore()
        ctx.tracer = None


# ---------------------------------------------------------------------------
# cadence_hourly
# ---------------------------------------------------------------------------
#: the day's lake and warehouse assets the hourly chain reads, built in
#: set-up through the graph (one market-day partition, then the
#: unpartitioned warehouse refresh)
STATE_LAKE = (
    "block_numbers_by_day", "market_tokens_by_day", "aave_oracle_prices_by_day",
    "protocol_data_by_day", "emode_config_by_day",
)
STATE_WAREHOUSE = (
    "token_prices_by_day", "warehouse_market_state_by_day",
    "warehouse_market_config_by_day", "display_names",
)
#: the 01:30 datamart models the hourly datamart job ref()s as tables
STATE_MODELS = ("chains_markets", "aave_atokens", "market_state_by_day", "market_config_by_day")
#: the hourly lake job's assets; the idempotency check re-runs them
HOUR_LAKE = ("block_numbers_by_hour", "protocol_data_by_hour")


def _table_rows(store, names) -> dict:
    return {n: store.read(n).count() for n in names}


def _digest(store, names) -> str:
    return checks.digest_rows(
        (n, *row) for n in names for row in store.read(n).collect()
    )


def cadence_hourly(ctx: Ctx) -> Outcome:
    from aave_etl_spark.datamart.models import MODELS
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans import orchestration as orch
    from aave_etl_spark.plans import runner
    from aave_etl_spark.plans.reference_pipeline import (
        HOURLY_JOB_GROUPS,
        LIQUIDITY_JOB_GROUPS,
        reference_graph,
    )

    from perfbench.gen_chain import chain_params, chain_resources, expected_lake_rows

    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    counters = (sc.accumulator(0), sc.accumulator(0)) if tracer else None
    params = chain_params(ctx.seed)
    day = params["days"][0]
    markets = list(params["markets"])
    n_ticks = units_for(ctx.seconds, TICK_NOMINAL_S)
    first_hour = ctx.seed % (25 - n_ticks)

    def inputs():
        return chain_resources(spark, params, counters), traced_graph(
            reference_graph(include_market_state=True), tracer
        )

    input_reps, (resources, graph) = repeat_setup(3, inputs)
    ops = Ops(ctx)

    def tick(hour):
        return orch.run_hour(spark, store, graph, day, hour, markets, resources,
                             groups=HOURLY_JOB_GROUPS)

    # the state the hourly chain needs: the day's lake partition, the
    # warehouse refresh and the four daily datamart models
    t = time.perf_counter()
    random.seed(JITTER_SEED)
    store = TableStore(spark, os.path.join(ctx.run_dir, "cadence"))
    for m in markets:
        orch.run_partition(spark, store, graph, orch.PartitionKey(day, m), resources,
                           selection=STATE_LAKE)
    orch.run_partition(spark, store, graph, orch.PartitionKey(day), resources,
                       selection=STATE_WAREHOUSE)
    models = {k: MODELS[k] for k in STATE_MODELS}
    needed = sorted({src for mdl in models.values() for src in mdl.sources})
    runner.run_datamart(spark, {n: store.read(n) for n in needed}, models=models, store=store)
    state_s = time.perf_counter() - t

    n_res = params["n_reserves"]
    tick_hours = range(first_hour, first_hour + n_ticks)
    reads = {
        "point": lambda: store.read(
            "protocol_data_by_hour", where=f"market = '{markets[0]}'"
        ).filter(f"hour(block_hour) = {tick_hours[-1]}").select("reserve", "atoken_supply")
        .collect(),
        "range": lambda: store.read(
            "market_state_by_hour", where=f"market = '{markets[0]}'"
        ).groupBy("reserve").count().collect(),
        # the hourly datamart table, unpartitioned like a dbt table
        "table": lambda: store.read(
            "reserve_factor_income_by_hour", where=f"market = '{markets[0]}'"
        ).groupBy("atoken_symbol").count().collect(),
    }

    # the liquidity tick first: it needs only the set-up state, and it warms
    # the write path, so the hourly ticks spread less from run to run
    ticks: list[float] = []
    t0 = time.perf_counter()
    liq, _ = ops.run("liquidity_tick", 0, lambda: orch.run_partition(
        spark, store, graph, orch.PartitionKey(day), resources,
        selection=graph.select_groups(*LIQUIDITY_JOB_GROUPS)))
    for hour in tick_hours:
        dt, _ = ops.run("cadence_hour", hour, lambda: tick(hour))
        if dt is not None:
            ticks.append(dt)
    read_s = ops.reads(reads, lambda kind, rows: checks.check_equal(
        len(rows), n_res, f"{kind} read rows"))
    job_s = time.perf_counter() - t0

    if tracer:
        tracer.count("sources.requests", counters[0].value)
        tracer.count("sources.retries", counters[1].value)
    _untrace(ctx)

    # correctness: lake and tick counts from the generator's sizes, model
    # tables against the pinned counts, the set-up state against its pinned
    # digest, and an idempotent re-run of a tick's lake job
    errors = ops.errors
    want = {**expected_lake_rows(params), **checks.hourly_rows(n_res, n_ticks)}
    errors += checks.check_counts(_table_rows(store, want), want, "cadence")
    state_tables = STATE_LAKE + STATE_WAREHOUSE + STATE_MODELS
    if ctx.seed == checks.DEFAULT_SEED:
        errors += checks.check_equal(
            _digest(store, state_tables), checks.STATE_DIGEST, "set-up state digest"
        )
    before = _digest(store, HOUR_LAKE)
    _, rerun = ops.run("rerun", 0, lambda: orch.run_partition(
        spark, store, graph, orch.PartitionKey(day, markets[0], tick_hours[0]), resources,
        selection=HOUR_LAKE))
    if rerun is not None:
        errors += checks.check_equal(_digest(store, HOUR_LAKE), before, "re-run digest")

    return Outcome(
        unit_kind="cadence_hour",
        setup_reps=input_reps,
        setup_once_s=state_s,
        units=ticks,
        job_s=job_s,
        attempted=ops.attempted,
        failed=ops.failed,
        errors=errors,
        table={
            "cadence_hour_s": (
                median(ticks), "s", "median of ticks " + ", ".join(f"{x:.2f}" for x in ticks)),
            "cadence_state_s": (state_s, "s", "set-up: lake day, warehouse, daily models"),
            "liquidity_tick_s": (liq or 0.0, "s", "one 2-hourly liquidity tick"),
        },
        reads=read_s,
        stores=[store.root],
        listed_table="protocol_data_by_hour",
    )


# ---------------------------------------------------------------------------
# corpus_day
# ---------------------------------------------------------------------------
def corpus_day(ctx: Ctx) -> Outcome:
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans import orchestration as orch
    from aave_etl_spark.plans.corpus_pipeline import BPE_MERGES, corpus_pipeline_graph

    from perfbench import gen_corpus as g

    spark, tracer = ctx.spark, ctx.tracer
    params = g.corpus_params(ctx.seed)
    day = params["day"]

    def inputs():
        rows, injected = g.landing_rows(params)
        resources = {"landing": spark.createDataFrame(rows, g.LANDING_SCHEMA)}
        changes = spark.createDataFrame(g.corrections(params), g.CORRECTIONS_SCHEMA)
        return resources, injected, changes, traced_graph(corpus_pipeline_graph(), tracer)

    input_reps, (resources, injected, changes, graph) = repeat_setup(3, inputs)
    store = TableStore(spark, os.path.join(ctx.run_dir, "corpus"))
    ops = Ops(ctx)
    want_docs = g.docs_after_merge(params)
    probe = min(params["update"])
    reads = {
        "point": lambda: store.read(
            "corpus_docs", where=f"day = DATE '{day}' AND doc_id = {probe}"
        ).select("text").collect(),
        "range": lambda: store.read("corpus_clean").groupBy("day").count().collect(),
        "table": lambda: store.read("corpus_bpe_merges").collect(),
    }
    want_reads = {
        "point": lambda rows: [tuple(r) for r in rows] == [(want_docs[probe],)],
        "range": lambda rows: [r[1] for r in rows] == [g.DOCS_PER_DAY],
        "table": lambda rows: len(rows) == BPE_MERGES,
    }

    t0 = time.perf_counter()
    day_s, _ = ops.run("corpus_day", 0, lambda: orch.run_partition(
        spark, store, graph, orch.PartitionKey(day), resources, selection=CORPUS_ASSETS))
    merge_s, _ = ops.run("corpus_merge", 0, lambda: store.merge(
        changes, "corpus_docs", ["doc_id"], partition_cols=["day"], op_col="op"))
    maint_s, maint = ops.run("corpus_maintenance", 0,
                             lambda: orch.run_maintenance(spark, corpus_store=store))
    read_s = ops.reads(reads, lambda kind, rows: [] if want_reads[kind](rows) else [
        f"{kind} read returned {rows!r:.200}"])
    job_s = time.perf_counter() - t0
    _untrace(ctx)

    # correctness: the injected duplicates are gone from the clean table and
    # their originals kept; the stored documents are the day's survivors
    # with the corrections merged, unchanged by compaction; maintenance
    # compacted without adding files and stored the BPE merge table
    errors = ops.errors
    clean = store.read("corpus_clean").select("doc_id", "day").collect()
    errors += checks.check_dedup([r.doc_id for r in clean], injected)
    errors += checks.check_counts(
        Counter(r.day.isoformat() for r in clean), {day: g.DOCS_PER_DAY},
        "corpus_clean per day")
    docs = {r.doc_id: r.text for r in store.read("corpus_docs").collect()}
    errors += checks.check_docs(docs, want_docs)
    if maint is not None:
        errors += checks.check_maintenance(maint["corpus"], BPE_MERGES)

    return Outcome(
        unit_kind="corpus_day",
        setup_reps=input_reps,
        setup_once_s=0.0,
        units=[day_s] if day_s is not None else [],
        job_s=job_s,
        attempted=ops.attempted,
        failed=ops.failed,
        errors=errors,
        table={
            "corpus_day_s": (day_s or 0.0, "s", f"{g.DOCS_PER_DAY} docs + "
                             f"{g.N_EXACT + g.N_NEAR} injected duplicates"),
            "corpus_merge_s": (merge_s or 0.0, "s", f"{len(g.corrections(params))} corrections"),
            "corpus_maintenance_s": (maint_s or 0.0, "s", "run_maintenance(corpus_store)"),
        },
        reads=read_s,
        stores=[store.root],
        listed_table="corpus_docs",
    )


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


WORKLOADS = {
    "cadence_hourly": cadence_hourly,
    "corpus_day": corpus_day,
}
