"""Datamart runner: executes Model SQL over the ref() DAG.

The reference's dbt layer is a full-refresh CREATE TABLE AS per model in
DAG order (every model is materialized='table'; dependency edges come from
ref()/source(), SURVEY §3 entry point 2). Here: inputs are registered as
temp views, each model's Spark SQL runs once every model it ref()s is
built, and its result is registered as a view for downstream ref()s.
Catalyst handles analyze/optimize per statement — including scalar
subqueries and partition pruning that BigQuery did remotely.

Concurrency: like dbt with ``threads > 1``, models whose refs are all built
run at the same time. A ready queue over the ref DAG (plans/dag.py) feeds
a thread pool of at most ``sc.defaultParallelism`` workers; one SparkContext
runs jobs from several threads at once, so each small model's query
planning, commit and task scheduling overlaps its siblings' instead of
leaving cores idle. The tables built do not depend on the pool width.

Materialization note for scale: views keep the whole datamart lazy, which
would recompute shared upstreams (all_financials feeds ~10 models). The
runner therefore materializes a model eagerly (localCheckpoint or a
warehouse write via `store`) when ≥2 downstream models ref() it — the same
cost model dbt's table materialization encodes.
"""

from __future__ import annotations

from collections import Counter
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from aave_etl_spark.datamart.models import MODELS, Model
from aave_etl_spark.io.table_store import TableStore
from aave_etl_spark.plans.dag import ReadyQueue, kahn_order


def topo_order(models: dict[str, Model] | None = None) -> list[str]:
    """Kahn's algorithm over ref() edges; deterministic (insertion order)."""
    ms = MODELS if models is None else models
    return kahn_order({n: m.refs for n, m in ms.items()}, "ref cycle or missing ref")


def run_datamart(
    spark: SparkSession,
    inputs: dict[str, DataFrame],
    models: dict[str, Model] | None = None,
    store: TableStore | None = None,
) -> dict[str, DataFrame]:
    """Run the datamart DAG over the given input tables.

    inputs: source-view name → DataFrame (lake + warehouse tables).
    Returns model name → result DataFrame in :func:`topo_order` order;
    every model also stays registered as a temp view. Missing sources and
    ref cycles raise up front, before any model runs, mirroring dbt
    compile errors.

    Scheduling: a model starts as soon as every model it ref()s is built,
    earliest in ``models`` order first, on a pool of at most
    ``min(len(models), sc.defaultParallelism)`` threads that starts a
    thread only when a ready model finds none idle. Each worker analyzes
    the model's SQL and (with ``store``) writes and reads it back; the
    calling thread registers the finished model's temp view before any
    model that ref()s it starts. Workers inherit the caller's Spark local
    properties and session tags (``pyspark.inheritable_thread_target``),
    so their jobs fall in the caller's job group.

    Failure: after the first model fails no new model starts; the running
    ones finish, then the failure is raised — the earliest in topo order
    if several failed. Models downstream of a failed one never run, and
    models that finished keep their tables. An empty ``models`` selection
    runs nothing and returns ``{}``."""
    ms = MODELS if models is None else models
    order = topo_order(ms)
    if not order:
        return {}

    needed = {s for m in ms.values() for s in m.sources}
    missing = sorted(needed - set(inputs))
    if missing:
        raise ValueError(f"missing source tables: {missing}")

    for name, df in inputs.items():
        df.createOrReplaceTempView(name)

    ref_counts = Counter(r for m in ms.values() for r in m.refs)

    def build(name: str) -> DataFrame:
        df = spark.sql(ms[name].sql)
        if store is not None:
            store.write(df, name)
            return store.read(name)
        if ref_counts[name] >= 2:
            # shared upstream: cut the lineage so each consumer doesn't
            # recompute it (dbt table-materialization cost model)
            return df.localCheckpoint(eager=False)
        return df

    queue = ReadyQueue({n: ms[n].refs for n in order})
    width = min(len(order), spark.sparkContext.defaultParallelism)
    out: dict[str, DataFrame] = {}
    failed: dict[str, BaseException] = {}
    running: dict[Future, str] = {}
    with ThreadPoolExecutor(max_workers=width, thread_name_prefix="datamart") as pool:
        while True:
            if not failed:
                for name in queue.pop_ready(width - len(running)):
                    # wrapped per model: each run gets its own copy of the
                    # caller's local properties, which Spark mutates per job
                    target = inheritable_thread_target(spark)(build)
                    running[pool.submit(target, name)] = name
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                exc = fut.exception()
                if exc is not None:
                    failed[name] = exc
                    continue
                df = fut.result()
                df.createOrReplaceTempView(name)
                out[name] = df
                queue.done(name)
    if failed:
        raise failed[min(failed, key=order.index)]
    return {n: out[n] for n in order}
