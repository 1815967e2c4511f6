"""Skew mitigation: scan fan-out for under-partitioned inputs.

AQE's skew-join splitting (enabled session-wide) handles shuffle skew at
runtime by splitting oversized shuffle partitions. It cannot help a narrow
scan that arrives in fewer partitions than the cluster has slots: there is
no shuffle to split, so every downstream map stage runs on a few tasks.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# logical-plan node classes that make a frame more than a narrow scan
_NOT_NARROW = ("Join", "Aggregate", "Window", "Repartition", "Sort")


def _plan_node_classes(jplan) -> Iterator[str]:
    """Class names of every node in a JVM logical plan, its subquery and
    cached inner plans included (the nodes its tree string prints)."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        yield node.getClass().getSimpleName()
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def fan_out_scan(df: DataFrame, key_col: str) -> DataFrame:
    """INPUT-SKEW remedy (guide §2.5): when a narrow scan arrives in fewer
    partitions than the cluster has slots — one unsplittable file, or a
    single-row-group parquet that maxPartitionBytes cannot split — every
    downstream map stage (tokenize, explode, hash, regex) runs on ONE
    task while the rest of the cluster idles. Repartition by the row key
    so the per-row work parallelizes.

    SCALE-ADAPTIVE, not a local-mode constant: the target is
    defaultParallelism (slots), and the repartition only fires when the
    scan has fewer partitions than that — on a real 100 TB input (many
    files/row groups) it is a plan-level no-op, so no corpus-wide shuffle
    is ever added at scale.

    VALUE-SAFETY CONTRACT: callers must ensure every downstream
    order-sensitive aggregation is keyed through a deterministic shuffle
    with exact semantics (int counts, min/max, string/md5 keys) before
    any floating-point accumulation — the repartition changes which task
    processes which row, so a float sum taken DIRECTLY over the scan
    layout could drift in the last ulp. Apply at narrow scan-shaped
    inputs only; the plan-shape guard below declines anything already
    carrying a join/aggregate/window node (splitting those is the
    planner's job, and inspecting their RDD here could execute stages
    under AQE). It matches node classes, not plan text, so a column
    named e.g. ``JoinDate`` does not read as a join."""
    jplan = df._jdf.queryExecution().optimizedPlan()
    if any(k in c for c in _plan_node_classes(jplan) for k in _NOT_NARROW):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # the partition probe compiles the plan to an RDD (safe for a narrow
    # plan — nothing executes), but that costs tens of ms per builder
    # call; the decision is a pure function of the scanned FILES under a
    # fixed session conf, so memoize it per file set (metadata only,
    # dies with the process)
    files = tuple(sorted(df.inputFiles()))
    fan = _FAN_DECISION.get(files) if files else None
    if fan is None:
        fan = df.rdd.getNumPartitions() < target
        if files:
            _FAN_DECISION[files] = fan
    if not fan:
        return df
    return df.repartition(target, F.col(key_col))


# (file set) -> whether the scan needs fanning out; see fan_out_scan
_FAN_DECISION: dict[tuple, bool] = {}
