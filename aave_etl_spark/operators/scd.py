"""Slowly-changing-dimension snapshots from change logs.

The reference's warehouse keeps daily full snapshots of mutable entity
state (market config, reserve parameters — aave_data/resources/
data_warehouse.py rebuilds per-day slices); the SCD Type-2 form is the
storage-efficient twin every dimensional warehouse eventually needs:
one row per (entity, version) with a validity interval instead of one
row per (entity, day). This module derives that versioned dimension
from an event-level change log with plain window functions — no state,
no iteration, one shuffle on the entity key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_snapshot(
    changes: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "ts",
    seq_cols: list[str] | None = None,
) -> DataFrame:
    """Build an SCD Type-2 dimension from a change log: one row per
    (key, version) carrying ``effective_from`` / ``effective_to`` /
    ``is_current`` / ``version``.

    Semantics (the standard Kimball Type-2 contract):

    1. Order each key's changes by (``ts_col``, ``seq_cols``) — the seq
       columns break same-timestamp ties deterministically (pass the
       change-log's own id; required if timestamps can collide).
    2. Drop NO-OP changes: a row whose attributes equal the previous
       row's is not a new version (LAG compare over a struct of the
       attrs — NULL-safe via eqNullSafe).
    3. ``effective_from`` = the change's timestamp; ``effective_to`` =
       the NEXT version's timestamp (half-open interval, so an as-of
       probe is ``from <= t < to``); the latest version has NULL
       ``effective_to`` and ``is_current`` = true. ``version`` numbers
       from 1 in change order.

    Dataflow at 100 TB: both windows partition by the entity key — one
    shuffle of the change log, no global window, no iteration. The
    output is strictly smaller than the input (no-ops drop), and the
    standard consumers compose directly: point-in-time state is an
    as-of filter, history joins are range joins on the interval."""
    if not key_cols or not attr_cols:
        raise ValueError("scd2_snapshot needs key_cols and attr_cols")
    order: list[Column] = [F.col(ts_col)] + [F.col(c) for c in (seq_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    versioned = (
        changes.withColumn("_prev", F.lag(attrs).over(w))
        # first row per key (NULL _prev) is always a version
        .filter(~attrs.eqNullSafe(F.col("_prev")))
        .drop("_prev")
    )
    wv = Window.partitionBy(*key_cols).orderBy(*order)
    return versioned.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("effective_from"),
        F.lead(F.col(ts_col)).over(wv).alias("effective_to"),
        F.lead(F.col(ts_col)).over(wv).isNull().alias("is_current"),
        F.row_number().over(wv).cast("long").alias("version"),
    )


def scd2_as_of(
    dim: DataFrame, ts, ts_col_from: str = "effective_from",
    ts_col_to: str = "effective_to",
) -> DataFrame:
    """Point-in-time slice of an SCD2 dimension: the versions valid at
    ``ts`` under the half-open contract (from <= ts < to, open current
    row included). A literal predicate — partition/footer prunable, no
    join."""
    t = F.lit(ts)
    return dim.filter(
        (F.col(ts_col_from) <= t)
        & (F.col(ts_col_to).isNull() | (t < F.col(ts_col_to)))
    )
