"""Continuous ingest equivalents of the reference's batch constructs.

- ``stream_lake_table``: file-source readStream over a lake directory with
  ``Trigger.AvailableNow`` — the streaming form of the reference's hourly
  cron partitions (protocol_hourly_data_lake.py:49-54): each trigger
  drains whatever files landed, checkpoints, and stops; restart-safe.
- ``dedup_snapshot_stream``: ``dropDuplicates`` on
  ``(partition_key, fetch_time)`` with a watermark — the reference's
  append-only snapshot idempotency (fetch_time-keyed tables,
  protocol_data_lake.py:1044, 2023) done in-stream so replays and
  at-least-once sources don't double-write (SURVEY §2.10's prescription).
- ``sessionized_stream``: watermarked session-window aggregation — the
  streaming form of the batch sessionization query; state is bounded by
  the watermark.

At scale: file listing is incremental (checkpointed), state stores are
per-key partitioned, and ``availableNow`` gives cron-compatible batch
semantics with streaming exactly-once bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_lake_table(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
) -> DataFrame:
    """Incremental file-source stream over a lake table directory."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def dedup_snapshot_stream(
    stream: DataFrame,
    key_cols: list[str],
    fetch_time_col: str = "fetch_time",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once snapshot semantics: drop replayed (key, fetch_time)
    rows within the watermark horizon. State is bounded: a key's dedup
    entry ages out once the watermark passes its fetch_time."""
    return stream.withWatermark(fetch_time_col, watermark).dropDuplicates(
        [*key_cols, fetch_time_col]
    )


def dedup_keys_within_watermark(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once ingest dedup for REPLAYED events whose retries carry
    DIFFERENT timestamps: ``dropDuplicatesWithinWatermark`` keeps one row
    per key among arrivals whose event times fall within the watermark
    delay of each other — the case ``dedup_snapshot_stream`` (exact
    (key, ts) match) cannot catch, and the reason Spark 3.5 added the
    operator.

    State stays bounded: a key's entry ages out once the watermark passes
    its first-arrival event time. Which physical copy survives is
    arrival-order-dependent — downstream certification must project only
    columns identical across copies (the key and its payload), never the
    jittered timestamp."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def sessionized_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    value_col: str = "value",
) -> DataFrame:
    """Session-window aggregation with late-data handling: one row per
    (key, session) with event count and value sum. The batch twin is the
    `sessionize_events` registry query (lag-gap + cumulative sum)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("session_value"),
        )
        .select(
            key_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def windowed_rollup_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window rollup with late-data handling: one row per
    (window, key) with event count and value sum — the streaming twin of
    the batch ``date_trunc`` rollup (`hypertable_rollup`). Windows align
    to the epoch, so `F.window(ts, '1 hour')` and `date_trunc('hour')`
    agree exactly; append mode emits a window only once the watermark
    passes its end (state stays bounded to the watermark horizon)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    query_name: str = "lake_ingest",
    fmt: str = "memory",
    path: str | None = None,
):
    """Drain-everything-then-stop execution — cron-compatible micro-batch
    with streaming checkpoints. Returns the started StreamingQuery; caller
    awaits termination. Use a file sink (``fmt='parquet'``, ``path=...``)
    when the checkpoint must survive restarts — the memory sink does not
    support checkpoint recovery."""
    w = (
        df.writeStream.format(fmt)
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if path is not None:
        w = w.option("path", path)
    return w.start()


def stateful_running_totals(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
    idle_horizon_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (total, n_events) carried across micro-batches, one updated
    row emitted per key per batch it appears in.

    This is the streaming form of the reference's cumulative account-state
    tables (per-day balance rollups recomputed batch-wise) for sources that
    drip-feed events. Scale design: state lives in the per-key partitioned
    state store (RocksDB on a cluster), and EventTimeTimeout expires keys
    idle past the watermark + horizon, so state is BOUNDED by active keys,
    not all-time keys — the property that keeps this runnable forever at
    100 TB/day ingest. Arrow-batched: one Python call per key-group per
    batch, never per row."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} bigint, total double, n_events bigint"
    state_schema = "total double, n bigint, max_ts_ms bigint"

    def update(key, pdfs, state):
        if state.hasTimedOut:
            # idle key aged out: drop state, emit nothing (the last emitted
            # row already holds the final total)
            state.remove()
            return
        total, n, max_ts = state.get if state.exists else (0.0, 0, 0)
        for pdf in pdfs:
            total += float(pdf[value_col].sum())
            n += int(len(pdf))
            if len(pdf):
                max_ts = max(max_ts, int(pdf[ts_col].max().value // 1_000_000))
        state.update((total, n, max_ts))
        state.setTimeoutTimestamp(max_ts + idle_horizon_ms)
        yield pd.DataFrame({key_col: [key[0]], "total": [total], "n_events": [n]})

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def incremental_corpus_ingest(
    store,
    incoming: DataFrame,
    checkpoint_dir: str,
    name: str = "corpus",
    text_col: str = "text",
):
    """Continuous corpus ingest with content-level dedup: new documents
    stream in, anything whose content digest already exists in the corpus
    is dropped, the remainder appends — the streaming form of the exact
    dedup a pretraining pipeline runs on every ingest batch.

    Per micro-batch (foreachBatch): dedup within the batch on the digest,
    LEFT ANTI join against the corpus's CURRENT digest set (re-read each
    batch, so batch N+1 sees batch N's appends), then append through the
    store. The anti-join makes the at-least-once foreachBatch retry
    contract harmless: a replayed batch finds its own digests already
    present and appends nothing — content-level idempotency instead of
    sink-level transactions.

    At 100 TB: the digest set is a single narrow column off the corpus
    table (scan prunes to it); the anti-join shuffles on the uniform
    128-bit digest. With a digest-bucketed corpus (write_bucketed) the
    anti-join runs exchange-free on the corpus side. Returns the started
    availableNow StreamingQuery.
    """
    from aave_etl_spark.operators.dedup import normalize_text

    withd = incoming.withColumn("digest", F.md5(normalize_text(text_col)))

    def _ingest(bdf: DataFrame, _batch_id: int) -> None:
        fresh = bdf.dropDuplicates(["digest"])
        existing = store.read(name)
        if "digest" in existing.columns:
            fresh = fresh.join(
                existing.select("digest").distinct(), "digest", "left_anti"
            )
        store.write(fresh, name, append_only=True)

    return (
        withd.writeStream.foreachBatch(_ingest)
        .queryName("corpus_ingest")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

