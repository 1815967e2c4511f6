"""Structured Streaming tests: availableNow drain over real parquet,
in-stream snapshot dedup, session windows with watermark."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from aave_etl_spark.streaming import (
    dedup_snapshot_stream,
    sessionized_stream,
    stream_lake_table,
)
from aave_etl_spark.streaming.micro_batch import run_available_now


def _write_snapshot(spark, path, rows):
    spark.createDataFrame(
        rows, "market string, reserve string, fetch_time timestamp, value double"
    ).write.mode("append").parquet(path)


def test_available_now_drains_and_dedups(spark, tmp_path):
    lake = str(tmp_path / "lake")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    # duplicate (key, fetch_time) rows simulating an at-least-once replay
    _write_snapshot(
        spark,
        lake,
        [
            ("m1", "0xa", t0, 1.0),
            ("m1", "0xa", t0, 1.0),
            ("m1", "0xa", t0 + timedelta(minutes=5), 2.0),
            ("m2", "0xb", t0, 3.0),
        ],
    )
    schema = spark.read.parquet(lake).schema
    out_dir = str(tmp_path / "out")
    stream = stream_lake_table(spark, lake, schema)
    assert stream.isStreaming
    deduped = dedup_snapshot_stream(stream, ["market", "reserve"])
    q = run_available_now(
        deduped, str(tmp_path / "ckpt"), query_name="snap_test",
        fmt="parquet", path=out_dir,
    )
    q.awaitTermination(60)
    out = spark.read.parquet(out_dir)
    assert out.count() == 3  # replayed duplicate dropped
    assert out.filter((F.col("market") == "m1") & (F.col("value") == 1.0)).count() == 1

    # restart with new files: checkpoint makes the second drain incremental
    _write_snapshot(spark, lake, [("m3", "0xc", t0, 4.0)])
    q2 = run_available_now(
        stream_lake_table(spark, lake, schema)
        .transform(lambda df: dedup_snapshot_stream(df, ["market", "reserve"])),
        str(tmp_path / "ckpt"),
        query_name="snap_test2",
        fmt="parquet",
        path=out_dir,
    )
    q2.awaitTermination(60)
    out2 = spark.read.parquet(out_dir)
    assert out2.count() == 4  # exactly one new row appended after restart


def test_sessionized_stream(spark, tmp_path):
    lake = str(tmp_path / "events")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [
            (1, t0, 1.0),
            (1, t0 + timedelta(minutes=10), 2.0),   # same session (gap < 30m)
            (1, t0 + timedelta(hours=3), 5.0),      # new session
            (2, t0, 7.0),
        ],
        "user_id long, ts timestamp, value double",
    ).write.parquet(lake)
    schema = spark.read.parquet(lake).schema
    sessions = sessionized_stream(stream_lake_table(spark, lake, schema))
    q = run_available_now(
        sessions, str(tmp_path / "ckpt2"), output_mode="complete", query_name="sess_test"
    )
    q.awaitTermination(60)
    out = {(r.user_id, r.session_start): r for r in spark.sql("select * from sess_test").collect()}
    assert len(out) == 3
    first = out[(1, t0)]
    assert first.n_events == 2
    assert first.session_value == 3.0


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key totals carry across checkpointed
    availableNow drains (state survives restart), one emitted row per key
    per batch it appears in."""
    from aave_etl_spark.streaming import stateful_running_totals

    lake = str(tmp_path / "lake")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [(1, t0, 1.0), (1, t0 + timedelta(minutes=1), 2.0), (2, t0, 3.0)],
        "user_id bigint, ts timestamp, value double",
    ).write.mode("append").parquet(lake)
    schema = spark.read.parquet(lake).schema
    out_dir = str(tmp_path / "out")

    def drain(name):
        q = run_available_now(
            stateful_running_totals(stream_lake_table(spark, lake, schema)),
            str(tmp_path / "ckpt"),
            query_name=name,
            fmt="parquet",
            path=out_dir,
        )
        q.awaitTermination(120)

    drain("stateful1")
    out1 = {r.user_id: (r.total, r.n_events) for r in spark.read.parquet(out_dir).collect()}
    assert out1 == {1: (3.0, 2), 2: (3.0, 1)}

    # second drain: only user 1 gets new events; its state accumulates
    spark.createDataFrame(
        [(1, t0 + timedelta(minutes=2), 4.0)],
        "user_id bigint, ts timestamp, value double",
    ).write.mode("append").parquet(lake)
    drain("stateful2")
    rows = spark.read.parquet(out_dir).collect()
    assert (1, 7.0, 3) in {(r.user_id, r.total, r.n_events) for r in rows}
    # user 2 emitted nothing new in batch 2
    assert sum(1 for r in rows if r.user_id == 2) == 1


def test_incremental_corpus_ingest_dedups_against_store(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.streaming.micro_batch import (
        incremental_corpus_ingest,
        stream_lake_table,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    store = TableStore(spark, str(tmp_path / "warehouse"))
    # seed corpus: docs A, B (digest column as the ingest writes it)
    seed = spark.createDataFrame(
        [(1, "doc alpha"), (2, "doc beta")], "doc_id long, text string"
    ).withColumn("digest", F.md5(F.col("text")))
    store.write(seed, "corpus", append_only=True)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    # batch 1: B again (already in corpus), C twice (within-batch dup)
    spark.createDataFrame(
        [(3, "doc beta"), (4, "doc gamma"), (5, "doc gamma")], schema
    ).write.mode("append").parquet(str(inbox))

    q = incremental_corpus_ingest(
        store, stream_lake_table(spark, str(inbox), schema), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = store.read("corpus").select("text").collect()
    assert sorted(r.text for r in got) == ["doc alpha", "doc beta", "doc gamma"]

    # batch 2: C again + new D; restart with the SAME checkpoint
    spark.createDataFrame([(6, "doc gamma"), (7, "doc delta")], schema).write.mode(
        "append"
    ).parquet(str(inbox))
    q2 = incremental_corpus_ingest(
        store, stream_lake_table(spark, str(inbox), schema), str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    got2 = store.read("corpus").select("text").collect()
    assert sorted(r.text for r in got2) == [
        "doc alpha",
        "doc beta",
        "doc delta",
        "doc gamma",
    ]


def test_dedup_keys_within_watermark_drops_jittered_replays(spark, tmp_path):
    """Retries of one event carry different timestamps; copies within the
    watermark delay of the first arrival collapse to one row per key."""
    from aave_etl_spark.streaming.micro_batch import dedup_keys_within_watermark

    lake = str(tmp_path / "lake")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [
            ("tx1", t0, 1.0),
            ("tx1", t0 + timedelta(minutes=7), 1.0),   # replay, jittered ts
            ("tx2", t0 + timedelta(minutes=1), 2.0),
            ("tx3", t0 + timedelta(minutes=2), 3.0),
            ("tx3", t0 + timedelta(minutes=30), 3.0),  # replay, jittered ts
        ],
        "tx string, ts timestamp, value double",
    ).write.parquet(lake)
    schema = spark.read.parquet(lake).schema
    out_dir = str(tmp_path / "out")
    stream = stream_lake_table(spark, lake, schema)
    q = run_available_now(
        dedup_keys_within_watermark(stream, ["tx"]), str(tmp_path / "ckpt"),
        query_name="dedup_wm_test", fmt="parquet", path=out_dir,
    )
    q.awaitTermination(60)
    got = sorted((r.tx, r.value) for r in spark.read.parquet(out_dir).collect())
    assert got == [("tx1", 1.0), ("tx2", 2.0), ("tx3", 3.0)]


def test_windowed_rollup_stream_matches_hourly_truncation(spark, tmp_path):
    """Closed tumbling windows are emitted once, aligned to the hour, with
    the same counts and sums as a batch ``date_trunc('hour')`` rollup."""
    from aave_etl_spark.streaming.micro_batch import windowed_rollup_stream

    lake = str(tmp_path / "lake")
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        ("supply", t0 + timedelta(minutes=5), 1.0),
        ("supply", t0 + timedelta(minutes=55), 2.0),
        ("borrow", t0 + timedelta(minutes=20), 4.0),
        ("supply", t0 + timedelta(hours=1, minutes=1), 8.0),
        # far-future event: moves the watermark past every earlier window
        ("borrow", t0 + timedelta(hours=5), 16.0),
    ]
    spark.createDataFrame(rows, "event_type string, ts timestamp, value double").write.parquet(lake)
    schema = spark.read.parquet(lake).schema
    out_dir = str(tmp_path / "out")
    q = run_available_now(
        windowed_rollup_stream(stream_lake_table(spark, lake, schema)),
        str(tmp_path / "ckpt"), query_name="rollup_test", fmt="parquet", path=out_dir,
    )
    q.awaitTermination(60)
    got = sorted(
        (r.event_type, r.window_start, r.n_events, r.total_value)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [
        ("borrow", t0, 1, 4.0),
        ("supply", t0, 2, 3.0),
        ("supply", t0 + timedelta(hours=1), 1, 8.0),
    ]
