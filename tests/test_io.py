"""TableStore sink/read semantics (SURVEY §2.1 K1-K4) and bucketed
co-location — direct tests for the IO layer the datamart runner builds on."""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from aave_etl_spark.io.table_store import TableStore


def _store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "warehouse"))


def test_k1_dynamic_partition_overwrite(spark, tmp_path):
    """Rewriting one partition's slice must leave sibling partitions
    intact (the reference's delete-then-append idempotency)."""
    store = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [("2024-01-01", "m1", 1.0), ("2024-01-01", "m2", 2.0)],
        "day string, market string, v double",
    )
    store.write(df, "t", partition_cols=["day", "market"])
    # replay m1's partition with a corrected value
    fixed = spark.createDataFrame(
        [("2024-01-01", "m1", 9.0)], "day string, market string, v double"
    )
    store.write(fixed, "t", partition_cols=["day", "market"])
    out = {(r.market, r.v) for r in store.read("t").collect()}
    assert out == {("m1", 9.0), ("m2", 2.0)}


def test_k2_append_only(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    store.write(df, "t", append_only=True)
    store.write(df, "t", append_only=True)
    assert store.read("t").count() == 2


def test_k3_missing_table_and_pruned_read(spark, tmp_path):
    store = _store(spark, tmp_path)
    schema = StructType([StructField("k", StringType())])
    empty = store.read("nope", schema=schema)
    assert empty.count() == 0 and empty.schema == schema

    df = spark.createDataFrame(
        [("2024-01-01", 1.0), ("2024-01-02", 2.0)], "day string, v double"
    )
    store.write(df, "t", partition_cols=["day"])
    got = store.read("t", where="day = '2024-01-02'")
    assert [r.v for r in got.collect()] == [2.0]


def test_k4_plain_roundtrip_strips_meta(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    store.write(df, "t")
    out = store.read("t")
    assert set(out.columns) == {"k", "v"}
    assert store.read("t", keep_meta=True).columns != out.columns


def test_unpartitioned_overwrite_replaces_every_row(spark, tmp_path):
    """An unpartitioned overwrite is the whole table: rows absent from the
    new frame are gone, and the swap leaves no staging directory."""
    store = _store(spark, tmp_path)
    store.write(spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double"), "t")
    assert store.write(spark.createDataFrame([("c", 3.0)], "k string, v double"), "t")
    assert [(r.k, r.v) for r in store.read("t").collect()] == [("c", 3.0)]
    assert not os.path.exists(_staging(store, "t"))


def test_unpartitioned_append_keeps_existing_part_files(spark, tmp_path):
    """An unpartitioned append moves its staged part files into the live
    table beside the ones already there; no existing file is rewritten."""
    store = _store(spark, tmp_path)
    store.write(spark.createDataFrame([("a", 1.0)], "k string, v double"), "t", append_only=True)
    before = {f: os.path.getsize(f) for f in store._parquet_files("t")}
    assert store.write(
        spark.createDataFrame([("b", 2.0)], "k string, v double"), "t", append_only=True
    )
    after = {f: os.path.getsize(f) for f in store._parquet_files("t")}
    assert before.items() <= after.items() and len(after) > len(before)
    assert sorted((r.k, r.v) for r in store.read("t").collect()) == [("a", 1.0), ("b", 2.0)]
    assert not os.path.exists(_staging(store, "t"))


def test_partitioned_append_leaves_other_partitions_untouched(spark, tmp_path):
    """A partitioned append adds rows to the partitions it writes and
    touches no file of any other partition."""
    store = _store(spark, tmp_path)
    df = spark.createDataFrame([("d1", 1), ("d2", 2)], "day string, v long")
    store.write(df, "t", partition_cols=["day"], append_only=True)
    d2 = sorted(str(p) for p in (tmp_path / "warehouse" / "t" / "day=d2").glob("*.parquet"))
    store.write(
        spark.createDataFrame([("d1", 3)], "day string, v long"),
        "t", partition_cols=["day"], append_only=True,
    )
    got = sorted((r.day, r.v) for r in store.read("t").collect())
    assert got == [("d1", 1), ("d1", 3), ("d2", 2)]
    assert sorted(
        str(p) for p in (tmp_path / "warehouse" / "t" / "day=d2").glob("*.parquet")
    ) == d2


@pytest.mark.parametrize("append_only", [False, True], ids=["overwrite", "append"])
def test_failed_staged_write_onto_missing_table_leaves_it_missing(
    spark, tmp_path, append_only
):
    """An unpartitioned write whose job fails onto a table that did not
    exist leaves neither the table nor its staging directory: the read
    serves the typed empty frame (K3)."""
    store = _store(spark, tmp_path)
    failing = spark.range(10).select(
        F.col("id").alias("k"), F.assert_true(F.col("id") < 5).alias("ok")
    )
    with pytest.raises(Exception, match="is not true"):
        store.write(failing, "t", append_only=append_only)
    assert not store.exists("t")
    assert not os.path.exists(_staging(store, "t"))
    schema = StructType([StructField("k", LongType())])
    empty = store.read("t", schema=schema)
    assert empty.schema == schema and empty.count() == 0


def test_merge_only_the_delete_op_removes_rows(spark, tmp_path):
    """Only an op of exactly ``"D"`` deletes; any other op value (lower
    case ``"d"``, an unknown code, the empty string) upserts its row."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(k, float(k)) for k in range(1, 6)], "k long, v double"
    )
    store.write(base, "m")
    changes = spark.createDataFrame(
        [(1, 0.0, "D"), (2, 20.0, "d"), (3, 30.0, "X"), (4, 40.0, ""), (6, 60.0, "I")],
        "k long, v double, op string",
    )
    assert store.merge(changes, "m", ["k"], op_col="op")
    got = {r.k: r.v for r in store.read("m").collect()}
    assert got == {2: 20.0, 3: 30.0, 4: 40.0, 5: 5.0, 6: 60.0}
    assert store.read("m").columns == ["k", "v"]


def test_compact_partition_over_target_stays_one_file(spark, tmp_path):
    """A partition larger than ``target_file_bytes`` still compacts to one
    file: hash partitioning on the partition column cannot split a value."""
    store = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [(d, i) for d in ("d1", "d2") for i in range(300)], "day string, k long"
    ).repartition(8)
    store.write(df, "t", partition_cols=["day"])
    before = sorted(store.read("t").collect())
    total = sum(os.path.getsize(f) for f in store._parquet_files("t"))
    n_before = len(store._parquet_files("t"))
    assert n_before > 2
    # each partition holds about half the bytes, so each is over target
    fb, fa = store.compact("t", partition_cols=["day"], target_file_bytes=max(1, total // 4))
    assert (fb, fa) == (n_before, 2)
    assert sorted(store.read("t").collect()) == before


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange operators — bucket i zips with bucket i."""
    store = _store(spark, tmp_path)
    facts = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    dims = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    try:
        store.write_bucketed(facts, "bf", ["k"], n_buckets=8, sort_cols=["k"])
        store.write_bucketed(dims, "bd", ["k"], n_buckets=8, sort_cols=["k"])
        joined = (
            store.read_bucketed("bf")
            .hint("merge")  # forbid broadcast so the shuffle question is real
            .join(store.read_bucketed("bd"), "k")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bf")
        spark.sql("DROP TABLE IF EXISTS bd")


def _bucket_ids(store, name):
    """The bucket ids of a bucketed table's files (``..._<id>.c000...``)."""
    return {
        int(re.search(r"_(\d+)\.", os.path.basename(f)).group(1))
        for f in store._parquet_files(name)
    }


def test_write_bucketed_sizes_buckets_to_slots_once(spark, tmp_path, monkeypatch):
    """A build picks ``defaultParallelism`` buckets; an append under a
    different default keeps the table's spec (its files hash into the
    table's buckets); a rebuild picks the count again."""
    from pyspark import SparkContext

    def slots(n):
        monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: n))

    store = _store(spark, tmp_path)
    df = spark.range(200).select(F.col("id").alias("k"))
    try:
        slots(3)
        assert store.write_bucketed(df, "bk_rule", ["k"], sort_cols=["k"]) == 3
        assert store._num_buckets("bk_rule") == 3
        slots(5)
        assert store.write_bucketed(df, "bk_rule", ["k"], sort_cols=["k"], mode="append") == 3
        assert store._num_buckets("bk_rule") == 3
        assert _bucket_ids(store, "bk_rule") == {0, 1, 2}
        assert store.read_bucketed("bk_rule").count() == 400
        assert store.write_bucketed(df, "bk_rule", ["k"]) == 5
        assert store._num_buckets("bk_rule") == 5
        assert _bucket_ids(store, "bk_rule") == set(range(5))
        assert store.read_bucketed("bk_rule").count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_rule")


def test_compact_leaves_an_already_compact_table_alone(spark, tmp_path):
    """One file per partition directory (unpartitioned: no more than the
    target count) is already compact: ``compact`` reports ``(n, n)`` and
    runs no Spark job, and every file keeps its name. A crash-left swap
    is still healed first, and a partition that holds two files is still
    rewritten."""
    store = _store(spark, tmp_path)
    sc = spark.sparkContext
    df = spark.createDataFrame(
        [(d, i) for d in ("d1", "d2") for i in range(20)], "day string, k long"
    )
    store.write(df.repartition("day"), "p", partition_cols=["day"])
    store.write(df.coalesce(1), "u")
    def rows():
        return sorted((r.day, r.k) for r in store.read("p").collect())

    want = rows()
    for name, cols in (("p", ["day"]), ("u", None)):
        files = sorted(store._parquet_files(name))
        group = f"compact-noop-{name}"
        try:
            sc.setJobGroup(group, group)
            assert store.compact(name, partition_cols=cols) == (len(files), len(files))
            assert not sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sorted(store._parquet_files(name)) == files
    # crash between _swap_in's two renames: the next compact heals it
    live = os.path.join(store.root, "p")
    with open(live + ".__swap_pending", "w") as f:
        f.write("p")
    os.replace(live, live + ".__old")
    assert store.compact("p", partition_cols=["day"]) == (2, 2)
    assert rows() == want
    assert not os.path.exists(live + ".__old")
    # a second file in one partition: compacted back to one per directory
    extra = spark.createDataFrame([("d1", 99)], "day string, k long")
    store.write(extra, "p", partition_cols=["day"], append_only=True)
    assert store.compact("p", partition_cols=["day"]) == (3, 2)
    assert rows() == sorted(want + [("d1", 99)])


def test_compact_partitioned_preserves_content_and_shrinks_files(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2026-01-01", "2026-01-02") for i in range(200)],
        "day string, k long, v double",
    ).repartition(16)  # many write tasks -> many small files per partition
    store.write(df, "t", partition_cols=["day"])
    before_rows = sorted(store.read("t").collect())
    n_before = len(store._parquet_files("t"))
    assert n_before > 2  # the problem exists

    fb, fa = store.compact("t", partition_cols=["day"])
    assert (fb, fa) == (n_before, 2)  # one file per partition directory
    after = store.read("t")
    assert sorted(after.collect()) == before_rows
    # partition pruning still works on the compacted layout
    assert store.read("t", where="day = '2026-01-01'").count() == 200
    # provenance stamps survive compaction
    assert "_load_timestamp" in store.read("t", keep_meta=True).columns


def test_compact_unpartitioned_and_missing(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    assert store.compact("nope") == (0, 0)
    df = spark.createDataFrame([(i,) for i in range(100)], "k long").repartition(8)
    store.write(df, "u")
    fb, fa = store.compact("u")
    assert fb >= 8 and fa == 1
    assert store.read("u").count() == 100


def test_compact_crash_window_recovery(spark, tmp_path):
    """A crash between compact's two renames leaves only <name>.__old; the
    store must restore it on the next touch instead of serving K3 empty."""
    import os

    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(i,) for i in range(50)], "k long")
    store.write(df, "crashy")

    def break_mid_swap():
        # simulate the half-swapped state: marker written, live moved
        # aside, replacement never renamed in (the crash window between
        # compact's two os.replace calls)
        (tmp_path / "crashy.__swap_pending").write_text("crashy")
        os.replace(str(tmp_path / "crashy"), str(tmp_path / "crashy.__old"))

    break_mid_swap()
    assert store.exists("crashy")  # auto-restored, not reported missing
    assert store.read("crashy").count() == 50
    assert not os.path.exists(str(tmp_path / "crashy.__old"))
    # the marker is NOT removed on restore: a bare (live, marker) state is
    # indistinguishable from a concurrent compact between its marker write
    # and first rename, and deleting an in-flight marker would re-open the
    # silent-empty window. The next compact rewrites it.
    assert os.path.exists(str(tmp_path / "crashy.__swap_pending"))
    # compact on a freshly re-broken table also self-heals before counting
    break_mid_swap()
    fb, fa = store.compact("crashy")
    assert fb >= 1 and fa >= 1
    assert store.read("crashy").count() == 50


def test_compact_post_swap_debris_never_resurrects(spark, tmp_path):
    """.__old WITHOUT the swap-pending marker is post-swap debris (crash
    after the swap, before cleanup): it must be cleaned when live exists,
    and must NOT resurrect a stale copy when live was removed externally."""
    import os
    import shutil

    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write(spark.createDataFrame([(1,)], "k long"), "t")
    # crash-after-swap shape: old stale copy remains next to the new live
    shutil.copytree(str(tmp_path / "t"), str(tmp_path / "t.__old"))
    assert store.exists("t")
    assert not os.path.exists(str(tmp_path / "t.__old"))  # debris cleaned
    # live removed externally + unmarked old: respect the deletion
    shutil.copytree(str(tmp_path / "t"), str(tmp_path / "t.__old"))
    shutil.rmtree(str(tmp_path / "t"))
    assert not store.exists("t")
    assert store.read("t").count() == 0  # K3 typed-empty, not stale data
    # and the stale unmarked .__old is reclaimed, not left on disk forever
    assert not os.path.exists(str(tmp_path / "t.__old"))


# write modes by their keyword arguments; "seed" is the write that builds the
# existing table the mode is then applied to
WRITE_MODES = {
    "overwrite": ({}, {}),
    "dynamic": ({"partition_cols": ["p"]}, {"partition_cols": ["p"]}),
    "append_partitioned": (
        {"partition_cols": ["p"], "append_only": True},
        {"partition_cols": ["p"], "append_only": True},
    ),
    "append": ({"append_only": True}, {"append_only": True}),
}


def _staging(store, name):
    return os.path.join(store.root, f"{name}.__staging")


def _frame(spark, n):
    return spark.range(n).select(F.col("id").alias("k"), (F.col("id") % 3).alias("p"))


@pytest.mark.parametrize("existing", [True, False], ids=["existing", "missing"])
@pytest.mark.parametrize("mode", list(WRITE_MODES))
def test_empty_write_is_skipped_in_every_mode(spark, tmp_path, mode, existing):
    """An empty frame returns False and changes nothing on disk: an
    existing table keeps its rows and its parquet files, a missing table
    stays missing (K3 typed-empty), and no staging directory is left."""
    store = _store(spark, tmp_path)
    kwargs, seed_kwargs = WRITE_MODES[mode]
    if existing:
        assert store.write(_frame(spark, 10), "t", **seed_kwargs)
    rows = sorted(store.read("t").collect())
    files = sorted(store._parquet_files("t"))

    assert store.write(_frame(spark, 0), "t", **kwargs) is False
    assert sorted(store.read("t").collect()) == rows
    assert sorted(store._parquet_files("t")) == files
    assert store.exists("t") is existing
    assert not os.path.exists(_staging(store, "t"))


@pytest.mark.parametrize("mode", list(WRITE_MODES))
def test_write_runs_one_spark_job(spark, tmp_path, mode):
    """The empty-write skip comes from the write job's own row count, so a
    plain write is one Spark job, onto a missing table and onto an existing
    one."""
    store = _store(spark, tmp_path)
    sc = spark.sparkContext
    kwargs, _ = WRITE_MODES[mode]
    try:
        for attempt in ("missing", "existing"):
            group = f"one-job-{mode}-{attempt}"
            sc.setJobGroup(group, group)
            assert store.write(_frame(spark, 30), "t", **kwargs)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, attempt
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    want = 60 if kwargs.get("append_only") else 30
    assert store.read("t").count() == want


def test_staged_overwrite_read_runs_no_inference_job(spark, tmp_path):
    """An unpartitioned overwrite records the schema it wrote: the next
    read runs no Spark job, and its schema equals what footer inference
    gives, for every column type below. Partitioned writes are left to
    inference (partition columns are typed from the directory names)."""
    from aave_etl_spark.io.table_store import _SCHEMA_MEMO, META_COLS

    store = _store(spark, tmp_path)
    df = spark.sql(
        "SELECT 'a' AS s, CAST(1 AS BIGINT) AS l, 2 AS i, 1.5D AS d,"
        " CAST(1.25 AS DECIMAL(38, 18)) AS dec, DATE'2024-01-01' AS dt,"
        " TIMESTAMP'2024-01-01 01:00:00' AS ts,"
        " TIMESTAMP_NTZ'2024-01-01 01:00:00' AS ts_ntz, true AS b,"
        " array(1, 2) AS arr, named_struct('x', 1, 'y', 'z') AS st,"
        " map('k', 1.0D) AS m"
    )
    sc = spark.sparkContext
    store.write(df, "t")
    group = "memo-read-overwrite"
    try:
        sc.setJobGroup(group, group)
        got = store.read("t", keep_meta=True)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    inferred = spark.read.parquet(os.path.join(store.root, "t"))
    assert got.schema == inferred.schema
    assert store.read("t").schema == inferred.drop(*META_COLS).schema
    assert store.read("t").collect() == df.collect()

    store.write(_frame(spark, 10), "parted", partition_cols=["p"])
    assert os.path.join(store.root, "parted") not in _SCHEMA_MEMO


def test_failed_staged_write_keeps_previous_table(spark, tmp_path):
    """An unpartitioned overwrite whose job fails in a later task leaves the
    previous table readable; staging debris is never read and the next
    write clears it."""
    store = _store(spark, tmp_path)
    store.write(_frame(spark, 10), "t")
    before = sorted(store.read("t").collect())
    failing = spark.range(0, 400, 1, 4).select(
        F.when(F.col("id") == 399, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("k")
    )
    with pytest.raises(Exception, match="boom"):
        store.write(failing, "t")
    assert not os.path.exists(_staging(store, "t"))
    assert sorted(store.read("t").collect()) == before

    # debris of a writer that died after its job but before the swap
    _frame(spark, 5).write.mode("overwrite").parquet(_staging(store, "t"))
    assert sorted(store.read("t").collect()) == before
    assert store.write(_frame(spark, 0), "t", partition_cols=["p"]) is False
    assert not os.path.exists(_staging(store, "t"))
    assert sorted(store.read("t").collect()) == before


@pytest.mark.parametrize("append_only", [False, True], ids=["dynamic", "append_partitioned"])
def test_failed_in_place_write_onto_missing_table_leaves_it_missing(
    spark, tmp_path, append_only
):
    """A partitioned write whose job fails onto a table that did not exist
    leaves no directory behind: exists() is False and read(schema=...)
    serves the typed empty frame (K3), not a directory of Spark's
    staging debris that cannot be read. A failed write onto an existing
    table leaves its rows as they were."""
    store = _store(spark, tmp_path)
    failing = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        F.assert_true(F.col("id") < 5).alias("ok"),
    )
    kwargs = {"partition_cols": ["p"], "append_only": append_only}
    with pytest.raises(Exception, match="is not true"):
        store.write(failing, "t", **kwargs)
    assert not store.exists("t")
    schema = StructType([StructField("k", LongType()), StructField("p", LongType())])
    empty = store.read("t", schema=schema)
    assert empty.schema == schema
    assert empty.count() == 0

    assert store.write(_frame(spark, 10), "t", **kwargs)
    before = sorted(store.read("t").collect())
    with pytest.raises(Exception, match="is not true"):
        store.write(failing, "t", **kwargs)
    assert sorted(store.read("t").collect()) == before


def test_write_swap_crash_window_recovery(spark, tmp_path, monkeypatch):
    """A staged overwrite interrupted between its swap's two renames leaves
    only <name>.__old; the next exists()/read() restores the previous table
    instead of serving K3 empty, and the next write lands normally."""
    from aave_etl_spark.io import table_store

    store = TableStore(spark, str(tmp_path))
    store.write(_frame(spark, 50), "crashy")
    real_replace = os.replace

    def crash_on_second_rename(src, dst):
        if src == _staging(store, "crashy"):
            raise OSError("crash between the swap's renames")
        real_replace(src, dst)

    monkeypatch.setattr(table_store.os, "replace", crash_on_second_rename)
    with pytest.raises(OSError, match="crash between"):
        store.write(_frame(spark, 7), "crashy")
    monkeypatch.setattr(table_store.os, "replace", real_replace)
    assert not os.path.exists(str(tmp_path / "crashy"))
    assert os.path.exists(str(tmp_path / "crashy.__old"))

    assert store.exists("crashy")  # auto-restored, not reported missing
    assert store.read("crashy").count() == 50
    assert not os.path.exists(str(tmp_path / "crashy.__old"))
    assert store.write(_frame(spark, 7), "crashy")
    assert store.read("crashy").count() == 7
    assert not os.path.exists(str(tmp_path / "crashy.__swap_pending"))
    assert not os.path.exists(_staging(store, "crashy"))


def test_compact_refuses_bucketed_tables(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    store.write_bucketed(df, "bkt_compact_t", ["k"], n_buckets=4)
    try:
        with pytest.raises(ValueError, match="bucket metadata"):
            store.compact("bkt_compact_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_compact_t")


def test_completion_marker_protocol(spark, tmp_path):
    """A dataset spanning several tables is complete only between
    mark_complete and the next clear_complete: an interrupted rebuild
    (marker cleared first, both member tables still on disk) does not
    present as complete. The marker is a file beside the tables."""
    store = TableStore(spark, str(tmp_path))
    assert not store.is_complete("idx")
    store.clear_complete("idx")  # clearing an absent marker is a no-op
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    store.write(df, "idx")
    store.write(df, "idx_params")
    store.mark_complete("idx")
    assert store.is_complete("idx")
    store.clear_complete("idx")
    assert store.exists("idx") and store.exists("idx_params")
    assert not store.is_complete("idx")
    store.mark_complete("idx")
    assert store.is_complete("idx")
    assert sorted(os.listdir(tmp_path)) == ["idx", "idx.__complete", "idx_params"]


def test_session_scratch_dir_sweeps_only_stale_siblings(spark, tmp_path, monkeypatch):
    """Per-session scratch roots: stale (dead-session) siblings older than
    the age guard are reclaimed; fresh siblings (a possibly-live concurrent
    session) and the current session's root are left alone."""
    import os
    import time as time_mod

    import aave_etl_spark.io.scratch as scratch

    monkeypatch.setattr(scratch.tempfile, "gettempdir", lambda: str(tmp_path))
    family = "scratch_family"
    root = tmp_path / family
    app = spark.sparkContext.applicationId
    stale = root / "app-dead-0001"
    fresh = root / "app-live-0002"
    mine = root / app
    for d in (stale, fresh, mine):
        (d / "sub").mkdir(parents=True)
        (d / "sub" / "x").write_text("x")
    old = time_mod.time() - scratch.STALE_AFTER_S - 60
    os.utime(stale, (old, old))

    got = scratch.session_scratch_dir(spark, family, "sf0.01")
    assert got == str(mine / "sf0.01")
    assert not stale.exists(), "stale sibling must be reclaimed"
    assert fresh.exists(), "fresh sibling may be a live session - kept"
    assert (mine / "sub" / "x").exists(), "own root untouched"


def test_session_scratch_dir_heartbeat_keeps_own_root_young(spark, tmp_path, monkeypatch):
    """Each call touches the session's own root, so a long-lived session
    whose writes land in nested subdirectories never ages into a
    concurrent sibling's sweep."""
    import time as time_mod

    import aave_etl_spark.io.scratch as scratch

    monkeypatch.setattr(scratch.tempfile, "gettempdir", lambda: str(tmp_path))
    mine = tmp_path / "fam" / spark.sparkContext.applicationId
    mine.mkdir(parents=True)
    old = time_mod.time() - scratch.STALE_AFTER_S - 60
    os.utime(mine, (old, old))
    scratch.session_scratch_dir(spark, "fam")
    assert os.path.getmtime(mine) > time_mod.time() - 60


def test_session_scratch_dir_does_not_create_paths(spark, tmp_path, monkeypatch):
    import aave_etl_spark.io.scratch as scratch

    monkeypatch.setattr(scratch.tempfile, "gettempdir", lambda: str(tmp_path))
    got = scratch.session_scratch_dir(spark, "fam", "a", "b")
    assert got == os.path.join(str(tmp_path), "fam", spark.sparkContext.applicationId, "a", "b")
    assert not (tmp_path / "fam").exists()


def test_corpus_key_is_readable_and_stable(tmp_path):
    from aave_etl_spark.io.scratch import corpus_key

    d = tmp_path / "sf0.01"
    key = corpus_key(str(d))
    base, digest = key.rsplit("-", 1)
    assert base == "sf0.01"
    assert len(digest) == 16 and int(digest, 16) >= 0
    assert corpus_key(str(d)) == key
    assert corpus_key(str(d) + "/") == key


def test_corpus_key_separates_corpora_sharing_a_basename(tmp_path):
    from aave_etl_spark.io.scratch import corpus_key

    a, b = tmp_path / "one" / "sf0.01", tmp_path / "two" / "sf0.01"
    assert corpus_key(str(a)) != corpus_key(str(b))
    assert corpus_key(str(a)).startswith("sf0.01-")
    assert corpus_key(str(b)).startswith("sf0.01-")


def test_corpus_key_digest_follows_the_resolved_path(tmp_path):
    """Two spellings of one corpus (a symlink, a ``..`` detour) key the
    same cached store; the readable prefix is the spelled basename."""
    from aave_etl_spark.io.scratch import corpus_key

    real = tmp_path / "data" / "sf0.01"
    real.mkdir(parents=True)
    link = tmp_path / "alias"
    link.symlink_to(real)
    detour = tmp_path / "data" / "x" / ".." / "sf0.01"
    assert corpus_key(str(detour)) == corpus_key(str(real))
    assert corpus_key(str(link)).split("-")[-1] == corpus_key(str(real)).split("-")[-1]
    assert corpus_key(str(link)).startswith("alias-")


def test_merge_upsert_delete_and_partition_scope(spark, tmp_path):
    """MERGE semantics: updates replace by key, deletes remove, inserts
    add; untouched PARTITIONS are not rewritten (their files' mtimes are
    stable), and a touched partition whose rows all vanish is removed."""
    import os
    import time as time_mod

    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k long, part string, v double",
    )
    store.write(base, "m", partition_cols=["part"])
    files_c_before = {
        f: os.path.getmtime(f)
        for f in map(str, (tmp_path / "warehouse" / "m" / "part=c").rglob("*.parquet"))
    }
    assert files_c_before
    time_mod.sleep(1.1)  # mtime granularity guard
    changes = spark.createDataFrame(
        [
            (1, "a", 11.0, "U"),   # update in partition a
            (2, "a", 0.0, "D"),    # delete in partition a
            (3, "b", 0.0, "D"),    # delete the ONLY row of partition b
            (5, "a", 50.0, "I"),   # insert into partition a
        ],
        "k long, part string, v double, op string",
    )
    store.merge(changes, "m", ["k"], partition_cols=["part"], op_col="op")
    got = {(r.k, r.part): r.v for r in store.read("m").collect()}
    assert got == {(1, "a"): 11.0, (4, "c"): 40.0, (5, "a"): 50.0}
    # partition b vanished entirely (all rows deleted)
    assert not (tmp_path / "warehouse" / "m" / "part=b").exists()
    # untouched partition c: same files, same mtimes
    files_c_after = {
        f: os.path.getmtime(f)
        for f in map(str, (tmp_path / "warehouse" / "m" / "part=c").rglob("*.parquet"))
    }
    assert files_c_after == files_c_before


def test_merge_sequence_keep_last_and_bootstrap(spark, tmp_path):
    """Merging into a missing table bootstraps it from the upserts
    (deletes ignored, the op column dropped); a feed with no op column
    upserts every row."""
    store = _store(spark, tmp_path)
    changes = spark.createDataFrame(
        [
            (1, 150.0, "U"),
            (2, 200.0, "I"),
            (3, 300.0, "D"),   # delete against nothing: ignored
        ],
        "k long, v double, op string",
    )
    store.merge(changes, "boot", ["k"], op_col="op")
    assert store.read("boot").columns == ["k", "v"]
    got = {r.k: r.v for r in store.read("boot").collect()}
    assert got == {1: 150.0, 2: 200.0}
    # pure-upsert feed (no op col): every change row upserts
    more = spark.createDataFrame([(2, 222.0), (4, 444.0)], "k long, v double")
    store.merge(more, "boot", ["k"])
    got2 = {r.k: r.v for r in store.read("boot").collect()}
    assert got2 == {1: 150.0, 2: 222.0, 4: 444.0}


def test_merge_vanished_partition_with_escaped_path_chars(spark, tmp_path):
    """A fully-deleted partition must vanish even when its value contains
    characters Spark ESCAPES in partition paths (':' → %3A) or is NULL
    (__HIVE_DEFAULT_PARTITION__): the sweep resolves directories from the
    filesystem via input_file_name, never by re-formatting f'{c}={v}'
    paths — re-formatted paths miss the escaped directory, rmtree no-ops,
    and the deleted rows silently resurrect on the next read."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (2, "2024-01-01 11:00:00", 2.0),
            (3, None, 3.0),
        ],
        "k long, hr string, v double",
    )
    store.write(base, "esc", partition_cols=["hr"])
    # on-disk directory really is escaped (the premise of the regression)
    assert (tmp_path / "warehouse" / "esc" / "hr=2024-01-01 10%3A00%3A00").exists()
    changes = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 0.0, "D"), (3, None, 0.0, "D")],
        "k long, hr string, v double, op string",
    )
    store.merge(changes, "esc", ["k"], partition_cols=["hr"], op_col="op")
    # (read-back infers hr as timestamp from the directory string — compare
    # through str; the merge itself joins on the string-typed change batch)
    got = {r.k: str(r.hr) for r in store.read("esc").collect()}
    assert got == {2: "2024-01-01 11:00:00"}
    assert not (tmp_path / "warehouse" / "esc" / "hr=2024-01-01 10%3A00%3A00").exists()
    assert not (
        tmp_path / "warehouse" / "esc" / "hr=__HIVE_DEFAULT_PARTITION__"
    ).exists()


def test_merge_inference_hostile_partition_values_round_trip(spark, tmp_path):
    """Partition-column types are pinned to the change batch's schema:
    values that directory-string INFERENCE would re-type and re-render —
    minute-precision timestamps ('2024-01-01 10:00' → timestamp →
    '...10:00:00'), zero-padded ints ('0123' → 123) — must compare equal
    between batch and table. Under inference they don't, so a live
    partition is falsely marked vanished and the sweep DELETES it."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00", 1.0),  # minute precision: re-renders
            (2, "2024-01-01 10:00", 2.0),
            (3, "0123", 3.0),  # zero-padded: re-types to int 123
        ],
        "k long, hr string, v double",
    )
    store.write(base, "inf", partition_cols=["hr"])
    # delete only k=1: its partition keeps k=2 and must SURVIVE the sweep
    ch = spark.createDataFrame(
        [(1, "2024-01-01 10:00", 0.0, "D")], "k long, hr string, v double, op string"
    )
    store.merge(ch, "inf", ["k"], partition_cols=["hr"], op_col="op")
    got = {(r.k, str(r.hr)) for r in store.read("inf").collect()}
    assert got == {(2, "2024-01-01 10:00"), (3, "0123")}
    # now empty that partition for real: it must vanish, others intact
    ch2 = spark.createDataFrame(
        [(2, "2024-01-01 10:00", 0.0, "D")], "k long, hr string, v double, op string"
    )
    store.merge(ch2, "inf", ["k"], partition_cols=["hr"], op_col="op")
    # (a plain read now infers the lone 'hr=0123' directory as int — the
    # display type is inference's business; the DIRECTORY is the truth)
    assert {r.k for r in store.read("inf").collect()} == {3}
    dirs = {
        d.name for d in (tmp_path / "warehouse" / "inf").iterdir() if d.is_dir()
    }
    assert dirs == {"hr=0123"}


def test_merge_null_partition_keeps_untouched_keys(spark, tmp_path):
    """Touching the NULL partition (__HIVE_DEFAULT_PARTITION__) must not
    drop its untouched keys: the touched semi join is NULL-safe, so the
    partition's surviving rows are carried through the overwrite."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "a", 3.0)],
        "k long, part string, v double",
    )
    store.write(base, "np", partition_cols=["part"])
    ch = spark.createDataFrame(
        [(1, None, 11.0, "U")], "k long, part string, v double, op string"
    )
    store.merge(ch, "np", ["k"], partition_cols=["part"], op_col="op")
    got = {(r.k, r.part): r.v for r in store.read("np").collect()}
    assert got == {(1, None): 11.0, (2, None): 2.0, (3, "a"): 3.0}


def test_merge_null_op_is_upsert_not_silent_drop(spark, tmp_path):
    """A NULL op value must behave as an upsert (eqNullSafe), not vanish
    from the batch: plain `op != 'D'` is NULL on NULL and silently drops
    the row in both the bootstrap and existing-table branches."""
    store = _store(spark, tmp_path)
    boot = spark.createDataFrame(
        [(1, 10.0, None), (2, 20.0, "I")], "k long, v double, op string"
    )
    store.merge(boot, "nullop", ["k"], op_col="op")
    assert {r.k: r.v for r in store.read("nullop").collect()} == {1: 10.0, 2: 20.0}
    more = spark.createDataFrame(
        [(1, 11.0, None), (2, 0.0, "D"), (3, 30.0, None)],
        "k long, v double, op string",
    )
    store.merge(more, "nullop", ["k"], op_col="op")
    assert {r.k: r.v for r in store.read("nullop").collect()} == {1: 11.0, 3: 30.0}


def test_merge_delete_all_partitioned_removes_table_not_husk(spark, tmp_path):
    """A partitioned merge that empties EVERY partition must remove the
    table, not leave a bare root (an unreadable husk that breaks read()'s
    schema inference and crashes the next merge); a later upsert merge
    bootstraps cleanly."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, part string, v double"
    )
    store.write(base, "husk", partition_cols=["part"])
    ch = spark.createDataFrame(
        [(1, "a", 0.0, "D"), (2, "b", 0.0, "D")],
        "k long, part string, v double, op string",
    )
    assert (
        store.merge(ch, "husk", ["k"], partition_cols=["part"], op_col="op")
        is False
    )
    assert not store.exists("husk")
    assert store.read("husk").count() == 0  # K3 typed-empty, no crash
    # the next merge bootstraps instead of crashing on the husk
    more = spark.createDataFrame(
        [(3, "c", 3.0, "I")], "k long, part string, v double, op string"
    )
    store.merge(more, "husk", ["k"], partition_cols=["part"], op_col="op")
    assert {(r.k, r.part, r.v) for r in store.read("husk").collect()} == {
        (3, "c", 3.0)
    }


def test_merge_delete_all_unpartitioned_empties_table(spark, tmp_path):
    """A delete-only batch that empties an unpartitioned table must remove
    it (write() skips empty frames, so the deletion is expressed on the
    directory) — not silently keep the old rows."""
    store = _store(spark, tmp_path)
    store.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"), "e")
    changes = spark.createDataFrame(
        [(1, 0.0, "D"), (2, 0.0, "D")], "k long, v double, op string"
    )
    assert store.merge(changes, "e", ["k"], op_col="op") is False
    assert not store.exists("e")
    assert store.read("e").count() == 0  # K3 typed-empty


def test_merge_vanished_nested_partition_removes_empty_ancestors(spark, tmp_path):
    """Multi-column partition layouts nest: deleting every row under an
    outer partition value must remove the now-empty ANCESTOR directory
    too, not leave a husk of empty day=.../ dirs accumulating forever
    (and other outer values' trees must be untouched)."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "d1", "h1", 1.0), (2, "d1", "h2", 2.0), (3, "d2", "h1", 3.0)],
        "k long, day string, hr string, v double",
    )
    store.write(base, "nest", partition_cols=["day", "hr"])
    ch = spark.createDataFrame(
        [(1, "d1", "h1", 0.0, "D"), (2, "d1", "h2", 0.0, "D")],
        "k long, day string, hr string, v double, op string",
    )
    store.merge(ch, "nest", ["k"], partition_cols=["day", "hr"], op_col="op")
    assert {r.k for r in store.read("nest").collect()} == {3}
    # both leaves AND the emptied outer dir are gone; d2's tree survives
    assert not (tmp_path / "warehouse" / "nest" / "day=d1").exists()
    assert (tmp_path / "warehouse" / "nest" / "day=d2" / "hr=h1").exists()


def test_merge_batch_missing_partition_column_raises_contract_error(spark, tmp_path):
    """A change batch that lacks one of the table's partition columns must
    fail with a ValueError NAMING the column — not an opaque KeyError from
    schema pinning."""
    import pytest as _pytest

    store = _store(spark, tmp_path)
    store.write(
        spark.createDataFrame([(1, "a", 1.0)], "k long, part string, v double"),
        "mp",
        partition_cols=["part"],
    )
    bad = spark.createDataFrame([(1, 9.0, "U")], "k long, v double, op string")
    with _pytest.raises(ValueError, match="partition column.*part"):
        store.merge(bad, "mp", ["k"], partition_cols=["part"], op_col="op")


def test_scd2_cdc_snapshot_share_one_lineage(spark, tmp_path):
    """The warehouse story in one test: a change log drives CDC merges
    into a live keyed table; the SAME log builds the SCD2 dimension.
    Invariants — scd2_as_of(t) over the dimension == the merged table's
    state at t (collected before the next batch), on (key, attrs)."""
    from datetime import datetime

    from aave_etl_spark.operators.scd import scd2_as_of, scd2_snapshot

    store = _store(spark, tmp_path)
    schema = "k long, attr string, v double, ts timestamp"
    T = lambda d: datetime(2024, 1, d)  # noqa: E731
    batch1 = [(1, "A", 10.0, T(1)), (2, "B", 20.0, T(1))]
    # batch2 carries a real change (k=1), an insert (k=3), and a NO-OP
    # re-delivery (k=2) — the merge overwrites it, the SCD2 collapses it
    batch2 = [(1, "A", 11.0, T(2)), (3, "C", 30.0, T(2)), (2, "B", 20.0, T(2))]
    batch3 = [(2, "B2", 21.0, T(3)), (1, "A", 11.0, T(3))]  # change + no-op

    store.merge(spark.createDataFrame(batch1, schema), "dim_live", ["k"])
    store.merge(spark.createDataFrame(batch2, schema), "dim_live", ["k"])

    def state(df):
        return {(r.k, r.attr, r.v) for r in df.select("k", "attr", "v").collect()}

    live_day2 = state(store.read("dim_live"))  # the state as of day 2
    store.merge(spark.createDataFrame(batch3, schema), "dim_live", ["k"])

    log = spark.createDataFrame(batch1 + batch2 + batch3, schema)
    dim = scd2_snapshot(log, ["k"], ["attr", "v"], ts_col="ts")

    day2 = {(1, "A", 11.0), (2, "B", 20.0), (3, "C", 30.0)}
    day3 = {(1, "A", 11.0), (2, "B2", 21.0), (3, "C", 30.0)}
    # as-of == merged state at that time, both ways
    assert state(scd2_as_of(dim, datetime(2024, 1, 2, 12))) == day2
    assert live_day2 == day2
    assert state(store.read("dim_live")) == day3
    assert state(scd2_as_of(dim, datetime(2024, 1, 3, 12))) == day3
    assert state(dim.filter("is_current")) == day3
    # the no-ops collapsed: k=2 has exactly two versions (B then B2), and
    # k=1's current version is still effective from day 2 (not the day-3
    # re-delivery)
    assert dim.filter("k = 2").count() == 2
    cur1 = dim.filter("k = 1 AND is_current").collect()
    assert len(cur1) == 1 and cur1[0].effective_from == T(2)


def test_sketch_tables_store_once_roll_up_anywhere(spark, tmp_path):
    """The store-once/roll-anywhere warehouse story across all three
    mergeable sketches: per-day KMV (distinct), row-sample (quantiles),
    and heavy-hitters summaries written through the TableStore, read back,
    and rolled up — each equal to (or bounding) the direct computation
    over the concatenated days, without re-reading the raw rows."""
    from aave_etl_spark.operators.sketch import (
        kmv_merge_estimate,
        kmv_sketch_by_group,
        rowsample_merge_quantiles,
        rowsample_sketch_by_group,
        topk_merge,
        topk_sketch_by_group,
    )

    store = _store(spark, tmp_path)
    rows = [
        (d * 10_000 + i, d, f"u{(d * 37 + i) % 500}", float((i * 13) % 997))
        for d in range(10)
        for i in range(800)
    ]
    raw = spark.createDataFrame(rows, "rid long, day int, uid string, v double")

    store.write(kmv_sketch_by_group(raw, ["day"], "uid", k=64), "kmv_day")
    store.write(
        rowsample_sketch_by_group(raw, ["day"], "rid", "v", k=64), "rsq_day"
    )
    store.write(topk_sketch_by_group(raw, ["day"], "uid", m=32), "hh_day")

    # KMV rollup from stored states == direct sketch of all days
    tot = raw.withColumn("g", F.lit("all"))
    merged_kmv = (
        kmv_merge_estimate(
            store.read("kmv_day").withColumn("g", F.lit("all")), ["g"], k=64
        )
        .collect()[0]
        .est_distinct
    )
    direct_kmv = (
        kmv_merge_estimate(kmv_sketch_by_group(tot, ["g"], "uid", k=64), ["g"], k=64)
        .collect()[0]
        .est_distinct
    )
    assert merged_kmv == direct_kmv
    # row-sample quantiles from stored states == direct sketch quantiles
    merged_q = sorted(
        map(
            tuple,
            rowsample_merge_quantiles(
                store.read("rsq_day").withColumn("g", F.lit("all")), ["g"], k=64
            ).collect(),
        )
    )
    direct_q = sorted(
        map(
            tuple,
            rowsample_merge_quantiles(
                rowsample_sketch_by_group(tot, ["g"], "rid", "v", k=64), ["g"], k=64
            ).collect(),
        )
    )
    assert merged_q == direct_q
    # heavy hitters: stored rollup bounds contain the true counts
    truth = {r.uid: r.c for r in raw.groupBy("uid").agg(F.count("*").alias("c")).collect()}
    hh = topk_merge(
        store.read("hh_day").withColumn("g", F.lit("all")), ["g"], k=10
    ).collect()
    assert len(hh) == 10
    for r in hh:
        assert r.count_lb <= truth[r.value] <= r.count_ub


def test_read_table_memoizes_the_schema_per_directory(spark, tmp_path):
    """The first read of ``<sf_dir>/<name>.parquet`` infers and caches its
    schema; later reads of the same table skip the footer inference."""
    from aave_etl_spark.io import catalog

    sf = str(tmp_path / "sf")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(f"{sf}/docs.parquet")
    first = catalog.read_table(spark, sf, "docs")
    assert catalog._SCHEMA_CACHE[(sf, "docs")] == first.schema
    again = catalog.read_table(spark, sf, "docs")
    assert again.schema == first.schema
    assert [tuple(r) for r in again.collect()] == [(1, "a")]


def test_read_table_decodes_nanosecond_long_timestamps(spark, tmp_path):
    """An old-layout events file carrying ``ts`` as epoch nanoseconds
    (bigint) reads back as a timestamp at microsecond precision."""
    from datetime import datetime

    from aave_etl_spark.io import catalog

    sf = str(tmp_path / "sf")
    ns = 1_674_104_400_123_456_789  # 2023-01-19 05:00:00.123456789 UTC
    spark.createDataFrame([(ns, "supply")], "ts long, kind string").write.parquet(
        f"{sf}/events.parquet"
    )
    df = catalog.read_table(spark, sf, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.first().ts == datetime(2023, 1, 19, 5, 0, 0, 123456)
