"""Round-14 optimization internals: the equivalences each rewrite claims.

Every test here pins a VALUE contract an optimization relies on — batched
pointer-jumping vs per-round checks, the store-prefix BM25 ranking, the
scan fan-out's gating, and the schema-memo invalidation — so a future
regression in any of them fails a named test, not a downstream hash.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.operators import text
from aave_etl_spark.operators.skew import fan_out_scan


# ---------------------------------------------------------------------------
# connected_components: batched pointer jumping must equal per-round checks.
# ---------------------------------------------------------------------------
def test_connected_components_batched_equals_unbatched(spark):
    from aave_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(100, 101), (102, 103), (101, 102)],
        "id_a long, id_b long",
    )
    one = {
        (r.node, r.component)
        for r in connected_components(edges, rounds_per_check=1).collect()
    }
    two = {
        (r.node, r.component)
        for r in connected_components(edges, rounds_per_check=2).collect()
    }
    three = {
        (r.node, r.component)
        for r in connected_components(edges, rounds_per_check=3).collect()
    }
    assert one == two == three
    assert {c for _, c in two} == {0, 100}


# ---------------------------------------------------------------------------
# bm25_topk_from_postings over the in-flight postings == bm25_topk.
# ---------------------------------------------------------------------------
def test_bm25_topk_from_postings_matches_inflight(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "alpha alpha delta"),
            (3, "gamma delta delta epsilon"),
        ],
        "doc_id long, text string",
    )
    direct = {
        (r.doc_id, r.term, r.tf, r.bm25, r.rank)
        for r in text.bm25_topk(docs, k=2).collect()
    }
    via_postings = {
        (r.doc_id, r.term, r.tf, r.bm25, r.rank)
        for r in text.bm25_topk_from_postings(
            text.bm25_postings(docs), k=2
        ).collect()
    }
    assert direct == via_postings


def test_bm25_topk_from_stored_postings_checks_build_params(spark, tmp_path):
    """Ranking the at-rest postings goes through the build-params check:
    an index built with non-default (k1, b) raises under the defaults and
    ranks under its own pair."""
    from aave_etl_spark.io.table_store import TableStore

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "alpha alpha delta")],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path))
    text.bm25_index_build(store, docs, "bm25_k2", k1=2.0, n_buckets=2)
    with pytest.raises(ValueError, match="build params"):
        text.bm25_topk_from_postings(text.bm25_index_postings(store, "bm25_k2"))
    ranked = text.bm25_topk_from_postings(
        text.bm25_index_postings(store, "bm25_k2", k1=2.0), k=2
    )
    direct = text.bm25_topk(docs, k=2, k1=2.0)
    assert sorted(ranked.collect()) == sorted(direct.collect())


# ---------------------------------------------------------------------------
# fan_out_scan: fires only on under-partitioned narrow scans; declines
# aggregates; never changes the row set.
# ---------------------------------------------------------------------------
def test_fan_out_scan_gating_and_row_preservation(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("w"), F.col("id")).alias("text")
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    fanned = fan_out_scan(scan, "doc_id")
    target = spark.sparkContext.defaultParallelism
    if scan.rdd.getNumPartitions() < target:
        assert fanned.rdd.getNumPartitions() == target
    assert sorted(r.doc_id for r in fanned.collect()) == list(range(100))
    # aggregate-shaped inputs are declined outright (same plan object back)
    agg = scan.groupBy("doc_id").count()
    assert fan_out_scan(agg, "doc_id") is agg


def test_fan_out_scan_ignores_column_names(spark, tmp_path):
    """The plan-shape guard matches plan node classes, not plan text: a
    narrow scan whose column is named ``JoinDate`` gets the same decision
    as the same scan with that column renamed."""
    decisions = []
    for i, col in enumerate(("JoinDate", "joined_on")):
        path = str(tmp_path / f"t{i}.parquet")
        spark.range(100).select(
            F.col("id").alias("doc_id"), F.col("id").alias(col)
        ).coalesce(1).write.parquet(path)
        scan = spark.read.parquet(path)
        decisions.append(fan_out_scan(scan, "doc_id") is scan)
    assert decisions[0] == decisions[1]
    if spark.sparkContext.defaultParallelism > 1:
        assert decisions == [False, False]  # both fan out


# ---------------------------------------------------------------------------
# TableStore schema memo: a rewrite with a DIFFERENT schema must be
# re-inferred, not served from the memo.
# ---------------------------------------------------------------------------
def test_table_store_schema_memo_invalidated_on_write(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    store.write(spark.createDataFrame([(1, "a")], "k long, v string"), "t")
    assert [f.name for f in store.read("t").schema.fields] == ["k", "v"]
    store.write(
        spark.createDataFrame([(2, 3.5, "x")], "k long, w double, z string"), "t"
    )
    assert [f.name for f in store.read("t").schema.fields] == ["k", "w", "z"]
    assert store.read("t").collect()[0].w == 3.5
    # a direct-to-path writer (a streaming sink) clears the table through
    # drop, then writes a different schema behind the store's back
    assert store.drop("t")
    spark.createDataFrame([(4, True)], "k long, flag boolean").write.parquet(
        store._path("t")
    )
    assert [f.name for f in store.read("t").schema.fields] == ["k", "flag"]
    # drop forgets the memoized schema even when the directory is already
    # gone, so the next direct write is re-inferred too
    import shutil

    shutil.rmtree(store._path("t"))
    assert not store.drop("t")
    spark.createDataFrame([("y",)], "tag string").write.parquet(store._path("t"))
    assert [f.name for f in store.read("t").schema.fields] == ["tag"]
