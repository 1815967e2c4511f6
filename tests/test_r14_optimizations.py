"""Round-14 optimization internals: the equivalences each rewrite claims.

Every test here pins a VALUE contract an optimization relies on — fused
Arrow pair cosine vs the split form, batched pointer-jumping vs per-round
checks, the shared geometry collect, the store-prefix BM25 ranking, the
scan fan-out's gating, and the schema-memo invalidation — so a future
regression in any of them fails a named test, not a downstream hash.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.operators import dedup, similarity, text
from aave_etl_spark.operators.skew import fan_out_scan


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# ---------------------------------------------------------------------------
# _pair_cos_udf: bitwise the split dot_arrow/(norm*norm) form, including the
# NULL contract (null operand / length mismatch / zero norm -> NULL).
# ---------------------------------------------------------------------------
def test_pair_cos_udf_matches_split_form(spark):
    import random

    rng = random.Random(14)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(40)
    ]
    df = _vecs(spark, rows)
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("ia") < F.col("ib")).limit(200)
    fused = pairs.select(
        "ia", "ib", similarity._pair_cos_udf()(F.col("va"), F.col("vb")).alias("c")
    )
    split = pairs.select(
        "ia",
        "ib",
        (
            similarity.dot_arrow(F.col("va"), F.col("vb"))
            / (similarity.norm(F.col("va")) * similarity.norm(F.col("vb")))
        ).alias("c"),
    )
    got = {(r.ia, r.ib): r.c for r in fused.collect()}
    want = {(r.ia, r.ib): r.c for r in split.collect()}
    assert got == want  # exact doubles, not approx


def test_pair_cos_udf_null_contract(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [3.0, 4.0]),
            (2, None, [1.0, 1.0]),          # null operand -> NULL
            (3, [1.0, 2.0, 3.0], [1.0, 2.0]),  # length mismatch -> NULL
            (4, [0.0, 0.0], [1.0, 2.0]),    # zero norm -> NULL, not NaN
            (5, [], []),                    # zero length -> NULL, not NaN
        ],
        "k long, a array<double>, b array<double>",
    )
    out = {r.k: r.c for r in df.select(
        "k", similarity._pair_cos_udf()(F.col("a"), F.col("b")).alias("c")
    ).collect()}
    assert out[1] == pytest.approx(11.0 / ((5.0 ** 0.5) * (25.0 ** 0.5)))
    assert out[2] is None and out[3] is None
    assert out[4] is None and out[5] is None


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
# _geom_pair: the single-job combined collect parses exactly like the two
# independent _geom_rows collects, including the empty-side fallback.
# ---------------------------------------------------------------------------
def test_geom_pair_matches_geom_rows(spark):
    import numpy as np

    cells = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [2.0, 3.0])], "cell_id int, cvec array<double>"
    )
    cb = spark.createDataFrame([(0, [5.0, 6.0])], "code int, cvec array<double>")
    cells_row = similarity._struct_row(cells, "cell_id", "_cells")
    cb_row = similarity._struct_row(cb, "code", "_cbs")
    (gi, gc), (ki, kc) = similarity._geom_pair(cells_row, cb_row)
    ri, rc = similarity._geom_rows(cells_row)
    si, sc = similarity._geom_rows(cb_row)
    assert np.array_equal(gi, ri) and np.array_equal(gc, rc)
    assert np.array_equal(ki, si) and np.array_equal(kc, sc)
    # empty side -> (None, None) so callers keep the interpreted fallback
    empty = similarity._struct_row(
        cells.filter("cell_id < 0"), "cell_id", "_cells"
    )
    (ei, ec), _ = similarity._geom_pair(empty, cb_row)
    assert ei is None and ec is None


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
