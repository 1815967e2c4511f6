"""Property-based tests (hypothesis) for the LLM-pipeline operators —
invariants that must hold on any corpus, not just fixtures. The reference
has no property testing (SURVEY §5); these go beyond it deliberately."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from aave_etl_spark.operators import dedup

WORDS = st.sampled_from(
    ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "aave", "spark"]
)
DOC = st.lists(WORDS, min_size=0, max_size=12).map(" ".join)
CORPUS = st.lists(DOC, min_size=1, max_size=8)

# each example is several Spark jobs; keep the example budget small so the
# suite stays fast — hypothesis still varies corpora across runs
SETTINGS = dict(max_examples=4, deadline=None)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@given(CORPUS)
@settings(**SETTINGS)
def test_exact_dedup_partitions_the_corpus(spark, texts):
    df = _docs_df(spark, texts)
    out = dedup.exact_duplicates(df).collect()
    # dup groups partition the corpus exactly
    assert sum(r.dup_count for r in out) == len(texts)
    # keeper is the min doc_id of its group
    assert all(r.keeper_id >= 0 for r in out)
    # digest is whitespace/case-insensitive: mangling inputs preserves groups
    mangled = _docs_df(spark, [f"  {t.upper()}  " for t in texts])
    out2 = dedup.exact_duplicates(mangled).collect()
    assert sorted(r.dup_count for r in out2) == sorted(r.dup_count for r in out)


@given(CORPUS)
@settings(**SETTINGS)
def test_shingles_count_and_width(spark, texts):
    df = _docs_df(spark, texts)
    n = 3
    sh = dedup.word_shingles(df, n=n)
    rows = sh.collect()
    # every shingle is exactly n tokens wide
    assert all(len(r.shingle.split(" ")) == n for r in rows)
    # per-doc shingle count ≤ tokens-n+1 (distinct can only shrink)
    counts = {r.doc_id: c for r, c in ((r, 1) for r in rows)}
    from collections import Counter

    per_doc = Counter(r.doc_id for r in rows)
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split() if w]
        expected_max = max(0, len(toks) - n + 1)
        assert per_doc.get(i, 0) <= expected_max


@given(DOC.filter(lambda t: len(t.split()) >= 3))
@settings(**SETTINGS)
def test_identical_docs_collide_everywhere(spark, text):
    # two identical docs must agree on minhash signature, simhash, and
    # be an LSH candidate pair
    df = _docs_df(spark, [text, text])
    sh = dedup.word_shingles(df, n=3)
    sigs = dedup.minhash_signatures(sh, num_hashes=4).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r.doc_id, {})[r.h] = r.minhash
    assert by_doc[0] == by_doc[1]

    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh, num_hashes=4)).collect()
    assert (0, 1) in {(r.id_a, r.id_b) for r in pairs}

    jac = dedup.jaccard_pairs(sh, threshold=0.0).collect()
    assert any(r.id_a == 0 and r.id_b == 1 and abs(r.jaccard - 1.0) < 1e-12 for r in jac)

    sim = dedup.simhash(df, bits=16).collect()
    vals = {r.doc_id: r.simhash for r in sim}
    assert vals[0] == vals[1]
    assert 0 <= vals[0] < 2**16


VEC = st.lists(
    st.floats(min_value=-5, max_value=5, allow_nan=False, width=32),
    min_size=2,
    max_size=8,
)


EDGE = st.tuples(st.integers(0, 15), st.integers(0, 15))


@given(st.lists(EDGE, min_size=0, max_size=20))
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edge_list):
    from aave_etl_spark.operators.graph import connected_components

    nodes = sorted({n for e in edge_list for n in e} | {0, 15})
    # reference: driver-side union-find
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent[find(a)] = find(b)
    # canonical label = min node id in the component
    comp_min = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {n: comp_min[find(n)] for n in nodes}

    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "id_a long, id_b long"
    )
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "node long")
    got = {r.node: r.component for r in connected_components(edges, nodes_df).collect()}
    assert got == expected


@given(st.lists(st.integers(1, 40), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_greedy_pack_matches_sequential_reference(spark, sizes):
    from aave_etl_spark.operators.packing import greedy_pack

    cap = 64
    # reference: plain sequential first-fit
    expected, pack_id, cum = {}, 0, 0
    for i, n in enumerate(sizes):
        if cum > 0 and cum + n > cap:
            pack_id += 1
            cum = 0
        expected[i] = (pack_id, cum)
        cum += n

    df = spark.createDataFrame(
        [("g", i, n) for i, n in enumerate(sizes)],
        "lang string, doc_id long, n_tokens long",
    )
    got = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in greedy_pack(df, capacity=cap).collect()
    }
    assert got == expected


@given(CORPUS)
@settings(**SETTINGS)
def test_span_dedup_fraction_bounds_and_totals(spark, texts):
    """span dedup invariants on any corpus: fractions in [0,1], dup count
    never exceeds window count, and total windows = Σ max(len-n+1, 0)."""
    n = 3
    df = _docs_df(spark, texts)
    rows = dedup.span_duplicates(df, n=n).collect()
    assert len(rows) == len(texts)
    expected_windows = sum(
        max(len(t.split()) - n + 1, 0) if t.strip() else 0 for t in texts
    )
    got_windows = sum(r.n_windows for r in rows)
    # normalize_text collapses whitespace; empty docs tokenize to one ''
    # token, still < n so zero windows either way
    assert got_windows == expected_windows
    for r in rows:
        assert 0 <= r.n_dup_windows <= r.n_windows
        assert 0.0 <= r.dup_fraction <= 1.0


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 3)),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_topk_merge_bounds_contain_truth(spark, pairs):
    """Mergeable heavy hitters: on ANY multiset split into ANY parts, the
    merged [count_lb, count_ub] contains the true count for every emitted
    value, exact==True implies lb == truth == ub, and the true maximum
    count never escapes the bounds: max(count_ub) >= max true count.
    (The true top value itself is NOT guaranteed to be emitted — it can
    rank below m in every part — but if it hides, its total is <= the
    sum of rest_max bounds, and every emitted value's ub includes the
    rest_max of each part it missed, so the max ub still covers it;
    values present in a part's top-m count at least that part's
    rest_max, which closes the present-everywhere case.)"""
    from collections import Counter

    from aave_etl_spark.operators.sketch import topk_merge, topk_sketch_by_group

    df = spark.createDataFrame(
        [(f"v{v}", p) for v, p in pairs], "val string, part int"
    ).withColumn("g", F.lit("g"))
    fine = topk_sketch_by_group(df, ["g", "part"], "val", m=3)
    merged = topk_merge(fine, ["g"], k=100).collect()
    true = Counter(f"v{v}" for v, _ in pairs)
    assert merged  # m >= 1 and >= 1 row: every part emits a top-m
    for r in merged:
        assert r.count_lb <= true[r.value] <= r.count_ub, (r, true[r.value])
        if r.exact:
            assert r.count_lb == true[r.value] == r.count_ub
    assert max(r.count_ub for r in merged) >= max(true.values())


@given(
    st.lists(
        st.tuples(st.integers(0, 99), st.integers(0, 3)),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_rowsample_merge_equals_direct_sketch_of_union(spark, rows):
    """Row-sample quantile sketch: pooling per-part bottom-k samples and
    re-taking the bottom-k equals the direct sketch of the concatenated
    data EXACTLY, for any partitioning — so do the quantiles read off
    the pooled sample."""
    from aave_etl_spark.operators.sketch import (
        rowsample_merge_quantiles,
        rowsample_sketch_by_group,
    )

    df = spark.createDataFrame(
        [(rid, p, float(rid % 13)) for rid, p in rows],
        "rid long, part int, v double",
    ).withColumn("g", F.lit("g"))
    fine = rowsample_sketch_by_group(df, ["g", "part"], "rid", "v", k=8)
    via_merge = sorted(
        map(tuple, rowsample_merge_quantiles(fine, ["g"], k=8).collect())
    )
    direct = rowsample_sketch_by_group(df, ["g"], "rid", "v", k=8)
    via_direct = sorted(
        map(tuple, rowsample_merge_quantiles(direct, ["g"], k=8).collect())
    )
    assert via_merge == via_direct


VEC = st.lists(
    st.sampled_from([0.0, 1.0, -1.0, 0.5, 2.0]), min_size=3, max_size=3
)
VECS_WITH_DUPS = st.lists(VEC, min_size=1, max_size=10)


@given(VECS_WITH_DUPS)
@settings(**SETTINGS)
def test_keep_first_by_digest_on_vectors_keeps_min_id_per_group(spark, vecs):
    """keep_first_by_digest with an array-valued VECTOR as the digest keeps
    exactly min(id) per identical vector on any input — including NULL vectors as their own group —
    and never invents or reorders columns."""
    rows = [(i, v) for i, v in enumerate(vecs)] + [(len(vecs), None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.keep_first_by_digest(df, F.col("embedding"), id_col="vec_id")
    got = {r.vec_id for r in out.collect()}
    expected = {}
    for i, v in enumerate(vecs):
        k = tuple(v)
        expected.setdefault(k, i)
    want = set(expected.values()) | {len(vecs)}  # NULL row always survives
    assert got == want
    assert out.columns == df.columns
