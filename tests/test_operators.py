"""Behavioral tests for the custom join/dedup operators — the semantics
edges the oracle-parity gate can't see (outer joins, NULL payloads, skew
guards)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.operators import dedup
from aave_etl_spark.operators.asof import asof_join


# ---------------------------------------------------------------------------
# as-of join: all asof_* columns must come from ONE right row; a NULL field
# in the latest right row stays NULL (no back-fill from an older row).
# ---------------------------------------------------------------------------
def test_asof_null_field_not_backfilled(spark):
    left = spark.createDataFrame(
        [("k", 3, "trade")], "key string, ts long, tag string"
    )
    right = spark.createDataFrame(
        [("k", 1, 10.0, "old"), ("k", 2, None, "new")],
        "key string, ts long, px double, src string",
    )
    out = asof_join(left, right, ["key"], "ts", ["px", "src"]).collect()
    assert len(out) == 1
    # latest right row at ts=2 has px NULL — it must NOT pull px=10.0 from ts=1
    assert out[0].asof_src == "new"
    assert out[0].asof_px is None


def test_asof_no_prior_right_row_is_null(spark):
    left = spark.createDataFrame([("k", 0, "t")], "key string, ts long, tag string")
    right = spark.createDataFrame(
        [("k", 5, 1.0, "later")], "key string, ts long, px double, src string"
    )
    out = asof_join(left, right, ["key"], "ts", ["px", "src"]).collect()
    assert out[0].asof_px is None and out[0].asof_src is None


# ---------------------------------------------------------------------------
# jaccard: df-based hot-shingle pruning bounds blocking-join fan-out;
# verify stage keeps zero-intersection candidates at threshold 0.
# ---------------------------------------------------------------------------
def test_jaccard_pairs_hot_shingle_pruned(spark):
    # 40 docs share one boilerplate shingle; otherwise all-distinct content.
    # Unpruned, the hot shingle alone fans out C(40,2) = 780 pairs.
    docs = spark.createDataFrame(
        [(i, f"copyright footer boilerplate unique{i} text{i} tail{i}") for i in range(40)],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs, n=3)
    unpruned = dedup.jaccard_pairs(sh, threshold=0.0)
    pruned = dedup.jaccard_pairs(sh, threshold=0.0, max_shingle_df=10)
    assert unpruned.count() == 780
    # the hot shingle (df=40 > cap) is dropped before the join: no pair
    # survives, so fan-out is bounded by cap^2 per remaining shingle
    assert pruned.count() == 0


def test_jaccard_pairs_pruning_keeps_cold_shingles(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma epsilon"),
            (2, "zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs, n=3)
    with_cap = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(sh, threshold=0.0, max_shingle_df=10).collect()
    }
    no_cap = {
        (r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(sh, threshold=0.0).collect()
    }
    assert with_cap == no_cap  # cap above every df: identical to exact form


def test_jaccard_verify_zero_intersection_kept(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs, n=3)
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = dedup.jaccard_verify(sh, pairs, threshold=0.0).collect()
    assert len(out) == 1 and out[0].jaccard == 0.0  # scored 0, not dropped
    assert dedup.jaccard_verify(sh, pairs, threshold=0.1).count() == 0


def test_span_duplicates_planted_span(spark):
    # docs 0 and 1 share one exact 4-token span; doc 2 is unrelated; doc 3
    # is too short for any window.
    docs = spark.createDataFrame(
        [
            (0, "aa bb cc dd ee ff"),
            (1, "xx yy aa bb cc dd zz"),
            (2, "one two three four five six"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.span_duplicates(docs, n=4).collect()}
    assert len(out) == 4
    # doc 0: 3 windows, exactly one ("aa bb cc dd") duplicated
    assert out[0].n_windows == 3 and out[0].n_dup_windows == 1
    assert out[0].dup_fraction == pytest.approx(1 / 3, abs=1e-6)
    # doc 1: 4 windows, one duplicated
    assert out[1].n_windows == 4 and out[1].n_dup_windows == 1
    # doc 2: no duplicated windows
    assert out[2].n_windows == 3 and out[2].n_dup_windows == 0
    assert out[2].dup_fraction == 0.0
    # doc 3: shorter than n — zero windows, fraction 0
    assert out[3].n_windows == 0 and out[3].dup_fraction == 0.0


def test_span_duplicates_within_doc_repeat(spark):
    # a span repeated twice WITHIN one doc counts both occurrences
    docs = spark.createDataFrame(
        [(0, "a b c a b c")], "doc_id long, text string"
    )
    row = dedup.span_duplicates(docs, n=3).collect()[0]
    # windows: 'a b c', 'b c a', 'c a b', 'a b c' — the two 'a b c' dup
    assert row.n_windows == 4 and row.n_dup_windows == 2
    assert row.dup_fraction == 0.5


# ---------------------------------------------------------------------------
# chunking + repetition (training-pipeline text ops).
# ---------------------------------------------------------------------------
def test_chunk_documents_coverage_and_overlap(spark):
    from aave_etl_spark.operators.text import chunk_documents

    # 57 tokens, K=32, overlap=8 (stride 24) -> chunks at 0/24/48
    words = " ".join(f"w{i}" for i in range(57))
    docs = spark.createDataFrame([(1, words), (2, "short doc")], "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert [r.n_chunk_tokens for r in c1] == [32, 32, 9]  # tail clamped
    # full coverage: stride*last_start + last_len == n
    assert 24 * 2 + 9 == 57
    assert [r.chunk_id for r in by_doc[2]] == [0]
    assert by_doc[2][0].n_chunk_tokens == 2

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_chunk_documents_overlap_is_shared_tokens(spark):
    from aave_etl_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(56))  # exactly 2 full chunks
    docs = spark.createDataFrame([(1, words)], "doc_id long, text string")
    out = {r.chunk_id: r for r in chunk_documents(docs, chunk_tokens=32, overlap=8).collect()}
    assert len(out) == 2 and out[1].n_chunk_tokens == 32
    # chunk 1 starts at token 24: tokens 24..31 shared with chunk 0
    import hashlib

    c0 = " ".join(f"w{i}" for i in range(0, 32))
    c1 = " ".join(f"w{i}" for i in range(24, 56))
    assert out[0].chunk_md5 == hashlib.md5(c0.encode()).hexdigest()
    assert out[1].chunk_md5 == hashlib.md5(c1.encode()).hexdigest()


def test_repetition_stats(spark):
    from aave_etl_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "all words here unique"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    # doc 1 bigrams: ab ba ab ba ab -> 5 total, 2 distinct
    assert out[1].n_bigrams == 5 and out[1].n_distinct_bigrams == 2
    assert abs(out[1].repetition_ratio - 0.6) < 1e-12
    assert out[2].repetition_ratio == 0.0
    assert 3 not in out  # <2 tokens: no bigrams, excluded


# ---------------------------------------------------------------------------
# connected components: min-label propagation + pointer jumping.
# ---------------------------------------------------------------------------
def test_connected_components_basic(spark):
    from aave_etl_spark.operators.graph import connected_components

    # triangle {1,2,3}, edge {10,11}, isolated vertex 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20]], "node long")
    out = {r.node: r.component for r in connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_path_converges_logarithmically(spark):
    from aave_etl_spark.operators.graph import connected_components

    # path 0-1-2-...-63: diameter 63; pointer jumping must converge well
    # inside 10 iterations (plain propagation would need 63)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    out = connected_components(edges, max_iter=10).collect()
    assert len(out) == 64
    assert {r.component for r in out} == {0}


def test_connected_components_no_nodes_arg_and_string_ids(spark):
    from aave_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_c", "doc_b")], "id_a string, id_b string"
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {"doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a"}


def test_dedup_clusters_keeper_and_sizes(spark):
    from aave_etl_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame([(2, 5), (5, 7)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in [1, 2, 5, 7]], "doc_id long")
    rows = {r.doc_id: r for r in dedup_clusters(pairs, ids).collect()}
    assert rows[1].component == 1 and rows[1].cluster_size == 1 and rows[1].is_keeper == 1
    for d in (2, 5, 7):
        assert rows[d].component == 2 and rows[d].cluster_size == 3
    assert rows[2].is_keeper == 1 and rows[5].is_keeper == 0 and rows[7].is_keeper == 0


def test_connected_components_empty_edges(spark):
    from aave_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    out = {r.node: r.component for r in connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 2}


# ---------------------------------------------------------------------------
# deterministic sampling: repartition-invariant, exact-k, growth-stable.
# ---------------------------------------------------------------------------
def test_stratified_exact_k_counts_and_determinism(spark):
    from aave_etl_spark.operators.sampling import stratified_exact_k

    df = spark.createDataFrame(
        [(i, "g1" if i % 2 == 0 else "g2") for i in range(100)], "doc_id long, g string"
    )
    s1 = stratified_exact_k(df, ["g"], k=7).collect()
    s2 = stratified_exact_k(df.repartition(13), ["g"], k=7).collect()
    assert sorted((r.g, r.doc_id, r.sample_rank) for r in s1) == sorted(
        (r.g, r.doc_id, r.sample_rank) for r in s2
    )
    by_g = {}
    for r in s1:
        by_g.setdefault(r.g, []).append(r.sample_rank)
    assert sorted(by_g["g1"]) == list(range(1, 8))
    assert sorted(by_g["g2"]) == list(range(1, 8))


def test_stratified_exact_k_small_stratum(spark):
    from aave_etl_spark.operators.sampling import stratified_exact_k

    df = spark.createDataFrame([(1, "g"), (2, "g")], "doc_id long, g string")
    assert stratified_exact_k(df, ["g"], k=10).count() == 2


def test_hash_split_growth_stable(spark):
    from aave_etl_spark.operators.sampling import hash_split

    small = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    s_small = {r.doc_id: r.split for r in hash_split(small).collect()}
    s_big = {r.doc_id: r.split for r in hash_split(big).collect()}
    # every doc keeps its assignment when the corpus quadruples
    assert all(s_big[d] == s for d, s in s_small.items())
    assert set(s_big.values()) == {"train", "test"}


def test_hash_fraction_sample_bounds_and_subset(spark):
    from aave_etl_spark.operators.sampling import hash_fraction_sample

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    s10 = {r.doc_id for r in hash_fraction_sample(df, fraction=0.1).collect()}
    s30 = {r.doc_id for r in hash_fraction_sample(df, fraction=0.3).collect()}
    assert s10 <= s30  # nested samples: smaller fraction is a subset
    assert 50 <= len(s10) <= 150 and 200 <= len(s30) <= 400

    with pytest.raises(ValueError):
        hash_fraction_sample(df, fraction=1.5)


# ---------------------------------------------------------------------------
# PII scrubbing + BM25.
# ---------------------------------------------------------------------------
def test_scrub_pii_counts_and_order(spark):
    from aave_etl_spark.operators.text import scrub_pii
    import hashlib

    df = spark.createDataFrame(
        [
            (1, "see https://a.example.com/x?id=1234567 or mail bob@example.com now"),
            (2, "card 4111111122223333 and pin 123"),
            (3, "plain text"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    # the 7-digit run inside the URL is scrubbed AS part of the URL, not as a number
    assert rows[1].n_urls == 1 and rows[1].n_emails == 1 and rows[1].n_long_nums == 0
    assert rows[1].clean_md5 == hashlib.md5(b"see <URL> or mail <EMAIL> now").hexdigest()
    assert rows[2].n_long_nums == 1  # one 16-digit run; '123' untouched
    assert rows[2].clean_md5 == hashlib.md5(b"card <NUM> and pin 123").hexdigest()
    assert rows[3].n_urls == rows[3].n_emails == rows[3].n_long_nums == 0


def test_bm25_topk_ranks_rare_terms_highest(spark):
    from aave_etl_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common common filler filler"),
            (3, "common filler other other"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, k=2).collect()
    top1 = {r.doc_id: r.term for r in out if r.rank == 1}
    # 'zebra' appears only in doc 1: highest idf → its top term;
    # 'common' appears in every doc: idf ~ ln(1 + 0.5/3.5), never rank 1
    assert top1[1] == "zebra"
    assert all(r.term != "common" or r.rank > 1 for r in out)
    assert all(r.rank <= 2 for r in out)


def test_bm25_retrieve_scores_are_matched_posting_sums(spark):
    from aave_etl_spark.operators.text import bm25_postings, bm25_retrieve

    df = spark.createDataFrame(
        [
            (1, "zebra common"),
            (2, "zebra common filler"),
            (3, "filler other other"),
            (4, "other unrelated words"),
        ],
        "doc_id long, text string",
    )
    out = bm25_retrieve(df, df.filter("doc_id = 1"), k=10).collect()
    got = {r.candidate_id: r.bm25_score for r in out}
    # self-match excluded; doc 4 shares no term with doc 1
    assert 1 not in got and 4 not in got
    # score(1→2) = sum of doc 2's posting weights on the query's terms
    posts = {
        (r.doc_id, r.term): r.bm25
        for r in bm25_postings(df).collect()
        if r.term in ("zebra", "common")
    }
    expect_2 = round(posts[(2, "zebra")] + posts[(2, "common")], 6)
    assert abs(got[2] - expect_2) < 1e-9
    # doc 2 matches both query terms, doc 3 only 'filler'∉query terms → absent
    assert set(got) == {2}


def test_bm25_index_search_equals_inflight_and_reads_bucketed(spark, tmp_path):
    """The at-rest postings index returns exactly what the in-flight
    bm25_retrieve would (weights ARE the build-time postings), the
    postings scan honors the bucket layout, and a params mismatch or a
    missing sidecar raises instead of silently mis-scoring."""
    import pytest

    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.text import (
        bm25_index_build,
        bm25_index_search,
        bm25_retrieve,
    )

    rows = [
        (1, "zebra common words here"),
        (2, "zebra common filler words"),
        (3, "filler other other words"),
        (4, "other unrelated tokens entirely"),
        (5, "zebra zebra common here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = docs.filter("doc_id <= 2")

    store = TableStore(spark, str(tmp_path))
    bm25_index_build(store, docs, "bm25_idx_t", n_buckets=4)
    got = bm25_index_search(
        store, queries, "bm25_idx_t", k=10, broadcast_queries=False
    )
    want = {
        (r.query_id, r.candidate_id): (r.bm25_score, r.rank)
        for r in bm25_retrieve(docs, queries, k=10).collect()
    }
    got_rows = {
        (r.query_id, r.candidate_id): (r.bm25_score, r.rank) for r in got.collect()
    }
    assert got_rows == want and len(want) > 0
    # plan: the postings scan must honor the bucketed layout (the large-
    # query shuffle-join regime is where the bucketing pays)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, f"index side must scan bucketed:\n{plan[:1500]}"
    # stored weights were scored under the build's (k1, b)
    with pytest.raises(ValueError, match="build params"):
        bm25_index_search(store, queries, "bm25_idx_t", k1=2.0)
    with pytest.raises(ValueError, match="sidecar"):
        bm25_index_search(store, queries, "no_such_index")


# ---------------------------------------------------------------------------
# greedy sequence packing.
# ---------------------------------------------------------------------------
def test_greedy_pack_first_fit_semantics(spark):
    from aave_etl_spark.operators.packing import greedy_pack

    df = spark.createDataFrame(
        [
            ("en", 1, 100), ("en", 2, 100), ("en", 3, 100),  # 1+2 fit, 3 spills
            ("en", 4, 500),                                   # oversize: own pack
            ("en", 5, 10),
            ("fr", 6, 256),                                   # exactly full
            ("fr", 7, 1),
        ],
        "lang string, doc_id long, n_tokens long",
    )
    rows = {r.doc_id: r for r in greedy_pack(df, capacity=256).collect()}
    assert (rows[1].pack_id, rows[1].pack_offset) == (0, 0)
    assert (rows[2].pack_id, rows[2].pack_offset) == (0, 100)
    assert (rows[3].pack_id, rows[3].pack_offset) == (1, 0)
    assert (rows[4].pack_id, rows[4].pack_offset) == (2, 0)  # oversize packs alone
    assert (rows[5].pack_id, rows[5].pack_offset) == (3, 0)  # nothing joins an overfull pack
    assert (rows[6].pack_id, rows[6].pack_offset) == (0, 0)
    assert (rows[7].pack_id, rows[7].pack_offset) == (1, 0)  # 256+1 > 256 spills


def test_greedy_pack_never_overflows_capacity(spark):
    from aave_etl_spark.operators.packing import greedy_pack

    df = spark.createDataFrame(
        [("g", i, 1 + (i * 37) % 90) for i in range(200)],
        "lang string, doc_id long, n_tokens long",
    )
    out = greedy_pack(df, capacity=128).collect()
    by_pack = {}
    for r in out:
        by_pack.setdefault(r.pack_id, []).append(r)
    for rs in by_pack.values():
        total = sum(r.n_tokens for r in rs)
        assert total <= 128 or len(rs) == 1  # only an oversize singleton may exceed
        # offsets are the exclusive running sum in id order
        rs = sorted(rs, key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.pack_offset == cum
            cum += r.n_tokens


# ---------------------------------------------------------------------------
# cross-split decontamination.
# ---------------------------------------------------------------------------
def test_cross_split_contamination_counts(spark):
    from aave_etl_spark.operators.dedup import cross_split_contamination, word_shingles

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # train
            (2, "alpha beta gamma epsilon"),      # test: shares 'alpha beta gamma'
            (3, "zeta eta theta iota"),           # test: no overlap
        ],
        "doc_id long, text string",
    )
    membership = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "test")], "doc_id long, split string"
    )
    sh = word_shingles(docs, n=3)
    rows = {r.doc_id: r for r in cross_split_contamination(sh, membership).collect()}
    assert set(rows) == {2, 3}  # train docs don't get rows
    assert rows[2].n_shingles == 2 and rows[2].n_overlap == 1
    assert rows[2].contamination_ratio == 0.5
    assert rows[3].n_overlap == 0 and rows[3].contamination_ratio == 0.0


def test_cross_split_contamination_hot_shingle_no_fanout(spark):
    from aave_etl_spark.operators.dedup import cross_split_contamination, word_shingles

    # one boilerplate shingle in EVERY train doc: the semi-join must still
    # produce one row per (test doc, shingle), never train-doc fan-out
    docs = [(i, "common boiler plate") for i in range(50)] + [(99, "common boiler plate")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    membership = spark.createDataFrame(
        [(i, "train") for i in range(50)] + [(99, "test")], "doc_id long, split string"
    )
    out = cross_split_contamination(word_shingles(df, n=3), membership).collect()
    assert len(out) == 1
    assert out[0].n_shingles == 1 and out[0].n_overlap == 1


def test_mix_corpus_rates_and_nesting(spark):
    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(1000)],
        "doc_id long, lang string",
    )
    w_lo = spark.createDataFrame([("a", 0.2), ("b", 0.8)], "lang string, keep_frac double")
    w_hi = spark.createDataFrame([("a", 0.5), ("b", 0.8)], "lang string, keep_frac double")
    lo = {r.doc_id for r in mix_corpus(df, w_lo).collect()}
    hi = {r.doc_id for r in mix_corpus(df, w_hi).collect()}
    assert lo <= hi  # raising one group's rate only ADDS documents
    n_a = sum(1 for d in lo if d % 2 == 0)
    n_b = sum(1 for d in lo if d % 2 == 1)
    assert 60 <= n_a <= 140 and 330 <= n_b <= 470  # ~rate * 500 each
    # unknown group with default 0.0 vanishes
    extra = spark.createDataFrame([(5000, "zz")], "doc_id long, lang string")
    assert mix_corpus(df.union(extra), w_lo).filter("lang = 'zz'").count() == 0


def test_mix_corpus_null_group_rows_are_first_class(spark):
    """The eqNullSafe group-join discipline: a NULL group in the weights
    table matches NULL-group corpus rows (the un-identified-language
    slice a mixing policy most needs to rate); NULL-group rows with no
    NULL weights row fall to default_frac like any other unlisted
    group."""
    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(i, None if i < 50 else "en") for i in range(100)],
        "doc_id long, lang string",
    )
    # no NULL row in weights: NULL-lang docs take default_frac
    w = spark.createDataFrame([("en", 1.0)], "lang string, keep_frac double")
    assert mix_corpus(df, w).filter("lang IS NULL").count() == 0
    assert (
        mix_corpus(df, w, default_frac=1.0).filter("lang IS NULL").count() == 50
    )
    # an explicit NULL-group rate applies to exactly the NULL slice
    wn = spark.createDataFrame(
        [("en", 0.0), (None, 1.0)], "lang string, keep_frac double"
    )
    got = mix_corpus(df, wn)
    assert got.filter("lang IS NULL").count() == 50
    assert got.filter("lang = 'en'").count() == 0


def test_line_dedup_global_null_and_empty_text_docs_keep_their_rows(spark):
    """NULL-text and whitespace-only docs must come back as ('', 0, 0)
    rows (the id spine), and their presence must not disturb the
    cross-doc first-occurrence pick."""
    from aave_etl_spark.operators.dedup import line_dedup_global

    boiler = "subscribe to our newsletter for all the updates"
    docs = spark.createDataFrame(
        [
            (1, f"unique opening line for document\n{boiler}"),
            (2, f"{boiler}\nanother unique body line here"),
            (3, None),
            (4, "   \n  "),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup_global(docs).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert (got[3].clean_text, got[3].n_lines, got[3].n_kept) == ("", 0, 0)
    assert (got[4].clean_text, got[4].n_lines, got[4].n_kept) == ("", 0, 0)
    # the boilerplate survives only in its first occurrence (doc 1)
    assert boiler in got[1].clean_text and boiler not in got[2].clean_text


def test_simhash_near_dup_exact_recall_within_radius(spark):
    from aave_etl_spark.operators.dedup import simhash, simhash_near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and once"),  # near-dup
            (3, "completely different content about spark physical query plans"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dup_pairs(docs).collect()}
    # ground truth: brute-force hamming over the signatures
    for x, y in [(1, 2), (1, 3), (2, 3)]:
        h = bin(sigs[x] ^ sigs[y]).count("1")
        if h <= 3:
            assert out[(x, y)] == h  # banding must not miss it (pigeonhole)
        else:
            assert (x, y) not in out
    assert (1, 2) in out  # the planted near-dup is found

    with pytest.raises(ValueError, match="exact recall"):
        simhash_near_dup_pairs(docs, bands=4, max_hamming=4)


def test_top_fraction_by_group_exact(spark):
    from aave_etl_spark.operators.sampling import top_fraction_by_group

    rows = [(i, "a", float(i)) for i in range(10)] + [(i, "b", float(i % 3)) for i in range(10, 15)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    out = top_fraction_by_group(df, ["lang"], "score", 0.3)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 15  # every row returned with a verdict
    # group a: 10 rows, ceil(10*0.3)=3 -> scores 9,8,7 kept
    assert {i for i in range(10) if got[i].kept} == {7, 8, 9}
    # group b: 5 rows, ceil(5*0.3)=2; scores (i%3) = 1,2,0,1,2 -> top by
    # (score desc, id): 11 (2.0) then 14 (2.0)
    assert {i for i in range(10, 15) if got[i].kept} == {11, 14}
    with pytest.raises(ValueError):
        top_fraction_by_group(df, ["lang"], "score", 0.0)


def test_top_fraction_approximate_matches_exact_on_distinct_scores(spark):
    from aave_etl_spark.operators.sampling import top_fraction_by_group

    # distinct uniform scores: the percentile threshold cut agrees with the
    # exact rank cut to within one boundary row per group
    rows = [(i, "g" + str(i % 2), float((i * 37) % 101)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    exact = {
        (r.lang, r.doc_id) for r in top_fraction_by_group(df, ["lang"], "score", 0.5).collect() if r.kept
    }
    approx = {
        (r.lang, r.doc_id)
        for r in top_fraction_by_group(df, ["lang"], "score", 0.5, approximate=True).collect()
        if r.kept
    }
    sym = exact ^ approx
    assert len(sym) <= 2  # at most one boundary row per group


def test_vocab_coverage_hand_case(spark):
    from aave_etl_spark.operators import text as text_ops

    # lang x: tokens a a a b -> n_tokens=4, vocab=2, top1=3/4; k90: a covers
    # .75 < .9, a+b covers 1.0 -> k_cov=2
    df = spark.createDataFrame(
        [(0, "a a a b", "x"), (1, "c c c c c c c c c d", "y")],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: r for r in text_ops.vocab_coverage(df).collect()}
    assert got["x"].n_tokens == 4 and got["x"].vocab_size == 2 and got["x"].k_cov == 2
    assert got["x"].top1_share == 0.75
    # lang y: c covers 9/10 >= .9 -> k_cov=1
    assert got["y"].k_cov == 1 and got["y"].top1_share == 0.9


def test_unigram_logprob_hand_case(spark):
    import math

    from aave_etl_spark.operators import text as text_ops

    # corpus: 'a a b' + 'b' -> freq a=2, b=2, total=4; every token nll=ln(2)
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "b")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in text_ops.unigram_logprob(df).collect()}
    assert got[0].n_tokens == 3 and got[1].n_tokens == 1
    assert got[0].avg_neg_logprob == pytest.approx(math.log(2), abs=1e-6)
    assert got[1].avg_neg_logprob == pytest.approx(math.log(2), abs=1e-6)


def test_stupid_backoff_hand_case(spark):
    """Stupid-backoff bigram LM (Brants et al. 2007) scored against a
    SEPARATELY-trained count state: all three branches — seen bigram,
    unseen bigram over an in-vocab token, unseen bigram over an OOV
    token — plus the first-token unigram path, hand-computed."""
    import math

    from aave_etl_spark.operators import text as text_ops

    train = spark.createDataFrame(
        [(0, "a b a c"), (4, "a b b")], "doc_id long, text string"
    )
    counts = text_ops.ngram_counts(train)
    got_counts = {
        (r.w1, r.w2): r.tf for r in counts.collect()
    }
    # uni: a=3, b=3, c=1 (N=7); bi: (a,b)=2, (b,a)=1, (a,c)=1, (b,b)=1
    assert got_counts == {
        ("a", None): 3, ("b", None): 3, ("c", None): 1,
        ("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1, ("b", "b"): 1,
    }
    score_docs = spark.createDataFrame([(1, "a b z c")], "doc_id long, text string")
    got = text_ops.stupid_backoff_score(score_docs, counts).collect()
    assert len(got) == 1 and got[0].n_tokens == 4
    # 'a' first-token: 3/7; 'b'|a seen bigram: 2/3; 'z'|b unseen bigram,
    # z OOV: 0.4 * 0.4/7; 'c'|z unseen bigram, c in-vocab: 0.4 * 1/7
    ss = [3 / 7, 2 / 3, 0.4 * (0.4 / 7), 0.4 * (1 / 7)]
    expected = round(sum(-math.log(s) for s in ss) / 4, 6)
    assert got[0].avg_neg_logprob == pytest.approx(expected, abs=1e-6)


def test_lm_and_bpe_plans_window_free(spark):
    """Scale pins for the round-13 text operators: the LM scoring path
    and the BPE segmentation derive (prev, cur) / pair streams by index
    arithmetic INSIDE the token array — no per-doc Window operator may
    appear in either plan (a hot doc would funnel into one window
    task), and no shuffle exists beyond the count/score groupBys."""
    from aave_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(0, "a b c a b"), (1, "b c d")], "doc_id long, text string"
    )
    counts = text_ops.ngram_counts(df)
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    scored = text_ops.stupid_backoff_score(df, counts)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    seg = text_ops.bpe_segment(df, text_ops.bpe_learn(df, n_merges=2))
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "CartesianProduct" not in plan, plan


def test_bpe_learn_and_segment_match_reference(spark):
    """BPE merge learning (Sennrich et al. 2016) against an in-test
    reference with the SAME replace-rewrite semantics: the classic
    low/lower/newest/widest corpus, 4 merges, then segmentation of the
    vocabulary under the learned table in rank order."""
    from aave_etl_spark.operators import text as text_ops

    SEP = "\x01"
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}

    def ref_learn(word_freqs, k):
        vocab = {SEP + SEP.join(w) + SEP: f for w, f in word_freqs.items()}
        merges = []
        for rank in range(1, k + 1):
            pc = {}
            for s, f in vocab.items():
                syms = [x for x in s.split(SEP) if x]
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] = pc.get((a, b), 0) + f
            if not pc:
                break
            (l, r), c = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, l, r, l + r, c))
            vocab = {
                s.replace(SEP + l + SEP + r + SEP, SEP + l + r + SEP): f
                for s, f in vocab.items()
            }
        return merges, vocab

    expected, ref_vocab = ref_learn(freqs, 4)
    text = " ".join(w for w, f in sorted(freqs.items()) for _ in range(f))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_count)
        for r in text_ops.bpe_learn(df, n_merges=4).orderBy("rank").collect()
    ]
    assert got == expected
    # segmentation: every vocab word's final symbol sequence matches the
    # reference's rewritten representation under the same merge order
    seg = {
        r.word: (list(r.symbols), r.freq, r.n_symbols)
        for r in text_ops.bpe_segment(
            df, text_ops.bpe_learn(df, n_merges=4)
        ).collect()
    }
    ref_seg = {
        "".join(x for x in s.split(SEP) if x): [x for x in s.split(SEP) if x]
        for s in ref_vocab
    }
    assert set(seg) == set(freqs)
    for w, f in freqs.items():
        assert seg[w] == (ref_seg[w], f, len(ref_seg[w])), w


def test_bpe_learn_runs_two_spark_jobs_per_round(spark):
    """A merge round is the pair count's shuffle stage and the argmax
    collect: the rewritten vocabulary materializes inside the next
    round's pair count, not in a job of its own."""
    from aave_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(0, "low lower newest widest " * 4)], "doc_id long, text string"
    )
    sc = spark.sparkContext
    jobs = {}
    try:
        for k in (1, 4):
            group = f"bpe-rounds-{k}"
            sc.setJobGroup(group, group)
            assert len(text_ops.bpe_learn(df, n_merges=k).collect()) == k
            jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[4] - jobs[1] == 2 * 3, jobs


def test_global_desc_rank_equals_naive_window(spark):
    """The distributed exact rank (range-partitioned local ranks +
    broadcast offsets) must equal the partition-less row_number window
    exactly — including tied keys broken by id — and must assign every
    rank 1..N exactly once."""
    from pyspark.sql import Window

    from aave_etl_spark.operators.sampling import global_desc_rank

    # keys with heavy ties (mod 7) so the id tiebreak matters, ids shuffled
    df = spark.range(0, 500).select(
        ((F.col("id") * 37) % 501).alias("doc_id"),
        ((F.col("id") % 7).cast("double") / 10.0).alias("key"),
    )
    w = Window.orderBy(F.col("key").desc(), F.col("doc_id"))
    naive = {
        r.doc_id: r.rk
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {
        r.doc_id: r._rk
        for r in global_desc_rank(df, "key", "doc_id").collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(1, 501))


def test_span_dedup_rewrite_semantics(spark):
    """The removal half of span dedup: every duplicated 8-token window is
    cut at its non-canonical (doc, offset) occurrences — cross-doc copies
    keep only the lexicographically-first doc's span, an intra-doc repeat
    keeps its first offset, short docs pass through, and an entirely-
    duplicated doc rewrites to ''."""
    from aave_etl_spark.operators.dedup import span_dedup_rewrite

    span = "alpha beta gamma delta epsilon zeta eta theta"
    intra = "one1 two2 three3 four4 five5 six6 seven7 eight8"
    rows = [
        (1, f"intro one two {span} tail words here"),   # canonical holder
        (2, f"other stuff {span} closing"),             # cross-doc copy
        (3, f"{intra} {intra}"),                        # intra-doc repeat
        (4, "too short text"),                          # < n tokens
        (5, span),                                      # fully duplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_deduped)
        for r in span_dedup_rewrite(df, n=8).collect()
    }
    assert got[1] == (14, 0, f"intro one two {span} tail words here")
    assert got[2] == (11, 8, "other stuff closing")
    assert got[3] == (16, 8, intra)
    assert got[4] == (3, 0, "too short text")
    assert got[5] == (8, 8, "")


def test_span_index_state_cross_batch_rewrite(spark, tmp_path):
    """The span rung's AT-REST state (round 13): day-1 canonical window
    occurrences persist via span_index_build; a later batch rewritten
    with prior_spans cuts EVERY occurrence of a stored hash (the stored
    day-1 keeper wins — including the batch's own first occurrence),
    while batch-internal duplicates keep the first-(doc, offset) rule;
    the append adds only genuinely-new hashes, keeps stored keepers, and
    re-appending the same batch is a row-count no-op."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.dedup import (
        span_dedup_rewrite,
        span_index_append,
        span_index_build,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta"
    d1 = spark.createDataFrame(
        [(1, f"intro one two {span} tail words here")],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    span_index_build(store, d1, "spans", n=8)
    state = {r._h: (r.doc_id, r.pos) for r in store.read_bucketed("spans").collect()}
    assert len(state) == 7  # 14 tokens -> 7 windows, all distinct
    assert all(doc == 1 for doc, _ in state.values())

    intra = "one1 two2 three3 four4 five5 six6 seven7 eight8"
    d2 = spark.createDataFrame(
        [
            # carries the day-1 span mid-doc: its 1 fully-lifted window is
            # cut even though day 2 has only this single occurrence
            (10, f"fresh unique opening words {span} and a closing run"),
            # batch-internal repeat: first offset survives (no state hash)
            (11, f"{intra} {intra}"),
        ],
        "doc_id long, text string",
    )
    prior = store.read_bucketed("spans")
    got = {
        r.doc_id: (r.n_removed, r.text_deduped)
        for r in span_dedup_rewrite(d2, n=8, prior_spans=prior).collect()
    }
    assert got[10] == (8, "fresh unique opening words and a closing run")
    assert got[11] == (8, intra)

    # fold day 2's REWRITTEN survivors in: only new hashes append, the
    # day-1 keepers stay
    d2r = spark.createDataFrame(
        [(i, txt) for i, (_, txt) in got.items()], "doc_id long, text string"
    )
    span_index_append(store, d2r, "spans", n=8)
    after = {r._h: (r.doc_id, r.pos) for r in store.read_bucketed("spans").collect()}
    assert set(state) <= set(after)
    assert all(after[h] == state[h] for h in state)  # stored keepers win
    n_after = len(after)
    assert n_after > len(state)
    span_index_append(store, d2r, "spans", n=8)  # re-run: no-op
    assert store.read_bucketed("spans").count() == n_after

    # n drift raises instead of silently never matching
    with pytest.raises(ValueError, match="n=8"):
        span_index_append(store, d2r, "spans", n=5)


def test_within_batch_near_dup_drops_equals_all_pairs(spark):
    """The two-phase storm-safe form (probe bucket minima, all-pairs only
    for the unresolved remainder) must return EXACTLY the naive all-pairs
    answer: drop(d) iff some lower-id band-mate verifies at Jaccard >=
    threshold. The corpus covers the shapes that distinguish them —
    paraphrase clusters (resolve in phase 1), a bucket whose MINIMUM id
    is NOT similar to the rest (forces phase 2), chains, uniques, and a
    short no-shingle doc."""
    from aave_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        within_batch_near_dup_drops,
        word_shingles,
    )

    base = (
        "the quick of brown and foxes is a jumper the lazy of dogs and"
        " cats is a sleeper the tiny of mice and birds is a runner"
    )
    other = (
        "the alpha of beta and gamma is a delta the epsilon of zeta and"
        " eta is a theta the iota of kappa and lambda is a sigma"
    )
    rows = [(0, other)]  # low id, dissimilar to the storm below
    # a paraphrase cluster: ids 1..12 share base text + unique trailer
    rows += [(i, f"{base} tail{i} words") for i in range(1, 13)]
    # a second cluster whose lowest member is id 20
    rows += [(20 + j, f"{other} extra{j} appended") for j in range(4)]
    # uniques and a chain (21-similar-to-22 via shared halves is already
    # covered by the cluster); a short doc with no 3-shingles
    rows += [(40, "too short"), (41, "a wholly different standalone text"
              " with its own nouns and verbs entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(df, n=3)

    naive_pairs = lsh_candidate_pairs(minhash_signatures(sh))
    naive = {
        r.id_b
        for r in jaccard_verify(sh, naive_pairs, threshold=0.5)
        .select("id_b")
        .distinct()
        .collect()
    }
    staged = {
        r.doc_id for r in within_batch_near_dup_drops(sh, threshold=0.5).collect()
    }
    assert staged == naive
    # the cluster collapsed to its lowest member on both paths
    assert 1 not in naive and {2, 3, 4}.issubset(naive)


# ---------------------------------------------------------------------------
# round-4 review regressions
# ---------------------------------------------------------------------------
def test_top_fraction_float_ceil_boundary(spark):
    from aave_etl_spark.operators.sampling import top_fraction_by_group

    # 0.07 * 100 = 7.000000000000001 in IEEE; exactly 7 must be kept
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(100)], "doc_id long, lang string, score double"
    )
    kept = [r for r in top_fraction_by_group(df, ["lang"], "score", 0.07).collect() if r.kept]
    assert len(kept) == 7


def test_mix_corpus_no_weight_column_leak(spark):
    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(i, "en", f"t{i}") for i in range(20)], "doc_id long, lang string, text string"
    )
    weights = spark.createDataFrame(
        [("en", 1.0, "stray note")], "lang string, keep_frac double, note string"
    )
    out = mix_corpus(df, weights)
    assert out.columns == df.columns  # no leak, original order preserved
    assert out.count() == 20


def test_mix_corpus_rejects_keep_frac_column_on_input(spark):
    """A caller df already carrying keep_frac would make the operator's
    post-join F.col('keep_frac') ambiguous — the contract error must fire,
    not an opaque AnalysisException (round-10 ADVICE)."""
    import pytest

    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(1, "en", 0.5)], "doc_id long, lang string, keep_frac double"
    )
    weights = spark.createDataFrame([("en", 1.0)], "lang string, keep_frac double")
    with pytest.raises(ValueError, match="keep_frac"):
        mix_corpus(df, weights)


def test_keep_first_by_digest_equals_window_form_and_window_free(spark):
    """Property: the skew-safe groupBy(digest).agg(min(id)) + join-back
    first-occurrence pick (dedup.keep_first_by_digest — what the curation
    and corpus-pipeline exact-dedup stages ship) is row-for-row equal to
    the window form min(id).over(partitionBy(digest)) on a HOSTILE batch:
    one viral document repeated across most of the batch (exact duplicates
    share ONE digest, so duplicate content is the hot window key by
    definition — the round-9 line_dedup_global scale killer, document
    level). Also pins the plan: no Window operator anywhere."""
    from pyspark.sql.window import Window as W

    from aave_etl_spark.operators.dedup import keep_first_by_digest

    import pytest

    viral = "breaking story everyone crawled a million times"
    rows = [(i, "en", viral) for i in range(0, 500, 2)]  # hot digest, min id 0
    rows += [(i, "en", f"unique doc {i} body") for i in range(1, 500, 2)]
    rows += [(900, "fr", "unique doc 1 body")]  # tie content, larger id loses
    # NULL text -> NULL digest: one group like any other (the window form
    # kept exactly one NULL-group row; a null-unsafe join would drop both)
    rows += [(950, "en", None), (951, "en", None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    digest = F.md5("text")
    out = keep_first_by_digest(df, digest)
    twin = (
        df.withColumn("_k0", F.min("doc_id").over(W.partitionBy(digest)))
        .filter(F.col("doc_id") == F.col("_k0"))
        .select(*df.columns)
    )
    got = sorted(out.collect(), key=lambda r: r.doc_id)
    assert got == sorted(twin.collect(), key=lambda r: r.doc_id)
    assert out.columns == df.columns
    ids = {r.doc_id for r in got}
    assert 0 in ids and 900 not in ids and 1 in ids
    assert 950 in ids and 951 not in ids  # NULL digest: min id survives
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # internal alias collision fails loudly (the mix_corpus discipline)
    with pytest.raises(ValueError, match="_dg"):
        keep_first_by_digest(df.withColumn("_dg", F.lit(1)), digest)


def test_tokens_lowercase_shared_tokenization(spark):
    from aave_etl_spark.operators import text as text_ops

    df = spark.createDataFrame([(0, "The THE the")], "doc_id long, text string")
    row = text_ops.token_stats(df).collect()[0]
    # one vocabulary entry: every text operator shares the lowercase view
    assert row.n_tokens == 3 and row.n_distinct_tokens == 1


def test_dsir_importance_resample_prefers_target_like(spark):
    """DSIR: docs sharing the target side's n-gram distribution score
    higher; kept = ceil(keep_frac * N) docs; deterministic across
    partitionings (md5 features + md5 Gumbel)."""
    from aave_etl_spark.operators import sampling

    tgt_text = "the quick brown fox jumps over the lazy dog"
    off_text = "zzz qqq vvv kkk www yyy xxx uuu ttt"
    rows = (
        [(i, tgt_text, "en") for i in range(4)]
        + [(10 + i, tgt_text + " extra words here", "fr") for i in range(3)]  # target-like raw
        + [(20 + i, off_text, "fr") for i in range(5)]                        # off-target raw
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = sampling.dsir_importance_resample(
        docs, target_pred="lang = 'en'", m=64, keep_frac=0.5
    ).collect()
    assert len(out) == 12
    by_id = {r.doc_id: r for r in out}
    # every target-like raw doc outweighs every off-target raw doc
    tgt_like = [by_id[10 + i].weight for i in range(3)]
    off = [by_id[20 + i].weight for i in range(5)]
    assert min(tgt_like) > max(off)
    assert sum(1 for r in out if r.kept) == 6  # ceil(0.5 * 12)
    # repartition invariance
    out2 = sampling.dsir_importance_resample(
        docs.repartition(7), target_pred="lang = 'en'", m=64, keep_frac=0.5
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_dsir_approximate_matches_exact_and_has_no_window(spark):
    """The 100 TB form: percentile_approx broadcast threshold instead of
    the global rank window. Property-tested against the exact form (same
    schema, kept sets agree to within boundary slop) and plan-asserted
    window-free — the approx path must never funnel the corpus through a
    single-task global sort."""
    from aave_etl_spark.operators import sampling

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = [
        (
            i,
            " ".join(words[(i * 3 + j) % len(words)] for j in range(6)),
            "en" if i % 3 == 0 else "fr",
        )
        for i in range(48)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kw = dict(target_pred="lang = 'en'", m=64, keep_frac=0.25)
    exact = sampling.dsir_importance_resample(docs, **kw)
    approx = sampling.dsir_importance_resample(docs, approximate=True, **kw)
    assert exact.columns == approx.columns
    e_rows = {r.doc_id: r for r in exact.collect()}
    a_rows = {r.doc_id: r for r in approx.collect()}
    assert set(e_rows) == set(a_rows)  # every doc returned with a verdict
    # identical scoring: only the cut differs
    for i in e_rows:
        assert e_rows[i].sample_key == a_rows[i].sample_key
    e_kept = {i for i, r in e_rows.items() if r.kept}
    a_kept = {i for i, r in a_rows.items() if r.kept}
    # the percentile threshold lands on a data value: agree to <= 2
    # boundary rows on a distinct-key corpus
    assert len(e_kept ^ a_kept) <= 2
    # and every approx-kept doc's key >= every approx-dropped doc's key
    if a_kept and (set(a_rows) - a_kept):
        assert min(a_rows[i].sample_key for i in a_kept) >= max(
            a_rows[i].sample_key for i in set(a_rows) - a_kept
        )
    # plan assert: no Window operator anywhere in the approx physical plan
    approx.collect()
    p = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p, f"approx DSIR must be window-free:\n{p[:1500]}"
    # degenerate cuts agree with the exact form at BOTH ends:
    # keep_frac=0 keeps nothing (percentile(key, 1.0) is the max key and
    # `>= max` would keep a row — the short-circuit guards this), and
    # keep_frac=1 keeps everything
    for frac, want in ((0.0, 0), (1.0, len(rows))):
        a0 = sampling.dsir_importance_resample(
            docs, target_pred="lang = 'en'", m=64, keep_frac=frac,
            approximate=True,
        )
        assert a0.filter("kept").count() == want, f"keep_frac={frac}"


def test_c4_line_filter_rules(spark):
    """Each C4 line rule in isolation: terminal punctuation, min words,
    boilerplate markers; the >=3-kept-lines doc gate; empty-clean md5."""
    from aave_etl_spark.operators import text as text_ops

    doc_good = "\n".join(
        ["This line is properly terminated.",
         "Another good sentence here!",
         'A quoted ending counts too."',
         "short.",                          # < 3 words -> dropped
         "no terminal punctuation here",    # no terminal punct -> dropped
         "Enable javascript to continue.",  # boilerplate -> dropped
         "We use cookie banners sadly.",    # boilerplate -> dropped
         "function() { return 1; }",        # brace -> dropped
         "lorem ipsum dolor sit amet."]     # boilerplate -> dropped
    )
    doc_thin = "Only one good line survives here.\nand nothing else"
    docs = spark.createDataFrame(
        [(0, doc_good), (1, doc_thin)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text_ops.c4_line_filter(docs).collect()}
    assert out[0].n_lines == 9 and out[0].n_kept_lines == 3
    assert out[0].doc_kept is True
    assert out[1].n_kept_lines == 1 and out[1].doc_kept is False
    # clean text = exactly the kept lines, newline-joined
    import hashlib

    expect = "\n".join(doc_good.split("\n")[:3])
    assert out[0].clean_md5 == hashlib.md5(expect.encode()).hexdigest()
    assert out[0].clean_chars == len(expect)


def test_gopher_quality_rules(spark):
    """Each Gopher rule trips on a purpose-built document and the clean
    doc passes; the duplicate-line pair counts instances beyond the first."""
    from aave_etl_spark.operators import text as text_ops

    clean = "the quick brown fox jumps over the lazy dog and that is fine with everyone of us"
    rows = [
        (1, clean),                                     # passes everything
        (2, "short text"),                              # word-count floor
        (3, "a\n" + clean + "\na\na\nb"),               # dup lines: 'a' x3
        (4, clean + " ### ## #"),                       # symbol ratio
        (5, "- one\n- two\n- three\n" + clean),         # bullet lines
        (6, "zz qq xx " * 4),                           # no stop words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in text_ops.gopher_quality(df, min_words=5, max_words=100).collect()
    }
    assert out[1].gopher_kept
    assert not out[2].gopher_kept  # 2 words < 5
    # doc 3: lines are [a, clean, a, a, b] -> sorted neighbors give two
    # duplicate instances of 'a' (beyond the first) over 5 lines
    assert out[3].dup_line_frac == pytest.approx(2 / 5)
    assert out[3].dup_line_char_frac == pytest.approx(
        2 / (len(clean) + 4), abs=1e-6  # line chars: a, clean, a, a, b
    )
    assert not out[4].gopher_kept and out[4].symbol_word_ratio > 0.1
    assert out[5].bullet_line_frac == pytest.approx(3 / 4)
    assert not out[6].gopher_kept and out[6].n_stop_hits == 0


def test_perplexity_buckets_exact_vs_approximate(spark):
    """CCNet bucketing: exact percent_rank splits each language ~30/30/40;
    the approximate (window-free) form agrees up to boundary slop."""
    from aave_etl_spark.operators import text as text_ops

    words = ["alpha", "beta", "gamma", "delta", "common"]
    rows = [
        (i, " ".join(["common"] * (i % 7) + [words[i % 5]] * 3), "en" if i % 2 else "fr")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = text_ops.perplexity_buckets(df)
    approx = text_ops.perplexity_buckets(df, approximate=True)
    e = {r.doc_id: r for r in exact.collect()}
    a = {r.doc_id: r for r in approx.collect()}
    assert set(e) == set(a) == set(range(60))
    # per-language head fraction ~30% under the exact form
    for lang in ("en", "fr"):
        n = sum(1 for r in e.values() if r.lang == lang)
        heads = sum(1 for r in e.values() if r.lang == lang and r.bucket == "head")
        assert 0.15 <= heads / n <= 0.45
    # ordering invariant in BOTH forms: within a language every head
    # score <= every middle score <= every tail score
    for rows_by in (e, a):
        for lang in ("en", "fr"):
            by_bucket = {"head": [], "middle": [], "tail": []}
            for r in rows_by.values():
                if r.lang == lang:
                    by_bucket[r.bucket].append(r.avg_neg_logprob)
            if by_bucket["head"] and by_bucket["middle"]:
                assert max(by_bucket["head"]) <= min(by_bucket["middle"])
            if by_bucket["middle"] and by_bucket["tail"]:
                assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    # the 100 TB path is window-free
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"approx buckets must be window-free:\n{plan[:1200]}"


def test_minhash_index_match_equals_inflight_and_reads_bucketed(spark, tmp_path):
    """The at-rest index match returns exactly the cross-side candidate
    pairs the in-flight LSH would, and the corpus side scan honors the
    bucket layout (no exchange on the indexed side)."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import dedup as dd

    base = "w x y z " * 6
    rows = (
        [(i, base + f"tail{i}") for i in range(0, 8, 2)]       # corpus: even
        + [(i, base + f"tail{i - 1}") for i in range(1, 8, 2)]  # near-dups of i-1
        + [(9, "completely different words entirely here now ok yes")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")

    store = TableStore(spark, str(tmp_path))
    dd.minhash_index_build(store, corpus, "mh_idx_t", n_buckets=4)
    got = dd.minhash_index_match(store, new, "mh_idx_t")
    got_pairs = {(r.new_id, r.corpus_id) for r in got.collect()}

    # ground truth: in-flight banding over the union, restricted cross-side
    sigs = dd.minhash_signatures(dd.word_shingles(docs))
    allb = dd.band_keys(sigs)
    nb = allb.filter("doc_id % 2 = 1").selectExpr("doc_id AS new_id", "band", "band_key")
    cb = allb.filter("doc_id % 2 = 0").selectExpr("doc_id AS corpus_id", "band", "band_key")
    want = {
        (r.new_id, r.corpus_id)
        for r in nb.join(cb, ["band", "band_key"]).select("new_id", "corpus_id")
        .distinct().collect()
    }
    assert got_pairs == want
    assert all(n % 2 == 1 and c % 2 == 0 for n, c in got_pairs)
    assert (9, 8) not in got_pairs  # the unrelated doc matches nothing
    # every near-dup found its source
    assert {(i, i - 1) for i in range(1, 8, 2)} <= got_pairs
    # plan: the corpus scan must honor the bucketed layout
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, f"index side must scan bucketed:\n{plan[:1500]}"
    # the build persisted its banding params; a mismatched match RAISES
    # instead of silently returning empty/wrong candidates
    import pytest

    for bad in (dict(shingle_n=5), dict(num_hashes=16), dict(rows_per_band=4)):
        with pytest.raises(ValueError, match="build params"):
            dd.minhash_index_match(store, new, "mh_idx_t", **bad)


def test_minhash_index_append_loop_matches_from_scratch_build(spark, tmp_path):
    """The build-once/append-forever contract: build on batch A, match
    batch B and APPEND its bands partition-incrementally, then batch C
    must match against A∪B exactly as it would against a from-scratch
    A∪B build — and the appended index still scans bucketed."""
    import pytest

    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import dedup as dd

    # each distinct doc uses its own disjoint vocabulary so only intended
    # dup pairs can share shingles
    text = lambda w: f"{w}1 {w}2 {w}3 {w}4 {w}5 {w}6 {w}7 {w}8"  # noqa: E731
    batch_a = spark.createDataFrame(
        [(i, text(f"alpha{i}")) for i in range(0, 6)], "doc_id long, text string"
    )
    # B: 10/11 duplicate docs 0/1, 12 fresh
    batch_b = spark.createDataFrame(
        [(10, text("alpha0")), (11, text("alpha1")), (12, text("bravo"))],
        "doc_id long, text string",
    )
    # C: 20 dups doc 2 (from A), 21 dups doc 12 (from B), 22 fresh
    batch_c = spark.createDataFrame(
        [(20, text("alpha2")), (21, text("bravo")), (22, text("charlie"))],
        "doc_id long, text string",
    )

    store = TableStore(spark, str(tmp_path / "inc"))
    dd.minhash_index_build(store, batch_a, "mh_idx_inc", n_buckets=4)
    b_pairs = {
        (r.new_id, r.corpus_id)
        for r in dd.minhash_index_match(store, batch_b, "mh_idx_inc").collect()
    }
    assert {(10, 0), (11, 1)} <= b_pairs and not any(n == 12 for n, _ in b_pairs)
    # append B (all of it — verification keeps everything here) and match C
    dd.minhash_index_append(store, batch_b, "mh_idx_inc")
    got = dd.minhash_index_match(store, batch_c, "mh_idx_inc")
    c_pairs = {(r.new_id, r.corpus_id) for r in got.collect()}
    # from-scratch oracle: one build over A∪B
    scratch = TableStore(spark, str(tmp_path / "scr"))
    dd.minhash_index_build(
        scratch, batch_a.unionByName(batch_b), "mh_idx_scr", n_buckets=4
    )
    want = {
        (r.new_id, r.corpus_id)
        for r in dd.minhash_index_match(scratch, batch_c, "mh_idx_scr").collect()
    }
    assert c_pairs == want
    assert {(20, 2), (21, 12)} <= c_pairs  # hits in BOTH the base and appended halves
    assert not any(n == 22 for n, _ in c_pairs)  # fresh doc matches nothing
    # co-location survives the append: the corpus side still scans bucketed
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # an append with drifted banding params refuses (sidecar validation)
    with pytest.raises(ValueError, match="build params"):
        dd.minhash_index_append(store, batch_c, "mh_idx_inc", shingle_n=5)
    # an append into a never-built index refuses
    with pytest.raises(ValueError, match="sidecar"):
        dd.minhash_index_append(store, batch_c, "mh_idx_missing")


def test_minhash_index_if_absent_scoped_append(spark, tmp_path):
    """The idempotent append contract with a carry column: re-appending a
    slice is a no-op (row count fixed), the slice predicate reaches the
    index scan as a pushed-down filter (each append's files hold one
    constant carry value, so parquet stats skip other slices' files), and
    a DIFFERENT slice with the same content still appends (the scope
    means same-slice stale rows, not global content dedup)."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import dedup as dd

    text = lambda w: f"{w}1 {w}2 {w}3 {w}4 {w}5 {w}6 {w}7 {w}8"  # noqa: E731

    def batch(ids, day):
        return spark.createDataFrame(
            [(i, text(f"word{i}"), day) for i in ids],
            "doc_id long, text string, day string",
        ).withColumn("day", F.to_date("day"))

    store = TableStore(spark, str(tmp_path / "scoped"))
    dd.minhash_index_build(
        store, batch(range(4), "2024-01-01"), "mh_idx_sc", n_buckets=4,
        carry_cols=("day",),
    )
    d2 = batch(range(10, 14), "2024-01-02")
    kw = dict(
        carry_cols=("day",), if_absent=True,
        if_absent_where="day = DATE '2024-01-02'",
    )
    dd.minhash_index_append(store, d2, "mh_idx_sc", **kw)
    n = store.read("mh_idx_sc").count()
    for _ in range(2):  # N re-runs of the slice: row count fixed
        dd.minhash_index_append(store, d2, "mh_idx_sc", **kw)
        assert store.read("mh_idx_sc").count() == n
    # the scope predicate reaches the parquet scan (pushed down, prunable)
    scoped = store.read_bucketed("mh_idx_sc").filter("day = DATE '2024-01-02'")
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "day" in plan.split("PushedFilters")[1][:120]
    assert scoped.count() * 2 == n  # the slice is half the index
    # same CONTENT under a new slice still appends — the scope dedups
    # re-runs of a slice, it is not global content dedup
    d3 = batch(range(10, 14), "2024-01-03").withColumn("doc_id", F.col("doc_id") + 10)
    dd.minhash_index_append(
        store, d3, "mh_idx_sc", carry_cols=("day",), if_absent=True,
        if_absent_where="day = DATE '2024-01-03'",
    )
    assert store.read("mh_idx_sc").count() > n


def _plan_path_to(plan: str, leaf: str) -> list[str]:
    """The ancestor lines of the first node in a physical-plan tree string
    that contains ``leaf``, nearest first, up to the root."""
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if leaf in ln)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    out, d = [], depth(lines[i])
    for ln in reversed(lines[:i]):
        if depth(ln) < d:
            out.append(ln)
            d = depth(ln)
    return out


def test_index_builds_bucket_at_the_slot_count(spark, tmp_path):
    """With no ``n_buckets`` the three at-rest index builders bucket at
    ``defaultParallelism`` and record that count in their params sidecar,
    which agrees with the catalog's spec; the band-index match join scans
    the corpus side bucketed with no Exchange beneath the join."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import dedup as dd
    from aave_etl_spark.operators.text import bm25_index_build

    slots = spark.sparkContext.defaultParallelism
    text = lambda w: f"{w}1 {w}2 {w}3 {w}4 {w}5 {w}6 {w}7 {w}8 {w}9"  # noqa: E731
    docs = spark.createDataFrame(
        [(i, text(f"w{i % 3}")) for i in range(12)], "doc_id long, text string"
    )
    store = TableStore(spark, str(tmp_path))
    dd.minhash_index_build(store, docs.filter("doc_id < 6"), "mh_slots")
    dd.span_index_build(store, docs, "span_slots")
    bm25_index_build(store, docs, "bm25_slots")
    for name in ("mh_slots", "span_slots", "bm25_slots"):
        sidecar = spark.read.parquet(store._path(name + "_params")).head()
        assert sidecar.n_buckets == store._num_buckets(name) == slots, name
    # broadcast off, so the corpus side is joined in place rather than
    # shipped: the only Exchange feeding the join is the new batch's
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(threshold)
    try:
        spark.conf.set(threshold, "-1")
        got = dd.minhash_index_match(store, docs.filter("doc_id >= 6"), "mh_slots")
        assert got.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(threshold, saved)
    path = _plan_path_to(plan, "default.mh_slots")
    assert "Bucketed: true" in next(ln for ln in plan.splitlines() if "default.mh_slots" in ln)
    below_join = path[: next(i for i, ln in enumerate(path) if "Join" in ln)]
    assert not any("Exchange" in ln for ln in below_join), plan


def test_epoch_shards_deterministic_and_partition_invariant(spark):
    """Epoch sharding: assignment depends only on (seed, id) — invariant
    under repartitioning; positions are dense 1..|shard|; a new seed
    reorders."""
    from aave_etl_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = {r.doc_id: (r.shard, r.position) for r in sampling.epoch_shards(df, n_shards=4).collect()}
    b = {
        r.doc_id: (r.shard, r.position)
        for r in sampling.epoch_shards(df.repartition(13), n_shards=4).collect()
    }
    assert a == b, "sharding must not depend on physical layout"
    # dense positions per shard
    by_shard = {}
    for s, p in a.values():
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) == {0, 1, 2, 3}
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # rough uniformity (md5 mod 4 over 200 ids)
    assert all(30 <= len(ps) <= 70 for ps in by_shard.values())
    # a different epoch seed produces a different order
    c = {r.doc_id: (r.shard, r.position) for r in sampling.epoch_shards(df, n_shards=4, seed="epoch1").collect()}
    assert c != a


def test_epoch_shards_two_level_rank_matches_global_and_is_bounded(spark):
    """The scale form: position comes from a (shard, sub-bucket) window
    plus broadcast prefix offsets, never from a per-shard-wide window.
    Property-tested equal to the per-shard global rank computed
    driver-side, invariant across sub_prefix_len, and plan-asserted:
    the ranking row_number window partitions by BOTH shard and the
    sub-bucket."""
    import hashlib

    from aave_etl_spark.operators import sampling

    n_shards, seed = 4, "epoch0"
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    # driver-side oracle: md5 seed:id -> shard, rank within shard
    keyed = []
    for i in range(500):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        keyed.append((i, h, int(h[:15], 16) % n_shards))
    expect = {}
    for s in range(n_shards):
        rows = sorted((h, i) for i, h, sh in keyed if sh == s)
        for pos, (h, i) in enumerate(rows, start=1):
            expect[i] = (s, pos)
    out = sampling.epoch_shards(df, n_shards=n_shards, seed=seed)
    got = {r.doc_id: (r.shard, r.position) for r in out.collect()}
    assert got == expect, "two-level rank must equal the per-shard global rank"
    # sub-bucket width must not change the answer
    for plen in (1, 3):
        alt = {
            r.doc_id: (r.shard, r.position)
            for r in sampling.epoch_shards(
                df, n_shards=n_shards, seed=seed, sub_prefix_len=plen
            ).collect()
        }
        assert alt == expect, f"sub_prefix_len={plen}"
    # plan assert: the row_number window over the data partitions by
    # (shard, _sub) — a shard-only row_number would funnel
    # |corpus|/n_shards rows through one task
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, "expected a row_number window in the plan"
    for ln in rn_lines:
        assert "_sub" in ln, f"row_number must sub-bucket within shard:\n{ln}"
    # and the offset join is a broadcast (the grid is tiny by construction)
    assert "BroadcastHashJoin" in plan
    import pytest

    with pytest.raises(ValueError):
        sampling.epoch_shards(df, sub_prefix_len=0)


def test_perplexity_buckets_null_lang_kept_in_both_forms(spark):
    """Review regression: a NULL language (normal classifier outcome) must
    be bucketed by BOTH forms — the approximate path's equi-join used to
    silently drop those rows."""
    from aave_etl_spark.operators import text as text_ops

    rows = [
        (i, "word " * (3 + i % 5), "en" if i % 3 == 0 else None) for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = text_ops.perplexity_buckets(df)
    approx = text_ops.perplexity_buckets(df, approximate=True)
    assert exact.count() == 24
    assert approx.count() == 24, "approximate form must keep NULL-lang docs"
    assert approx.filter("lang IS NULL").count() == 16


def _window_partitions(plan: str) -> list[str]:
    """First argument of every windowspecdefinition in an executed-plan
    string. A partition-LESS window's first argument is an ORDER column
    and carries an ASC/DESC direction; a partitioned window's first
    argument is a bare partition expression."""
    import re as _re

    return [m.group(1) for m in _re.finditer(r"windowspecdefinition\(([^,]+),", plan)]


def test_curation_pipeline_approximate_twin_is_window_free_at_scale(spark):
    """The 100 TB composition, asserted — not inferred from per-stage
    asserts: run the WHOLE curation chain with approximate=True
    (window-free DSIR) and uncheckpointed lineage, then (a) walk every
    stage's executed plan and require zero partition-less windows, and
    (b) property-check the approximate chain's survivor counts against
    the certified exact flow (identical through stage 4; the DSIR cut
    differs by at most the percentile-boundary rows)."""
    from tests.conftest import SF_SMOKE

    from aave_etl_spark.plans.curation import curate

    docs = (
        spark.read.parquet(SF_SMOKE + "/documents.parquet")
        .withColumn(
            "text",
            F.expr("replace(text, ' table ', concat('.', chr(10), 'table '))"),
        )
    )
    exact = curate(docs)  # the certified flow (checkpointed, exact DSIR)
    approx = curate(docs, approximate=True, checkpoint=False)
    e_counts = {name: exact[name].count() for name in ("c4", "exact", "neardup", "gate", "dsir", "mix")}
    a_counts = {name: approx[name].count() for name in e_counts}
    # stages 1-4 are deterministic set operations: identical survivors
    for name in ("c4", "exact", "neardup", "gate"):
        assert a_counts[name] == e_counts[name], name
    # the DSIR cut: percentile threshold vs exact rank — same target size
    # within the boundary-tie slop (ties share one key value)
    assert abs(a_counts["dsir"] - e_counts["dsir"]) <= max(
        2, e_counts["gate"] // 20
    ), (a_counts, e_counts)
    # downstream of the cut the mix is a per-row hash filter: the approx
    # mix can differ only by the docs the cuts disagreed on
    assert abs(a_counts["mix"] - e_counts["mix"]) <= abs(
        a_counts["dsir"] - e_counts["dsir"]
    ) + 2
    # plan walk: NO partition-less window in any stage of the approx chain
    for name, frame in approx.items():
        frame.count() if name != "packed" else frame.collect()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for first_arg in _window_partitions(plan):
            assert " ASC" not in first_arg and " DESC" not in first_arg, (
                f"stage {name!r} has a partition-less window"
                f" (first spec arg {first_arg!r})"
            )


def test_discover_stop_terms_matches_max_df_cap_on_separated_corpus(spark):
    """The HH-discovered stop list IS the df-cap exclusion set when the
    df distribution separates: on a corpus with 3 ubiquitous terms and a
    long rare tail, discovery returns exactly the hot terms (exact
    bounds, lb == ub == true df), and the anti-join probe equals the
    max_df-capped probe for any cap between the tail's max df and the
    hot terms' df — the planned and hand-picked stop handling coincide."""
    from aave_etl_spark.operators.text import (
        _bm25_probe,
        bm25_postings,
        discover_stop_terms,
    )

    n_docs = 40
    rows = [
        (i, f"hota hotb hotc rare{i % 20} rare{(i + 7) % 20}x")
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    posts = bm25_postings(docs)
    stop = discover_stop_terms(posts, m=16, k=3, n_shards=4)
    got = {r.value: r for r in stop.collect()}
    assert set(got) == {"hota", "hotb", "hotc"}
    for r in got.values():
        assert r.exact and r.count_lb == r.count_ub == n_docs
    # anti-join composition == max_df cap for a cap separating the tail
    tail_max_df = max(
        r.df for r in posts.filter(~F.col("term").startswith("hot")).collect()
    )
    assert tail_max_df < n_docs
    clean = posts.join(
        stop.select(F.col("value").alias("term")), "term", "left_anti"
    )
    queries = docs.filter(F.col("doc_id") < 4)
    via_anti = sorted(
        map(tuple, _bm25_probe(clean, queries, k=10).collect())
    )
    via_cap = sorted(
        map(tuple, _bm25_probe(posts, queries, k=10, max_df=tail_max_df).collect())
    )
    assert via_anti == via_cap and via_anti


def test_curate_weighted_budget_draw_and_tail_validation(spark):
    """sample_k wires the quality-weighted A-ES draw into the pipeline:
    exactly k docs drawn from the mixed corpus (ranks 1..k, a subset of
    the mix), the packed output packs the DRAWN set, and the tail
    options are mutually validated like the mixing fork is."""
    import pytest as _pytest

    from tests.conftest import SF_SMOKE

    from aave_etl_spark.plans.curation import curate

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet").withColumn(
        "text",
        F.expr("replace(text, ' table ', concat('.', chr(10), 'table '))"),
    )
    k = 5
    stages = curate(docs, mix_temperature=0.7, mix_budget=10000.0, sample_k=k)
    drawn = stages["draw"].collect()
    assert sorted(r.sample_rank for r in drawn) == list(range(1, k + 1))
    mix_ids = {r.doc_id for r in stages["mix"].select("doc_id").collect()}
    assert {r.doc_id for r in drawn} <= mix_ids
    # the packed corpus is the drawn set, not the full mix
    assert {r.doc_id for r in stages["packed"].collect()} == {
        r.doc_id for r in drawn
    }
    # tail-option contract errors are loud and specific
    with _pytest.raises(ValueError, match="sample_weight_col"):
        curate(docs, sample_weight_col="quality")
    with _pytest.raises(ValueError, match="sample_k"):
        curate(docs, sample_k=0)
    with _pytest.raises(ValueError, match="not a column"):
        curate(docs, sample_k=3, sample_weight_col="no_such_col")


# ---------------------------------------------------------------------------
# SCD Type-2 snapshots.
# ---------------------------------------------------------------------------
def test_scd2_snapshot_versions_and_intervals(spark):
    from aave_etl_spark.operators.scd import scd2_as_of, scd2_snapshot

    log = spark.createDataFrame(
        [
            # entity 1: A -> A (no-op, collapses) -> B -> A again
            (1, 10, "A"),
            (1, 20, "A"),
            (1, 30, "B"),
            (1, 40, "A"),
            # entity 2: NULL attr first (kept), then NULL again (no-op),
            # then a value
            (2, 10, None),
            (2, 20, None),
            (2, 30, "X"),
        ],
        "k long, ts long, attr string",
    )
    dim = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts").collect()
    got = {
        (r.k, r.version): (r.attr, r.effective_from, r.effective_to, r.is_current)
        for r in dim
    }
    assert got == {
        (1, 1): ("A", 10, 30, False),
        (1, 2): ("B", 30, 40, False),
        (1, 3): ("A", 40, None, True),
        (2, 1): (None, 10, 30, False),
        (2, 2): ("X", 30, None, True),
    }
    # half-open as-of contract: at ts=30 the NEW version is in force
    dim_df = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts")
    at30 = {r.k: r.attr for r in scd2_as_of(dim_df, 30).collect()}
    assert at30 == {1: "B", 2: "X"}
    at10 = {r.k: r.attr for r in scd2_as_of(dim_df, 10).collect()}
    assert at10 == {1: "A", 2: None}


def test_scd2_snapshot_tie_break_and_validation(spark):
    import pytest

    from aave_etl_spark.operators.scd import scd2_snapshot

    # same-timestamp changes order deterministically by the seq column
    log = spark.createDataFrame(
        [(1, 10, 2, "B"), (1, 10, 1, "A")], "k long, ts long, seq long, attr string"
    )
    rows = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts", seq_cols=["seq"]).collect()
    assert [(r.version, r.attr) for r in sorted(rows, key=lambda r: r.version)] == [
        (1, "A"),
        (2, "B"),
    ]
    with pytest.raises(ValueError, match="key_cols and attr_cols"):
        scd2_snapshot(log, [], ["attr"])


def test_hll_sketches_merge_losslessly_and_estimate_accurately(spark):
    """Per-(lang, bucket) HLL sketches union up to per-lang estimates that
    (a) EQUAL the direct per-lang sketch estimate — the merge adds zero
    approximation — and (b) sit within the published error bound of the
    exact distinct count."""
    from aave_etl_spark.operators.sketch import (
        hll_estimate,
        hll_merge_estimate,
        hll_sketch_by_group,
    )

    df = spark.range(0, 60_000).select(
        (F.col("id") % 3).alias("lang"),
        (F.col("id") % 7).alias("bucket"),
        # ~20k distinct values per lang, overlapping across buckets
        F.concat(F.lit("v"), (F.col("id") % 20_011).cast("string")).alias("v"),
    )
    fine = hll_sketch_by_group(df, ["lang", "bucket"], "v")
    merged = {r.lang: r.est_distinct for r in hll_merge_estimate(fine, ["lang"]).collect()}
    direct = {
        r.lang: r.est_distinct
        for r in hll_sketch_by_group(df, ["lang"], "v").select("lang", hll_estimate()).collect()
    }
    assert merged == direct  # union of states == state of union
    exact = {
        r.lang: r.x
        for r in df.groupBy("lang").agg(F.countDistinct("v").alias("x")).collect()
    }
    for lang, est in merged.items():
        assert abs(est - exact[lang]) / exact[lang] < 0.05, (lang, est, exact[lang])
    # determinism: the estimate depends only on the value multiset
    again = {
        r.lang: r.est_distinct
        for r in hll_merge_estimate(fine.repartition(7), ["lang"]).collect()
    }
    assert again == merged


def test_kmv_merge_equals_direct_sketch(spark):
    """k-min of a union lives inside the per-part k-mins, so merging
    per-(lang, bucket) KMV sketches must equal the direct per-lang
    estimate EXACTLY — including the exact-fallback regime below k."""
    from aave_etl_spark.operators.sketch import (
        kmv_distinct,
        kmv_merge_estimate,
        kmv_sketch_by_group,
    )

    df = spark.range(0, 5_000).select(
        (F.col("id") % 2).alias("lang"),
        (F.col("id") % 5).alias("bucket"),
        F.concat(F.lit("v"), (F.col("id") % 997).cast("string")).alias("v"),
    )
    # small-lang arm: below k -> exact fallback through the merge too
    small = spark.createDataFrame(
        [(9, b, f"s{i}") for b in range(2) for i in range(4)],
        "lang long, bucket long, v string",
    )
    full = df.unionByName(small)
    merged = {
        r.lang: r.est_distinct
        for r in kmv_merge_estimate(
            kmv_sketch_by_group(full, ["lang", "bucket"], "v"), ["lang"]
        ).collect()
    }
    direct = {r.lang: r.est_distinct for r in kmv_distinct(full, ["lang"], "v").collect()}
    assert merged == direct
    assert merged[9] == 4.0  # exact below k
    # merging with a k LARGER than the build k would be silently biased —
    # the kmv_k sidecar column makes it raise at execution (the guard is
    # lazy: plan-building must stay free; F.raise_error surfaces as a
    # SparkRuntimeException, the repo-wide guard discipline)
    import pytest

    with pytest.raises(Exception, match="build k"):
        kmv_merge_estimate(
            kmv_sketch_by_group(full, ["lang", "bucket"], "v", k=16), ["lang"], k=32
        ).collect()


def test_bm25_max_df_caps_stop_terms_and_pushes_down(spark, tmp_path):
    """max_df drops stop-term postings BEFORE the hits join: scores equal
    the uncapped retrieve over a corpus whose stop terms were never there,
    and against the at-rest index the df predicate reaches the parquet
    scan (PushedFilters) — hot-term row groups are skipped, not read."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.text import (
        bm25_index_build,
        bm25_index_search,
        bm25_retrieve,
    )

    # 'the' appears in every doc (df=6, a stop term); content terms are rare
    df = spark.createDataFrame(
        [
            (1, "the zebra common"),
            (2, "the zebra common filler"),
            (3, "the filler other"),
            (4, "the other unrelated"),
            (5, "the words unrelated"),
            (6, "the zebra"),
        ],
        "doc_id long, text string",
    )
    capped = bm25_retrieve(df, df.filter("doc_id = 1"), k=10, max_df=5).collect()
    # 'the' (df=6 > 5) contributes nothing: doc 4/5 share only 'the' with
    # the query and must be absent entirely
    got = {r.candidate_id for r in capped}
    assert got == {2, 6}
    uncapped = {
        r.candidate_id
        for r in bm25_retrieve(df, df.filter("doc_id = 1"), k=10).collect()
    }
    assert uncapped == {2, 3, 4, 5, 6}  # everything matches via 'the'
    # at-rest: identical results AND the df filter is pushed to the scan
    store = TableStore(spark, str(tmp_path))
    bm25_index_build(store, df, "bm25_cap_idx")
    at_rest = bm25_index_search(
        store, df.filter("doc_id = 1"), "bm25_cap_idx", k=10, max_df=5
    )
    assert sorted(map(tuple, at_rest.collect())) == sorted(map(tuple, capped))
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(df,5)" in plan, plan


def test_topk_sketch_merge_bounds_contain_truth(spark):
    """Mergeable heavy hitters: [count_lb, count_ub] always contains the
    true count; values present in every part's top-m come back EXACT; with
    m large enough to never truncate, the merged top-k IS the exact top-k."""
    import random

    from aave_etl_spark.operators.sketch import topk_merge, topk_sketch_by_group

    rng = random.Random(11)
    rows = []
    # zipf-ish: value v_i appears ~ 600/i times, scattered over 5 parts
    for i in range(1, 40):
        for _ in range(600 // i):
            rows.append(("g", rng.randint(0, 4), f"v{i:02d}"))
    df = spark.createDataFrame(rows, "g string, part int, w string")
    truth = {
        r.w: r.c
        for r in df.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    fine = topk_sketch_by_group(df, ["g", "part"], "w", m=8)
    got = topk_merge(fine, ["g"], k=10).collect()
    assert len(got) == 10
    for r in got:
        assert r.count_lb <= truth[r.value] <= r.count_ub, (r, truth[r.value])
        if r.exact:
            assert r.count_lb == truth[r.value] == r.count_ub
    # the heaviest values survive every part's top-8 -> exact at the top
    assert got[0].value == "v01" and got[0].exact and got[0].count_lb == 600
    # untruncated sketches (m >= distinct values) merge to the exact top-k
    wide = topk_sketch_by_group(df, ["g", "part"], "w", m=100)
    exact_topk = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    merged = [
        (r.value, r.count_lb)
        for r in topk_merge(wide, ["g"], k=10).orderBy("rank").collect()
    ]
    assert merged == exact_topk
    assert all(r.exact for r in topk_merge(wide, ["g"], k=10).collect())
    # bounded-shuffle pin: the m+1 row_number cut compiles to a
    # WindowGroupLimit, so a huge vocabulary pre-trims per map partition
    plan = fine._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_scd2_point_in_time_enrichment_asof_equals_interval(spark):
    """The two point-in-time enrichment paths must agree: facts enriched
    via asof_join against the SCD2 dimension's effective_from == facts
    joined by half-open interval containment (from <= ts < to). Pins the
    SCD2 interval contract to the as-of semantics with two independent
    operators — the fact-to-dimension temporal join every warehouse runs."""
    from datetime import datetime

    from aave_etl_spark.operators.asof import asof_join
    from aave_etl_spark.operators.scd import scd2_snapshot

    T = lambda d: datetime(2024, 1, d)  # noqa: E731
    log = spark.createDataFrame(
        [
            (1, "A", T(1)), (1, "A", T(3)), (1, "B", T(5)),  # no-op at d3
            (2, "X", T(2)), (2, "Y", T(4)),
        ],
        "k long, attr string, ts timestamp",
    )
    dim = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts")
    facts = spark.createDataFrame(
        [
            (1, T(1), 10.0),   # exactly at a version start: that version
            (1, T(4), 11.0),   # between versions
            (1, T(9), 12.0),   # after the last: current version
            (2, T(1), 20.0),   # before any version: NULL
            (2, T(4), 21.0),   # exactly at the switch: the NEW version
        ],
        "k long, ts timestamp, x double",
    )
    via_asof = {
        (r.k, r.ts, r.x): r.asof_attr
        for r in asof_join(
            facts,
            dim.selectExpr("k", "effective_from AS ts", "attr"),
            ["k"],
            "ts",
            ["attr"],
        ).collect()
    }
    via_interval = {
        (r.k, r.ts, r.x): r.attr
        for r in facts.join(
            dim,
            (facts.k == dim.k)
            & (dim.effective_from <= facts.ts)
            & (dim.effective_to.isNull() | (facts.ts < dim.effective_to)),
            "left",
        )
        .select(facts.k, facts.ts, facts.x, dim.attr)
        .collect()
    }
    assert via_asof == via_interval and len(via_asof) == 5
    assert via_asof[(1, T(1), 10.0)] == "A"
    assert via_asof[(1, T(9), 12.0)] == "B"
    assert via_asof[(2, T(1), 20.0)] is None
    assert via_asof[(2, T(4), 21.0)] == "Y"


def test_rowsample_quantile_sketch_merge_equals_direct(spark):
    """The mergeable row-sample quantile sketch: pooling per-part bottom-k
    samples and re-taking the bottom-k equals sketching the concatenated
    rows directly — EXACTLY (same hash race); below-k groups are exact
    quantiles; merging at k larger than the build k raises."""
    import pytest
    from pyspark.sql.utils import CapturedException

    from aave_etl_spark.operators.sketch import (
        rowsample_merge_quantiles,
        rowsample_sketch_by_group,
    )

    rows = [(i, "g", float((i * 37) % 1000)) for i in range(500)]
    rows += [(1000 + i, "tiny", float(i)) for i in range(5)]  # below k: exact
    df = spark.createDataFrame(rows, "rid long, g string, v double")
    parts = df.withColumn("part", F.col("rid") % 7)
    fine = rowsample_sketch_by_group(parts, ["g", "part"], "rid", "v", k=32)
    merged = sorted(
        map(tuple, rowsample_merge_quantiles(fine, ["g"], k=32).collect())
    )
    direct_sk = rowsample_sketch_by_group(df, ["g"], "rid", "v", k=32)
    direct = sorted(
        map(tuple, rowsample_merge_quantiles(direct_sk, ["g"], k=32).collect())
    )
    assert merged == direct and len(merged) == 2
    by_g = {t[0]: t for t in merged}
    assert by_g["g"][1] == 32  # n_sample capped at k
    # tiny group: sample is the WHOLE group, so quantiles are exact
    assert by_g["tiny"][1] == 5
    assert by_g["tiny"][2] == 2.0 and by_g["tiny"][3] == pytest.approx(3.6)
    # merge k > build k is a silent-bias trap: must raise
    with pytest.raises(CapturedException, match="build k"):
        rowsample_merge_quantiles(fine, ["g"], k=64).collect()


def test_weighted_sample_k_is_weight_proportional_and_deterministic(spark):
    """Efraimidis-Spirakis A-ES: heavier rows win proportionally more
    often across independent salts; draws are deterministic per salt;
    NULL/non-positive weights never win; the global form returns exactly
    k with a TakeOrdered plan (no full sort, no corpus-wide window)."""
    from aave_etl_spark.operators.sampling import weighted_sample_k

    rows = [(i, 100.0 if i < 10 else 1.0) for i in range(110)]
    rows += [(900, None), (901, 0.0), (902, -5.0)]  # can never win
    df = spark.createDataFrame(rows, "doc_id long, w double")
    heavy_wins = 0
    for s in range(8):
        got = {
            r.doc_id
            for r in weighted_sample_k(df, k=10, weight_col="w", salt=f"s{s}").collect()
        }
        assert len(got) == 10 and got.isdisjoint({900, 901, 902})
        heavy_wins += len(got & set(range(10)))
    # 10 heavy rows at weight 100 vs 100 light at weight 1: heavy holds
    # ~10/11 of total mass, so heavy wins should dominate (>=6/10 per draw
    # on average; across 8 salts demand a clear majority, not a coin flip)
    assert heavy_wins >= 48, heavy_wins
    # determinism: same salt, same draw, any partitioning
    a = sorted(map(tuple, weighted_sample_k(df, k=10, weight_col="w").collect()))
    b = sorted(
        map(tuple, weighted_sample_k(df.repartition(7), k=10, weight_col="w").collect())
    )
    assert a == b
    # grouped form: exactly k per group, ranks 1..k
    gdf = df.withColumn("g", (F.col("doc_id") % 2).cast("string"))
    gout = weighted_sample_k(gdf, k=3, weight_col="w", group_cols=["g"]).collect()
    per = {}
    for r in gout:
        per.setdefault(r.g, []).append(r.sample_rank)
    assert all(sorted(v) == [1, 2, 3] for v in per.values())
    # global plan: TakeOrdered (distributed per-partition top-k), no Sort-all
    plan = (
        weighted_sample_k(df, k=10, weight_col="w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_k_is_scale_free_in_weights(spark):
    """The max-normalization contract: scaling every weight by a positive
    constant leaves the draw BIT-IDENTICAL (keys divide by the group max
    before the 9dp rounding), so heavy absolute weights (~1e12) can no
    longer collapse keys to 0.000000000 and degrade the draw to
    ascending id — the ADVICE r9 failure mode."""
    from aave_etl_spark.operators.sampling import weighted_sample_k

    def draw(res):  # compare the DRAW (ids, keys, ranks), not the raw w
        return sorted((r.doc_id, r.sample_key, r.sample_rank) for r in res)

    rows = [(i, float(1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    big = df.withColumn("w", F.col("w") * F.lit(1e12))
    a = draw(weighted_sample_k(df, k=20, weight_col="w").collect())
    b = draw(weighted_sample_k(big, k=20, weight_col="w").collect())
    assert a == b
    # grouped form too (per-group max normalizer, NULL-safe join back)
    g = df.withColumn("g", (F.col("doc_id") % 3).cast("string"))
    gbig = big.withColumn("g", (F.col("doc_id") % 3).cast("string"))
    ga = draw(weighted_sample_k(g, k=4, weight_col="w", group_cols=["g"]).collect())
    gb = draw(weighted_sample_k(gbig, k=4, weight_col="w", group_cols=["g"]).collect())
    assert ga == gb
    # NULL group keeps its draws (eqNullSafe normalizer join)
    gn = df.withColumn(
        "g", F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(F.lit("x"))
    )
    got = weighted_sample_k(gn, k=4, weight_col="w", group_cols=["g"]).collect()
    assert sum(1 for r in got if r.g is None) == 4


def test_temperature_mixture_upweights_low_resource_and_caps_rates(spark):
    from aave_etl_spark.operators.sampling import temperature_mixture

    df = spark.createDataFrame(
        [("en", 9000), ("fr", 900), ("sw", 100)], "lang string, n_chars long"
    )
    out = {r.lang: r for r in temperature_mixture(df, budget=2000.0).collect()}
    # shares sum to 1, alpha<1 lifts the tail above its raw share
    assert abs(sum(r.mix_share for r in out.values()) - 1.0) < 1e-5
    assert out["sw"].mix_share > 100 / 10000  # raw share 1%
    assert out["en"].mix_share < 9000 / 10000  # raw share 90%
    # ordering preserved (alpha > 0 is monotone in mass)
    assert out["en"].mix_share > out["fr"].mix_share > out["sw"].mix_share
    # budget rates: expected = mass * rate, capped at full take
    for r in out.values():
        assert 0 < r.sample_rate <= 1.0
        assert abs(r.expected_units - round(r.n_units * r.sample_rate, 4)) < 0.01
    # alpha=1 is exactly proportional
    prop = {r.lang: r.mix_share for r in temperature_mixture(df, alpha=1.0).collect()}
    assert abs(prop["en"] - 0.9) < 1e-6


def test_line_dedup_global_cuts_cross_doc_boilerplate_keeps_first(spark):
    from aave_etl_spark.operators.dedup import line_dedup_global

    boiler = "subscribe to our newsletter for all the updates"
    docs = spark.createDataFrame(
        [
            (1, f"unique opening sentence one\n{boiler}\nclosing remark number one"),
            (2, f"{boiler}\nunique second document body text"),
            (3, "no duplicates here at all\nok"),  # 'ok' < min_chars: exempt
            (4, "no duplicates here at all\nok"),  # long line dups doc 3's
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup_global(docs).collect()}
    # doc 1 holds the first occurrence of the boilerplate; doc 2 loses it
    assert out[1].n_kept == 3 and boiler in out[1].clean_text
    assert out[2].n_kept == 1 and boiler not in out[2].clean_text
    assert out[2].clean_text == "unique second document body text"
    # cross-doc long-line dup cut in doc 4, short 'ok' exempt in BOTH
    assert out[3].n_kept == 2
    assert out[4].clean_text == "ok" and out[4].n_kept == 1
    # n_lines counts pre-cut non-empty lines
    assert (out[1].n_lines, out[2].n_lines, out[4].n_lines) == (3, 2, 2)
    # rebuild preserves original line order
    assert out[1].clean_text.split("\n")[0] == "unique opening sentence one"
    # empty / whitespace-only docs keep their row (no silent corpus loss)
    empties = spark.createDataFrame(
        [(1, "hello there world wide"), (2, ""), (3, "\n \n")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup_global(empties).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[2].clean_text, got[2].n_lines, got[2].n_kept) == ("", 0, 0)
    assert (got[3].clean_text, got[3].n_lines, got[3].n_kept) == ("", 0, 0)


def test_line_dedup_global_agg_form_equals_window_form_and_skew_immune(spark):
    """Property: the skew-immune groupBy(line_hash).agg(min(struct)) + join
    first-occurrence (what line_dedup_global ships) is row-for-row equal to
    the literal row_number-window form on a HOSTILE corpus — one boilerplate
    line recurring in most documents (the window form funnels every copy of
    that line into a single reducer task at scale; the agg form combines
    map-side). Also pins the plan: no Window operator anywhere."""
    import random

    from pyspark.sql.window import Window as W

    from aave_etl_spark.operators.dedup import line_dedup_global

    rng = random.Random(9)
    banner = "accept all cookies to continue reading this site"
    footer = "copyright example corporation all rights reserved"
    rows = []
    for d in range(120):
        body = [f"unique sentence {d} token {rng.randint(0, 9999)}"]
        if d % 10 != 3:
            body.insert(rng.randint(0, len(body)), banner)  # hot: ~90% of docs
        if d % 4 == 0:
            body.append(footer)
        if d % 7 == 0:
            body.append("ok")  # short, exempt
        rng.shuffle(body)
        rows.append((d, "\n".join(body)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = line_dedup_global(docs)

    # literal window twin (the r8 form the rewrite replaced)
    min_chars = 15
    lines = (
        docs.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col("text"), "\\n")).alias("_ln", "_line"),
        )
        .withColumn("_line", F.trim("_line"))
        .filter(F.length("_line") > 0)
    )
    w = W.partitionBy(F.md5(F.col("_line"))).orderBy("doc_id", "_ln")
    flagged = lines.withColumn("_rn", F.row_number().over(w))
    keep = (F.length("_line") < min_chars) | (F.col("_rn") == 1)
    twin_agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(keep, F.struct("_ln", "_line")))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    twin = (
        docs.select("doc_id")
        .distinct()
        .join(twin_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )
    got = sorted(out.collect())
    exp = sorted(twin.collect())
    assert got == exp
    # the hot banner survives exactly once across the whole corpus
    n_banner = sum(r.clean_text.split("\n").count(banner) for r in got)
    assert n_banner == 1
    # plan pin: first-occurrence is an aggregate+join, NOT a window —
    # no Window operator may appear anywhere in the shipped plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


# ---------------------------------------------------------------------------
# sampling building blocks: the md5-prefix uniform hash, the mergeable DSIR
# bucket state, the smoothed log-ratio table and the Gumbel sample key.
# Each is checked against a pure-Python twin of its documented formula.
# ---------------------------------------------------------------------------
def _md5_prefix(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def test_uniform_hash_matches_python_md5_prefix(spark):
    from aave_etl_spark.operators import sampling

    ids = [0, 7, 123456789]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = [r.u for r in df.select(sampling.uniform_hash("doc_id", "s1").alias("u")).collect()]
    assert got == [_md5_prefix(f"s1:{i}") / 16.0**15 for i in ids]


def test_uniform_hash_salted_scores_are_uniform_in_unit_interval(spark):
    from aave_etl_spark.operators import sampling

    df = spark.range(400).withColumnRenamed("id", "doc_id")
    rows = df.select(
        sampling.uniform_hash("doc_id", "a").alias("a"),
        sampling.uniform_hash(F.col("doc_id"), "b").alias("b"),
    ).collect()
    a = [r.a for r in rows]
    assert all(0.0 <= x < 1.0 for x in a)
    assert 0.4 < sum(a) / len(a) < 0.6
    assert sum(r.a != r.b for r in rows) == len(rows)


def test_hashed_ngram_buckets_count_unigrams_and_bigrams_with_multiplicity(spark):
    from aave_etl_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "a b c", "d1"), (2, "x x x", "d1"), (3, "solo", "d2")],
        "doc_id long, text string, day string",
    )
    # one bucket: _c is the doc's gram count, unigrams plus bigrams
    rows = sampling.hashed_ngram_buckets(docs, m=1, extra_cols=("day",)).collect()
    assert sorted((r.doc_id, r.day, r._b, r._c) for r in rows) == [
        (1, "d1", 0, 5), (2, "d1", 0, 5), (3, "d2", 0, 1),
    ]


def test_hashed_ngram_buckets_use_the_md5_prefix_bucket(spark):
    from aave_etl_spark.operators import sampling

    m = 97
    docs = spark.createDataFrame([(1, "Hello   WORLD hello")], "doc_id long, text string")
    got = {r._b: r._c for r in sampling.hashed_ngram_buckets(docs, m=m).collect()}
    want: dict[int, int] = {}
    for g in ["hello", "world", "hello", "hello world", "world hello"]:
        b = _md5_prefix(g) % m
        want[b] = want.get(b, 0) + 1
    assert got == want


def test_dsir_log_ratio_covers_full_domain_with_laplace_prior(spark):
    import math

    from aave_etl_spark.operators import sampling

    m = 4
    tgt = spark.createDataFrame([(0, 3)], "_b long, _ct long")
    raw = spark.createDataFrame([(1, 1)], "_b long, _cr long")
    got = {r._b: r._lr for r in sampling.dsir_log_ratio(tgt, raw, m).collect()}
    nt, nr = 3.0, 1.0
    ct, cr = {0: 3}, {1: 1}
    want = {
        b: math.log((ct.get(b, 0) + 1.0) / (nt + m)) - math.log((cr.get(b, 0) + 1.0) / (nr + m))
        for b in range(m)
    }
    assert got.keys() == want.keys()
    for b in range(m):
        assert got[b] == pytest.approx(want[b], abs=1e-12)


def test_dsir_scores_sum_count_weighted_log_ratios(spark):
    from aave_etl_spark.operators import sampling

    buckets = spark.createDataFrame(
        [(1, 0, 2), (1, 1, 1), (2, 1, 3)], "doc_id long, _b long, _c long"
    )
    ratio = spark.createDataFrame([(0, 0.5), (1, -1.0)], "_b long, _lr double")
    got = {r.doc_id: (r.n_grams, r._w) for r in sampling.dsir_scores(buckets, ratio).collect()}
    assert got == {1: (3, 0.0), 2: (3, -3.0)}


def test_dsir_sample_key_matches_gumbel_twin_and_scales_by_temperature(spark):
    import math

    from aave_etl_spark.operators import sampling

    df = spark.createDataFrame([(11, 2.0), (42, -1.0)], "doc_id long, w double")
    rows = df.select(
        "doc_id",
        "w",
        sampling.dsir_sample_key(F.col("w"), F.col("doc_id")).alias("k1"),
        sampling.dsir_sample_key(F.col("w") * 2.0, F.col("doc_id"), temperature=2.0).alias("k2"),
    ).collect()
    for r in rows:
        u = (_md5_prefix(f"dsir:{r.doc_id}") + 0.5) / 16.0**15
        assert r.k1 == pytest.approx(round(r.w - math.log(-math.log(u)), 6), abs=1e-6)
        # w/T is what the key sees: doubling both leaves it unchanged
        assert r.k2 == r.k1


# ---------------------------------------------------------------------------
# text: quality features/score, language-ID heuristic, bag-of-words
# fingerprint, document-frequency n-grams and sketch-backed stop terms
# ---------------------------------------------------------------------------
def test_quality_features_known_values(spark):
    from aave_etl_spark.operators import text

    docs = spark.createDataFrame([(1, "The cat, and the DOG.")], "doc_id long, text string")
    r = text.quality_features(docs).first()
    # tokens: the, "cat,", and, the, "dog."
    assert (r.n_chars, r.n_words) == (21, 5)
    assert r.stopword_ratio == pytest.approx(3 / 5)
    assert r.punct_ratio == pytest.approx(2 / 21)
    assert r.distinct_ratio == pytest.approx(4 / 5)


def test_quality_score_weights_and_short_doc_gate(spark):
    from aave_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "too short doc"), (3, "spam spam spam spam spam spam")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.quality for r in text.quality_score(docs).collect()}
    # 0.3*min(5/100,1) + 0.3*min(0.6*10,1) + 0.3*(4/5) + 0.1*(1-0)
    assert got[1] == pytest.approx(0.655)
    assert got[2] == 0.0
    # no stopwords and one distinct token: only length and punctuation score
    assert got[3] == pytest.approx(round(0.3 * 0.06 + 0.3 / 6 + 0.1, 6))
    assert all(0.0 <= q <= 1.0 for q in got.values())


@pytest.mark.parametrize(
    "doc, lang, score",
    [
        ("the cat and a dog", "en", 3 / 5),
        ("le chat et les chiens", "fr", 3 / 5),
        ("der hund und die katze", "de", 3 / 5),
        ("el perro y los gatos", "es", 3 / 5),
        ("zzz qqq", "und", 0.0),
        # "la" marks both fr and es: the tie goes to the first language
        ("la casa", "fr", 1 / 2),
    ],
)
def test_language_id_marker_heuristic(spark, doc, lang, score):
    from aave_etl_spark.operators import text

    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = text.language_id(docs).first()
    assert r.lang_guess == lang
    assert r.lang_score == pytest.approx(score)


def test_language_id_custom_markers(spark):
    from aave_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "ja ja nein"), (2, "si si no")], "doc_id long, text string"
    )
    markers = {"de": ("ja", "nein"), "it": ("si", "no")}
    got = {r.doc_id: r.lang_guess for r in text.language_id(docs, markers=markers).collect()}
    assert got == {1: "de", 2: "it"}


def test_fingerprint_is_a_bag_of_distinct_words(spark):
    from aave_etl_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "Gamma  alpha BETA"),
            (3, "beta alpha gamma gamma"),
            (4, "alpha beta delta"),
        ],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.fingerprint for r in text.fingerprint(docs).collect()}
    assert fp[1] == fp[2] == fp[3]
    assert fp[4] != fp[1]
    import hashlib

    assert fp[1] == hashlib.md5(b"alpha beta gamma").hexdigest()


def test_ngram_doc_freq_topk_counts_documents_not_occurrences(spark):
    from aave_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d a b"), (3, "A B c")], "doc_id long, text string"
    )
    got = [
        (r.ngram, r.doc_freq, r.rank)
        for r in text.ngram_doc_freq_topk(docs, n=2, k=2).orderBy("rank").collect()
    ]
    assert got == [("a b", 3, 1), ("b c", 2, 2)]


def test_ngram_doc_freq_topk_breaks_ties_by_ngram(spark):
    from aave_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "zeta"), (2, "alpha"), (3, "mid"), (4, "zeta alpha")], "doc_id long, text string"
    )
    got = [
        (r.ngram, r.doc_freq)
        for r in text.ngram_doc_freq_topk(docs, n=1, k=3).orderBy("rank").collect()
    ]
    assert got == [("alpha", 2), ("zeta", 2), ("mid", 1)]


def test_stop_terms_from_shard_sketches_are_exact_for_heavy_terms(spark):
    from aave_etl_spark.operators import text

    rows = [(d, "the") for d in range(8)]
    rows += [(d, "of") for d in range(6)]
    rows += [(d, f"rare{d}") for d in range(8)]
    postings = spark.createDataFrame(rows, "doc_id long, term string")
    sk = text.stop_term_sketches(postings, m=16, n_shards=4)
    assert sorted(r._shard for r in sk.collect()) == [0, 1, 2, 3]
    got = [
        (r.value, r.count_lb, r.count_ub, r.exact, r.rank)
        for r in text.stop_terms_from_sketches(sk, k=2).orderBy("rank").collect()
    ]
    assert got == [("the", 8, 8, True, 1), ("of", 6, 6, True, 2)]


def test_stop_term_sketches_bound_undercounts_when_truncated(spark):
    """With m=1 each shard keeps only its heaviest term; a term missing
    from a shard's summary gets that shard's rest_max as slack, so its
    upper bound never falls below the true document frequency."""
    from aave_etl_spark.operators import text

    rows = [(d, "the") for d in range(8)] + [(d, "of") for d in (0, 1, 2)]
    postings = spark.createDataFrame(rows, "doc_id long, term string")
    sk = text.stop_term_sketches(postings, m=1, n_shards=4)
    assert all(len(r.hh) == 1 for r in sk.collect())
    top = text.stop_terms_from_sketches(sk, k=1).first()
    assert (top.value, top.count_lb) == ("the", 8)
    assert top.count_ub >= 8


# ---------------------------------------------------------------------------
# keep_first_per_group: one row per group under a pinned total order
# ---------------------------------------------------------------------------
def test_keep_first_per_group_ascending_with_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 2, "x"), ("a", 1, "z"), ("a", 1, "y"), ("b", 5, "w")],
        "g string, ts long, tag string",
    )
    out = dedup.keep_first_per_group(df, ["g"], [F.col("ts"), F.col("tag")])
    assert out.columns == ["g", "ts", "tag"]
    assert sorted(tuple(r) for r in out.collect()) == [("a", 1, "y"), ("b", 5, "w")]


def test_keep_first_per_group_keep_last_over_two_keys(spark):
    df = spark.createDataFrame(
        [("m", "d1", 1, 10.0), ("m", "d1", 3, 30.0), ("m", "d2", 2, 20.0), ("n", "d1", 9, 90.0)],
        "market string, day string, block long, v double",
    )
    out = dedup.keep_first_per_group(df, ["market", "day"], [F.col("block").desc()])
    assert sorted((r.market, r.day, r.v) for r in out.collect()) == [
        ("m", "d1", 30.0), ("m", "d2", 20.0), ("n", "d1", 90.0),
    ]


@pytest.mark.parametrize(
    "opts, message",
    [
        ({"mix_weights": [("en", 1.0)], "mix_temperature": 0.5, "mix_budget": 10.0},
         "mix_weights OR mix_temperature"),
        ({"mix_budget": 10.0}, "mix_budget only applies"),
        ({"mix_temperature": 0.5}, "mix_temperature needs mix_budget"),
        ({"sample_weight_col": "quality"}, "sample_weight_col only applies"),
        ({"sample_k": 0}, "sample_k must be >= 1, got 0"),
    ],
)
def test_mix_and_pack_rejects_contradictory_tail_options(opts, message):
    """A contradictory or incomplete mixing tail fails before any corpus
    frame is touched (the core here is empty and the session absent)."""
    from aave_etl_spark.plans.curation import mix_and_pack

    with pytest.raises(ValueError, match=message):
        mix_and_pack({}, None, **opts)
