"""Text-analysis operators: token stats, quality scoring, language-ID
heuristic, document fingerprinting.

All pure Column expressions over `split()` arrays — higher-order functions
keep the work inside whole-stage codegen; nothing leaves the JVM. Each
operator is a narrow map (no shuffle) except the explicitly-aggregating
ones.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from aave_etl_spark.localframe import local_df

DEFAULT_STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

# A BPE-ish word/number/punct splitter: alpha runs, digit runs, single
# non-space symbols — the token-counting convention for quality gates.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokens of normalized text — ONE tokenization for every
    text operator: lowercase + whitespace collapse, identical to
    dedup.normalize_text and to the DuckDB oracles' shared ``_TOKS``
    snippet (queries/llm.py). A case-sensitive variant here would make
    vocab/NLL statistics disagree with the BM25/repetition views of the
    same corpus and silently diverge from the oracle on mixed-case
    input."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token statistics: n_tokens, n_distinct_tokens, avg_token_len,
    n_bpe_tokens (regex token count — the BPE-ish proxy)."""
    toks = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        (
            F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double"))
            / F.size(toks).cast("double")
        ).alias("avg_token_len"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def quality_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Per-doc quality features: length, word count, stopword ratio,
    punctuation ratio, distinct-token ratio — the standard heuristic
    quality gate for pretraining corpora."""
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("double")
    sw = F.size(F.filter(toks, lambda x: x.isin(*stopwords))).cast("double")
    n_chars = F.length(text_col).cast("double")
    n_punct = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,!?;:'\"-]", ""))
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_words"),
        (sw / n_tok).alias("stopword_ratio"),
        (n_punct / n_chars).alias("punct_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("distinct_ratio"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scalar quality score in [0,1]: weighted mix of the features, with
    hard gates for degenerate docs (too short, no stopwords, all-repeat)."""
    feats = quality_features(df, id_col, text_col)
    score = (
        F.least(F.col("n_words").cast("double") / 100.0, F.lit(1.0)) * 0.3
        + F.least(F.col("stopword_ratio") * 10.0, F.lit(1.0)) * 0.3
        + F.col("distinct_ratio") * 0.3
        + (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.1
    )
    gated = F.when(F.col("n_words") < 5, F.lit(0.0)).otherwise(score)
    return feats.select(F.col(id_col), F.round(gated, 6).alias("quality"))


def language_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    markers: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Marker-token language heuristic: the language whose marker set has
    the highest hit ratio wins; below-threshold → 'und'. (A real system
    swaps in fastText/CLD3 via a pandas UDF — the *shape* is identical:
    narrow map, no shuffle.)"""
    markers = markers or {
        "en": ("the", "a", "and", "of"),
        "fr": ("le", "la", "et", "les"),
        "de": ("der", "die", "und", "das"),
        "es": ("el", "la", "y", "los"),
    }
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("double")
    scores = [
        (F.size(F.filter(toks, lambda x: x.isin(*ms))).cast("double") / n_tok).alias(f"score_{lang}")
        for lang, ms in markers.items()
    ]
    scored = df.select(F.col(id_col), F.col(text_col), *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in markers])
    # ties resolved by dict order via reversed fold: first lang wins
    guess = F.lit("und")
    for lang in reversed(list(markers)):
        guess = F.when((best > 0.0) & (F.col(f"score_{lang}") == best), F.lit(lang)).otherwise(guess)
    return scored.select(F.col(id_col), guess.alias("lang_guess"), best.alias("lang_score"))


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Order-invariant bag-of-words fingerprint: md5 of the sorted distinct
    token list. Docs with equal fingerprints are permutation duplicates."""
    toks = tokens(text_col)
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def ngram_doc_freq_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-level top-k n-grams by DOCUMENT frequency — the vocabulary
    statistic a pretraining pipeline computes before filtering/dedup.

    Dataflow at 100 TB: per-doc distinct shingles (narrow map, reuses the
    dedup shingler) → one shuffle on the n-gram with map-side partial
    counts → a global rank over an aggregate whose cardinality is the
    vocabulary, not the corpus; Spark's WindowGroupLimit keeps only k rows
    per partition before the final single-partition sort, so the "global"
    window never sees more than partitions×k rows. Ties break (count desc,
    ngram asc) for engine-reproducible output."""
    from aave_etl_spark.operators.dedup import word_shingles

    from pyspark.sql.window import Window

    sh = word_shingles(df, id_col, text_col, n=n)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("ngram"))
    return (
        sh.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signal: the fraction of word bigrams that
    are duplicates of an earlier bigram in the same doc — the Gopher-style
    repetition quality gate (high ratio = boilerplate/spam/looped text).

    Docs with < 2 tokens have no bigrams and are excluded. The bigram array
    is bound to its own projection (HOF lambdas are interpreted; size +
    array_distinct reference it twice). Narrow map, no shuffle."""
    from aave_etl_spark.operators.dedup import normalize_text

    toked = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_toks")
    ).filter(F.size("_toks") >= 2)
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
    )
    bound = toked.select(F.col(id_col), grams.alias("_grams"))
    n = F.size("_grams").cast("long")
    nd = F.size(F.array_distinct("_grams")).cast("long")
    return bound.select(
        F.col(id_col),
        n.alias("n_bigrams"),
        nd.alias("n_distinct_bigrams"),
        (F.lit(1.0) - nd.cast("double") / n.cast("double")).alias("repetition_ratio"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Sliding-window chunking for context-window-bounded training: each doc
    becomes ceil((n - K)/(K - overlap)) + 1 chunks of up to K tokens, with
    consecutive chunks sharing ``overlap`` tokens. Output: (id, chunk_id,
    n_chunk_tokens, chunk_md5) — the md5 stands in for the chunk text so
    the operator stays narrow; a caller wanting the text swaps the md5 for
    concat_ws over the same slice.

    Plan shape: one explode (rows ≈ corpus_tokens / stride) over JVM-side
    slice/sequence — no shuffle, no Python. At 100 TB, chunk volume scales
    linearly with token volume and partitions with the input."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    from aave_etl_spark.operators.dedup import normalize_text

    stride = chunk_tokens - overlap
    toked = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_toks")
    ).filter(F.size("_toks") > 0)
    n = F.size("_toks")
    n_chunks = (
        F.when(n <= chunk_tokens, F.lit(1))
        .otherwise(F.ceil((n - chunk_tokens) / F.lit(stride)) + 1)
        .cast("int")
    )
    with_idx = toked.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice("_toks", F.col("chunk_id") * stride + 1, chunk_tokens)
    bound = with_idx.select(
        F.col(id_col), F.col("chunk_id").cast("long").alias("chunk_id"), chunk.alias("_chunk")
    )
    return bound.select(
        F.col(id_col),
        "chunk_id",
        F.size("_chunk").cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("_chunk"))).alias("chunk_md5"),
    )


URL_PATTERN = r"https?://[^\s]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUM_PATTERN = r"[0-9]{6,}"


def scrub_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII/URL scrubbing pass: URLs → <URL>, emails → <EMAIL>, long digit
    runs (phone/account/card-shaped) → <NUM>, applied in that order so an
    address inside a URL is counted once as a URL. Returns (id, n_urls,
    n_emails, n_long_nums, clean_md5) — the md5 stands in for the cleaned
    text (same narrow-map trick as chunking); a caller wanting the text
    keeps the `_clean` column instead.

    Pure regexp expressions (RE2-compatible patterns, portable to the
    DuckDB oracle), narrow map, no shuffle — the cheapest possible pass at
    100 TB, and the one every corpus runs first."""
    c = F.col(text_col)
    n_urls = F.size(F.regexp_extract_all(c, F.lit(URL_PATTERN), F.lit(0)))
    step1 = F.regexp_replace(c, URL_PATTERN, "<URL>")
    n_emails = F.size(F.regexp_extract_all(step1, F.lit(EMAIL_PATTERN), F.lit(0)))
    step2 = F.regexp_replace(step1, EMAIL_PATTERN, "<EMAIL>")
    n_nums = F.size(F.regexp_extract_all(step2, F.lit(LONG_NUM_PATTERN), F.lit(0)))
    clean = F.regexp_replace(step2, LONG_NUM_PATTERN, "<NUM>")
    return df.select(
        F.col(id_col),
        n_urls.cast("long").alias("n_urls"),
        n_emails.cast("long").alias("n_emails"),
        n_nums.cast("long").alias("n_long_nums"),
        F.md5(clean).alias("clean_md5"),
    )


def bm25_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The corpus postings table (id, term, tf, df, bm25) every BM25
    consumer shares: per-(doc, term) BM25 weight with corpus statistics
    (N, avgdl, df) computed from ``df`` itself — df rides along per row
    so probes can apply the max_df stop-term cap as a scan predicate.

    score(t, d) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with the BM25+ idf = ln(1 + (N - df + 0.5) / (df + 0.5)).

    Dataflow at 100 TB: token explode → one shuffle to (doc, term) counts →
    one shuffle to term doc-frequencies (vocabulary-sized, joined back on
    the term key) → corpus scalars (N, avgdl) via a 1-row aggregate
    broadcast-crossjoined, never collected to the driver. Weights round to
    6dp so downstream ranks are engine-reproducible. At rest this is the
    inverted index a retrieval system materializes once per corpus.

    Scan fan-out (guide §2.5) is value-safe: tf/dl/df are exact ints
    keyed by their own shuffles, and the scalar avg runs over the dl
    frame whose partitioning comes from the tf shuffle, not the scan."""
    from aave_etl_spark.operators.dedup import normalize_text
    from aave_etl_spark.operators.skew import fan_out_scan

    tok = fan_out_scan(df, id_col).select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scalars = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfv = F.col("tf").cast("double")
    norm = tfv * (k1 + 1.0) / (
        tfv + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    return (
        tf.join(dl, id_col)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            F.col(id_col),
            "term",
            "tf",
            # df rides along so probes can apply a max_df stop-term cap as
            # a SCAN-side predicate (at rest it reaches the parquet footer:
            # whole row groups of hot-term postings are skipped)
            F.col("df").cast("long").alias("df"),
            F.round(idf * norm, 6).alias("bm25"),
        )
    )


def stop_term_sketches(
    postings: DataFrame,
    m: int = 16,
    n_shards: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """The per-shard partial-df heavy-hitter summaries stop-term
    discovery is built from: (_corpus, _shard, hh, rest_max, hh_m) — m
    (term, partial df) pairs + an undercount bound per shard, kilobytes
    regardless of corpus size. Store these once through the TableStore
    and roll the stop list up from the stored states with
    :func:`stop_terms_from_sketches` — the store-once/roll-anywhere
    sketch-table shape, so re-planning the list after ingest reads m-row
    states, not the postings."""
    from aave_etl_spark.operators.sketch import topk_sketch_by_group

    toks = postings.select(
        F.lit("all").alias("_corpus"),
        (F.col(id_col) % int(n_shards)).alias("_shard"),
        "term",
    )
    return topk_sketch_by_group(toks, ["_corpus", "_shard"], "term", m=m)


def stop_terms_from_sketches(sketches: DataFrame, k: int = 5) -> DataFrame:
    """Roll per-shard :func:`stop_term_sketches` states (in-flight or
    read back from a store) up to the global top-k stop list:
    (value=term, count_lb, count_ub, exact, rank)."""
    from aave_etl_spark.operators.sketch import topk_merge

    return topk_merge(sketches, ["_corpus"], k=k).drop("_corpus")


def discover_stop_terms(
    postings: DataFrame,
    m: int = 16,
    k: int = 5,
    n_shards: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """DATA-PLANNED stop-term discovery: the mergeable heavy-hitters
    sketch (operators/sketch.py topk_sketch_by_group / topk_merge) run
    over the postings table's per-shard partial document frequencies —
    so the `max_df`-style stop handling's term list comes from the corpus
    itself, not a hand-picked threshold.

    Each postings row is one (doc, term) incidence, so per-(shard, term)
    row counts ARE partial dfs (docs shard by id; a doc's incidences land
    in exactly one shard). Per-shard exact top-m summaries merge to the
    global top-k hot terms with honest [count_lb, count_ub] df bounds and
    an `exact` flag — the same store-once/roll-anywhere states the HH
    rollup certifies, so at rest the discovery reads m-row sketches, not
    the postings.

    Output: (value=term, count_lb, count_ub, exact, rank), rank 1..k by
    (count_lb DESC, term). Compose by ANTI-JOINING the probe's postings
    against it — `postings.join(stop.select(col("value").alias("term")),
    "term", "left_anti")` — which keeps the whole plan lazy and
    distributed (no driver-side threshold collect; the list is k rows,
    so the anti-join broadcasts).

    Dataflow at 100 TB: one map-side-combined (shard, term) count, a
    WindowGroupLimit-trimmed per-shard rank, and a k-row merge — nothing
    scales past vocabulary size. The postings scan per call is the
    corpus-linear term (SCALE.md round-10 row); persist
    :func:`stop_term_sketches` and roll up with
    :func:`stop_terms_from_sketches` to pin the list at rest instead."""
    return stop_terms_from_sketches(
        stop_term_sketches(postings, m=m, n_shards=n_shards, id_col=id_col), k=k
    )


def bm25_retrieve(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df: int | None = None,
) -> DataFrame:
    """Query→document BM25 retrieval: each query document's DISTINCT terms
    (the standard qtf=1 query model) probe the corpus postings table; a
    candidate's score is the sum of its matched terms' BM25 weights.

    Output: (query_id, candidate_id, bm25_score, rank), self-matches
    excluded, ties broken by candidate id.

    ``max_df``: optional stop-term cap — postings of terms appearing in
    more than ``max_df`` documents are excluded from scoring (the standard
    lossy stop-term handling; such terms carry near-zero idf anyway).
    Without it, one query containing "the" drags that term's FULL postings
    list through the hits join — ~|corpus| rows for a stop word.

    Dataflow at 100 TB: the postings side is the corpus-sized inverted
    index (built by `bm25_postings`, or read at rest); the query-term set
    is tiny (|queries| × ~doc terms) and BROADCAST, so the probe is a
    map-side hash join on `term` over one postings scan — no corpus
    shuffle. The per-(query, candidate) sum shuffles only matched pairs
    (bounded by k candidates per query after the WindowGroupLimit-capped
    top-k window)."""
    postings = bm25_postings(corpus, id_col=id_col, text_col=text_col, k1=k1, b=b)
    return _bm25_probe(
        postings, queries, id_col=id_col, text_col=text_col, k=k, max_df=max_df
    )


def _bm25_probe(
    postings: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    broadcast_queries: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Probe a postings table with query documents' distinct terms and
    rank candidates by summed BM25 weight — the scoring core shared by
    the in-flight `bm25_retrieve` and the at-rest `bm25_index_search`
    (which must produce identical results by construction).

    ``broadcast_queries=True`` (the incremental-retrieval default: query
    batches are small) makes the probe a map-side hash join over one
    postings scan. Pass False for a LARGE query set — the join falls back
    to shuffle, and an index bucketed on `term` keeps the corpus side
    exchange-free (only the query terms move).

    ``max_df`` prunes stop-term postings BEFORE the hits join, mirroring
    the df-based hot-shingle prune in `ngram_jaccard` (dedup.py): the
    filter sits on the postings scan, so against an at-rest index it
    pushes down to parquet (PushedFilters on df) and hot-term row groups
    are never read."""
    from aave_etl_spark.operators.dedup import normalize_text

    if max_df is not None:
        postings = postings.filter(F.col("df") <= int(max_df))
    qterms = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array_distinct(F.split(normalize_text(text_col), " "))
        ).alias("term"),
    ).distinct()
    if broadcast_queries:
        qterms = F.broadcast(qterms)
    hits = postings.join(qterms, "term").filter(
        F.col(id_col) != F.col("query_id")
    )
    scores = hits.groupBy("query_id", F.col(id_col).alias("candidate_id")).agg(
        F.round(F.sum("bm25"), 6).alias("bm25_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_score").desc(), F.col("candidate_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "bm25_score", "rank")
    )


# params-sidecar validation memo: path -> (k1, b) as built. A guard-row
# cache (2 floats), never query data; entries die with the process and
# are invalidated by bm25_index_build on rewrite.
_BM25_PARAMS_SEEN: dict[str, tuple[float, float]] = {}


def bm25_index_build(
    store,
    corpus: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
) -> None:
    """Materialize a corpus's BM25 postings as an AT-REST inverted index,
    hash-bucketed on `term` through the TableStore.

    The sparse-retrieval sibling of `minhash_index_build` (dedup.py):
    tokenize→tf→df→weight runs ONCE per corpus; every later query batch
    probes the stored postings without re-scanning any text. Bucketing on `term` pre-shuffles the join key, so a LARGE
    query batch (shuffle-join regime) leaves the corpus side exchange-free
    — small batches broadcast and never shuffle anything.

    Corpus statistics (N, avgdl, df) are baked into the stored weights, so
    the index is a snapshot: append-heavy corpora rebuild on a cadence
    (weights drift slowly — df/N ratios move little per ingest batch), the
    same trade every production BM25 index makes between freshness and
    rebuild cost. ``n_buckets`` defaults to the slot count
    (``TableStore.write_bucketed``'s rule); the count used is recorded in
    the ``<name>_params`` sidecar."""
    posts = bm25_postings(corpus, id_col=id_col, text_col=text_col, k1=k1, b=b)
    n_buckets = store.write_bucketed(
        posts, name, bucket_cols=["term"], n_buckets=n_buckets, sort_cols=["term"]
    )
    # one-row params sidecar: a probe scored under different (k1, b) than
    # the stored weights would silently disagree with its in-flight twin —
    # bm25_index_search validates and raises instead
    local_df(corpus.sparkSession,
        [(float(k1), float(b), n_buckets)], "k1 double, b double, n_buckets int"
    ).write.mode("overwrite").parquet(store._path(name + "_params"))
    # a rebuild at the same path must re-validate, not serve the old pair
    _BM25_PARAMS_SEEN.pop(store._path(name + "_params"), None)


def bm25_index_postings(
    store, name: str, k1: float = 1.2, b: float = 0.75
) -> DataFrame:
    """The stored postings of an at-rest BM25 index, after checking that
    (k1, b) match the build-params sidecar. Every at-rest consumer
    (`bm25_index_search`, `bm25_topk_from_postings` over the stored table)
    reads the index through here.

    Raises on a (k1, b) mismatch — drifted parameters would silently score
    with stale norms — and on a missing sidecar (index never built)."""
    import os

    # only a MISSING sidecar means "never built" — a present-but-unreadable
    # one (half-written build, corruption) must surface as its own error,
    # not send the caller to rebuild over a live index; an explicit path
    # check makes the distinction exception classes can't
    path = store._path(name + "_params")
    if not os.path.exists(path):
        raise ValueError(
            f"bm25 index: no params sidecar for index {name!r} —"
            " build it with bm25_index_build first"
        )
    # the sidecar is immutable once built (completion-marker discipline;
    # bm25_index_build invalidates this entry on rewrite), so validate it
    # with ONE driver job per index per session instead of one per search
    # call — a per-process memo of a 2-float guard row, not of any query
    # result (five at-rest consumers each paid a head() job otherwise)
    built_pair = _BM25_PARAMS_SEEN.get(path)
    if built_pair is None:
        built = store.spark.read.parquet(path).head()
        built_pair = (built.k1, built.b)
        _BM25_PARAMS_SEEN[path] = built_pair
    if (float(k1), float(b)) != built_pair:
        raise ValueError(
            f"bm25 index params {(k1, b)} != build params"
            f" {built_pair} (k1, b) — stored weights were scored"
            " under the build's parameters"
        )
    return store.read_bucketed(name)


def bm25_index_search(
    store,
    queries: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    broadcast_queries: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Retrieve top-k documents for each query doc from an at-rest BM25
    postings index — identical results to the in-flight `bm25_retrieve`
    over the same corpus (the weights ARE the build-time postings), with
    zero corpus text re-scan at query time.

    ``max_df`` (stop-term cap) filters the stored postings scan itself —
    the predicate pushes down to the parquet footers, so hot-term row
    groups are skipped, not read-and-dropped.

    Raises on a (k1, b) mismatch against the index's build-params sidecar
    — drifted parameters would silently score with stale norms."""
    postings = bm25_index_postings(store, name, k1=k1, b=b)
    if max_df is not None and "df" not in postings.columns:
        # indexes built before the df column existed can't serve a capped
        # probe — fail with the rebuild hint, not an unresolved-column error
        raise ValueError(
            f"bm25 index {name!r} predates the df column — rebuild it with"
            " bm25_index_build to use max_df"
        )
    return _bm25_probe(
        postings,
        queries,
        id_col=id_col,
        text_col=text_col,
        k=k,
        broadcast_queries=broadcast_queries,
        max_df=max_df,
    )


def bm25_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k terms per document by BM25 weight — the per-doc keyword
    signature used for retrieval indexing and topic-mix analysis.

    score(t, d) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with the BM25+ idf = ln(1 + (N - df + 0.5) / (df + 0.5)).

    Dataflow at 100 TB: token explode → one shuffle to (doc, term) counts →
    one shuffle to term doc-frequencies (vocabulary-sized, joined back on
    the term key) → corpus scalars (N, avgdl) via a 1-row aggregate
    broadcast-crossjoined, never collected to the driver → per-doc top-k
    window (WindowGroupLimit caps each map partition at k before the
    exchange). Scores round to 6dp so ranks are engine-reproducible."""
    scored = bm25_postings(df, id_col=id_col, text_col=text_col, k1=k1, b=b)
    return bm25_topk_from_postings(scored, id_col=id_col, k=k)


def bm25_topk_from_postings(
    postings: DataFrame, id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """:func:`bm25_topk`'s ranking tail over an EXISTING postings table —
    in-flight (`bm25_postings`) or read back from the at-rest inverted
    index (`bm25_index_build` stores the postings verbatim, weights
    included, so ranking the stored table is value-identical to the
    in-flight rebuild while skipping the tokenize→tf→df→weight corpus
    pass; the store-prefix sharing the round-13 verdict prescribed for
    the BM25 trio). Read the stored table with `bm25_index_postings`,
    which raises when (k1, b) differ from the index's build params."""
    w = Window.partitionBy(id_col).orderBy(F.col("bm25").desc(), F.col("term"))
    return (
        postings.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "bm25", "rank")
    )


def vocab_coverage(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    coverage: float = 0.9,
) -> DataFrame:
    """Per-group vocabulary coverage curve summary: (group, n_tokens,
    vocab_size, k_cov, top1_share) where ``k_cov`` is the smallest number
    of top-frequency words covering ``coverage`` of all token occurrences
    — the corpus statistic that sizes a tokenizer vocabulary / spots
    boilerplate-dominated sources (tiny k_cov = low lexical diversity).

    Plan: token explode → (group, token) count (one shuffle, well-spread
    key) → per-group frequency-rank window with a running-sum frame. The
    window sorts each group's VOCABULARY (distinct words — millions at
    worst), not its token stream, so the per-group sort state is bounded
    by vocab size regardless of corpus size."""
    tok = df.select(F.col(group_col), F.explode(tokens(text_col)).alias("token"))
    freq = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy(group_col).orderBy(F.col("f").desc(), F.col("token"))
    ranked = freq.withColumn("r", F.row_number().over(w)).withColumn(
        "cum", F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    totals = freq.groupBy(group_col).agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.max("f").cast("double").alias("_top1"),
    )
    k_cov = (
        ranked.join(totals, group_col)
        .filter(F.col("cum").cast("double") >= F.lit(coverage) * F.col("n_tokens").cast("double"))
        .groupBy(group_col)
        .agg(F.min("r").cast("long").alias("k_cov"))
    )
    return (
        totals.join(k_cov, group_col)
        .select(
            F.col(group_col),
            "n_tokens",
            "vocab_size",
            "k_cov",
            F.round(F.col("_top1") / F.col("n_tokens").cast("double"), 6).alias(
                "top1_share"
            ),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc unigram negative log-likelihood under the corpus's own
    unigram distribution: (id, n_tokens, avg_neg_logprob) — the cheap
    perplexity proxy (CCNet-style LM quality filtering with the LM
    replaced by corpus unigram frequencies). Low score = stereotypical
    text; high score = rare-token-heavy (gibberish or genuinely novel).

    Plan: (token) count (one shuffle) + the corpus total folded into ONE
    broadcast row; per-doc scoring is an equi-join of the token stream
    against the frequency table followed by a per-doc avg — every token
    present in the corpus has frequency >= 1, so the log never sees zero.

    Scan fan-out is value-safe HERE because it repartitions by the GROUP
    key: each doc's token stream stays whole in one partition, so the
    per-doc float avg accumulates in array order exactly as before (one
    partial per doc; the frequency joins broadcast and preserve row
    order), and the token counts are exact ints."""
    from aave_etl_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, id_col)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").cast("double").alias("_total"))
    scored = (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (-F.log(F.col("tf").cast("double") / F.col("_total"))).alias("_nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("_nll"), 6).alias("avg_neg_logprob"),
    )


def ngram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram + bigram counts of the corpus's normalized token stream —
    one row per distinct gram, ``(w1, w2, tf)`` with ``w2`` NULL for
    unigrams: the count state of a stupid-backoff LM (Brants et al.
    2007, "Large Language Models in Machine Translation" §4 — the
    smoothing-free scheme built FOR distributed trillion-token corpora:
    no discounting ties grams together, so count states are purely
    ADDITIVE and per-day tables merge by summing ``tf``; see
    :func:`stupid_backoff_score` for the scoring half).

    Plan: ONE tokenize + explode pass — each position's (prev, cur)
    pair is derived inside the token array by index arithmetic
    (``F.transform`` + ``F.get``; no per-doc window, no second explode)
    and unigram/bigram gram structs concat into a single exploded
    stream — then one map-side-combinable groupBy. Token-frequency skew
    ("the") concentrates occurrences of ONE gram key into one count
    row; nothing pair-fans out. Scan fan-out is value-safe: the gram
    counts are exact ints keyed by their own shuffle."""
    from aave_etl_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, id_col)
    l = tokens(text_col)
    uni = F.transform(
        l,
        lambda x: F.struct(
            x.alias("w1"), F.lit(None).cast("string").alias("w2")
        ),
    )
    bi = F.filter(
        F.transform(
            l, lambda x, i: F.struct(F.get(l, i - 1).alias("w1"), x.alias("w2"))
        ),
        lambda s: s["w1"].isNotNull(),
    )
    return (
        df.select(F.explode(F.concat(uni, bi)).alias("g"))
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def stupid_backoff_score(
    df: DataFrame,
    counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Per-doc negative log-likelihood under a stupid-backoff bigram LM
    (Brants et al. 2007 §4):

        S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if the bigram
                                                         is in ``counts``
                         = alpha * S(w_i)                otherwise
        S(w)             = c(w) / N                      in-vocabulary
                         = alpha / N                     out-of-vocabulary

    (stupid backoff leaves OOV undefined; the deterministic alpha/N
    uniform floor keeps every score total and engine-portable). A doc's
    FIRST token scores S(w_1) — no sentence markers. Output:
    ``(id, n_tokens, avg_neg_logprob)``; zero-token docs are absent
    (the ``unigram_logprob`` contract). Unlike ``unigram_logprob`` —
    which scores a corpus against its OWN frequencies — ``counts`` here
    is a separately-trained reference LM (``ngram_counts`` output, or
    an at-rest per-day count state rolled up by summing ``tf``), which
    is the actual CCNet setup: score the incoming batch against a FIXED
    LM, so unseen-bigram and OOV backoff branches are real.

    Plan: the (prev, cur) stream comes from index arithmetic inside the
    token array (one explode, no per-doc window); three LEFT equi-joins
    against the vocab-sized count table (cur-unigram, prev-unigram for
    the conditional's denominator, bigram) — each stream row matches at
    most ONE count row, so a hot token skews a shuffle key (AQE skew
    split handles it) but never fans out; the corpus total folds into
    one broadcast row (the ``unigram_logprob`` shape). All JVM-side
    expressions, no UDFs. Scan fan-out keyed by the doc id is value-safe
    for the same reason as ``unigram_logprob``: each doc's stream stays
    whole in one partition, so its float avg keeps the array order."""
    from aave_etl_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, id_col)
    # the count table feeds three join sides (cur-unigram, prev-unigram,
    # bigram) plus the corpus total: cut the lineage so a derived counts
    # frame (ngram_counts, state rollup) computes once, not four times
    counts = counts.localCheckpoint(eager=False)
    uni = counts.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("_w"), F.col("tf").alias("_wtf")
    )
    bi = counts.filter(F.col("w2").isNotNull()).select(
        F.col("w1").alias("_bw1"),
        F.col("w2").alias("_bw2"),
        F.col("tf").alias("_btf"),
    )
    total = uni.agg(F.sum("_wtf").cast("double").alias("_n"))
    l = tokens(text_col)
    stream = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                l,
                lambda x, i: F.struct(
                    F.get(l, i - 1).alias("prev"), x.alias("cur")
                ),
            )
        ).alias("t"),
    ).select(id_col, F.col("t.prev").alias("_prev"), F.col("t.cur").alias("_cur"))
    joined = (
        stream.join(uni, stream["_cur"] == uni["_w"], "left")
        .select(id_col, "_prev", "_cur", "_wtf")
        .join(
            uni.select(F.col("_w").alias("_pw"), F.col("_wtf").alias("_ptf")),
            F.col("_prev") == F.col("_pw"),
            "left",
        )
        .join(
            bi,
            (F.col("_prev") == F.col("_bw1")) & (F.col("_cur") == F.col("_bw2")),
            "left",
        )
        .crossJoin(F.broadcast(total))
    )
    uni_s = F.when(
        F.col("_wtf").isNotNull(), F.col("_wtf").cast("double") / F.col("_n")
    ).otherwise(F.lit(float(alpha)) / F.col("_n"))
    s = (
        F.when(F.col("_prev").isNull(), uni_s)
        .when(
            F.col("_btf").isNotNull(),
            F.col("_btf").cast("double") / F.col("_ptf").cast("double"),
        )
        .otherwise(F.lit(float(alpha)) * uni_s)
    )
    return (
        joined.select(F.col(id_col), (-F.log(s)).alias("_nll"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("_nll"), 6).alias("avg_neg_logprob"),
        )
    )


#: symbol delimiter inside BPE word representations — a control char that
#: whitespace-normalized tokens can never contain, so plain substring
#: replace is boundary-exact (no symbol can span a delimiter)
BPE_SEP = "\x01"


def _bpe_word_syms(word) -> Column:
    """``'abc'`` → ``'\\x01a\\x01b\\x01c\\x01'`` — each initial symbol (one
    character) delimited on BOTH sides, so merging pair (l, r) is the
    exact substring replace ``SEP l SEP r SEP → SEP lr SEP`` with
    left-to-right non-overlap semantics identical on Spark and DuckDB."""
    c = F.col(word) if isinstance(word, str) else word
    return F.concat(
        F.lit(BPE_SEP), F.regexp_replace(c, "(.)", "$1" + BPE_SEP)
    )


# Merge-rewrite semantics note: the delimited form makes each merge ONE
# literal substring replace, whose left-to-right non-overlap semantics are
# identical on Spark (F.replace) and DuckDB (replace). When left == right
# (merging a REPEATED symbol) a run of >= 3 copies consumes its shared
# boundary delimiter, so the leftover singleton of an odd run lands at an
# alternating-boundary position instead of canonical BPE's strictly-
# leftmost-first walk — the merged MULTISET is identical, only the
# leftover's position differs, and only for left == right runs. Accepted
# as a deterministic engine-portable variant; left != right merges (the
# overwhelmingly common case on natural text) are exactly canonical.


def bpe_learn(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 4,
) -> DataFrame:
    """Learn a byte-pair-encoding merge table from the corpus (Sennrich
    et al. 2016, arXiv:1508.07909): starting from per-character symbols,
    repeatedly merge the globally most frequent adjacent symbol pair —
    ties broken (count desc, left asc, right asc) so the table is
    deterministic and engine-portable. Output: one row per merge,
    ``(rank, left, right, merged, pair_count)`` in learn order — the
    artifact a tokenizer ships; apply with :func:`bpe_segment`.

    Scale shape — the part that matters at 100 TB: the corpus is
    scanned ONCE, collapsing to the ``(word, freq)`` vocabulary table
    (Heaps-bounded — millions of rows regardless of corpus bytes);
    every merge round after that is one map-side-combinable pair count
    plus a narrow string rewrite over the VOCAB table only, so per-round
    cost is corpus-size-independent. Rounds are inherently sequential
    (classic BPE is a sequential greedy algorithm); each round's argmax
    is a one-row bounded collect (the block-height-scalar discipline).
    The rewritten vocab is local-checkpointed LAZILY each round: the next
    round's pair count materializes it in the same job that reads it, so
    the plan stays flat (the k-means update discipline) at two Spark jobs
    per round — the pair count's shuffle stage and the argmax — with no
    separate materialization job. A production 32k-vocab
    run batches compatible merges per round to cut round count; this
    operator is the exact top-1 form the batched variant must reproduce.
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(_bpe_word_syms("w").alias("sym"), "freq")
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    merges = []
    for rank in range(1, int(n_merges) + 1):
        syms = F.filter(F.split("sym", BPE_SEP), lambda x: x != "")
        pair_counts = (
            words.select(
                F.explode(
                    F.filter(
                        F.transform(
                            syms,
                            lambda x, i: F.struct(
                                F.get(syms, i - 1).alias("lft"), x.alias("rgt")
                            ),
                        ),
                        lambda s: s["lft"].isNotNull(),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.lft").alias("lft"), F.col("p.rgt").alias("rgt"))
            .agg(F.sum("freq").alias("c"))
        )
        best = pair_counts.orderBy(
            F.col("c").desc(), F.col("lft"), F.col("rgt")
        ).first()
        if best is None:
            break
        merges.append((rank, best.lft, best.rgt, best.lft + best.rgt, int(best.c)))
        words = words.select(
            F.replace(
                F.col("sym"),
                F.lit(BPE_SEP + best.lft + BPE_SEP + best.rgt + BPE_SEP),
                F.lit(BPE_SEP + best.lft + best.rgt + BPE_SEP),
            ).alias("sym"),
            "freq",
        ).localCheckpoint(eager=False)
    return local_df(spark, 
        merges,
        "rank int, left string, right string, merged string, pair_count long",
    )


def bpe_segment(
    df: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment the corpus's vocabulary under a learned BPE merge table:
    every distinct word rewritten by applying ``merges`` IN RANK ORDER
    (the BPE inference rule — learn order, not per-word greedy). Output:
    ``(word, freq, symbols, n_symbols)`` — the segmentation a tokenizer
    produces, with ``symbols`` the final symbol array.

    The merge table is vocabulary-budget-sized BY CONTRACT (a tokenizer
    artifact — thousands of rows, never corpus-shaped), so it collects
    to the driver and compiles into a chain of narrow substring-replace
    expressions over the vocab table: zero joins, zero shuffles beyond
    the one word count, corpus bytes touched once."""
    ranked = sorted(
        merges.select("rank", "left", "right").collect(), key=lambda r: r.rank
    )
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    sym = _bpe_word_syms("w")
    for m in ranked:
        sym = F.replace(
            sym,
            F.lit(BPE_SEP + m.left + BPE_SEP + m.right + BPE_SEP),
            F.lit(BPE_SEP + m.left + m.right + BPE_SEP),
        )
    syms = F.filter(F.split(sym, BPE_SEP), lambda x: x != "")
    return words.select(
        F.col("w").alias("word"),
        F.col("freq").cast("long").alias("freq"),
        syms.alias("symbols"),
        F.size(syms).cast("long").alias("n_symbols"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_kept_lines: int = 3,
    keep_text: bool = False,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020, §2.2): keep a line
    only if it ends in terminal punctuation, has >= ``min_words`` words,
    and carries no boilerplate markers (lorem ipsum / javascript / cookie
    notices / code braces); a document survives when >= ``min_kept_lines``
    lines remain. Complements the doc-level quality gates — boilerplate
    lives at line granularity, and dropping lines beats dropping docs.

    Output: (id, n_lines, n_kept_lines, clean_chars, clean_md5, doc_kept)
    — clean_md5 keys the cleaned text for the downstream exact-dedup pass
    (C4's own order of operations: line-clean, then dedup).

    Pure narrow map: split → HOF filter → array_join, shuffle-free, all
    JVM-side; the per-line predicates are the same regex/instr expressions
    on both engines."""
    lines = F.split(F.col(text_col), "\n")

    def keep(x):
        t = F.trim(x)
        words = F.size(F.split(F.trim(F.regexp_replace(x, r"\s+", " ")), " "))
        low = F.lower(x)
        return (
            t.rlike('[.!?"]$')
            & (words >= min_words)
            & (F.instr(low, "lorem ipsum") == 0)
            & (F.instr(low, "javascript") == 0)
            & (F.instr(low, "cookie") == 0)
            & (F.instr(low, "{") == 0)
        )

    kept = F.filter(lines, keep)
    clean = F.array_join(kept, "\n")
    cols = [
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.length(clean).cast("long").alias("clean_chars"),
        F.md5(clean).alias("clean_md5"),
        (F.size(kept) >= min_kept_lines).alias("doc_kept"),
    ]
    if keep_text:
        # the cleaned text itself, for composed pipelines that feed the
        # surviving lines into downstream dedup / scoring stages
        cols.append(clean.alias("clean_text"))
    return df.select(*cols)


# The eight Gopher "must contain 2 of" stop words (Rae et al. 2021, A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Appendix
    A1.1): the doc-level heuristic gate MassiveWeb applied before dedup —
    word-count bounds, mean word length, symbol-to-word ratio (# / …),
    bullet- and ellipsis-line fractions, alphabetic-word fraction, a
    stop-word presence floor, and the duplicate-LINE repetition pair
    (fraction of lines, and of characters, inside repeated lines).
    Thresholds are the paper's defaults, parameterized.

    The duplicated-n-gram char fractions of A1.1 are intentionally NOT
    here: positional char coverage of overlapping grams doesn't reduce to
    an engine-portable expression — `repetition_stats` (distinct-bigram
    ratio) and `span_duplicates` (window-hash spans) cover intra-doc
    n-gram repetition with scalable plans.

    Pure narrow map, shuffle-free, all JVM-side: per-doc arrays + HOFs;
    the duplicate-line pair sorts the doc's OWN lines (array_sort) and
    counts equal neighbors — O(L log L) per doc, never corpus-wide state.
    Output: (id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
    dup_line_frac, dup_line_char_frac, gopher_kept)."""
    bound = df.select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        tokens(text_col).alias("_toks"),
        F.split(F.col(text_col), "\n").alias("_lines"),
        F.array_sort(F.split(F.col(text_col), "\n")).alias("_sorted"),
    )
    toks = F.col("_toks")
    lines = F.col("_lines")
    srt = F.col("_sorted")
    txt = F.col("_txt")

    n_words = F.size(toks).cast("double")
    word_chars = F.aggregate(
        toks, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    )
    # symbol counts via literal (non-regex) replace — identical semantics
    # to DuckDB's replace(); '...' counts whole three-char runs
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_uell = F.length(txt) - F.length(F.replace(txt, F.lit("…"), F.lit("")))
    n_dots = (F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))) / 3
    symbols = (n_hash + n_uell + n_dots).cast("double")

    n_lines = F.size(lines).cast("double")
    is_bullet = lambda x: F.substring(F.ltrim(x), 1, 1).isin("•", "-", "*")  # noqa: E731
    ends_ellipsis = lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$")  # noqa: E731
    n_bullet = F.size(F.filter(lines, is_bullet)).cast("double")
    n_ell = F.size(F.filter(lines, ends_ellipsis)).cast("double")

    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double")
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in stopwords]),
            lambda w: F.array_contains(toks, w),
        )
    ).cast("long")

    # duplicate lines: sort the doc's lines, then every element equal to
    # its left neighbor is an instance beyond the first of its group
    dup_idx = F.when(
        F.size(lines) >= 2, F.sequence(F.lit(2), F.size(lines))
    ).otherwise(F.array().cast("array<int>"))
    dups = F.filter(
        dup_idx, lambda i: F.element_at(srt, i) == F.element_at(srt, i - 1)
    )
    n_dup = F.size(dups).cast("double")
    dup_chars = F.aggregate(
        dups, F.lit(0.0), lambda acc, i: acc + F.length(F.element_at(srt, i)).cast("double")
    )
    line_chars = F.aggregate(
        lines, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    )

    mean_word_len = F.round(word_chars / n_words, 6)
    symbol_ratio = F.round(symbols / n_words, 6)
    bullet_frac = F.round(n_bullet / n_lines, 6)
    ell_frac = F.round(n_ell / n_lines, 6)
    alpha_frac = F.round(n_alpha / n_words, 6)
    dup_line_frac = F.round(n_dup / n_lines, 6)
    dup_char_frac = F.round(
        F.when(line_chars > 0, dup_chars / line_chars).otherwise(F.lit(0.0)), 6
    )
    kept = (
        n_words.between(min_words, max_words)
        & mean_word_len.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_word_ratio)
        & (bullet_frac <= max_bullet_line_frac)
        & (ell_frac <= max_ellipsis_line_frac)
        & (alpha_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stop_hits)
        & (dup_line_frac <= max_dup_line_frac)
        & (dup_char_frac <= max_dup_line_char_frac)
    )
    return bound.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
        kept.alias("gopher_kept"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    head_frac: float = 0.3,
    middle_frac: float = 0.3,
    approximate: bool = False,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.4): per language, rank documents by LM score and
    split into head / middle / tail — CCNet keeps head+middle for
    pretraining and discards (or down-weights) the tail. The LM here is
    the corpus-unigram proxy (`unigram_logprob`); lower avg NLL = more
    stereotypical = head.

    Exact form (default, the certification twin): percent_rank over a
    per-language window ordered by (score, id) — deterministic under
    ties. Per-language partitions parallelize, but ONE dominant language
    funnels into one task chain; ``approximate=True`` is the 100 TB path:
    two percentile_approx thresholds per language (one m-bounded agg,
    broadcast back) and a narrow CASE — window-free, the same exact→approx
    swap as top_fraction_by_group / DSIR.

    Output: (id, lang, avg_neg_logprob, bucket)."""
    scored = unigram_logprob(df, id_col, text_col).join(
        df.select(F.col(id_col), F.col(lang_col)), id_col
    )
    # 0.3 + 0.3 is 0.6000000000000001 in IEEE doubles: a percent_rank
    # landing exactly on 0.6 would then bucket differently from an engine
    # that parsed the literal 0.6 — round the cut so both agree
    cut2 = round(head_frac + middle_frac, 12)
    if approximate:
        # null-safe join key: a NULL language (a normal classifier outcome)
        # forms its own groupBy bucket, and a plain equi-join would drop
        # those rows — the exact form's window KEEPS them, so the twin must
        thr = F.broadcast(
            scored.groupBy(F.col(lang_col).alias("_lang")).agg(
                F.percentile_approx("avg_neg_logprob", head_frac).alias("_t1"),
                F.percentile_approx("avg_neg_logprob", cut2).alias("_t2"),
            )
        )
        bucket = (
            F.when(F.col("avg_neg_logprob") <= F.col("_t1"), "head")
            .when(F.col("avg_neg_logprob") <= F.col("_t2"), "middle")
            .otherwise("tail")
        )
        return scored.join(thr, F.col(lang_col).eqNullSafe(F.col("_lang"))).select(
            F.col(id_col), F.col(lang_col), "avg_neg_logprob",
            bucket.alias("bucket"),
        )
    w = Window.partitionBy(lang_col).orderBy("avg_neg_logprob", id_col)
    pr = F.percent_rank().over(w)
    bucket = (
        F.when(pr < head_frac, "head")
        .when(pr < cut2, "middle")
        .otherwise("tail")
    )
    return scored.select(
        F.col(id_col), F.col(lang_col), "avg_neg_logprob", bucket.alias("bucket")
    )
