"""Deduplication operators for large-scale text corpora.

All operators are pure DataFrame compositions — no Python UDFs — so every
stage stays in whole-stage codegen and scales by shuffle on bounded keys:

- exact:    hash-groupBy on a content digest. One shuffle on the digest.
- minhash:  shingle → per-(doc, hash-index) min digest → band keys →
            bucket join. Shuffles are on shingle-hash and band-key, both
            well-distributed; no O(n²) pair comparison ever materializes.
- simhash:  token → per-bit signed counts → 16/32-bit signature;
            near-dups = identical signature (or banded signature pieces).
- n-gram Jaccard: shingle-equality blocking join with document-frequency
            pruning (`max_shingle_df`) bounding hot-shingle fan-out; with
            the cap unset it is exact but quadratic inside a hot bucket.
            At 100 TB use minhash_lsh first and feed candidate pairs into
            `jaccard_verify`.

Determinism: all hashing is md5 (content-derived) — reproducible across
engines and runs, unlike Spark's seed-dependent `hash()`. Min over md5 hex
strings is a lexicographic min on a fixed charset: a valid uniform min-hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from aave_etl_spark.localframe import local_df


def normalize_text(col: Column | str) -> Column:
    """Canonical text for hashing: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via content digest.

    Returns one row per distinct content: (digest, keeper_id = min id,
    dup_count). Spark plan: project + single hash aggregate — one shuffle on
    the 128-bit digest, no skew (digests are uniform). Deliberately NOT
    fanned out (skew.fan_out_scan): one md5 per doc is too little work to
    buy back the repartition — measured 0.36 s -> 0.62 s with it."""
    return (
        df.select(F.md5(normalize_text(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def keep_first_by_digest(
    df: DataFrame, digest: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Keep the first occurrence (min ``id_col``) per content digest —
    the within-batch exact-dedup step, in the SKEW-SAFE agg+join form.

    Semantically identical to the window form
    ``min(id).over(Window.partitionBy(digest))`` (property-pinned in
    tests/test_operators.py), but duplicate content is the hot key BY
    DEFINITION here: a dup-storm batch (one viral page, a crawler loop
    emitting 10⁶–10⁹ copies) shares ONE digest, and a window would funnel
    every copy into a single task — AQE splits skewed joins, not window
    partitions (the round-9 line_dedup_global lesson, dedup.py:622).
    Instead: ``groupBy(digest).agg(min(id))`` — a PARTIAL-aggregatable
    reduction that collapses each map task's copies before the shuffle
    ever sees them — then a null-safe equi-join back on (digest, id). The
    keeper side is distinct-content-sized, so AQE broadcasts it when it
    fits and its skew split can section it past that; the hot digest's
    10⁹ copies never gather anywhere. Returns ``df``'s columns unchanged.

    A NULL digest (NULL text through md5) is one group like any other —
    the join is eqNullSafe on the digest, so the window form's
    one-survivor-per-NULL-group behavior is preserved exactly (a plain
    equi-join would silently drop every NULL-digest row)."""
    if "_dg" in df.columns:
        raise ValueError(
            "keep_first_by_digest: input column '_dg' collides with the"
            " operator's internal digest alias — rename it first"
        )
    hashed = df.withColumn("_dg", digest)
    keepers = hashed.groupBy("_dg").agg(F.min(id_col).alias(id_col)).select(
        F.col("_dg").alias("_kdg"), F.col(id_col).alias("_kid")
    )
    return hashed.join(
        keepers,
        F.col("_dg").eqNullSafe(F.col("_kdg")) & (F.col(id_col) == F.col("_kid")),
    ).select(*df.columns)


def word_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    Built with transform-over-sequence (JVM-side), then explode; distinct
    per doc so Jaccard is over shingle *sets*.

    The token array is materialized in its own projection first: HOF
    lambdas are interpreted (not codegen'd), so if `split(text)` were
    inlined into the lambda each element_at would re-run the split —
    O(tokens²) per doc, minutes on one long document. Binding it to a
    column makes the lambda O(1) per element (CollapseProject keeps
    multi-referenced non-cheap aliases materialized).

    Scan fan-out (guide §2.5): every consumer re-keys through an exact
    shuffle (min(md5) minhash aggs, shingle counts, semi-joins), so
    parallelizing the single-row-group scan moves no value."""
    from aave_etl_spark.operators.skew import fan_out_scan

    toked = fan_out_scan(df, id_col).select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_toks")
    ).filter(F.size("_toks") >= n)
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return toked.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """Long-form minhash signature: (id, h, minhash) for h in [0, num_hashes).

    h_i(s) = md5(i || ':' || s); the signature element is the min digest.
    One shuffle: groupBy(id) with num_hashes wide map-side partial mins —
    the shuffle carries one row per id (num_hashes narrow columns) instead
    of the exploded num_hashes rows per (id, h) group, and the long form is
    rebuilt AFTER the exchange with posexplode. Value-identical to the
    exploded groupBy(id, h) form (same md5(i:shingle) per element)."""
    wide = shingles.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
            ).alias(f"_mh{i}")
            for i in range(num_hashes)
        ]
    )
    return wide.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"_mh{i}") for i in range(num_hashes)])).alias(
            "h", "minhash"
        ),
    )


def band_keys(
    signatures: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH band keys from a long-form signature: (id, band, band_key),
    band_key = md5 of the band's sorted signature rows. Shared by the
    in-flight candidate join (`lsh_candidate_pairs`) and the at-rest
    signature index (`minhash_index_build`/`minhash_index_match`) so both
    paths band identically."""
    return (
        signatures.withColumn("band", (F.col("h") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(F.md5(F.concat_ws("|", F.sort_array(F.collect_list(F.concat_ws(":", F.col("h").cast("string"), F.col("minhash")))))).alias("band_key"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH banding: docs sharing any band key become a candidate pair.

    Band key = md5 of the concatenated signature rows in the band. The
    pair-generation join is per (band, band_key) bucket — bounded fan-out as
    long as bands are selective. Returns distinct (id_a < id_b) pairs."""
    banded = band_keys(signatures, id_col, rows_per_band)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for all pairs sharing ≥1 shingle.

    Blocking join on the shingle value: only docs with a common shingle are
    compared (never a full cross join). Output: (id_a < id_b, jaccard).

    ``max_shingle_df`` is the skew guard: a shingle shared by k documents
    fans out k² pairs through the blocking join, so one boilerplate shingle
    (a hot key) makes the standalone form quadratic. Setting a document-
    frequency cap drops shingles appearing in more than that many docs
    BEFORE the join — standard df-based pruning; pair fan-out per shingle is
    then bounded by cap², and Jaccard is computed consistently over the
    pruned shingle universe (sizes and intersections both exclude pruned
    shingles). Pruning ubiquitous shingles also improves precision: they
    carry no similarity signal. With the cap unset, semantics are exact —
    reserve that for small corpora or the post-LSH verify stage
    (`jaccard_verify`)."""
    if max_shingle_df is not None:
        # Hot list, not keep list: shingles OVER the cap are few by
        # definition (that's what makes them hot), so they broadcast and
        # the prune is a map-side anti join — no shuffle of the full
        # shingle table just to prune it. The df agg itself is map-side
        # partial (the exchange carries distinct shingles, not rows).
        hot = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        shingles = shingles.join(F.broadcast(hot), "shingle", "left_anti")
    # consumed three times (sizes, both join sides): cut the lineage so
    # the upstream tokenize+shingle subtree runs once, not three times
    shingles = shingles.localCheckpoint(eager=False)
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Frequency-weighted SimHash signature per doc: (id, simhash long).

    Token hash = first 16 hex chars of md5 → 64-bit space; bit b of the
    signature is the sign of Σ_tokens (±1). Pure explode + conditional-sum —
    two shuffles ((id, token-row) explode is narrow; groupBy id).
    Scan fan-out is value-safe: the bit sums are exact ints keyed by
    their own groupBy(id) shuffle (guide §2.5)."""
    from aave_etl_spark.operators.skew import fan_out_scan

    toks = F.split(normalize_text(text_col), " ")
    tok = (
        fan_out_scan(df, id_col).select(F.col(id_col), F.explode(toks).alias("token"))
        .withColumn("th", F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long"))
    )
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select(F.col(id_col), sig.cast("long").alias("simhash"))


def span_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Substring-level exact-duplication signal: the per-doc fraction of
    length-``n`` token windows whose content recurs anywhere in the corpus
    (any doc, any offset) — the distributed form of suffix-array span dedup
    ("Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022), with the suffix array replaced by a window-hash groupBy.

    Output: (id, n_windows, n_dup_windows, dup_fraction). Docs shorter than
    ``n`` tokens have zero windows and dup_fraction 0.0. A window counts as
    duplicated when its md5 occurs >1 time globally — including both copies,
    so two docs sharing one span each report one duplicated window.

    Plan shape: token array bound in its own projection (see word_shingles),
    transform-over-sequence to ALL per-offset window hashes (not distinct —
    offsets matter for the fraction), explode, then two bounded shuffles:
    groupBy on the uniform 128-bit window hash for corpus counts, and
    groupBy on doc id after the count join. Cost is O(total tokens) rows
    through each exchange; a span repeated k times contributes k rows,
    never k² pairs — unlike shingle-blocking joins this cannot blow up on
    boilerplate. Scan fan-out is value-safe: both downstream aggregations
    (window-hash counts, per-doc int sums) key exact shuffles."""
    from aave_etl_spark.operators.skew import fan_out_scan

    toked = fan_out_scan(df, id_col).select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_toks")
    ).filter(F.size("_toks") >= n)
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.md5(
            F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
        ),
    )
    wins = toked.select(F.col(id_col), F.explode(grams).alias("_h")).localCheckpoint(
        eager=False
    )  # consumed twice (corpus counts + the per-doc join)
    counts = wins.groupBy("_h").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = (
        wins.join(counts, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_nw"),
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)).alias("_nd"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_nw", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("_nd", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(F.col("_nw").isNull(), F.lit(0.0))
            .otherwise(
                F.round(F.col("_nd").cast("double") / F.col("_nw").cast("double"), 6)
            )
            .alias("dup_fraction"),
        )
    )


def _window_hashes(toked: DataFrame, id_col: str, n: int) -> DataFrame:
    """``(id, pos, _h)`` — md5 hashes of every length-``n`` token window of
    a pre-tokenized frame ``(id, _toks)``, with 0-based start offsets.
    The shared window derivation under :func:`span_dedup_rewrite` and the
    ``span_index_*`` at-rest state (one expression, so the in-flight rule
    and the stored canonicals can never hash differently)."""
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.md5(
            F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
        ),
    )
    return (
        toked.filter(F.size("_toks") >= n)
        .select(
            *[F.col(c) for c in toked.columns if c != "_toks"],
            F.posexplode(grams).alias("pos", "_h"),
        )
    )


def span_dedup_rewrite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    prior_spans: DataFrame | None = None,
) -> DataFrame:
    """The REMOVAL half of substring-level span dedup: rewrite every doc
    with its corpus-duplicated length-``n`` token windows cut, keeping
    exactly the CANONICAL occurrence of each duplicated span — the
    lexicographically first (doc, offset) corpus-wide (the "except one"
    rule of Lee et al. 2022 suffix-array dedup, here over window hashes;
    :func:`span_duplicates` is the matching detection/measurement pass).

    A token position is removed iff some duplicated window covering it is
    a NON-canonical occurrence; overlapping cut windows union naturally at
    the position level. Because the keeper is first-(doc, offset), a span
    repeated WITHIN one doc is also trimmed to its first occurrence —
    intra-doc boilerplate loops collapse in the same pass. Output:
    ``(id, n_tokens, n_removed, text_deduped)`` — text in NORMALIZED
    token space (lowercased, whitespace-collapsed, remaining tokens
    space-joined; a fully-duplicated doc rewrites to ``''``), docs
    shorter than ``n`` tokens pass through untouched.

    Plan shape: the detection pass's exchanges (window-hash groupBys —
    uniform 128-bit keys, map-side-combinable count/min) plus one
    position-level explode of the FLAGGED windows (O(flagged x n), never
    pair fan-out: a span repeated k times contributes k rows), an
    anti-join on (doc, position), and one per-doc rebuild agg bounded by
    doc length (collect_list + array_sort over that doc's kept tokens —
    the same per-group bound as any sentence-level op). The canonical
    occurrence is computed in two bounded aggregates (min doc per hash,
    then min offset within that doc) so the rule is stated identically on
    both engines — no struct-ordering semantics in the compare path.
    The per-doc rebuild agg is bounded by DOC LENGTH (collect_list of
    that doc's kept tokens in one task) — giant single docs should pass
    through :func:`aave_etl_spark.operators.text.chunk_documents` first,
    the same bound every sentence-level op in this engine carries.

    ``prior_spans`` (optional) extends the rule ACROSS batches: a frame
    whose ``_h`` column holds window hashes already canonical in the
    corpus (the :func:`span_index_build` state, one keeper row per hash).
    Every batch occurrence of a stored hash is cut — the stored keeper
    (an earlier ingest day) wins, so cross-day boilerplate collapses to
    its first-ever occurrence; batch-internal duplicates keep following
    the first-(doc, offset) rule. The join leads with ``_h``, so a state
    table bucketed on it (the ``span_index_*`` layout) joins
    exchange-free on the stored side.

    Composition note: this is a CURATION-STAGE operator (between exact
    dedup and near-dup gating, before packing); since round 13 the daily
    corpus pipeline runs it as the final `_corpus_clean` stage against
    the at-rest ``corpus_spans`` state (plans/corpus_pipeline.py)."""
    from aave_etl_spark.operators.skew import fan_out_scan

    toked = fan_out_scan(df, id_col).select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_toks")
    ).localCheckpoint(eager=False)  # feeds wins, the full-position explode,
    # and the final n_tokens join — without the lineage cut the
    # normalize+split scan of every doc runs three times (round-12 ADVICE)
    # window hashes WITH offsets (0-based), reused by counts, the
    # canonical-occurrence aggregates, and the flagged filter
    wins = _window_hashes(toked, id_col, n).localCheckpoint(eager=False)
    dup_h = (
        wins.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h")
    )
    fdoc = wins.groupBy("_h").agg(F.min(id_col).alias("_fdoc"))
    fpos = (
        wins.join(fdoc, "_h")
        .filter(F.col(id_col) == F.col("_fdoc"))
        .groupBy("_h", "_fdoc")
        .agg(F.min("pos").alias("_fpos"))
    )
    flagged = (
        wins.join(dup_h, "_h")
        .join(fpos, "_h")
        .filter(
            ~((F.col(id_col) == F.col("_fdoc")) & (F.col("pos") == F.col("_fpos")))
        )
        .select(F.col(id_col), "pos")
    )
    if prior_spans is not None:
        # a hash already canonical in the CORPUS loses at every batch
        # occurrence (including the batch's own first) — the stored
        # keeper wins. Duplicate (doc, pos) rows from the union are fine:
        # `covered` below is position-distinct
        flagged = flagged.unionByName(
            wins.join(prior_spans.select("_h"), "_h").select(F.col(id_col), "pos")
        )
    covered = flagged.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("_tp"),
    ).distinct()
    tokens = toked.select(
        F.col(id_col), F.posexplode("_toks").alias("_tp", "_tok")
    )
    kept = tokens.join(covered, [id_col, "_tp"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_nk"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_tp", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias("_txt"),
    )
    return (
        toked.select(F.col(id_col), F.size("_toks").alias("_nt"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_nt").cast("long").alias("n_tokens"),
            (F.col("_nt") - F.coalesce("_nk", F.lit(0))).cast("long").alias("n_removed"),
            F.coalesce("_txt", F.lit("")).alias("text_deduped"),
        )
    )


def _span_canonicals(
    docs: DataFrame, id_col: str, text_col: str, n: int,
    carry_cols: tuple[str, ...],
) -> DataFrame:
    """One row per DISTINCT window hash: ``(_h, *carry, id, pos)`` of its
    first occurrence — min (*carry_cols, id, pos) lexicographically.
    ``carry_cols`` LEAD the canonical order: for a single-slice build
    they're constant (the order degenerates to span_dedup_rewrite's
    (doc, offset) rule), and a multi-day maintenance REBUILD over the
    accumulated docs reproduces the incrementally-built keepers exactly —
    the first DAY a hash appeared wins, then (doc, offset) within it
    (stored text keeps only each day's canonical occurrence, so the
    within-day min is the day's keeper by construction)."""
    toked = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.split(normalize_text(text_col), " ").alias("_toks"),
    )
    key = F.struct(
        *[F.col(c) for c in carry_cols], F.col(id_col), F.col("pos")
    )
    return (
        _window_hashes(toked, id_col, n)
        .groupBy("_h")
        .agg(F.min(key).alias("_k"))
        .select(
            "_h",
            *[
                F.col("_k").getField(c).alias(c)
                for c in (*carry_cols, id_col, "pos")
            ],
        )
    )


def span_index_build(
    store,
    docs: DataFrame,
    name: str = "corpus_spans",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    n_buckets: int | None = None,
    carry_cols: tuple[str, ...] = (),
) -> None:
    """Materialize a corpus's CANONICAL span-window occurrences as an
    at-rest index, hash-bucketed on the window hash — the state that
    extends :func:`span_dedup_rewrite` (the removal half of Lee et al.
    2022 substring dedup) ACROSS ingest days.

    One skinny row per distinct length-``n`` normalized-token window
    hash in ``docs``: ``(_h, keeper id, keeper offset, *carry_cols)``,
    keeper = the hash's first (id, pos) occurrence. The dedup ladder's
    other rungs already keep daily at-rest state (digests, band index);
    this is the span rung's: a later batch passed to
    ``span_dedup_rewrite(prior_spans=read_bucketed(name))`` cuts every
    occurrence of a stored hash — cross-day boilerplate (the same
    header/footer re-crawled every day, Lee et al.'s motivating case)
    collapses to its first-ever occurrence without ever re-tokenizing
    history.

    Scale: the state is ~one row per corpus token (hash + keeper ids —
    the suffix-array cost shape of substring dedup, never corpus TEXT),
    bucketed on ``_h`` so both the daily match join and the append's
    anti-join run exchange-free on the stored side. ``carry_cols`` (an
    ingest ``day``) give re-run scoping and maintenance passes a
    pruning handle, exactly like the MinHash index. ``n_buckets``
    defaults to the slot count (``TableStore.write_bucketed``'s rule, so
    a maintenance rebuild re-sizes); the count used is recorded in the
    ``<name>_params`` sidecar."""
    canon = _span_canonicals(docs, id_col, text_col, n, carry_cols)
    n_buckets = store.write_bucketed(
        canon, name, bucket_cols=["_h"], n_buckets=n_buckets, sort_cols=["_h"]
    )
    # params sidecar (the minhash_index_build discipline): a drifted n
    # silently produces never-matching window hashes — match/append
    # validate against this row and raise instead
    local_df(docs.sparkSession, 
        [(int(n), n_buckets)], "n int, n_buckets int"
    ).write.mode("overwrite").parquet(store._path(name + "_params"))


def _span_params(store, spark, name: str, n: int):
    """Read the span index's params sidecar; raise on an ``n`` mismatch.
    Missing sidecar (pre-sidecar store) maps to None — a present-but-
    unreadable one must surface (the _index_params contract)."""
    import os

    path = store._path(name + "_params")
    if not os.path.exists(path):
        return None
    built = spark.read.parquet(path).head()
    if built.n != int(n):
        raise ValueError(
            f"span index {name!r} was built with n={built.n}; caller asked"
            f" for n={n} — window hashes would never match"
        )
    return built


def span_index_append(
    store,
    new_docs: DataFrame,
    name: str = "corpus_spans",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> None:
    """Append a batch's NEW canonical window occurrences into an existing
    at-rest span index.

    The batch's per-hash first occurrences are anti-joined on ``_h``
    against the stored state, so (a) a hash already canonical on an
    earlier day keeps its stored keeper — prior days win, the same
    winner ``span_dedup_rewrite(prior_spans=...)`` already enforced when
    it cut the batch's occurrences — and (b) re-appending the same
    day's batch adds ZERO rows (backfill re-run idempotence: N re-runs
    leave the index row count fixed, pytest-gated). A CORRECTED re-run
    whose texts changed appends the new texts' hashes while the old
    texts' stale rows remain — harmless for matching (a stale hash can
    only cut a window equal to previously-stored corpus text) but
    storage grows under repeated corrections; ``corpus_maintenance``
    rebuilds the index from the current docs to reclaim, the MinHash
    index's exact contract.

    The anti-join leads with ``_h``: the bucketed index side satisfies
    the join's distribution with zero exchange; cost tracks the batch
    windows plus one bucketed scan of the skinny hash rows — corpus
    TEXT is never re-read."""
    spark = new_docs.sparkSession
    if _span_params(store, spark, name, n) is None:
        raise ValueError(
            f"span_index_append: no params sidecar for index {name!r} —"
            " build it with span_index_build first"
        )
    canon = _span_canonicals(new_docs, id_col, text_col, n, carry_cols)
    fresh = canon.join(
        store.read_bucketed(name).select("_h"), "_h", "left_anti"
    )
    store.write_bucketed(
        fresh, name, bucket_cols=["_h"], sort_cols=["_h"], mode="append"
    )


def keep_first_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Generic keep-one dedup: row_number over a pinned total order
    (reference keep-last pattern, data_warehouse.py:706 — SURVEY §7.4.3)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def jaccard_verify(
    shingles: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-set Jaccard for a GIVEN candidate-pair set — the
    verify stage after LSH. Unlike `jaccard_pairs` (shingle-equality
    blocking, quadratic inside hot shingle buckets), work here is
    |pairs| x avg-shingles-per-doc: each candidate pair pulls its two
    shingle sets through equi-joins on the ids, immune to shingle skew.
    This is the composition a 100 TB dedup runs: LSH prunes the pair
    space, verify certifies it."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    counts = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_n_inter"))
    )
    # LEFT join back onto the candidate pairs: a pair with an empty shingle
    # intersection keeps n_inter = 0 (jaccard = 0) instead of vanishing, so
    # threshold = 0.0 returns every candidate pair scored.
    inter = pairs.join(counts, ["id_a", "id_b"], "left").select(
        "id_a", "id_b", F.coalesce("_n_inter", F.lit(0)).alias("n_inter")
    )
    # sizes also LEFT-joined (coalesced to 0): a doc with zero shingles
    # (shorter than n words) must not make its candidate pairs vanish —
    # J(empty, X) = 0 by convention, including the both-empty union=0 case
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("_sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("_sz_b"))
    union = (
        F.coalesce(F.col("_sz_a"), F.lit(0))
        + F.coalesce(F.col("_sz_b"), F.lit(0))
        - F.col("n_inter")
    ).cast("double")
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        F.col("n_inter").cast("double") / union
    )
    return (
        inter.join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def within_batch_near_dup_drops(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Ids to DROP under the within-batch keep-lowest-id near-dup rule —
    drop(d) holds iff SOME lower-id band-mate of d verifies at exact
    Jaccard >= ``threshold`` — computed in a storm-safe TWO-PHASE form
    that returns EXACTLY the all-pairs answer (property-pinned equal to
    ``lsh_candidate_pairs`` + ``jaccard_verify`` in tests).

    The naive form materializes every band-sharing pair: a day carrying
    k distinct PARAPHRASES of one viral page (the storm the exact-dedup
    pass upstream cannot collapse — different bytes) puts all k in the
    same band buckets and fans out ~k²/2 candidate pairs (measured:
    5k-paraphrase day 151 s vs 37 s baseline, SCALE.md). But the rule is
    an EXISTENTIAL — ∃ one verified lower partner — and ∃ is monotone,
    so candidates can be probed in stages and early-resolved:

    - phase 1 pairs every doc with its buckets' two SMALLEST member ids
      (two map-side-combinable min aggregates per bucket — bounded state,
      never a membership collect) and verifies those O(k·bands) pairs. In
      a paraphrase storm the bucket minimum IS a paraphrase, so every
      copy resolves here: O(k) verifies, no quadratic term.
    - phase 2 falls back to ALL lower-mate pairs, but only for docs that
      had a lower band-mate and did NOT resolve in phase 1 — the join's
      probe side is the unresolved set, so a resolved storm contributes
      nothing. Mixed buckets (smallest ids not similar to the rest)
      degrade gracefully toward the exact all-pairs cost they genuinely
      need.

    Input is the distinct ``(id, shingle)`` frame (``word_shingles``);
    output is one ``id_col`` column of ids to anti-join away. Minhash
    geometry must match the caller's index discipline (8 hashes, 2 rows
    per band by default)."""
    banded = band_keys(
        minhash_signatures(shingles, id_col, num_hashes), id_col, rows_per_band
    ).localCheckpoint(eager=False)  # feeds the min aggs AND phase 2
    # the two smallest member ids per bucket, each a bounded min agg
    # (bounded even under a 10^9-copy storm — never a collect_list of
    # the bucket membership)
    m1 = banded.groupBy("band", "band_key").agg(F.min(id_col).alias("_m1"))
    memb = banded.join(m1, ["band", "band_key"])
    m2 = (
        memb.filter(F.col(id_col) > F.col("_m1"))
        .groupBy("band", "band_key")
        .agg(F.min(id_col).alias("_m2"))
    )
    probes = (
        memb.join(m2, ["band", "band_key"], "left")
        .select(
            F.col(id_col).alias("id_b"),
            F.explode(F.array("_m1", "_m2")).alias("id_a"),
        )
        .filter(F.col("id_a").isNotNull() & (F.col("id_a") < F.col("id_b")))
        .distinct()
    )
    p1_dropped = (
        jaccard_verify(shingles, probes, id_col, threshold)
        .select("id_b")
        .distinct()
        .localCheckpoint(eager=False)  # feeds the union AND the anti-join
    )
    # docs with SOME lower band-mate (= not the minimum of every bucket
    # they appear in) that phase 1 did not resolve
    unresolved = (
        probes.select("id_b").distinct().join(p1_dropped, "id_b", "left_anti")
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = (
        banded.join(
            unresolved.select(F.col("id_b").alias(id_col)), id_col, "left_semi"
        )
        .select(F.col(id_col).alias("id_b"), "band", "band_key")
    )
    p2 = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    p2_dropped = (
        jaccard_verify(shingles, p2, id_col, threshold).select("id_b").distinct()
    )
    return (
        p1_dropped.unionByName(p2_dropped)
        .distinct()
        .select(F.col("id_b").alias(id_col))
    )


def cross_split_contamination(
    shingles: DataFrame,
    membership: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    test_value: str = "test",
) -> DataFrame:
    """Decontamination check: how much of each TEST document's shingle set
    also appears anywhere in the TRAIN split. The standard leakage gate a
    training pipeline runs before shipping an eval set.

    ``membership`` maps id → split label (e.g. from sampling.hash_split).
    Returns one row per test doc that has shingles: (id, n_shingles,
    n_overlap, contamination_ratio).

    Scale shape — deliberately NOT pair-based: the train side collapses to
    a DISTINCT shingle set (vocabulary-sized, one shuffle with map-side
    partial distinct), and test shingles semi-join against it on the
    shingle key. No doc×doc pairs ever materialize, so a boilerplate
    shingle shared by millions of train docs costs one row, not a fan-out
    — contamination is immune to the hot-shingle skew that makes naive
    n-gram overlap quadratic."""
    withsplit = shingles.join(membership.select(id_col, split_col), id_col)
    train_sh = (
        withsplit.filter(F.col(split_col) != test_value).select("shingle").distinct()
    )
    test_sh = withsplit.filter(F.col(split_col) == test_value).select(id_col, "shingle")
    tot = test_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    ov = (
        test_sh.join(train_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_overlap"))
    )
    return (
        tot.join(ov, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("_n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce("_n_overlap", F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("contamination_ratio"),
        )
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance — the
    fixed-cost-per-doc alternative to MinHash when signatures must be tiny
    (one long per doc vs k minhashes).

    Banded blocking with EXACT recall: a signature splits into ``bands``
    equal bit-bands; two signatures within hamming distance
    ``max_hamming`` < bands differ in at most ``max_hamming`` bands, so by
    pigeonhole they MATCH on at least one band — banding misses nothing.
    Candidates sharing any (band, band_bits) key are verified with
    popcount(xor) <= max_hamming. One band-key equi-join (never
    corpus × corpus) + a signature equi-join for the verify.

    Sizing: per-band key space is 2^(bits/bands); candidate volume within
    a band bucket is quadratic in its occupancy, so wider bands (more bits
    each) cut candidates exponentially — 32 bits / 4 bands = 256-value
    bands. At larger corpora raise ``bits`` (up to 63) to keep bucket
    occupancy bounded; the verify stays O(candidates)."""
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"need 0 <= max_hamming < bands for exact recall, got {max_hamming}/{bands}"
        )
    if bits % bands != 0 or bits > 63:
        raise ValueError(f"bits must be a multiple of bands and <= 63, got {bits}/{bands}")
    width = bits // bands
    mask = (1 << width) - 1
    # the band self-join below embeds the signature computation (tokenize
    # → explode → groupBy) on BOTH sides — cut the lineage so it provably
    # runs once per invocation rather than relying on exchange reuse /
    # AQE to dedup the identical aggregate (r13 ADVICE)
    sig = simhash(df, id_col, text_col, bits=bits).localCheckpoint(eager=False)
    banded = sig.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("simhash"),
    ).select(
        F.col(id_col),
        "band",
        # shiftright's python builder takes a literal count; the SQL form
        # accepts the per-row band expression
        F.expr(f"shiftright(simhash, band * {width}) & {mask}").alias("band_bits"),
        "simhash",
    )
    # the SIGNATURES ride the band join (8 bytes/row — the within-batch
    # min_by discipline), so the popcount verify runs in place: no
    # candidate-distinct before the verify and no pair of joins back onto
    # the signature table afterward (2 fewer exchanges). hamming is a
    # function of the pair, so deduping the multi-band hits AFTER the
    # popcount filter yields the identical pair set — over strictly fewer
    # rows (only pairs inside the radius reach the distinct)
    a = banded.select(
        F.col(id_col).alias("id_a"), "band", "band_bits",
        F.col("simhash").alias("_sa"),
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), "band", "band_bits",
        F.col("simhash").alias("_sb"),
    )
    return (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.expr("_sa ^ _sb")).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def minhash_index_build(
    store,
    docs: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n_buckets: int | None = None,
    carry_cols: tuple[str, ...] = (),
) -> None:
    """Materialize a corpus's MinHash band keys as an AT-REST signature
    index, hash-bucketed on band_key through the TableStore.

    The incremental-ingest complement of `lsh_candidate_pairs`: a
    pretraining pipeline dedups every NEW batch against the existing
    corpus, and rescanning 100 TB of text to re-shingle and re-hash it per
    batch is the thing this index exists to avoid. Shingle→minhash→band
    runs ONCE per corpus; the bucketed layout pre-shuffles the band keys
    so every later match joins against it exchange-free on the corpus
    side (the only shuffle left is the new batch — the small side, by
    construction of incremental ingest).

    ``carry_cols``: extra per-doc columns (e.g. an ingest ``day``) joined
    onto the band rows — matching ignores them, but they give later
    maintenance passes a pruning handle: each append's files carry one
    constant value, so a predicate on the carry column skips every other
    file via parquet row-group stats (see ``minhash_index_append``
    ``if_absent_where``).

    ``n_buckets`` defaults to the slot count (``TableStore.write_bucketed``'s
    rule, so a maintenance rebuild re-sizes); the count used is recorded
    in the ``<name>_params`` sidecar beside the banding parameters."""
    banded = band_keys(
        minhash_signatures(
            word_shingles(docs, id_col, text_col, n=shingle_n),
            id_col,
            num_hashes=num_hashes,
        ),
        id_col,
        rows_per_band,
    )
    if carry_cols:
        banded = banded.join(docs.select(id_col, *carry_cols), id_col)
    n_buckets = store.write_bucketed(
        banded, name, bucket_cols=["band_key"], n_buckets=n_buckets,
        sort_cols=["band_key"],
    )
    # persist the banding parameters as a one-row sidecar: a match run
    # with different parameters would otherwise SILENTLY yield
    # empty/wrong candidates (band keys simply never collide) —
    # minhash_index_match/append validate against this and raise instead
    spark = docs.sparkSession
    local_df(spark, 
        [(int(shingle_n), int(num_hashes), int(rows_per_band), n_buckets)],
        "shingle_n int, num_hashes int, rows_per_band int, n_buckets int",
    ).write.mode("overwrite").parquet(store._path(name + "_params"))


def _index_params(store, spark, name, shingle_n, num_hashes, rows_per_band):
    """Read the index's build-params sidecar and raise on a banding
    mismatch. Returns the sidecar row, or None for a pre-sidecar index
    (caller-owned contract). Only a MISSING sidecar maps to None — a
    present-but-unreadable one (half-written build, corruption) must
    surface, not silently disable the validation the sidecar exists to
    provide; exception-class filtering can't make that distinction
    (a footerless directory raises AnalysisException too), so the
    missing case is an explicit path check."""
    import os

    path = store._path(name + "_params")
    if not os.path.exists(path):
        return None  # genuinely pre-sidecar
    built = spark.read.parquet(path).head()
    want = (int(shingle_n), int(num_hashes), int(rows_per_band))
    have = (built.shingle_n, built.num_hashes, built.rows_per_band)
    if want != have:
        raise ValueError(
            f"minhash index params {want} != index build params"
            f" {have} (shingle_n, num_hashes, rows_per_band) — a"
            " mismatch silently yields empty/wrong matches"
        )
    return built


def minhash_index_append(
    store,
    new_docs: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    carry_cols: tuple[str, ...] = (),
    if_absent: bool = False,
    if_absent_where: str | None = None,
) -> None:
    """Append a (verified-unique) batch's band keys into an existing
    at-rest MinHash index, partition-incrementally.

    The build-once/append-forever half of the incremental-ingest loop:
    match a new batch (`minhash_index_match`) → verify → append the
    SURVIVORS' bands here, so the next batch matches against the whole
    corpus seen so far without ever re-scanning or re-banding it. The
    append takes the table's bucket spec from the catalog and the
    sidecar's banding params (validated here — a drifted shingle_n would
    silently produce never-colliding keys), so each appended file is
    bucket-routed exactly like the original build and later matches stay
    exchange-free on the corpus side. Cost tracks the batch, never the
    corpus.

    ``if_absent=True`` makes the append IDEMPOTENT: the batch's band rows
    are anti-joined against the index on (band_key, id) first, so
    re-appending an already-ingested batch (a backfill re-run of the same
    day) adds zero rows and N re-runs leave the index row count fixed —
    without it, every re-run appends a duplicate copy of the day's bands
    and storage grows unboundedly under repeated corrections. The
    anti-join keys lead with band_key, so the bucketed index side
    satisfies the join's distribution with ZERO exchange (bucket cols ⊆
    join keys). Unscoped, the anti-join still SCANS the whole index —
    a corpus-linear daily term. ``if_absent_where`` kills it: a stale
    duplicate can only come from a prior run of the SAME slice (ids are
    slice-fresh by the ingest contract), so a predicate on a
    ``carry_cols`` column (``"day = DATE '...'"``) restricts the read to
    that slice — each append's files hold one constant carry value, so
    parquet row-group stats skip every other day's files and the
    anti-join cost tracks the slice, never the corpus (plan-checked in
    tests/test_orchestration.py via the fixed row count; scan-metric
    proof in SCALE.md)."""
    spark = new_docs.sparkSession
    if _index_params(store, spark, name, shingle_n, num_hashes, rows_per_band) is None:
        raise ValueError(
            f"minhash_index_append: no params sidecar for index {name!r} —"
            " build it with minhash_index_build first"
        )
    banded = band_keys(
        minhash_signatures(
            word_shingles(new_docs, id_col, text_col, n=shingle_n),
            id_col,
            num_hashes=num_hashes,
        ),
        id_col,
        rows_per_band,
    )
    if carry_cols:
        banded = banded.join(new_docs.select(id_col, *carry_cols), id_col)
    if if_absent:
        existing = store.read_bucketed(name)
        if if_absent_where is not None:
            existing = existing.filter(if_absent_where)
        banded = banded.join(
            existing.select(id_col, "band_key"), ["band_key", id_col], "left_anti"
        )
    store.write_bucketed(
        banded, name, bucket_cols=["band_key"], sort_cols=["band_key"],
        mode="append",
    )


def minhash_index_match(
    store,
    new_docs: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Match a NEW batch against an at-rest MinHash index: distinct
    (new_id, corpus_id) candidate pairs sharing any LSH band.

    The new batch is banded with the SAME parameters the index was built
    with — enforced against the build's persisted params sidecar (a
    mismatched shingle_n would otherwise silently yield empty matches;
    here it raises) — then equi-joined on the band key. The
    corpus side reads pre-bucketed on band_key — no exchange, no corpus
    re-scan of text; only the new batch's bands shuffle. Downstream:
    verify candidates with `jaccard_verify` against just the matched
    corpus docs, then `minhash_index_append` the survivors' bands into
    the index partition-incrementally (proven equal to a from-scratch
    rebuild in tests/test_operators.py)."""
    _index_params(
        store, new_docs.sparkSession, name, shingle_n, num_hashes, rows_per_band
    )
    newb = band_keys(
        minhash_signatures(
            word_shingles(new_docs, id_col, text_col, n=shingle_n),
            id_col,
            num_hashes=num_hashes,
        ),
        id_col,
        rows_per_band,
    ).select(
        F.col(id_col).alias("new_id"), "band_key"
    )
    corpus = store.read_bucketed(name).select(
        F.col(id_col).alias("corpus_id"), "band_key"
    )
    # join on band_key ALONE: the key is md5 over the band's 'h:minhash'
    # rows, so it already encodes WHICH band it came from — and a
    # single-column join lets the bucketed-and-sorted-on-band_key layout
    # satisfy both the join's distribution AND its ordering: the corpus
    # side runs with zero exchange and zero per-task sort
    return (
        newb.join(corpus, "band_key")
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


def line_dedup_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_re: str = "\\n",
    join_str: str = "\n",
    min_chars: int = 15,
) -> DataFrame:
    """GLOBAL line-level exact dedup with document reconstruction — the
    RefinedWeb/C4 boilerplate remover: a line (nav bar, cookie banner,
    footer) that recurs ACROSS documents survives only in its first
    occurrence (smallest (doc, position)); every other copy is cut and
    the documents are rebuilt without them. Lines shorter than
    ``min_chars`` are exempt (short strings recur legitimately).

    Output: (id, clean_text, n_lines, n_kept) — n_lines counts the doc's
    non-empty lines before the cut. EVERY input document gets a row —
    empty/whitespace-only/NULL-text docs (and docs that lose every line)
    come back with clean_text='' and zero counts, so corpus joins never
    silently lose documents.

    PRECONDITION: ``id_col`` must be non-NULL and unique per document —
    it IS document identity here (the per-doc rebuild groups by it, and
    the first-occurrence pick compares against it), and NULL ids would
    collapse every NULL-id document into one group in ANY groupBy-based
    formulation. The line-hash join key itself (`_lh` = md5 of a trimmed
    non-empty line) is non-NULL by construction, so the join needs no
    NULL-safe form.

    Dataflow at 100 TB: explode to (doc, line_no, line) → first occurrence
    per line hash via groupBy(md5(line)).agg(min(struct(doc, pos))) — a
    PARTIAL-aggregatable reduction, deliberately NOT a row_number window:
    min(struct) combines map-side, so a cookie banner recurring in 10⁹
    docs collapses to one row per map task before the shuffle ever sees
    it (hot boilerplate lines are hot BY DEFINITION here, and a window
    would funnel every copy of a line into one reducer task — AQE splits
    skewed JOINS, not window partitions). The join back to flag keepers
    is a plain equi-join on the line hash: the firsts side is
    vocabulary-sized (one row per distinct line), so AQE broadcasts it
    when it fits (measured: BroadcastHashJoin at 10M hot copies — the
    hot line never shuffles at all) and past that it is a sort-merge
    join AQE's skew split can section. The premium over the window form
    is one extra pass over the exploded lines (scan-twice vs
    shuffle-once, measured 1.3–1.6× at single-node scale — SCALE.md
    round-9 rows);
    what it buys is per-task state bounded at ANY skew, where the window
    form must sort every copy of the hottest line in one task.
    Then ONE per-doc aggregation computes counts AND the
    ordered rebuild together (collect_list skips the dropped lines) — the
    corpus is exploded once. The id-spine join reads only the pruned id
    column. Nothing is corpus×corpus; the only global state is the
    line-hash key space itself. Scan fan-out is value-safe: firsts is an
    exact min(struct), the rebuild collect_list is array_sort-ed."""
    from aave_etl_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, id_col)
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), split_re)).alias(
                "_ln", "_line"
            ),
        )
        .withColumn("_line", F.trim("_line"))
        .filter(F.length("_line") > 0)
        .withColumn("_lh", F.md5("_line"))
    )
    # short lines are exempt from dedup, so they need no first-occurrence
    # row at all — the aggregate runs over dedup-eligible lines only
    firsts = (
        lines.filter(F.length("_line") >= min_chars)
        .groupBy("_lh")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("_fid"), F.col("_ln").alias("_fln"))
            ).alias("_first")
        )
    )
    flagged = lines.join(firsts, "_lh", "left")
    keep = (F.length("_line") < min_chars) | (
        (F.col(id_col) == F.col("_first._fid"))
        & (F.col("_ln") == F.col("_first._fln"))
    )
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("_ln", "_line")))
                ),
                lambda s: s["_line"],
            ),
            join_str,
        ).alias("clean_text"),
    )
    spine = df.select(id_col).distinct()
    return spine.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )
