"""The end-to-end LLM pretraining curation composition.

One callable chain — C4 clean → exact dedup → LSH/Jaccard/CC near-dup
keeper → quality+language gate → DSIR resample → domain mix → greedy
pack — shared by the certified query (``queries/llm.py
llm_curation_pipeline``, exact forms, checkpointed) and the 100 TB twin
(``approximate=True``: every global cut becomes a window-free
percentile-threshold form, plan-asserted in
tests/test_operators.py).

The chain is split at its natural seam: :func:`curate_core` runs the
expensive corpus stages 1–5 (everything up to and including the DSIR
survivors), :func:`mix_and_pack` applies a mixing/drawing/packing TAIL
to a core's stages. Multiple mixing policies (static rates, planned
temperature rates, a quality-weighted budget draw) certify off ONE
shared core instead of each re-running the full chain — the round-9
bench showed two certifications paying the identical C4→dedup→gate→DSIR
chain twice. :func:`curate` composes the two for
single-call use.

Stage semantics mirror the curation literature, not any reference file
(the reference engine has no LLM-data surface): C4 (Raffel 2020 §2.2)
line filtering, MinHash/LSH near-dup (Broder 1997), DSIR importance
resampling (Xie 2023, arXiv:2302.03169), Efraimidis–Spirakis weighted
sampling (2006), greedy first-fit packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aave_etl_spark.operators import dedup, packing, sampling, text
from aave_etl_spark.operators.graph import dedup_clusters
from aave_etl_spark.localframe import local_df

#: the default target language mix (group -> keep rate)
DEFAULT_MIX = [("en", 0.9), ("fr", 0.5), ("de", 0.5), ("es", 0.5), ("zh", 0.2)]


def _validate_mix_options(
    mix_weights,
    mix_temperature,
    mix_budget,
    sample_k,
    sample_weight_col,
) -> None:
    """Contradictory/incomplete tail configs fail loudly, never silently
    pick one: explicit weights vs planned rates is a real fork, and a
    weight column without a draw budget (or vice versa) is a typo."""
    if mix_temperature is not None and mix_weights is not None:
        raise ValueError(
            "curation tail: pass mix_weights OR mix_temperature, not both —"
            " planned rates would silently override the explicit table"
        )
    if mix_budget is not None and mix_temperature is None:
        raise ValueError(
            "curation tail: mix_budget only applies to temperature planning —"
            " pass mix_temperature (or drop the budget)"
        )
    if mix_temperature is not None and mix_budget is None:
        raise ValueError(
            "curation tail: mix_temperature needs mix_budget (the planned"
            " sample_rate is budget-relative)"
        )
    if sample_weight_col is not None and sample_k is None:
        raise ValueError(
            "curation tail: sample_weight_col only applies to the weighted budget"
            " draw — pass sample_k (or drop the weight column)"
        )
    if sample_k is not None and sample_k < 1:
        raise ValueError(f"curation tail: sample_k must be >= 1, got {sample_k}")


def curate_core(
    docs: DataFrame,
    approximate: bool = False,
    checkpoint: bool = True,
    keep_frac: float = 0.5,
) -> dict[str, DataFrame]:
    """Stages 1–5 of the curation chain over ``docs`` (doc_id, text,
    lang): C4 line clean → exact dedup → near-dup keeper → quality +
    language gate → DSIR resample. Returns ``{"c4", "exact", "neardup",
    "gate", "dsir"}`` — the expensive corpus passes every mixing tail
    shares. The gate/dsir survivor frames CARRY the gate stage's
    ``quality`` score so a downstream quality-weighted draw
    (:func:`mix_and_pack` ``sample_k``) needs no recompute.

    ``approximate=True`` swaps the one global-window cut (exact DSIR's
    Gumbel-top-k rank) for the broadcast percentile-threshold form: the
    whole chain is then free of partition-less windows (the remaining
    windows partition by content hash / per-group keys, which shard by
    construction). ``checkpoint=False`` keeps the lineage inspectable for
    plan asserts; the default cuts it at the three multiply-consumed
    frames."""
    maybe_ckpt = (
        (lambda df: df.localCheckpoint(eager=False)) if checkpoint else (lambda df: df)
    )
    # 1. C4 line-level clean, keeping the cleaned text for the chain
    c4 = text.c4_line_filter(docs, keep_text=True)
    c4k = (
        c4.filter("doc_kept")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("clean_text").alias("ct"))
    )
    # 2. exact dedup on the cleaned text (C4's own order of operations);
    # checkpoint: five downstream stage-count arms re-consume this frame.
    # Agg+join, NOT a window over the digest: duplicate content is the hot
    # key by definition here (see dedup.keep_first_by_digest).
    ex = maybe_ckpt(dedup.keep_first_by_digest(c4k, F.md5("ct")))
    # 3. near-dup keeper: LSH candidates -> exact-Jaccard verify -> CC
    # consumed 4x (signature chain + verify's sizes/a/b sides): cut so
    # tokenize+shingle runs once (guide §5)
    sh = maybe_ckpt(dedup.word_shingles(ex, text_col="ct", n=3))
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(sigs, rows_per_band=2)
    dups = dedup.jaccard_verify(sh, cand, threshold=0.5)
    clusters = dedup_clusters(dups, ex.select("doc_id"))
    surv3 = maybe_ckpt(
        ex.join(clusters.filter("is_keeper = 1").select("doc_id"), "doc_id")
    )
    # 4. quality + language gate over the cleaned text; the quality score
    # rides along (6dp-rounded, engine-parity safe) for weighted draws
    q = text.quality_score(surv3, text_col="ct")
    lid = text.language_id(surv3, text_col="ct")
    surv4 = (
        surv3.join(q, "doc_id")
        .join(lid.select("doc_id", "lang_guess"), "doc_id")
        .filter("quality >= 0.5 AND lang_guess <> 'und'")
        .select("doc_id", "lang", "ct", "quality")
    )
    # 5. DSIR importance resample toward the English target
    ds = sampling.dsir_importance_resample(
        surv4, target_pred="lang = 'en'", m=64, keep_frac=keep_frac,
        text_col="ct", approximate=approximate,
    )
    surv5 = maybe_ckpt(surv4.join(ds.filter("kept").select("doc_id"), "doc_id"))
    return {"c4": c4k, "exact": ex, "neardup": surv3, "gate": surv4, "dsir": surv5}


def mix_and_pack(
    core: dict[str, DataFrame],
    spark,
    capacity: int = 256,
    mix_weights: list[tuple[str, float]] | None = None,
    mix_temperature: float | None = None,
    mix_budget: float | None = None,
    sample_k: int | None = None,
    sample_weight_col: str | None = None,
) -> dict[str, DataFrame]:
    """A mixing/drawing/packing TAIL over a :func:`curate_core` result —
    stages 6–7, cheap relative to the core (filters, broadcast joins and
    bounded draws over the checkpointed DSIR survivors). Several tails
    can share one core: that is the point of the split.

    Returns ``{"mix", "packed"}`` plus ``"mix_plan"`` under temperature
    planning and ``"draw"`` under a weighted budget draw.

    ``mix_temperature`` (with ``mix_budget``) switches stage 6 from the
    static ``mix_weights`` table to PLANNED rates — the production shape:
    `temperature_mixture` plans per-language sampling rates from the gated
    corpus itself (share ∝ char-mass^alpha, budget-capped), and those
    rates feed `mix_corpus`. Planning is one group-cardinality aggregate
    over the DSIR survivors — free at any corpus size.

    ``sample_k`` adds stage 6b, the QUALITY-WEIGHTED budget draw: an
    Efraimidis–Spirakis sample of exactly k documents from the mixed
    corpus, weight-proportional to ``sample_weight_col`` (default: the
    gate stage's ``quality`` score, carried through the chain for exactly
    this). The packed output then packs the DRAWN corpus — the final
    token-budgeted training set — instead of the full mix. Global draw:
    TakeOrderedAndProject, never a full sort (sampling.weighted_sample_k)."""
    _validate_mix_options(
        mix_weights, mix_temperature, mix_budget, sample_k, sample_weight_col
    )
    surv5 = core["dsir"]
    # 6. domain mixing to the target language distribution: static target
    # rates, or rates PLANNED from the gated corpus (temperature mixture)
    mix_plan = None
    if mix_temperature is not None:
        mix_plan = sampling.temperature_mixture(
            surv5.select("lang", F.length("ct").alias("n_chars")),
            group_col="lang",
            mass_col="n_chars",
            alpha=mix_temperature,
            budget=mix_budget,
        )
        weights = mix_plan.select("lang", F.col("sample_rate").alias("keep_frac"))
    else:
        weights = local_df(spark, 
            mix_weights if mix_weights is not None else DEFAULT_MIX,
            "lang string, keep_frac double",
        )
    surv6 = sampling.mix_corpus(surv5, weights)
    # 6b. optional quality-weighted budget draw over the mixed corpus
    draw = None
    to_pack = surv6
    if sample_k is not None:
        wcol = sample_weight_col or "quality"
        if wcol not in surv6.columns:
            raise ValueError(
                f"curation tail: sample_weight_col {wcol!r} is not a column of"
                f" the mixed corpus (have {surv6.columns}) — the default"
                " 'quality' requires a curate_core-built core"
            )
        draw = sampling.weighted_sample_k(
            surv6, k=sample_k, weight_col=wcol, salt="wdraw"
        )
        to_pack = draw
    # 7. greedy sequence packing of the final corpus
    pin = to_pack.select(
        "lang", "doc_id", F.size(text.tokens("ct")).cast("long").alias("n_tokens")
    )
    packed = packing.greedy_pack(pin, capacity=capacity)
    out = {"mix": surv6, "packed": packed}
    if mix_plan is not None:
        out["mix_plan"] = mix_plan
    if draw is not None:
        out["draw"] = draw
    return out


def curate(
    docs: DataFrame,
    approximate: bool = False,
    checkpoint: bool = True,
    keep_frac: float = 0.5,
    capacity: int = 256,
    mix_weights: list[tuple[str, float]] | None = None,
    mix_temperature: float | None = None,
    mix_budget: float | None = None,
    sample_k: int | None = None,
    sample_weight_col: str | None = None,
) -> dict[str, DataFrame]:
    """Run the full curation chain over ``docs`` (doc_id, text, lang) —
    :func:`curate_core` stages 1–5 composed with one
    :func:`mix_and_pack` tail.

    Returns every stage's surviving frame keyed by stage name —
    ``{"c4", "exact", "neardup", "gate", "dsir", "mix", "packed"}`` plus
    ``"mix_plan"`` (temperature planning) / ``"draw"`` (weighted budget
    draw) — so callers can count survivors per stage (the certification
    shape) or take just the packed output. See the two components for
    the per-option semantics; callers certifying SEVERAL tails should
    call them directly and share one core."""
    _validate_mix_options(
        mix_weights, mix_temperature, mix_budget, sample_k, sample_weight_col
    )
    core = curate_core(
        docs, approximate=approximate, checkpoint=checkpoint, keep_frac=keep_frac
    )
    out = dict(core)
    out.update(
        mix_and_pack(
            core,
            docs.sparkSession,
            capacity=capacity,
            mix_weights=mix_weights,
            mix_temperature=mix_temperature,
            mix_budget=mix_budget,
            sample_k=sample_k,
            sample_weight_col=sample_weight_col,
        )
    )
    return out
