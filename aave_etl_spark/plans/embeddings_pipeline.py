"""The daily EMBEDDINGS asset graph: the ANN twin of the training-corpus
pipeline (plans/corpus_pipeline.py), run through the same orchestration
layer and TableStore.

Each day's vector batch flows landing → dedup-against-the-corpus →
index-state maintenance, with the at-rest IVF index maintained
INCREMENTALLY per day — the shape a 100 TB embedding corpus actually
runs: the index is an asset with a daily append path, not a build-once
artifact that re-trains over the accumulated corpus per batch.

- ``emb_landing``    (DAILY, day-partitioned): the day's raw vectors from
  the injected feed. A landing row without an embedding is not a vector —
  NULL embeddings are dropped here (they can be neither assigned nor
  matched and would poison every cosine downstream).
- ``emb_clean``      (DAILY, day-partitioned): within-batch exact-vector
  dedup (min vec_id per identical vector — the skew-safe agg+join form,
  operators/dedup.py keep_first_by_digest with the vector itself as the
  digest), then WITHIN-BATCH semantic dedup (SRP-bucketed cosine self-
  join over the batch, keep the lowest vec_id of every >= ``EMB_DUP_
  COSINE`` pair — two same-day rescaled/near copies must not both enter
  the index; round 12), then cross-CORPUS semantic dedup: the batch
  probes the at-rest
  IVF index scoped to STRICTLY EARLIER days (``extra_where`` — a prior
  run of the day's own slice must never dedup the batch against itself,
  the corpus pipeline's backfill discipline) and drops any vector whose
  nearest prior neighbor has rounded cosine >= ``EMB_DUP_COSINE``. An
  exact or rescaled copy scores cosine 1.0 regardless of scale, and its
  cell ranking is IDENTICAL to its original's (cosine is what ranks
  cells), so the original's cell is always the copy's first probe — the
  planted-dup recall argument, certified end-to-end in queries/llm.py.
- ``emb_state``      (DAILY, side-effect): first non-empty day trains the
  coarse quantizer (deterministic first-``EMB_N_CELLS``-by-id; a
  kmeans_fit frame slots into the same ``centroids=`` seam) and builds
  the index with ``day`` as a sub-partition level; every later day
  ``ivf_index_append``s under the FROZEN stored centroids — a dynamic
  overwrite of exactly the day's (cell, day) slices, so byte-identical
  re-runs leave the index row count fixed with no anti-join at all. A
  CORRECTED re-run whose vectors moved cells leaves a stale
  (old_cell, day) slice — ``embeddings_maintenance`` rebuilds to reclaim
  (same contract as the corpus MinHash index).
- ``emb_cell_stats`` (UNPARTITIONED): per-(day, cell) vector counts over
  the whole index — the balance monitor every IVF deployment watches
  (a hot cell is a probe-cost hotspot; sustained skew or drift in the
  day-over-day assignment mix is the re-TRAIN trigger).
- ``emb_pq_state``   (DAILY, side-effect, round 12): the at-rest IVF-PQ
  CODE store maintained beside the raw index — first non-empty day
  trains the deterministic rank-based geometry and builds, later days
  ``ivfpq_index_append`` under the frozen cells+codebook; the compressed
  layout (M ints per vector) an at-scale retrieval deployment searches,
  while the raw IVF table keeps serving the dedup probe's exact cosines.
  Round 13 adds the UNIT-vector code twin ``emb_pq_unit`` (same asset,
  same discipline, unit-normalized vectors): with the
  ``emb_pq_prefilter`` resource, ``emb_clean``'s cross-corpus probe
  shortlists by ADC over the unit codes and exact-verifies only the
  shortlist — probe bytes ~M/(4d) of the flat scan, drop set certified
  EQUAL (see :func:`_emb_pq_prefilter_dups` for the geometry argument).
- ``emb_index_health`` (UNPARTITIONED, round 12): the quantizer-drift
  trigger as stored state — ``quantizer_outgrown``'s tuple refreshed by
  every run, so the frozen quantizer's linear probe-cost degradation is
  observable in the store (``outgrown=true`` is the documented signal to
  run ``embeddings_maintenance(auto_retrain=True)``), never silent.

Certified end-to-end (two days; day 2 plants exact replicas, rescaled
replicas, and a within-batch duplicate pair) against chained-CTE DuckDB
oracles in queries/llm.py: ``llm_emb_pipeline_run`` (clean + stats),
``llm_emb_index_state`` (per-vector assignments == a from-scratch build
under the same frozen centroids), ``llm_emb_search_atrest`` (search over
the accumulated incremental index).

Scale: the batch is the only thing ever shingle^W assigned — one
broadcast-centroid argmax pass per day; the accumulated index is touched
only through the probed-cell partition listing (n_probe/n_cells of the
stored bytes, day-pruned further by ``extra_where``), and the dedup
verify is candidate-bound (k=1 nearest per batch vector). Nothing
re-reads or re-assigns history; per-day cost is history-independent
(SCALE.md row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from aave_etl_spark.localframe import local_df
from aave_etl_spark.operators import dedup, similarity
from aave_etl_spark.plans.orchestration import (
    DAILY,
    UNPARTITIONED,
    Asset,
    AssetContext,
    AssetGraph,
)

#: deterministic coarse quantizer: first vectors with vec_id < EMB_N_CELLS
EMB_N_CELLS = 16
#: cells probed per query in the dedup match (and the default search)
EMB_N_PROBE = 4
#: rounded-cosine threshold above which a batch vector is a semantic dup
#: of a prior corpus vector (exact/rescaled copies score 1.0; the testdata
#: corpus's max genuine pairwise cosine is ~0.51 — wide margin)
EMB_DUP_COSINE = 0.999
#: the at-rest index table name (centroids sidecar: emb_ivf_centroids)
EMB_INDEX = "emb_ivf"
#: the at-rest IVF-PQ CODE store (sidecars: emb_pq_cells / emb_pq_codebook /
#: emb_pq_meta) — the compressed at-scale search layout maintained beside
#: the raw-vector index
EMB_PQ_INDEX = "emb_pq"
#: IVF-PQ geometry: coarse cells, residual codes per subspace, subspaces
EMB_PQ_CELLS, EMB_PQ_CODES, EMB_PQ_M = 8, 8, 4
#: the UNIT-vector PQ code twin (round 13): the same IVF-PQ layout built
#: over unit-NORMALIZED vectors, maintained beside the raw code store by
#: the same asset. Semantic dedup is a COSINE problem and L2-ADC over raw
#: vectors is provably the wrong geometry for it: a rescaled replica
#: (cosine 1.0, different norm) ranks cells and codes by its SCALED
#: position, so no n_probe/shortlist bound can guarantee its original
#: surfaces. On unit vectors cos >= t <=> L2² <= 2(1-t), and an exact OR
#: rescaled copy becomes the IDENTICAL unit vector — it probes its
#: original's cell first and shares its codes, so the per-cell ADC-min
#: shortlist provably contains the original. Cost: M more ints/vector at
#: rest, one extra encode pass/day.
EMB_PQ_UNIT = "emb_pq_unit"
#: PQ-prefiltered dedup probe: cells probed in the unit CODE store and
#: per-(query, cell) ADC-shortlist rank (WITH ties) before the exact
#: raw-vector verify
EMB_PQ_NPROBE, EMB_PQ_SHORTLIST = 4, 4
#: outgrowth factor: the quantizer is OUTGROWN when N > factor x n_cells²
#: (shared by the graph's emb_index_health asset, the quantizer_outgrown
#: predicate, and embeddings_maintenance's auto_retrain default)
EMB_OUTGROW_FACTOR = 4.0


def _schema(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


_VEC = ArrayType(DoubleType())
_LANDING_SCHEMA = _schema(
    ("vec_id", LongType()), ("embedding", _VEC), ("day", DateType())
)
_CLEAN_SCHEMA = _LANDING_SCHEMA


def _emb_landing(ctx: AssetContext) -> DataFrame:
    feed = ctx.resources["vectors"]
    return feed.where(
        (F.col("day") == F.lit(ctx.partition.date).cast("date"))
        & F.col("embedding").isNotNull()
    ).select("vec_id", "embedding", "day")


def _unit(df: DataFrame) -> DataFrame:
    """Unit-normalize ``embedding`` keeping the frame's other columns —
    the similarity.normalized() form (same Arrow-vectorized unit UDF,
    bitwise-identical floats to the interpreted HOF divide), day
    preserved for the carry partition level."""
    return df.select(
        *[c for c in df.columns if c != "embedding"],
        similarity._unit_rows_udf()(F.col("embedding")).alias("embedding"),
    )


def _emb_pq_prefilter_dups(store, batch: DataFrame, day: str) -> DataFrame:
    """The PQ-PREFILTERED cross-corpus semantic-dedup probe (round 13):
    shortlist candidates with an ADC search over the maintained
    UNIT-vector CODE store (``EMB_PQ_UNIT``), then EXACT-verify only the
    shortlist against raw vectors fetched from the candidates' own day
    slices.

    The flat probe (``ivf_index_search`` over ``emb_ivf``) scans d
    doubles per candidate row of every probed cell across ALL history;
    this composition reads M small ints per candidate from the
    partition-pruned code scan and touches raw vectors only for the
    shortlist — probe bytes drop by ~M/(4d) at scale (SCALE.md row),
    while the DROP DECISION stays EXACT: the verify computes the same
    rounded cosine expression as the flat probe at the same threshold,
    so a shortlisted non-dup can never be dropped.

    Why the UNIT store and a per-cell tied shortlist: dedup is a cosine
    predicate, and L2-ADC over RAW vectors cannot bound its recall — a
    rescaled replica ranks cells/codes by its scaled position, so the
    true duplicate can sit outside any global top-k (measured: the raw-
    code shortlist missed most planted 2x replicas at the certified
    geometry). On unit vectors an exact or rescaled copy IS its
    original's unit vector: it probes the original's cell first and
    shares its codes, so the original sits at the cell's ADC minimum
    and the rank()-with-ties per-cell shortlist provably contains it —
    certified DROP-SET-EQUAL to the flat probe in queries/llm.py
    ``llm_emb_pq_prefilter_dedup``; `llm_emb_dedup_recall` guards the
    organic near-dup tail. The raw fetch prunes ``emb_clean`` to the
    DISTINCT candidate days (a bounded driver collect — at most the
    shortlist size) and equi-joins on the candidate ids — history raw
    bytes outside the candidates' slices are never read."""
    # the probe batch is consumed by the ADC search (whose probe-cell
    # collect is a separate driver action) AND the exact-verify join —
    # lineage-cut it so the caller's prep chain (digest dedup,
    # within-batch semantic dedup, anti-joins) runs once, not per action
    batch = batch.localCheckpoint(eager=False)
    short = similarity.ivfpq_index_search(
        store,
        _unit(batch),
        name=EMB_PQ_UNIT,
        k=EMB_PQ_SHORTLIST,
        n_probe=EMB_PQ_NPROBE,
        n_subspaces=EMB_PQ_M,
        extra_where=f"day < DATE '{day}'",
        carry_cols=("day",),
        rank_within_cell=True,
    )
    cand = short.select("query_id", "candidate_id", "day").localCheckpoint(
        eager=False
    )  # consumed by the day collect AND the verify join
    days = sorted(
        str(r.day) for r in cand.select("day").distinct().collect()
    )
    empty = local_df(batch.sparkSession, 
        [], StructType([StructField("vec_id", LongType(), True)])
    )
    if not days:
        return empty
    day_pred = "day IN (" + ", ".join(f"DATE '{d}'" for d in days) + ")"
    raw = store.read("emb_clean", where=day_pred, schema=_CLEAN_SCHEMA).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("_cv"),
    )
    qv = batch.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
    )
    return (
        cand.join(raw, "candidate_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            # ONE fused Arrow stage per shortlisted pair
            # (`similarity._pair_cos_udf`): bitwise the former
            # dot_arrow/(qn*cn) with per-row norms on nonzero-norm pairs,
            # minus two ArrowEvalPython boundaries (guide §4.2); a
            # zero-norm pair scores NULL, so the filter below drops it
            F.round(
                similarity._pair_cos_udf()(F.col("_qv"), F.col("_cv")), 6
            ).alias("_cs"),
        )
        .filter(F.col("_cs") >= EMB_DUP_COSINE)
        .select(F.col("query_id").alias("vec_id"))
        .distinct()
    )


def _emb_clean(ctx: AssetContext) -> DataFrame:
    """Dedup the day's vectors within the batch and against the CORPUS.

    Cross-corpus probe modes: the default reads the raw-vector IVF index
    (exact cosines over the probed cells); with the ``emb_pq_prefilter``
    resource truthy AND the PQ code store complete, the probe instead
    runs :func:`_emb_pq_prefilter_dups` — ADC shortlist over the code
    store, exact verify on the shortlist only (the at-scale bytes
    shape; drop set certified equal on the planted corpus)."""
    batch = ctx.upstream(
        "emb_landing", this_partition_only=True, date_col="day",
        schema=_LANDING_SCHEMA,
    )
    # within-batch exact-vector dedup: the vector IS the digest (agg+join,
    # skew-safe — a storm of identical vectors collapses map-side)
    batch = dedup.keep_first_by_digest(batch, F.col("embedding"), id_col="vec_id")
    # within-batch SEMANTIC dedup: SRP-bucket the batch against itself
    # and keep the LOWEST vec_id of every pair at rounded cosine >=
    # EMB_DUP_COSINE — two ~1.0-cosine same-day vectors must not BOTH
    # enter the index, the hole the prior-day-scoped corpus probe cannot
    # close (round 12; the corpus pipeline's within-batch banding pass in
    # vector space). Rescaled same-day copies share the bucket
    # deterministically: positive scaling preserves every projection
    # sign, and cosine is scale-invariant. The two-phase existential form
    # resolves a k-copy storm in O(k) dots instead of the naive bucket
    # self-join's O(k²) (answer identical — property-pinned)
    wdups = similarity.within_batch_cosine_drops(batch, min_cos=EMB_DUP_COSINE)
    batch = batch.join(wdups, "vec_id", "left_anti")
    store = ctx.store
    if ctx.resources.get("emb_pq_prefilter") and store.is_complete(EMB_PQ_UNIT):
        # PQ-prefiltered mode (round 13): ADC shortlist over the code
        # store, exact verify on the shortlist's raw vectors only — the
        # same prior-day scoping, the same exact threshold decision
        dups = _emb_pq_prefilter_dups(store, batch, ctx.partition.date)
        batch = batch.join(dups, "vec_id", "left_anti")
    # both index members must exist: an interrupted first build can leave
    # the centroid sidecar without the assignments table, and a search
    # over the missing table would read back zero-column and crash — the
    # next emb_state run self-heals the pair
    elif store.exists(f"{EMB_INDEX}_centroids") and store.exists(EMB_INDEX):
        # cross-corpus semantic dedup: nearest prior-day neighbor via the
        # at-rest index; the day predicate keeps a re-run from matching
        # the day's own prior slice (backfill discipline)
        nn = similarity.ivf_index_search(
            store,
            batch,
            name=EMB_INDEX,
            k=1,
            n_probe=EMB_N_PROBE,
            extra_where=f"day < DATE '{ctx.partition.date}'",
        )
        dups = nn.filter(F.col("cos_sim") >= EMB_DUP_COSINE).select(
            F.col("query_id").alias("vec_id")
        ).distinct()
        batch = batch.join(dups, "vec_id", "left_anti")
    return batch.select("day", "vec_id", "embedding")


def _emb_state(ctx: AssetContext) -> DataFrame:
    """Side-effect asset: fold the day's survivors into the at-rest IVF
    index — build with frozen-forever centroids on the first non-empty
    day, append under them on every later day."""
    clean = ctx.upstream(
        "emb_clean", this_partition_only=True, date_col="day",
        schema=_CLEAN_SCHEMA,
    )
    store = ctx.store
    if clean.isEmpty():
        # nothing to fold; in particular never train the quantizer on an
        # empty day (a phantom centroid table would wedge later appends)
        return clean
    if store.exists(f"{EMB_INDEX}_centroids"):
        similarity.ivf_index_append(
            store, clean, name=EMB_INDEX, carry_cols=("day",)
        )
    else:
        similarity.ivf_index_build(
            store, clean, name=EMB_INDEX, n_cells=EMB_N_CELLS,
            carry_cols=("day",),
        )
    return clean


def _emb_pq_state(ctx: AssetContext) -> DataFrame:
    """Side-effect asset: the day's survivors encoded into the at-rest
    IVF-PQ CODE store — the true 100 TB at-rest layout (M small ints per
    vector instead of d doubles), maintained incrementally BESIDE the
    raw-vector index: ``emb_state``'s IVF-flat table is the daily dedup
    probe's engine (raw vectors for exact cosines), this code table is
    what an at-scale retrieval deployment actually ships and searches
    (``ivfpq_index_search``'s ADC path over a partition-pruned scan
    reading M ints per candidate).

    The first day whose ACCUMULATED clean corpus reaches the
    ``EMB_PQ_CELLS + EMB_PQ_CODES`` geometry seeds trains the
    deterministic geometry (rank-based — sparse-id-safe,
    operators/similarity.py _ivfpq_seeds) and builds over the
    accumulated survivors; every later day ``ivfpq_index_append``s under
    the FROZEN stored cells+codebook (one broadcast encode pass over the
    batch, dynamic (cell, day) slice overwrite, n_subspaces/rounding
    validated against the ``_meta`` sidecar). The append path is gated
    on the build's COMPLETION MARKER, not table existence: a corpus too
    small to seed the codebook would otherwise leave a cells-only
    half-index (TableStore.write skips the empty codebook frame) that
    every later append crashes into — incomplete means "retry the build
    once the corpus is big enough" (pytest-caught in the 4-vector e2e
    corpus). Day-2 append certified CODE-level equal to a from-scratch
    encode and searched end-to-end in queries/llm.py
    (``llm_emb_pq_state``, ``llm_emb_pq_search_atrest``).

    CERTIFIED-GEOMETRY CAVEAT: the cert oracle (queries/llm.py
    ``_EMB_PQ_CTES``) models the certified fixture, whose day 1 reaches
    the ``EMB_PQ_CELLS + EMB_PQ_CODES`` seed threshold, so its rank
    geometry is day-1-clean-derived. A deployment whose day 1 has fewer
    survivors seeds the geometry from the first qualifying MULTI-day
    accumulation instead — same rank-based derivation, equally
    deterministic and append-safe (the frozen-sidecar contract is
    day-agnostic), but a geometry shape the append==build cert never
    exercises (round-12 ADVICE; see COVERAGE.md)."""
    clean = ctx.upstream(
        "emb_clean", this_partition_only=True, date_col="day",
        schema=_CLEAN_SCHEMA,
    )
    store = ctx.store
    if clean.isEmpty():
        # never train PQ geometry on an empty day (the emb_state rule)
        return clean
    acc = None
    for name, frame_of in (
        (EMB_PQ_INDEX, lambda df: df),
        # the unit twin: same layout, unit-normalized vectors — the
        # cosine-correct geometry the PQ-prefiltered dedup probe needs
        # (see EMB_PQ_UNIT). Maintained under the same seed threshold and
        # completion-marker discipline, day-partitioned the same way.
        (EMB_PQ_UNIT, _unit),
    ):
        if store.is_complete(name):
            similarity.ivfpq_index_append(
                store, frame_of(clean), name=name, n_subspaces=EMB_PQ_M,
                carry_cols=("day",),
            )
        else:
            if acc is None:
                acc = store.read("emb_clean", schema=_CLEAN_SCHEMA)
                acc_n = acc.count()
            if acc_n >= EMB_PQ_CELLS + EMB_PQ_CODES:
                similarity.ivfpq_index_build(
                    store, frame_of(acc), name=name, n_cells=EMB_PQ_CELLS,
                    n_codes=EMB_PQ_CODES, n_subspaces=EMB_PQ_M,
                    carry_cols=("day",),
                )
    return clean


_HEALTH_SCHEMA = StructType(
    [
        StructField("n_vectors", LongType(), True),
        StructField("n_cells", LongType(), True),
        StructField("mean_cell_size", DoubleType(), True),
        StructField("balance_point", LongType(), True),
        StructField("factor", DoubleType(), True),
        StructField("outgrown", BooleanType(), True),
        StructField("recommended_n_cells", LongType(), True),
    ]
)


def _emb_index_health(ctx: AssetContext) -> DataFrame:
    """The quantizer-drift trigger AS STORED STATE: one row per run with
    :func:`quantizer_outgrown`'s tuple — (n_vectors, n_cells,
    mean_cell_size, balance_point, factor, outgrown, recommended_n_cells).

    IVF probe cost per query is ~N x n_probe / n_cells; a frozen
    quantizer lets cells fatten linearly as the corpus accumulates (the
    SCALE.md 7.3 -> 246 s day-cost curve), and before round 12 the only
    way to notice was an OFF-path call to ``quantizer_outgrown`` — a
    deployment that never ran the hook degraded silently, linearly,
    forever. As a graph asset the signal refreshes with every daily run:
    ``outgrown=true`` in the store IS the retrain contract's trigger
    (act via ``embeddings_maintenance(auto_retrain=True)`` on the
    maintenance cadence; the asset costs two index-metadata aggregates).
    Certified against a closed-form oracle over the same accumulated
    corpus (queries/llm.py ``llm_emb_index_health``)."""
    store = ctx.store
    if not (store.exists(EMB_INDEX) and store.exists(f"{EMB_INDEX}_centroids")):
        return local_df(ctx.spark, [], _HEALTH_SCHEMA)
    idx = store.read(
        EMB_INDEX,
        schema=_schema(
            ("cell_id", LongType()), ("vec_id", LongType()),
            ("embedding", _VEC), ("day", DateType()),
        ),
    )
    cent = store.read(f"{EMB_INDEX}_centroids")
    nvec = idx.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    ncell = cent.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    return nvec.crossJoin(ncell).select(
        "n_vectors",
        "n_cells",
        (F.col("n_vectors").cast("double") / F.col("n_cells").cast("double")).alias(
            "mean_cell_size"
        ),
        (F.col("n_cells") * F.col("n_cells")).cast("long").alias("balance_point"),
        F.lit(EMB_OUTGROW_FACTOR).alias("factor"),
        (
            F.col("n_vectors").cast("double")
            > EMB_OUTGROW_FACTOR * (F.col("n_cells") * F.col("n_cells")).cast("double")
        ).alias("outgrown"),
        F.greatest(
            F.col("n_cells"),
            F.ceil(F.sqrt(F.col("n_vectors").cast("double"))).cast("long"),
        ).alias("recommended_n_cells"),
    )


def _emb_cell_stats(ctx: AssetContext) -> DataFrame:
    idx = ctx.store.read(
        EMB_INDEX,
        schema=_schema(
            ("cell_id", LongType()), ("vec_id", LongType()),
            ("embedding", _VEC), ("day", DateType()),
        ),
    )
    return idx.groupBy("day", "cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )


#: the day-partitioned embedding tables the maintenance pass compacts
_COMPACTABLE = ("emb_landing", "emb_clean")


def quantizer_outgrown(
    store, factor: float = EMB_OUTGROW_FACTOR, name: str = EMB_INDEX
) -> tuple[bool, int, dict]:
    """The executable form of the SCALE.md drift trigger: has the corpus
    OUTGROWN the frozen coarse quantizer?

    IVF probe cost per query is ~N x n_probe / n_cells, balanced when
    n_cells ~ sqrt(N); a frozen quantizer lets cells fatten linearly as
    the corpus accumulates (the measured 7.3 -> 246 s day-cost curve).
    This predicate fires when N > ``factor`` x n_cells² — i.e. the mean
    cell is ``factor`` x past the sqrt(N) balance point — and recommends
    n_cells' = ceil(sqrt(N)) for the retrain.

    Cost: two bounded aggregates (index row count + centroid count) —
    safe to evaluate after every daily run; act on it off the daily path
    via ``embeddings_maintenance(retrain=True, n_cells=recommended)`` or
    ``auto_retrain=True``. Returns (outgrown, recommended_n_cells,
    details)."""
    import math

    if not (store.exists(name) and store.exists(f"{name}_centroids")):
        return False, 0, {"reason": "index not built"}
    n = store.read(name).count()
    n_cells = store.read(f"{name}_centroids").count()
    recommended = max(n_cells, int(math.ceil(math.sqrt(max(n, 1)))))
    outgrown = n > factor * n_cells * n_cells
    return outgrown, recommended, {
        "n_vectors": n,
        "n_cells": n_cells,
        "mean_cell_size": n / max(n_cells, 1),
        "balance_point": n_cells * n_cells,
        "factor": factor,
    }


def embeddings_maintenance(
    store,
    retrain: bool = False,
    n_cells: int | None = None,
    auto_retrain: bool = False,
    outgrow_factor: float = EMB_OUTGROW_FACTOR,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, tuple[int, int]]:
    """Periodic maintenance for the embeddings store:

    - COMPACT the day-partitioned tables' accreted small files.
    - REBUILD the IVF index from the accumulated ``emb_clean`` — under
      the STORED centroids by default (reclaims stale (cell, day) slices
      a corrected backfill left behind; assignments unchanged by the
      append==build certification), or with ``retrain=True`` under a
      fresh deterministic quantizer (the drift path: when the daily
      assignment mix in ``emb_cell_stats`` skews — or the cells simply
      OUTGROW the quantizer — the centroids no longer bound probe cost;
      retraining is a FULL refresh, which is exactly why it lives here
      and not on the daily path).

    ``n_cells`` (with ``retrain=True``) resizes the quantizer: IVF probe
    cost per query is ~|corpus| x n_probe / n_cells, so a corpus that
    grew 100x needs ~10x the cells (the classic sqrt(N) sizing) to keep
    the daily dedup probe flat — the SCALE.md day-vs-history row
    measures exactly this remedy. ``auto_retrain=True`` delegates the
    decision to :func:`quantizer_outgrown`: retrain fires (at its
    recommended sqrt(N) cell count) only when the corpus is past
    ``outgrow_factor`` x the quantizer's balance point, so the hook can
    sit unconditionally on a weekly cadence.

    Returns ``{table: (before, after)}`` file counts (rows for the
    index). Run off the daily path; cost is one scan+rewrite of the
    state, never the landing history."""
    if auto_retrain and not retrain:
        outgrown, recommended, _ = quantizer_outgrown(store, outgrow_factor)
        if outgrown:
            retrain = True
            n_cells = recommended if n_cells is None else n_cells
    out: dict[str, tuple[int, int]] = {}
    for name in _COMPACTABLE:
        if store.exists(name):
            out[name] = store.compact(
                name, partition_cols=["day"], target_file_bytes=target_file_bytes
            )
    # NOTE: no separate compaction pass for the index itself — the
    # rebuild below is a full static refresh, so it already lands
    # freshly-compacted files (the appends' per-(cell, day) file accretion
    # is reclaimed every maintenance run as a side effect)
    if store.exists(EMB_INDEX) and store.exists("emb_clean"):
        before = store.read(EMB_INDEX).count()
        clean = store.read("emb_clean")
        if retrain:
            # rank-based deterministic quantizer: first n_cells vectors BY
            # RANK over vec_id — not the `vec_id < n_cells` ID-THRESHOLD
            # the default quantizer uses, which under sparse / non-zero-
            # based ids (the pipeline's own +10M planted ids) yields fewer
            # — possibly zero — centroids than requested, leaving the
            # retrain silently undersized (round-11 ADVICE). A kmeans_fit
            # frame slots into the same seam for a data-driven retrain.
            want = n_cells if n_cells is not None else EMB_N_CELLS
            # orderBy+limit plans as TakeOrderedAndProject (per-partition
            # top-K, no full-corpus sort shuffle); the row_number window
            # then runs over the K-row frame only
            first_k = (
                clean.select("vec_id", "embedding")
                .orderBy("vec_id")
                .limit(want)
                .localCheckpoint(eager=True)
            )
            centroids = first_k.select(
                (F.row_number().over(Window.orderBy("vec_id")) - 1)
                .cast("long")
                .alias("cell_id"),
                F.col("embedding").alias("centroid"),
            ).localCheckpoint(eager=True)
            got = centroids.count()
            # undersized means fewer centroids than the REBUILD SOURCE can
            # seed — min(want, |clean|), not min(want, |old index|): when
            # emb_clean legitimately shrank below both (rows purged before
            # a maintenance rebuild), a correctly-sized retrain must not
            # trip the guard (round-12 ADVICE)
            if got < min(want, clean.count()):
                raise RuntimeError(
                    f"embeddings_maintenance: retrain asked for {want} "
                    f"centroids but ranked selection produced {got} — "
                    "quantizer would be undersized"
                )
        else:
            centroids = store.read(f"{EMB_INDEX}_centroids")
        similarity.ivf_index_build(
            store,
            clean,
            name=EMB_INDEX,
            n_cells=n_cells if n_cells is not None else EMB_N_CELLS,
            centroids=centroids,
            carry_cols=("day",),
        )
        out[EMB_INDEX] = (before, store.read(EMB_INDEX).count())
    # the PQ code store gets the same reclaim contract: a corrected
    # re-run whose vectors moved cells leaves a stale (cell, day) code
    # slice — rebuild the codes from the accumulated survivors under the
    # FROZEN stored geometry (append==build certified, so assignments and
    # codes are unchanged for surviving vectors). Retraining PQ geometry
    # is deliberately NOT wired here: codes are not comparable across
    # geometries, so a PQ retrain is a full re-encode a deployment
    # schedules explicitly (build with cells=None/codebook=None).
    if store.is_complete(EMB_PQ_INDEX) and store.exists("emb_clean"):
        before_pq = store.read(EMB_PQ_INDEX).count()
        similarity.ivfpq_index_build(
            store,
            store.read("emb_clean"),
            name=EMB_PQ_INDEX,
            n_subspaces=EMB_PQ_M,
            cells=store.read(f"{EMB_PQ_INDEX}_cells"),
            codebook=store.read(f"{EMB_PQ_INDEX}_codebook"),
            carry_cols=("day",),
        )
        out[EMB_PQ_INDEX] = (before_pq, store.read(EMB_PQ_INDEX).count())
    # the unit-vector code twin (the dedup prefilter's store) gets the
    # same reclaim rebuild under its own frozen geometry
    if store.is_complete(EMB_PQ_UNIT) and store.exists("emb_clean"):
        before_u = store.read(EMB_PQ_UNIT).count()
        similarity.ivfpq_index_build(
            store,
            _unit(store.read("emb_clean")),
            name=EMB_PQ_UNIT,
            n_subspaces=EMB_PQ_M,
            cells=store.read(f"{EMB_PQ_UNIT}_cells"),
            codebook=store.read(f"{EMB_PQ_UNIT}_codebook"),
            carry_cols=("day",),
        )
        out[EMB_PQ_UNIT] = (before_u, store.read(EMB_PQ_UNIT).count())
    return out


def embeddings_pipeline_graph() -> AssetGraph:
    return AssetGraph(
        [
            Asset(
                name="emb_landing",
                fn=_emb_landing,
                group="emb_lake",
                partitioning=DAILY,
                partition_cols=("day",),
            ),
            Asset(
                name="emb_clean",
                fn=_emb_clean,
                deps=("emb_landing",),
                group="emb_lake",
                partitioning=DAILY,
                partition_cols=("day",),
            ),
            Asset(
                name="emb_state",
                fn=_emb_state,
                deps=("emb_clean",),
                group="emb_lake",
                partitioning=DAILY,
                write_output=False,
            ),
            Asset(
                name="emb_pq_state",
                fn=_emb_pq_state,
                deps=("emb_clean",),
                group="emb_lake",
                partitioning=DAILY,
                write_output=False,
            ),
            Asset(
                name="emb_cell_stats",
                fn=_emb_cell_stats,
                deps=("emb_state",),
                group="emb_lake",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                name="emb_index_health",
                fn=_emb_index_health,
                deps=("emb_state",),
                group="emb_lake",
                partitioning=UNPARTITIONED,
            ),
        ]
    )
