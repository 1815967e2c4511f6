"""Partitioned-run orchestration layer (plans/orchestration.py).

Proves the reference entry-point semantics (aave_data/__init__.py:374-434):
idempotent per-partition re-runs, slice-scoped overwrite (re-running day A
never disturbs day B), cross-partition reads in the full-refresh layer, the
daily cadence chain, backfill over a range, and the schedule cadences.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.io.table_store import TableStore
from aave_etl_spark.plans import orchestration as orch
from aave_etl_spark.plans.events_pipeline import events_pipeline_graph
from aave_etl_spark.plans.orchestration import (
    MARKET_DAY,
    UNPARTITIONED,
    Asset,
    AssetContext,
    AssetGraph,
    PartitionKey,
    backfill,
    cron_due,
    date_range,
    due_jobs,
    run_day,
    run_partition,
)
from aave_etl_spark.sources.connectors import block_numbers_by_day
from aave_etl_spark.warehouse.blocks import blocks_by_day


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


# ---------------------------------------------------------------------------
# Graph mechanics (pure).
# ---------------------------------------------------------------------------
def test_topo_order_and_cycle_detection():
    a = Asset("a", fn=lambda ctx: None)
    b = Asset("b", fn=lambda ctx: None, deps=("a",))
    c = Asset("c", fn=lambda ctx: None, deps=("b",))
    g = AssetGraph([c, b, a])
    assert [x.name for x in g.topo_order()] == ["a", "b", "c"]
    # selection that excludes a dep treats it as already materialized
    assert [x.name for x in g.topo_order(["b", "c"])] == ["b", "c"]
    with pytest.raises(ValueError, match="cycle"):
        AssetGraph(
            [
                Asset("x", fn=lambda ctx: None, deps=("y",)),
                Asset("y", fn=lambda ctx: None, deps=("x",)),
            ]
        ).topo_order()
    with pytest.raises(ValueError, match="unknown deps"):
        AssetGraph([Asset("x", fn=lambda ctx: None, deps=("nope",))])


def test_group_selection():
    g = AssetGraph(
        [
            Asset("l1", fn=lambda ctx: None, group="data_lake"),
            Asset("w1", fn=lambda ctx: None, group="warehouse_datamart"),
        ]
    )
    assert g.select_groups("data_lake") == ["l1"]
    with pytest.raises(ValueError, match="no assets"):
        g.select_groups("nope")


# ---------------------------------------------------------------------------
# Schedule cadences (reference aave_data/__init__.py:374-434).
# ---------------------------------------------------------------------------
def test_cron_due_reference_cadences():
    # warehouse_datamart at 01:15 (warehouse_datamart_schedule)
    assert cron_due("15 1 * * *", datetime(2026, 8, 13, 1, 15))
    assert not cron_due("15 1 * * *", datetime(2026, 8, 13, 1, 14))
    # liquidity_depth every 2 hours (0 */2 * * *)
    assert cron_due("0 */2 * * *", datetime(2026, 8, 13, 4, 0))
    assert not cron_due("0 */2 * * *", datetime(2026, 8, 13, 3, 0))
    # hourly lake at :05 every hour
    assert cron_due("5 * * * *", datetime(2026, 8, 13, 17, 5))
    # day-of-week: 2026-08-13 is a Thursday (cron dow 4)
    assert cron_due("0 1 * * 4", datetime(2026, 8, 13, 1, 0))
    assert not cron_due("0 1 * * 0", datetime(2026, 8, 13, 1, 0))
    with pytest.raises(ValueError, match="bad cron"):
        cron_due("0 1 *", datetime(2026, 8, 13, 1, 0))


def test_due_jobs_daily_cadence_chain():
    # 01:00 — lake jobs fire; 01:15 — warehouse+datamart; 01:25 — daily +
    # chain_day partitioned jobs.
    assert set(due_jobs(datetime(2026, 8, 13, 1, 0))) >= {
        "data_lake",
        "data_lake_unpartitioned",
    }
    assert due_jobs(datetime(2026, 8, 13, 1, 15)) == ["warehouse_datamart"]
    assert set(due_jobs(datetime(2026, 8, 13, 1, 25))) == {
        "daily_partitioned",
        "chain_day",
    }
    # :05 / :10 hourly chain
    assert "hourly_data_lake" in due_jobs(datetime(2026, 8, 13, 9, 5))
    assert "datamart_hourly" in due_jobs(datetime(2026, 8, 13, 9, 10))


def test_date_range():
    assert date_range("2024-01-30", "2024-02-02") == [
        "2024-01-30",
        "2024-01-31",
        "2024-02-01",
        "2024-02-02",
    ]
    with pytest.raises(ValueError, match="before start"):
        date_range("2024-01-02", "2024-01-01")


# ---------------------------------------------------------------------------
# Connector-backed market_day pipeline: lake fetch → warehouse, per-partition
# overwrite, idempotent re-run, slice isolation.
# ---------------------------------------------------------------------------
def _block_transport(height_of):
    """Fake DeFiLlama closest-block transport (FIXTURES §1 shape)."""

    def transport(req):
        day = datetime.fromisoformat(req["day"])
        nxt = day.timestamp() + 86400
        h = height_of(req["day"], req["chain"])
        return {
            "start": {"height": h, "timestamp": day.timestamp()},
            "next": {"height": h + 7000, "timestamp": nxt},
        }

    return transport


def _blocks_graph():
    def lake(ctx):
        chain = {"ethereum_v3": "ethereum", "polygon_v3": "polygon"}[ctx.partition.market]
        return block_numbers_by_day(
            ctx.spark, ctx.resources["transport"], ctx.partition.date, chain, ctx.partition.market
        )

    def warehouse(ctx):
        return blocks_by_day(ctx.upstream("block_numbers_by_day"))

    return AssetGraph(
        [
            Asset(
                "block_numbers_by_day",
                fn=lake,
                group="data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "warehouse_blocks_by_day",
                fn=warehouse,
                deps=("block_numbers_by_day",),
                group="warehouse_datamart",
                partitioning=UNPARTITIONED,
            ),
        ]
    )


def test_run_day_idempotent_and_slice_scoped(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    graph = _blocks_graph()
    markets = ["ethereum_v3", "polygon_v3"]
    res = {"transport": _block_transport(lambda d, c: 1_000_000)}

    run_day(spark, store, graph, "2024-01-01", markets, res)
    run_day(spark, store, graph, "2024-01-02", markets, res)

    lake = store.read("block_numbers_by_day")
    assert lake.count() == 4  # 2 days x 2 markets
    first = _rows(lake, "block_day", "market")

    # idempotency: re-running the same partition day is byte-identical
    run_day(spark, store, graph, "2024-01-01", markets, res)
    assert _rows(store.read("block_numbers_by_day"), "block_day", "market") == first

    # slice isolation: re-run day 1 with new heights — day 2 rows untouched
    res2 = {"transport": _block_transport(lambda d, c: 2_000_000)}
    run_day(spark, store, graph, "2024-01-01", markets, res2)
    after = store.read("block_numbers_by_day")
    assert after.count() == 4
    d1 = after.where("block_day = DATE '2024-01-01'")
    d2 = after.where("block_day = DATE '2024-01-02'")
    assert {r.block_height for r in d1.collect()} == {2_000_000}
    assert {r.block_height for r in d2.collect()} == {1_000_000}

    # warehouse full-refresh saw both chains x both days, deduped per chain
    wh = store.read("warehouse_blocks_by_day")
    assert wh.count() == 4  # 2 chains x 2 days
    assert set(wh.columns) == {"block_day", "block_time", "block_height", "end_block", "chain"}


def test_run_partition_selection_respects_deps(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    graph = _blocks_graph()
    res = {"transport": _block_transport(lambda d, c: 5)}
    # running only the warehouse selection against an empty store yields an
    # empty (schema-less) upstream -> empty write skipped, table absent
    out = run_partition(
        spark, store, graph, PartitionKey("2024-01-01", "ethereum_v3"), res,
        selection=["block_numbers_by_day"],
    )
    assert out["block_numbers_by_day"].count() == 1


# ---------------------------------------------------------------------------
# Backfill over the events pipeline: cross-partition LAG + oracle identity.
# ---------------------------------------------------------------------------
def test_backfill_cross_partition_lag(spark, tmp_path):
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 5), 10.0),
            (2, datetime(2024, 1, 1, 9), 30.0),
            (1, datetime(2024, 1, 2, 5), 20.0),
            (3, datetime(2024, 1, 3, 5), 120.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    store = TableStore(spark, str(tmp_path / "store"))
    graph = events_pipeline_graph()
    backfill(spark, store, graph, "2024-01-01", "2024-01-03", markets=(), resources={"events": ev})

    dm = _rows(store.read("datamart_day_summary"), "day")
    # (day, n_events, n_users, total_value, day_over_day)
    assert [(str(r[0]), r[1], r[2], r[3], r[4]) for r in dm] == [
        ("2024-01-01", 2, 2, 40.0, None),
        ("2024-01-02", 1, 1, 20.0, 0.5),  # day 2 LAG saw day 1's partition
        ("2024-01-03", 1, 1, 120.0, 6.0),
    ]

    # re-running the backfill (or any sub-range) is idempotent
    lake_before = _rows(store.read("lake_user_day"), "day", "user_id")
    backfill(spark, store, graph, "2024-01-02", "2024-01-02", markets=(), resources={"events": ev})
    assert _rows(store.read("lake_user_day"), "day", "user_id") == lake_before
    assert store.read("lake_user_day").count() == 4

    # full_refresh_each_day replays the exact daily cadence to the same state
    store2 = TableStore(spark, str(tmp_path / "store2"))
    backfill(
        spark, store2, graph, "2024-01-01", "2024-01-03", markets=(),
        resources={"events": ev}, full_refresh_each_day=True,
    )
    assert _rows(store2.read("datamart_day_summary"), "day") == _rows(
        store.read("datamart_day_summary"), "day"
    )


# ---------------------------------------------------------------------------
# Hourly cadence chain: market_hour lake fetch (S21 connector) per
# (hour, market) cell → unpartitioned hourly rollup; idempotent per cell.
# ---------------------------------------------------------------------------
def test_run_hour_market_hour_chain(spark, tmp_path):
    from aave_etl_spark.sources.connectors import block_numbers_by_hour

    def transport(req):
        h = int(req["hour"].split("-")[-1].split(":")[0])
        return {"height": 17_000_000 + h * 300, "timestamp": 1681516800 + h * 3600}

    def lake(ctx):
        chain = {"ethereum_v3": "ethereum", "polygon_v3": "polygon"}[ctx.partition.market]
        hour_key = f"{ctx.partition.date}-{ctx.partition.hour:02d}:00"
        return block_numbers_by_hour(
            ctx.spark, ctx.resources["transport"], hour_key, chain, ctx.partition.market
        )

    def rollup(ctx):
        return (
            ctx.upstream("block_numbers_by_hour")
            .groupBy("chain")
            .agg(F.max("block_height").alias("latest_height"))
        )

    graph = AssetGraph(
        [
            Asset(
                "block_numbers_by_hour",
                fn=lake,
                group="hourly_data_lake",
                partitioning=orch.MARKET_HOUR,
                partition_cols=("block_hour", "market"),
            ),
            Asset(
                "hourly_latest_blocks",
                fn=rollup,
                deps=("block_numbers_by_hour",),
                group="datamart_hourly",
                partitioning=UNPARTITIONED,
            ),
        ]
    )
    store = TableStore(spark, str(tmp_path / "store"))
    markets = ["ethereum_v3", "polygon_v3"]
    res = {"transport": transport}
    orch.run_hour(spark, store, graph, "2023-04-15", 6, markets, res)
    orch.run_hour(spark, store, graph, "2023-04-15", 7, markets, res)

    lake_tbl = store.read("block_numbers_by_hour")
    assert lake_tbl.count() == 4  # 2 hours x 2 markets
    first = _rows(lake_tbl, "block_hour", "market")

    # re-running an hour cell is idempotent
    orch.run_hour(spark, store, graph, "2023-04-15", 6, markets, res)
    assert _rows(store.read("block_numbers_by_hour"), "block_hour", "market") == first

    roll = {r.chain: r.latest_height for r in store.read("hourly_latest_blocks").collect()}
    assert roll == {"ethereum": 17_002_100, "polygon": 17_002_100}


def test_corpus_pipeline_cross_day_dedup_and_idempotent_rerun(spark, tmp_path):
    """The daily training-corpus graph (plans/corpus_pipeline.py) run for
    two days: day 2's exact replica of day-1 content is dropped by the
    at-rest digest anti-join, its near-dup variant by the MinHash index
    match + Jaccard verify against day 1's band index, and a genuinely
    new doc survives; re-running day 2 dynamic-overwrites its own slice
    (stored clean table identical after the re-run)."""
    from aave_etl_spark.plans.corpus_pipeline import corpus_pipeline_graph

    store = TableStore(spark, str(tmp_path / "corpus_wh"))
    # texts carry stopwords + variety so the quality gate keeps them
    long_a = (
        "the alpha of beta and gamma is a delta the epsilon of zeta and"
        " eta is a theta the iota of kappa and lambda is a sigma"
    )
    long_b = (
        "the one of two and three is a four the five of six and seven"
        " is an eight the nine of ten and eleven is a twelve"
    )
    # docs 14/15: near-dups OF EACH OTHER within day 2's batch (unrelated
    # to day-1 content) — the round-12 WITHIN-BATCH near-dup pass keeps
    # the LOWEST id (14) and drops 15 on the FIRST run already; every
    # re-run must reproduce exactly that set (the round-10 ADVICE bug:
    # stale same-day band rows under the same ids borrowed batch-side
    # text in the verify and dropped BOTH — 14 must still never drop
    # against its own or 15's stale band rows)
    nd_base = (
        "the quick of brown and foxes is a jumper the lazy of dogs and"
        " cats is a sleeper the tiny of mice and birds is a runner"
    )
    landing = spark.createDataFrame(
        [
            (1, "en", long_a, "2024-01-01"),
            (2, "en", long_b, "2024-01-01"),
            # NULL source-label lang: the gate keys on lang_GUESS, so the
            # doc must flow through gating/packing/stats as its own NULL
            # group (eqNullSafe discipline), never silently dropped
            (
                3,
                None,
                "the null of labels and sources is a case the meta of"
                " data and tags is a blank entirely novel words here",
                "2024-01-01",
            ),
            # day 2: exact replica of doc 1, near-dup of doc 2, fresh doc
            (11, "en", long_a, "2024-01-02"),
            (12, "en", long_b + "extra trailing words appended", "2024-01-02"),
            (
                13,
                "en",
                "the fresh of content and words is a story the new of"
                " material and prose is a record entirely different here",
                "2024-01-02",
            ),
            (14, "en", nd_base, "2024-01-02"),
            (15, "en", nd_base + " extra appended tail words here", "2024-01-02"),
            # cross-DAY boilerplate (round 13): doc 16 lifts ONE 8-token
            # span verbatim from day-1 doc 1 inside otherwise-unique text
            # — far below doc-level Jaccard 0.5, so only the span rung
            # can catch it: the stored corpus_spans canonical (keeper =
            # doc 1) must cut exactly those 8 tokens from 16's stored text
            (
                16,
                "en",
                "the unique of openers and writers is a preamble zq16a"
                " alpha of beta and gamma is a delta"
                " zq16b closers and finishers wrap zq16c",
                "2024-01-02",
            ),
        ],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))
    graph = corpus_pipeline_graph()
    for day in ("2024-01-01", "2024-01-02"):
        orch.run_day(
            spark, store, graph, day, markets=[], resources={"landing": landing}
        )
    clean = {
        (str(r.day), r.doc_id) for r in store.read("corpus_clean").collect()
    }
    assert ("2024-01-01", 1) in clean and ("2024-01-01", 2) in clean
    assert ("2024-01-02", 13) in clean  # fresh doc survives
    assert ("2024-01-02", 11) not in clean  # exact replica dropped
    assert ("2024-01-02", 12) not in clean  # near-dup variant dropped
    # within-batch near-dup pair: the lowest id survives, its same-day
    # paraphrase is dropped by the batch-banded verify (round 12)
    assert ("2024-01-02", 14) in clean
    assert ("2024-01-02", 15) not in clean
    # cross-DAY span dedup (round 13): doc 16 survives doc-level (its
    # Jaccard vs doc 1 is ~0.14) but its lifted 8-token span is cut from
    # the STORED text — the day-1 keeper wins via the corpus_spans state
    assert ("2024-01-02", 16) in clean
    day2_text = {
        r.doc_id: r.text
        for r in store.read("corpus_docs", where="day = DATE '2024-01-02'").collect()
    }
    assert day2_text[16] == (
        "the unique of openers and writers is a preamble zq16a"
        " zq16b closers and finishers wrap zq16c"
    )
    # ... while untouched docs pass through byte-identical
    assert day2_text[14] == nd_base
    # the state holds the keeper: every hash the cut window contributed
    # is canonical at (day 1, doc 1) — spot-check the lifted window's own
    # hash rows point at doc 1
    spans_d1 = {
        (r.doc_id, r.pos)
        for r in store.read_bucketed("corpus_spans")
        .where("day = DATE '2024-01-01'")
        .collect()
    }
    assert all(doc in (1, 2, 3) for doc, _ in spans_d1)
    assert (1, 1) in spans_d1  # "alpha of beta ... delta" at doc 1, offset 1
    span_rows = store.read_bucketed("corpus_spans").count()
    # stats cover both days and only surviving docs; the NULL-lang doc
    # packs and rolls up as its own group (not dropped, not mis-bucketed)
    stats = {(str(r.day), r.lang): r for r in store.read("corpus_stats").collect()}
    assert stats[("2024-01-01", "en")].n_docs == 2
    assert stats[("2024-01-01", None)].n_docs == 1
    assert stats[("2024-01-02", "en")].n_docs == 3
    packed_null = store.read("corpus_packed", where="lang IS NULL").collect()
    assert [r.doc_id for r in packed_null] == [3]
    # the distribution-aware gate attached a DSIR weight from the stored
    # rolled-up states to every gated doc (NULL lang included — the
    # target predicate treats NULL as non-target, never errors)
    gated = store.read("corpus_gated").collect()
    assert all(r.dsir_weight is not None for r in gated)
    # the stop-term rollup asset exists and carries honest bounds
    stop = store.read("corpus_stopterms").collect()
    assert 0 < len(stop) <= 5
    assert all(r.count_lb <= r.count_ub for r in stop)
    assert {r.rank for r in stop} == set(range(1, len(stop) + 1))
    # the rolling reference LM (round 13): day 1 has no PRIOR state so it
    # emits zero quality rows; day 2's clean survivors all score against
    # the day-1 LM and land in a bucket; the count state is additive per
    # day — spot-check a hand-counted day-1 unigram (the: 3+3+2)
    lm_q = store.read("corpus_lm_quality").collect()
    assert {str(r.day) for r in lm_q} == {"2024-01-02"}
    assert {r.doc_id for r in lm_q} == {13, 14, 16}
    assert all(
        r.avg_neg_logprob is not None and r.bucket in ("head", "middle", "tail")
        for r in lm_q
    )
    the_tf = (
        store.read("corpus_lm_state")
        .where("day = DATE '2024-01-01' AND w1 = 'the' AND w2 IS NULL")
        .collect()
    )
    assert [r.tf for r in the_tf] == [8]
    lm_rows = sorted((r.doc_id, r.avg_neg_logprob, r.bucket) for r in lm_q)
    mh_rows = store.read("corpus_mh").count()
    # re-run day 2 TWICE: dynamic overwrite of exactly its slice, same
    # result — state reads AND candidate pairs are scoped to EARLIER days,
    # so the day's docs must not dedup against their own previously-stored
    # digests/bands (in particular, in-batch near-dup KEEPER 14 must not
    # drop against its own — or dropped 15's — stale same-day band rows;
    # the within-batch pass re-drops 15 deterministically), and the
    # if_absent index append leaves the band-index row count FIXED
    for _ in range(2):
        orch.run_day(
            spark, store, graph, "2024-01-02", markets=[],
            resources={"landing": landing},
        )
        clean2 = {
            (str(r.day), r.doc_id) for r in store.read("corpus_clean").collect()
        }
        assert clean2 == clean
        assert store.read("corpus_mh").count() == mh_rows
        # span state: hash-absent append means re-runs add ZERO rows, and
        # the re-run's span stage (prior-day-scoped read) reproduces the
        # same stored text bytes — doc 16's cut doesn't deepen against the
        # day's own stored state
        assert store.read_bucketed("corpus_spans").count() == span_rows
        rerun_text = {
            r.doc_id: r.text
            for r in store.read(
                "corpus_docs", where="day = DATE '2024-01-02'"
            ).collect()
        }
        assert rerun_text == day2_text
        # LM quality reads STRICTLY prior days' state, so a re-run day's
        # scores are untouched by its own state overwrite
        assert (
            sorted(
                (r.doc_id, r.avg_neg_logprob, r.bucket)
                for r in store.read("corpus_lm_quality").collect()
            )
            == lm_rows
        )
    # the backfill case: re-run day 2 with a CORRECTED batch (doc 13's
    # text amended) — the unchanged dedup verdicts hold and the corrected
    # doc replaces its old version instead of being self-dedup'd away
    landing_fixed = landing.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 13,
            F.concat(F.col("text"), F.lit(" and the corrected of tail is a fix")),
        ).otherwise(F.col("text")),
    )
    orch.run_day(
        spark, store, graph, "2024-01-02", markets=[],
        resources={"landing": landing_fixed},
    )
    clean3 = {
        (str(r.day), r.doc_id) for r in store.read("corpus_clean").collect()
    }
    assert clean3 == clean  # same ids survive, including the corrected 13
    fixed_text = {
        r.doc_id: r.text
        for r in store.read("corpus_docs", where="day = DATE '2024-01-02'").collect()
    }
    assert fixed_text[13].endswith("is a fix")  # state holds the correction
    # the Brants count-cutoff resource (lm_min_tf): re-run day 2 with the
    # rolled LM pruned to tf >= 2 — the same docs still score (pruned
    # grams back off per the stupid-backoff rule, they never error) but
    # thin-count grams now take the backoff path, so scores shift
    unpruned = {
        r.doc_id: r.avg_neg_logprob
        for r in store.read("corpus_lm_quality").collect()
    }
    orch.run_day(
        spark, store, graph, "2024-01-02", markets=[],
        resources={"landing": landing_fixed, "lm_min_tf": 2},
    )
    pruned = {
        r.doc_id: r.avg_neg_logprob
        for r in store.read("corpus_lm_quality").collect()
    }
    assert set(pruned) == {13, 14, 16}
    assert all(v is not None for v in pruned.values())
    assert pruned != unpruned
    # the CCNet keep (lm_tail_drop): re-run day 2 with tail-bucket docs
    # barred from the gate — with 3 'en' survivors the 0.3/0.6
    # percent-rank cuts assign exactly one head/middle/tail each, so
    # exactly the tail doc vanishes from gating/packing while clean
    # (dedup) is untouched
    orch.run_day(
        spark, store, graph, "2024-01-02", markets=[],
        resources={"landing": landing_fixed, "lm_tail_drop": True},
    )
    tail_ids = {
        r.doc_id
        for r in store.read("corpus_lm_quality").collect()
        if r.bucket == "tail"
    }
    assert len(tail_ids) == 1
    gated_ids = {
        r.doc_id
        for r in store.read(
            "corpus_gated", where="day = DATE '2024-01-02'"
        ).collect()
    }
    assert gated_ids == {13, 14, 16} - tail_ids
    packed_ids = {
        r.doc_id
        for r in store.read(
            "corpus_packed", where="day = DATE '2024-01-02'"
        ).collect()
    }
    assert packed_ids == gated_ids
    clean4 = {
        (str(r.day), r.doc_id) for r in store.read("corpus_clean").collect()
    }
    assert clean4 == clean
    # plan pin: the clean asset's within-batch exact dedup is the skew-safe
    # agg+join form — no Window operator anywhere in the asset's plan (a
    # dup-storm day's copies all share ONE digest, the hot window key)
    from aave_etl_spark.plans.corpus_pipeline import _corpus_clean

    ctx = AssetContext(
        spark=spark, store=store, partition=PartitionKey(date="2024-01-02"),
        resources={"landing": landing},
    )
    plan = _corpus_clean(ctx)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_corpus_maintenance_compacts_and_reclaims_stale_bands(spark, tmp_path):
    """The off-path maintenance pass: after two days plus a CORRECTED
    re-run of day 2 (which leaves the corrected doc's old-text bands in
    the index — the documented storage leak), corpus_maintenance must
    rebuild the index down to exactly the from-scratch size over the
    current docs, compact the day tables without changing a value, and
    the next day's run must work unchanged on the maintained store."""
    from aave_etl_spark.plans.corpus_pipeline import (
        corpus_maintenance,
        corpus_pipeline_graph,
    )

    store = TableStore(spark, str(tmp_path / "corpus_wh"))
    mk = lambda i, t, d: (i, "en", t, d)  # noqa: E731

    # per-doc disjoint vocabulary around an en-stopword skeleton: every
    # 3-gram carries a doc-unique token, so docs never near-dup each
    # other, while the gate's language/quality checks still pass
    def text(i):
        w = [f"w{i}{c}" for c in "abcdefgh"]
        return (
            f"the {w[0]} of {w[1]} and {w[2]} is {w[3]}"
            f" a {w[4]} {w[5]} {w[6]} {w[7]}"
        )

    rows = [mk(i, text(i), "2024-01-01") for i in range(4)]
    rows += [mk(10 + i, text(10 + i), "2024-01-02") for i in range(3)]
    landing = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, day string"
    ).withColumn("day", F.to_date("day"))
    graph = corpus_pipeline_graph()
    for day in ("2024-01-01", "2024-01-02"):
        orch.run_day(
            spark, store, graph, day, markets=[], resources={"landing": landing}
        )
    # corrected re-run of day 2: doc 11's text changes -> its OLD bands
    # go stale in the index (appends are scoped-idempotent, not deleting)
    landing_fixed = landing.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 11,
            F.concat(F.col("text"), F.lit(" corrected tail of words")),
        ).otherwise(F.col("text")),
    )
    orch.run_day(
        spark, store, graph, "2024-01-02", markets=[],
        resources={"landing": landing_fixed},
    )
    stats_before = {
        (str(r.day), r.lang, r.n_docs, r.sum_tokens)
        for r in store.read("corpus_stats").collect()
    }
    n_stale = store.read("corpus_mh").count()
    report = corpus_maintenance(store, target_file_bytes=1 << 20)
    # the rebuild reclaimed doc 11's stale old-text bands (4 bands/doc)
    before, after = report["corpus_mh"]
    assert before == n_stale and after < before
    # from-scratch size: bands for exactly the current 7 docs
    assert after == store.read("corpus_docs").count() * 4
    # the tokenizer artifact (round 13): maintenance learned and stored
    # the BPE merge table over the accumulated corpus — rank-complete
    # and deterministic (re-learning over unchanged docs is identical)
    from aave_etl_spark.plans.corpus_pipeline import BPE_MERGES

    assert report["corpus_bpe_merges"] == (0, BPE_MERGES)
    merges = store.read("corpus_bpe_merges").collect()
    assert sorted(r.rank for r in merges) == list(range(1, BPE_MERGES + 1))
    assert all(r.merged == r.left + r.right for r in merges)
    # compaction is content-preserving: stats recompute identically and
    # every compacted table still reads
    for name, (fb, fa) in report.items():
        if name not in ("corpus_mh", "corpus_bpe_merges"):
            assert fa <= fb
            assert store.read(name).count() > 0
    # day 3 against the maintained store: match path works off the
    # rebuilt index (doc 30 duplicates doc 0's day-1 content -> dropped)
    landing3 = landing_fixed.unionByName(
        spark.createDataFrame(
            [mk(30, text(0), "2024-01-03"), mk(31, text(31), "2024-01-03")],
            "doc_id long, lang string, text string, day string",
        ).withColumn("day", F.to_date("day"))
    )
    orch.run_day(
        spark, store, graph, "2024-01-03", markets=[], resources={"landing": landing3}
    )
    clean3 = {
        (str(r.day), r.doc_id)
        for r in store.read("corpus_clean", where="day = DATE '2024-01-03'").collect()
    }
    assert clean3 == {("2024-01-03", 31)}  # 30 dropped as an exact replica
    stats_after = {
        (str(r.day), r.lang, r.n_docs, r.sum_tokens)
        for r in store.read("corpus_stats").collect()
        if str(r.day) != "2024-01-03"
    }
    assert stats_after == stats_before


def test_corpus_gated_dsir_resample_keep(spark, tmp_path):
    """The optional importance-weighted keep (round 12): with the
    ``dsir_keep_frac`` resource the gate Gumbel-top-k resamples its
    survivors against the corpus-so-far distribution — exactly
    ceil(frac*N) docs keep, deterministically (a re-run keeps the same
    set), and without the resource selection semantics are unchanged."""
    import math

    from aave_etl_spark.plans.corpus_pipeline import corpus_pipeline_graph

    def text(i):
        w = [f"w{i}{c}" for c in "abcdefgh"]
        return (
            f"the {w[0]} of {w[1]} and {w[2]} is {w[3]}"
            f" a {w[4]} {w[5]} {w[6]} {w[7]}"
        )

    landing = spark.createDataFrame(
        [(i, "en", text(i), "2024-01-01") for i in range(9)],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))
    graph = corpus_pipeline_graph()

    # baseline: no resource -> every gate survivor keeps
    base_store = TableStore(spark, str(tmp_path / "wh_base"))
    orch.run_day(
        spark, base_store, graph, "2024-01-01", markets=[],
        resources={"landing": landing},
    )
    # same-name catalog tables (corpus_mh is bucketed): re-register under
    # the resampled store AFTER the baseline store is done with it
    n_all = base_store.read("corpus_gated").count()
    assert n_all == 9

    store = TableStore(spark, str(tmp_path / "wh"))
    orch.run_day(
        spark, store, graph, "2024-01-01", markets=[],
        resources={"landing": landing, "dsir_keep_frac": 0.5},
    )
    kept1 = sorted(r.doc_id for r in store.read("corpus_gated").collect())
    assert len(kept1) == math.ceil(0.5 * n_all)
    # downstream consumes the resampled selection
    assert store.read("corpus_packed").count() == len(kept1)
    # deterministic: a re-run keeps the identical set
    orch.run_day(
        spark, store, graph, "2024-01-01", markets=[],
        resources={"landing": landing, "dsir_keep_frac": 0.5},
    )
    kept2 = sorted(r.doc_id for r in store.read("corpus_gated").collect())
    assert kept2 == kept1


def test_corpus_pipeline_survives_empty_first_day(spark, tmp_path):
    """A day whose batch is empty must not wedge the pipeline: the
    empty-skip in TableStore.write means corpus_docs is never written,
    and _corpus_state must then NOT create a phantom band index (a
    schema-less read of the missing docs table on later days would
    come back zero-column and crash). Day 2's docs flow through
    normally and build the state tables fresh."""
    from aave_etl_spark.plans.corpus_pipeline import corpus_pipeline_graph

    store = TableStore(spark, str(tmp_path / "corpus_wh"))
    landing = spark.createDataFrame(
        [
            (
                21,
                "en",
                "the alpha of beta and gamma is a delta the epsilon of"
                " zeta and eta is a theta entirely fresh words",
                "2024-01-02",
            ),
        ],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))
    graph = corpus_pipeline_graph()
    # day 1 has no landing rows; day 2 has one doc
    for day in ("2024-01-01", "2024-01-02"):
        orch.run_day(
            spark, store, graph, day, markets=[], resources={"landing": landing}
        )
    assert not store.exists("corpus_mh") or store.read("corpus_mh").count() > 0
    clean = {(str(r.day), r.doc_id) for r in store.read("corpus_clean").collect()}
    assert clean == {("2024-01-02", 21)}
    # a third day against the day-2 state exercises the match path
    landing3 = landing.unionByName(
        spark.createDataFrame(
            [
                (
                    31,
                    "en",
                    "the brand of new and prose is a record the other of"
                    " words and text is a story nothing shared here",
                    "2024-01-03",
                ),
            ],
            "doc_id long, lang string, text string, day string",
        ).withColumn("day", F.to_date("day"))
    )
    orch.run_day(
        spark, store, graph, "2024-01-03", markets=[], resources={"landing": landing3}
    )
    clean3 = {(str(r.day), r.doc_id) for r in store.read("corpus_clean").collect()}
    assert ("2024-01-03", 31) in clean3


def test_corpus_decontamination_gate_bars_eval_overlap(spark, tmp_path):
    """Benchmark decontamination at ingest: a doc that substantially
    overlaps the injected eval set survives CLEAN (it is not a duplicate
    of anything) but is flagged by corpus_contam and barred from
    corpus_gated/packed; an untainted doc flows through; with no
    benchmarks resource nothing is flagged."""
    from aave_etl_spark.plans.corpus_pipeline import corpus_pipeline_graph

    leak = (
        "the capital of france is a paris the capital of spain is a"
        " madrid the capital of italy is a rome and the capital of"
        " germany is a berlin"
    )
    fresh = (
        "the one of two and three is a four the five of six and seven"
        " is an eight the nine of ten and eleven is a twelve"
    )
    landing = spark.createDataFrame(
        [(1, "en", leak, "2024-01-01"), (2, "en", fresh, "2024-01-01")],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))
    bench = spark.createDataFrame(
        [(100, leak + " extra eval trailer words here")],
        "doc_id long, text string",
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    graph = corpus_pipeline_graph()
    orch.run_day(
        spark, store, graph, "2024-01-01", markets=[],
        resources={"landing": landing, "benchmarks": bench},
    )
    assert {r.doc_id for r in store.read("corpus_clean").collect()} == {1, 2}
    contam = {r.doc_id: r for r in store.read("corpus_contam").collect()}
    assert contam[1].flagged and contam[1].contamination_ratio == 1.0
    assert not contam[2].flagged and contam[2].n_overlap == 0
    assert {r.doc_id for r in store.read("corpus_gated").collect()} == {2}
    assert {r.doc_id for r in store.read("corpus_packed").collect()} == {2}
    # state discipline (pinned): the flagged doc is barred from training
    # but DOES enter dedup state (corpus_state folds from corpus_clean,
    # upstream of the gate) ...
    assert {r.doc_id for r in store.read("corpus_digests").collect()} == {1, 2}
    assert {r.doc_id for r in store.read("corpus_docs").collect()} == {1, 2}
    # ... so a future COPY of the leaked text is dropped as a duplicate at
    # ingest instead of surviving to be contamination-checked forever
    landing2 = landing.unionByName(
        spark.createDataFrame(
            [
                (10, "en", leak, "2024-01-02"),
                (
                    11,
                    "en",
                    "the second of days and batches is a test the wholly of"
                    " new and content is a control doc here",
                    "2024-01-02",
                ),
            ],
            "doc_id long, lang string, text string, day string",
        ).withColumn("day", F.to_date("day"))
    )
    orch.run_day(
        spark, store, graph, "2024-01-02", markets=[],
        resources={"landing": landing2, "benchmarks": bench},
    )
    d2 = {
        r.doc_id
        for r in store.read("corpus_clean", where="day = DATE '2024-01-02'").collect()
    }
    assert 10 not in d2  # the leaked text's copy deduped against state
    assert 11 in d2

    # REMOVING the benchmarks resource on an EXISTING store must disable
    # the gate too: write skips empty frames, so without an explicit drop
    # the prior run's digest table would survive and corpus_contam would
    # keep flagging doc 1 against STALE eval digests (round-11 ADVICE —
    # the eval-shingles asset drops the table, and the stats table whose
    # stale flagged slice would also survive the skip, when the resource
    # is absent)
    assert store.exists("corpus_eval_shingles")
    orch.run_day(
        spark, store, graph, "2024-01-01", markets=[],
        resources={"landing": landing},
    )
    assert not store.exists("corpus_eval_shingles")
    assert not store.exists("corpus_contam")
    assert {
        r.doc_id
        for r in store.read(
            "corpus_gated", where="day = DATE '2024-01-01'"
        ).collect()
    } == {1, 2}

    # no benchmarks resource on a FRESH store: decontamination is disabled
    # — nothing is barred, and the day never pays a shingle pass for
    # all-zero stats (the contam table is never even written). Runs last:
    # corpus_mh is a catalog-registered bucketed table, so the same-name
    # re-run on the FIRST store must precede re-registering it here
    store2 = TableStore(spark, str(tmp_path / "wh2"))
    orch.run_day(
        spark, store2, graph, "2024-01-01", markets=[],
        resources={"landing": landing},
    )
    assert {r.doc_id for r in store2.read("corpus_gated").collect()} == {1, 2}
    assert not store2.exists("corpus_contam")


def test_scheduled_maintenance_runs_corpus_maintenance(spark, tmp_path):
    """The weekly ``maintenance_schedule`` fires in ``due_jobs``, and its
    job body ``run_maintenance`` runs ``corpus_maintenance`` on the corpus
    store it is given (and nothing without one)."""
    from aave_etl_spark.plans.corpus_pipeline import corpus_pipeline_graph

    # the cadence is DECLARED: Sunday 03:00 UTC fires the job, a weekday
    # 03:00 does not (2024-01-07 was a Sunday)
    assert "maintenance" in orch.due_jobs(datetime(2024, 1, 7, 3, 0))
    assert "maintenance" not in orch.due_jobs(datetime(2024, 1, 8, 3, 0))
    assert "maintenance" not in orch.due_jobs(datetime(2024, 1, 7, 2, 0))

    # a small corpus store so the job's corpus half has state to maintain
    cstore = TableStore(spark, str(tmp_path / "corpus_wh"))
    t1 = (
        "the alpha of beta and gamma is a delta the epsilon of zeta and"
        " eta is a theta the iota of kappa and lambda is a sigma"
    )
    landing = spark.createDataFrame(
        [(1, "en", t1, "2024-01-01")],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))
    orch.run_day(
        spark, cstore, corpus_pipeline_graph(), "2024-01-01", markets=[],
        resources={"landing": landing},
    )

    result = orch.run_maintenance(spark, corpus_store=cstore)
    assert set(result) == {"corpus"}
    assert "corpus_mh" in result["corpus"]  # band-index reclaim ran
    assert orch.run_maintenance(spark) == {}


def test_corpus_shards_manifest_reproducible_and_complete(spark, tmp_path):
    """The training-shard manifest covers every packed doc exactly once,
    positions are dense per shard, and a re-run over the same corpus is
    byte-identical (the loader order derives from (seed, n_shards)
    alone, never from engine partitioning or file layout)."""
    from aave_etl_spark.plans.corpus_pipeline import SHARD_N, corpus_pipeline_graph

    # per-doc disjoint vocabulary (the maintenance test's pattern): every
    # 3-gram carries a doc-unique token, so the within-batch near-dup
    # pass never pairs them — 30 docs that differ by ONE word would be
    # mutual near-dups and collapse to a single keeper
    def _text(i):
        w = [f"w{i}{c}" for c in "abcdefgh"]
        return (
            f"the {w[0]} of {w[1]} and {w[2]} is {w[3]}"
            f" a {w[4]} {w[5]} {w[6]} {w[7]}"
        )

    docs = [(i, "en", _text(i), "2024-01-01") for i in range(30)]
    landing = spark.createDataFrame(
        docs, "doc_id long, lang string, text string, day string"
    ).withColumn("day", F.to_date("day"))
    store = TableStore(spark, str(tmp_path / "wh"))
    graph = corpus_pipeline_graph()
    orch.run_day(spark, store, graph, "2024-01-01", markets=[], resources={"landing": landing})

    packed_ids = {r.doc_id for r in store.read("corpus_packed").collect()}
    manifest = store.read("corpus_shards").collect()
    assert {r.doc_id for r in manifest} == packed_ids
    assert len(manifest) == len(packed_ids)
    by_shard: dict[int, list[int]] = {}
    for r in manifest:
        assert 0 <= r.shard < SHARD_N
        by_shard.setdefault(r.shard, []).append(r.position)
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))

    first = sorted(tuple(r) for r in manifest)
    orch.run_day(spark, store, graph, "2024-01-01", markets=[], resources={"landing": landing})
    again = sorted(tuple(r) for r in store.read("corpus_shards").collect())
    assert again == first


def test_corpus_pipeline_backfill_range_and_rerun(spark, tmp_path):
    """backfill() over a 3-day range drives the corpus graph exactly like
    three daily runs: cross-day content planted on day 3 dedups against
    day 1's state, per-day slices land once each, the deferred
    unpartitioned layer (stats, shard manifest) converges over the whole
    range, and re-backfilling a sub-range leaves every table unchanged
    (the slice-overwrite + prior-day-scoped-state contract at range
    level)."""
    from aave_etl_spark.plans.corpus_pipeline import corpus_pipeline_graph

    t1 = (
        "the alpha of beta and gamma is a delta the epsilon of zeta and"
        " eta is a theta the iota of kappa and lambda is a sigma"
    )
    t2 = (
        "the one of two and three is a four the five of six and seven"
        " is an eight the nine of ten and eleven is a twelve"
    )
    t3 = (
        "the red of blue and green is a yellow the black of white and"
        " grey is a purple the pink of brown and orange is a teal"
    )
    landing = spark.createDataFrame(
        [
            (1, "en", t1, "2024-01-01"),
            (2, "en", t2, "2024-01-02"),
            (3, "en", t3, "2024-01-03"),
            (30, "en", t1, "2024-01-03"),  # exact replica of day-1 content
        ],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))

    store = TableStore(spark, str(tmp_path / "wh"))
    graph = corpus_pipeline_graph()
    orch.backfill(
        spark, store, graph, "2024-01-01", "2024-01-03", markets=[],
        resources={"landing": landing},
    )
    clean = store.read("corpus_clean")
    assert {r.doc_id for r in clean.collect()} == {1, 2, 3}  # 30 deduped
    assert clean.select("day").distinct().count() == 3
    stats = store.read("corpus_stats")
    assert stats.count() == 3  # one (day, lang) row per day
    manifest_before = sorted(
        tuple(r) for r in store.read("corpus_shards").collect()
    )
    assert {r[2] for r in manifest_before} == {1, 2, 3}
    idx_before = store.read("corpus_mh").count()

    # re-backfill days 2-3 only: slices overwrite themselves, state reads
    # stay prior-day-scoped, the manifest converges to the same rows
    orch.backfill(
        spark, store, graph, "2024-01-02", "2024-01-03", markets=[],
        resources={"landing": landing},
    )
    assert {r.doc_id for r in store.read("corpus_clean").collect()} == {1, 2, 3}
    assert store.read("corpus_mh").count() == idx_before
    assert sorted(
        tuple(r) for r in store.read("corpus_shards").collect()
    ) == manifest_before


def test_corpus_clean_plan_computes_within_batch_drops_once(spark, tmp_path):
    """The within-batch near-dup drop ids are computed once per day: the
    clean asset's output plan reads them from a cut lineage, so neither
    the band join nor the Jaccard verify beneath them re-runs in the span
    rewrite or the final write. The drops still happen (14 keeps, its
    same-day paraphrase 15 goes)."""
    from aave_etl_spark.plans.corpus_pipeline import (
        _corpus_clean,
        corpus_pipeline_graph,
    )

    nd = (
        "the quick of brown and foxes is a jumper the lazy of dogs and"
        " cats is a sleeper the tiny of mice and birds is a runner"
    )
    landing = spark.createDataFrame(
        [
            (13, "en", "the fresh of content and words is a story today", "2024-01-01"),
            (14, "en", nd, "2024-01-01"),
            (15, "en", nd + " extra appended tail words here", "2024-01-01"),
        ],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))
    store = TableStore(spark, str(tmp_path / "wh"))
    resources = {"landing": landing}
    run_partition(
        spark, store, corpus_pipeline_graph(), PartitionKey("2024-01-01"),
        resources, selection=("corpus_landing",),
    )
    ctx = AssetContext(
        spark=spark, store=store, partition=PartitionKey("2024-01-01"),
        resources=resources,
    )
    clean = _corpus_clean(ctx)
    plan = clean._jdf.queryExecution().optimizedPlan().toString()
    assert "band_key" not in plan and "LogicalRDD" in plan, plan
    assert sorted(r.doc_id for r in clean.collect()) == [13, 14]


def test_corpus_contam_plan_broadcasts_eval_digests(spark, tmp_path):
    """The contamination probe's scale claim, pinned at the plan: the
    eval-digest state joins as a BROADCAST semi-join (no shuffle of the
    batch's shingles against the benchmark-sized state)."""
    from aave_etl_spark.plans.corpus_pipeline import (
        _corpus_contam,
        corpus_pipeline_graph,
    )
    from aave_etl_spark.plans.orchestration import AssetContext, PartitionKey

    landing = spark.createDataFrame(
        [
            (
                1,
                "en",
                "the alpha of beta and gamma is a delta the epsilon of"
                " zeta and eta is a theta",
                "2024-01-01",
            )
        ],
        "doc_id long, lang string, text string, day string",
    ).withColumn("day", F.to_date("day"))
    bench = spark.createDataFrame(
        [(9, "the quick of brown and foxes is a jumper today")],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    orch.run_day(
        spark, store, corpus_pipeline_graph(), "2024-01-01", markets=[],
        resources={"landing": landing, "benchmarks": bench},
    )
    ctx = AssetContext(
        spark=spark, store=store, partition=PartitionKey("2024-01-01"),
        resources={},
    )
    plan = _corpus_contam(ctx)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:3000]
