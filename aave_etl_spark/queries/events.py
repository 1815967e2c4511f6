"""Window / time-series / JSON queries over the `events` table.

These re-home the reference's window-function and event-log patterns
(SURVEY.md §2.5, §2.9 date+JSON, §2.10 sessionized micro-batch) onto the
driver's synthetic decoded-log-shaped `events(event_id, ts, user_id,
event_type, value, props)` table — the same move SURVEY §3 entry-point-3
prescribes for the Flipside SQL pushdown: the table comes in, the SQL runs
here.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aave_etl_spark.queries.registry import register, t

from aave_etl_spark.functions.scalars import vested_amount
from aave_etl_spark.localframe import local_df


def _epoch_s(col):
    """Epoch seconds (incl. fractional micros) for TIMESTAMP or TIMESTAMP_NTZ.

    Spark 4 forbids TIMESTAMP_NTZ -> DOUBLE casts, so `ts.cast("double")`
    breaks when parquet timestamps are tz-naive (timestamp[us] with no zone,
    which Spark reads as TIMESTAMP_NTZ). timestamp_diff from the NTZ epoch is
    type-safe for both and timezone-independent — it matches DuckDB's
    epoch() on the same naive parquet values exactly (microsecond precision).
    """
    c = F.col(col) if isinstance(col, str) else col
    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", epoch0, c.cast("timestamp_ntz")) / F.lit(1e6)


# ---------------------------------------------------------------------------
# §2.4 dedup keep-last by sort (sort_values + drop_duplicates keep='last',
# data_warehouse.py:706, 751) → row_number desc = 1.
# ---------------------------------------------------------------------------
@register(
    "dedup_keep_last",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id, event_id, event_type, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY date_trunc('day', ts), user_id
        ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="§2.4 keep-last dedup via row_number desc (data_warehouse.py:706); total order pinned (SURVEY §7.4.3)",
)
def dedup_keep_last(spark, sf_dir):
    e = t(spark, sf_dir, "events").withColumn("day", F.date_trunc("DAY", F.col("ts")))
    w = Window.partitionBy("day", "user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("day", "user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# §2.5 LEAD start/end-of-day pairing (all_financials.sql:124-143) including
# the end-balance-not-null filter that silently drops each series' last day
# (:191-193; SURVEY §7.4.4).
# ---------------------------------------------------------------------------
@register(
    "lead_day_pairing",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, sum(value) AS day_value
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    paired AS (
      SELECT user_id, day,
             day_value AS start_balance,
             lead(day_value) OVER (PARTITION BY user_id ORDER BY day) AS end_balance
      FROM daily
    )
    SELECT user_id, day, start_balance, end_balance,
           end_balance - start_balance AS day_change
    FROM paired
    WHERE end_balance IS NOT NULL
    """,
    doc="§2.5 lead() start/end pairing + last-day drop filter (all_financials.sql:124-143,191-193)",
)
def lead_day_pairing(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", F.date_trunc("DAY", F.col("ts")).alias("day"))
        .agg(F.sum("value").alias("start_balance"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    paired = daily.withColumn("end_balance", F.lead("start_balance").over(w))
    return paired.filter(F.col("end_balance").isNotNull()).select(
        "user_id",
        "day",
        "start_balance",
        "end_balance",
        (F.col("end_balance") - F.col("start_balance")).alias("day_change"),
    )


# ---------------------------------------------------------------------------
# §2.5 lag with coalesce-to-self — daily APR from consecutive-day ratio
# (balancer_bpt_by_day.sql:15).
# ---------------------------------------------------------------------------
@register(
    "lag_daily_ratio",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, sum(value) AS day_value
      FROM events GROUP BY user_id, date_trunc('day', ts)
    )
    SELECT user_id, day, day_value,
           day_value / COALESCE(lag(day_value) OVER (PARTITION BY user_id ORDER BY day), day_value) - 1
             AS day_over_day
    FROM daily
    """,
    doc="§2.5 lag() + coalesce-to-self daily ratio (balancer_bpt_by_day.sql:15)",
)
def lag_daily_ratio(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", F.date_trunc("DAY", F.col("ts")).alias("day"))
        .agg(F.sum("value").alias("day_value"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    return daily.select(
        "user_id",
        "day",
        "day_value",
        (F.col("day_value") / F.coalesce(F.lag("day_value").over(w), F.col("day_value")) - 1).alias("day_over_day"),
    )


# ---------------------------------------------------------------------------
# §2.5 last_value(... IGNORE NULLS) forward-fill (market_config_by_hour.sql:28-31;
# fillna(method='ffill') protocol_data_warehouse.py:406-407).
# ---------------------------------------------------------------------------
@register(
    "forward_fill_ignore_nulls",
    oracle="""
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM events
    """,
    doc="§2.5 last_value ignore-nulls forward fill (market_config_by_hour.sql:28-31)",
)
def forward_fill_ignore_nulls(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    masked = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.last(masked, ignorenulls=True).over(w).alias("value_ffill"),
    )


# ---------------------------------------------------------------------------
# §2.9 JSON field extraction (Flipside decoded_log:field::int,
# data_lake.py:1323, 1622-1628) → get_json_object.
# ---------------------------------------------------------------------------
@register(
    "json_extract_agg",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS total_value
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
    GROUP BY CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
    """,
    doc="§2.9 JSON path extraction decoded_log:field::int (data_lake.py:1323) → get_json_object",
)
def json_extract_agg(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k_bucket", k % 10)
        .filter(k.isNotNull())
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )


# ---------------------------------------------------------------------------
# §2.9 date functions: date_trunc, date_add, dayofweek
# (treasury_totals.sql:7; market_config_by_hour.sql:27; helpers.py:237).
# ---------------------------------------------------------------------------
@register(
    "date_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS next_day,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS total_value
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    doc="§2.9 date_trunc day + date_add interval (treasury_totals.sql:7; helpers.py:237)",
)
def date_rollup(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("DAY", F.col("ts"))
    return (
        e.groupBy(day.alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "day",
            (F.col("day") + F.expr("INTERVAL 1 DAY")).alias("next_day"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# §2.9 stream-vesting clamp math max(min(now,stop)-start, 0) * rate
# (data_lake.py:1701-1712) — greatest/least arithmetic on epochs.
# ---------------------------------------------------------------------------
@register(
    "vesting_clamp",
    oracle="""
    WITH streams AS (
      SELECT event_id, event_type, value,
             epoch(ts) AS start_s,
             epoch(ts) + (CAST(json_extract_string(props, '$.k') AS BIGINT) + 1) * 86400 AS stop_s,
             value / ((CAST(json_extract_string(props, '$.k') AS BIGINT) + 1) * 86400) AS rate_per_s
      FROM events
    )
    SELECT event_type,
           sum(greatest(least(epoch(TIMESTAMP '2024-01-15 00:00:00'), stop_s) - start_s, 0) * rate_per_s)
             AS vested_total,
           sum(value) AS deposit_total
    FROM streams
    GROUP BY event_type
    """,
    doc="§2.9 vesting clamp greatest/least (data_lake.py:1709-1712); epoch math",
)
def vesting_clamp(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    dur_s = (k + 1) * 86400
    # epoch seconds incl. fractional micros (== DuckDB epoch())
    start_s = _epoch_s("ts")
    streams = e.select(
        "event_id",
        "event_type",
        start_s.alias("start_s"),
        (start_s + dur_s.cast("double")).alias("stop_s"),
        (F.col("value") / dur_s.cast("double")).alias("rate_per_s"),
        "value",
    )
    now_s = _epoch_s(F.lit("2024-01-15 00:00:00"))
    return streams.groupBy("event_type").agg(
        F.sum(vested_amount(now_s, F.col("start_s"), F.col("stop_s"), F.col("rate_per_s"))).alias("vested_total"),
        F.sum("value").alias("deposit_total"),
    )


# ---------------------------------------------------------------------------
# Sessionization: gap > 30 min starts a new session (lag + conditional
# cumulative sum). The reference's hourly micro-batch tables (§2.10) have no
# stateful op; this is the batch-form session window a 100 TB event pipeline
# needs, expressible declaratively (no applyInPandasWithState required for
# batch).
# ---------------------------------------------------------------------------
@register(
    "sessionize_events",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM g
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS session_value
    FROM s
    GROUP BY user_id, session_no
    """,
    doc="§2.10-adjacent sessionization: lag gap + cumsum session ids (batch session windows)",
)
def sessionize_events(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _epoch_s("ts") - _epoch_s(F.lag(F.col("ts")).over(w))
    g = e.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = g.withColumn("session_no", F.sum("is_new").over(wcum))
    return s.groupBy("user_id", F.col("session_no").cast("long").alias("session_no")).agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value")
    )


# ---------------------------------------------------------------------------
# §2.9/§1.3 schema-full JSON parsing: from_json with a declared struct
# (SURVEY §1.3 prescribes from_json for the reference's pd.json_normalize
# ingest flattening, helpers.py:326, 387) — distinct from the path-extract
# operator (get_json_object) exercised by json_extract_agg.
# ---------------------------------------------------------------------------
@register(
    "json_struct_parse",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           CAST(count(CAST(json_extract_string(props, '$.missing_field') AS BIGINT)) AS BIGINT) AS n_missing_present
    FROM events
    GROUP BY event_type
    """,
    doc="§1.3 from_json struct parse (pd.json_normalize twin, helpers.py:326); absent fields → typed nulls",
)
def json_struct_parse(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    parsed = e.withColumn(
        "p", F.from_json("props", "k BIGINT, missing_field BIGINT")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("p.k")).alias("k_total"),
        F.count(F.col("p.missing_field")).alias("n_missing_present"),
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) join: each event enriched with the latest purchase
# at-or-before it for the same user — the "last quote before the trade"
# temporal join, implemented sort-merge-style (operators/asof.py: union +
# one keyed shuffle + last_value carry-forward, never a range join).
# ---------------------------------------------------------------------------
@register(
    "asof_last_purchase",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, ts, event_type, value,
             CAST(NULL AS STRUCT(pv DOUBLE, pid BIGINT)) AS payload, 1 AS side
      FROM events
    ),
    r AS (
      SELECT CAST(NULL AS BIGINT), user_id, ts, CAST(NULL AS VARCHAR),
             CAST(NULL AS DOUBLE), struct_pack(pv := value, pid := event_id), 0
      FROM events WHERE event_type = 'purchase'
    ),
    u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
    -- ONE struct through a single last_value IGNORE NULLS: all asof_*
    -- columns come from the same right row (mirrors operators/asof.py)
    filled AS (
      SELECT event_id, user_id, event_type, value, side,
             last_value(payload IGNORE NULLS) OVER w AS p
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, event_type, value,
           p.pv AS asof_purchase_value, p.pid AS asof_purchase_event_id
    FROM filled WHERE side = 1
    """,
    doc=(
        "as-of temporal join (sort-merge union+window form): latest purchase"
        " at-or-before each event per user; one keyed shuffle, no range join"
    ),
)
def asof_last_purchase(spark, sf_dir):
    from aave_etl_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_event_id"),
    )
    left = e.select("event_id", "user_id", "ts", "event_type", "value")
    out = asof_join(left, purchases, ["user_id"], "ts",
                    ["purchase_value", "purchase_event_id"])
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "asof_purchase_value",
        F.col("asof_purchase_event_id").cast("long").alias("asof_purchase_event_id"),
    )


# ---------------------------------------------------------------------------
# Hypertable-style continuous aggregate: one pass produces BOTH the daily
# and the monthly rollup via GROUPING SETS — the multi-granularity
# materialization a time-series store (hypertable) maintains incrementally.
# The SAME SQL text runs on both engines.
# ---------------------------------------------------------------------------
_HYPER_SQL = """
WITH base AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(date_trunc('month', ts) AS DATE) AS m,
         value
  FROM events
)
SELECT CASE WHEN grouping(d) = 0 THEN 'day' ELSE 'month' END AS grain,
       CAST(coalesce(d, m) AS STRING) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(value) AS total_value
FROM base
GROUP BY GROUPING SETS ((d), (m))
"""


@register(
    "hypertable_rollup",
    oracle=_HYPER_SQL,
    doc=(
        "hypertable-style multi-granularity rollup: day+month continuous"
        " aggregate in ONE pass via GROUPING SETS (partial aggregation is"
        " shared across grains map-side); identical SQL text on both engines"
    ),
)
def hypertable_rollup(spark, sf_dir):
    t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_HYPER_SQL)


# ---------------------------------------------------------------------------
# Stateful streaming sessionization certified AT REST: the session_window
# aggregation (streaming/micro_batch.py sessionized_stream — watermark +
# gap-merge, the stateful op the batch `sessionize_events` query twins)
# runs as a REAL append-mode file-source stream drained into a parquet
# store, and the certified read is the table the stream left behind.
# Append mode only emits sessions the watermark has finalized, so after
# the events drain a single far-future SENTINEL row (user_id -1) advances
# the GLOBAL watermark past every real session end and a second
# checkpointed drain flushes the remainder — the standard "close the
# books" pattern for draining a watermarked stream to rest. The oracle is
# the gap-session definition itself: Spark merges an event into a session
# iff it lands strictly inside gap of the previous event (new session at
# diff >= gap), at full microsecond precision.
# ---------------------------------------------------------------------------
@register(
    "stream_sessionize_store",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS session_value
    FROM s
    GROUP BY user_id, sid
    """,
    doc=(
        "§2.10 stateful streaming certified at rest: session_window +"
        " watermark drained append-mode to parquet (sentinel row closes the"
        " watermark), the at-rest session table equals the batch gap-session"
        " oracle at microsecond precision"
    ),
)
def stream_sessionize_store(spark, sf_dir):
    import os
    import shutil

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.streaming.micro_batch import (
        run_available_now,
        sessionized_stream,
        stream_lake_table,
    )

    root = session_scratch_dir(
        spark, "aave_etl_spark_sessionize", corpus_key(sf_dir)
    )
    store = TableStore(spark, os.path.join(root, "warehouse"))

    def _at_rest():
        return (
            store.read("sessions")
            .where(F.col("user_id") >= 0)  # drop the watermark sentinel's key
            .select(
                "user_id",
                F.unix_micros("session_start").alias("session_start_us"),
                F.col("n_events").cast("long").alias("n_events"),
                F.round("session_value", 6).alias("session_value"),
            )
        )

    # drain-once / read-many (at-rest discipline: marker cleared first,
    # stamped last; an interrupted drain re-runs from scratch next call)
    if store.is_complete("sessions") and store.exists("sessions"):
        return _at_rest()
    store.clear_complete("sessions")
    shutil.rmtree(os.path.join(root, "lake"), ignore_errors=True)
    shutil.rmtree(os.path.join(root, "ckpt"), ignore_errors=True)
    store.drop("sessions")

    lake = os.path.join(root, "lake")
    # watermark requires TIMESTAMP (not NTZ); session tz is pinned UTC so
    # the cast preserves the epoch-microsecond value exactly
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id", "value"
    )
    # ONE file => drain 1 is ONE micro-batch: unordered events split across
    # batches would let the watermark advance past rows arriving in a later
    # batch and drop them as late (same hardening as stream_dedup_store)
    ev.coalesce(1).write.parquet(lake)
    schema = spark.read.parquet(lake).schema
    sessions = sessionized_stream(
        stream_lake_table(spark, lake, schema), gap="30 minutes", watermark="1 hour"
    )
    q1 = run_available_now(
        sessions,
        os.path.join(root, "ckpt"),
        output_mode="append",
        query_name="sessionize_drain",
        fmt="parquet",
        path=store._path("sessions"),
    )
    if not q1.awaitTermination(300):
        q1.stop()
        raise RuntimeError("stream_sessionize_store: drain 1 did not finish in 300s")
    # sentinel: one far-future row advances the global watermark past every
    # real session end so drain 2 flushes the still-open tail sessions
    max_ts = ev.agg(F.max("ts")).first()[0]
    local_df(spark, [(-1, max_ts, -1, 0.0)], schema).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 DAYS")
    ).write.mode("append").parquet(lake)
    q2 = run_available_now(
        sessions,
        os.path.join(root, "ckpt"),
        output_mode="append",
        query_name="sessionize_flush",
        fmt="parquet",
        path=store._path("sessions"),
    )
    if not q2.awaitTermination(300):
        q2.stop()
        raise RuntimeError("stream_sessionize_store: drain 2 did not finish in 300s")
    store.mark_complete("sessions")
    return _at_rest()


# ---------------------------------------------------------------------------
# At-least-once ingest dedup certified AT REST: every third event is
# re-delivered with a +10-minute jittered timestamp (the retry shape that
# defeats exact (key, ts) dedup), the stream drops the replays with
# dropDuplicatesWithinWatermark on event_id, and the certified read is
# the parquet table the drain left behind — one row per event_id with the
# payload intact. Which physical copy survives is arrival-order-dependent,
# so the certified projection carries only columns IDENTICAL across
# copies (key + payload, never the jittered ts); the oracle is simply the
# original events table, because a correct dedup returns exactly it.
# ---------------------------------------------------------------------------
@register(
    "stream_dedup_store",
    oracle="""
    SELECT event_id, user_id, event_type, round(value, 6) AS value
    FROM events
    """,
    doc=(
        "§2.10 streaming dedup certified at rest: replayed events with"
        " jittered timestamps (the case exact (key,ts) dedup misses)"
        " dropped by dropDuplicatesWithinWatermark, drained append-mode to"
        " parquet; the at-rest table equals the original events exactly"
    ),
)
def stream_dedup_store(spark, sf_dir):
    import os
    import shutil

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.streaming.micro_batch import (
        dedup_keys_within_watermark,
        run_available_now,
        stream_lake_table,
    )

    root = session_scratch_dir(
        spark, "aave_etl_spark_streamdedup", corpus_key(sf_dir)
    )
    store = TableStore(spark, os.path.join(root, "warehouse"))

    def _at_rest():
        return store.read("deduped").select(
            "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
        )

    if store.is_complete("deduped") and store.exists("deduped"):
        return _at_rest()
    store.clear_complete("deduped")
    for sub in ("lake", "ckpt"):
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    store.drop("deduped")

    lake = os.path.join(root, "lake")
    # watermark needs TIMESTAMP (session tz pinned UTC, epoch preserved)
    ev = t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    # the at-least-once fault: every 3rd event re-delivered 10 min later
    # (same key and payload, different event time — inside the watermark
    # delay, so the dedup operator MUST catch it)
    replay = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES")
    )
    # ONE file ⇒ ONE availableNow micro-batch, by construction. The drain's
    # correctness needs originals and replays processed together: if the
    # file source ever split them across batches (ambient maxFilesPerTrigger,
    # future source changes), the watermark advancing between batches could
    # evict dropDuplicatesWithinWatermark state and let replays through.
    ev.unionByName(replay).coalesce(1).write.parquet(lake)
    schema = spark.read.parquet(lake).schema
    deduped = dedup_keys_within_watermark(
        stream_lake_table(spark, lake, schema), ["event_id"], watermark="1 hour"
    ).drop("ts")  # survivor's ts is arrival-order-dependent; never certify it
    q = run_available_now(
        deduped,
        os.path.join(root, "ckpt"),
        output_mode="append",
        query_name="dedup_drain",
        fmt="parquet",
        path=store._path("deduped"),
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream_dedup_store: drain did not finish in 300s")
    # the dedup claim, from the counts: replays landed in the lake and did
    # NOT survive to rest
    n_lake = spark.read.parquet(lake).count()
    n_rest = spark.read.parquet(store._path("deduped")).count()
    n_orig = ev.count()
    if not (n_rest == n_orig < n_lake):
        raise RuntimeError(
            f"stream dedup: {n_rest} at rest vs {n_orig} originals"
            f" ({n_lake} in the lake) — replays were not dropped"
        )
    store.mark_complete("deduped")
    return _at_rest()


# ---------------------------------------------------------------------------
# Tumbling-window rollup certified AT REST: the F.window("1 hour")
# aggregation runs as a real watermarked append-mode stream drained into
# a parquet store (sentinel row closes the books — same protocol as
# stream_sessionize_store), and the certified read is the at-rest rollup
# table. Epoch-aligned tumbling windows == date_trunc('hour'), so the
# oracle is the plain batch GROUP BY.
# ---------------------------------------------------------------------------
@register(
    "stream_rollup_store",
    oracle="""
    SELECT event_type,
           CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS window_start_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
    doc=(
        "§2.10 streaming tumbling-window rollup certified at rest:"
        " watermarked F.window('1 hour') aggregation drained append-mode"
        " to parquet (sentinel-closed), equal to the batch"
        " date_trunc('hour') GROUP BY at microsecond window alignment"
    ),
)
def stream_rollup_store(spark, sf_dir):
    import os
    import shutil

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.streaming.micro_batch import (
        run_available_now,
        stream_lake_table,
        windowed_rollup_stream,
    )

    root = session_scratch_dir(spark, "aave_etl_spark_rollup", corpus_key(sf_dir))
    store = TableStore(spark, os.path.join(root, "warehouse"))

    def _at_rest():
        return (
            store.read("rollup")
            .where(F.col("event_type") != "__SENTINEL__")
            .select(
                "event_type",
                F.unix_micros("window_start").alias("window_start_us"),
                F.col("n_events").cast("long").alias("n_events"),
                F.round("total_value", 6).alias("total_value"),
            )
        )

    if store.is_complete("rollup") and store.exists("rollup"):
        return _at_rest()
    store.clear_complete("rollup")
    for sub in ("lake", "ckpt"):
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    store.drop("rollup")

    lake = os.path.join(root, "lake")
    ev = t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    # ONE file => one micro-batch per drain (see stream_dedup_store): no
    # cross-batch watermark eviction of unordered rows
    ev.coalesce(1).write.parquet(lake)
    schema = spark.read.parquet(lake).schema
    rollup = windowed_rollup_stream(
        stream_lake_table(spark, lake, schema), watermark="1 hour"
    )
    q1 = run_available_now(
        rollup,
        os.path.join(root, "ckpt"),
        output_mode="append",
        query_name="rollup_drain",
        fmt="parquet",
        path=store._path("rollup"),
    )
    if not q1.awaitTermination(300):
        q1.stop()
        raise RuntimeError("stream_rollup_store: drain 1 did not finish in 300s")
    # close the books: a far-future sentinel advances the watermark past
    # every real window end so drain 2 flushes the still-open tail windows
    max_ts = ev.agg(F.max("ts")).first()[0]
    local_df(spark, [(max_ts, "__SENTINEL__", 0.0)], schema).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 DAYS")
    ).write.mode("append").parquet(lake)
    q2 = run_available_now(
        rollup,
        os.path.join(root, "ckpt"),
        output_mode="append",
        query_name="rollup_flush",
        fmt="parquet",
        path=store._path("rollup"),
    )
    if not q2.awaitTermination(300):
        q2.stop()
        raise RuntimeError("stream_rollup_store: drain 2 did not finish in 300s")
    store.mark_complete("rollup")
    return _at_rest()
