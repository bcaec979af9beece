"""Event-time windowing query surface over ``events`` (SURVEY.md §2b
'event-time tumbling/sliding windows'; batch semantics here, the same
operators run under Structured Streaming in streaming/windows.py).

Window starts are emitted as epoch seconds/micros (BIGINT), not
timestamps — numerically identical across engines regardless of
timezone rendering. All aggregates are integer or decimal-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.numeric import dsum
from quick_and_easy_vectordb_spark.operators.asof import asof_join
from quick_and_easy_vectordb_spark.operators.util import ensure_parallelism
from quick_and_easy_vectordb_spark.operators.skew import salted_join
from quick_and_easy_vectordb_spark.queries.registry import query
from quick_and_easy_vectordb_spark.sources.catalog import load_table
from quick_and_easy_vectordb_spark.sources.scratch import fresh, staged
from quick_and_easy_vectordb_spark.streaming.windows import (
    drain,
    read_events_stream,
)

_DSUM_VAL = "CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"


def _link_events(sf_dir: str, layout: tuple[str, ...], d: str) -> None:
    """Symlink ``events.parquet`` into ``d`` once per name in ``layout``
    (no data copy; ("events_a", "events_b") stages the same file twice
    to simulate an at-least-once replay). The file stream source needs
    a directory of files and does not recurse into a symlinked
    subdirectory, so a directory-style dataset has its leaf data files
    linked flat, one set per name."""
    import os

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    if not os.path.isdir(src):
        for name in layout:
            os.symlink(src, os.path.join(d, f"{name}.parquet"))
        return
    leafs = sorted(
        f for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    for name in layout:
        for f in leafs:
            os.symlink(os.path.join(src, f), os.path.join(d, f"{name}_{f}"))


def _events_dir(sf_dir: str, layout: tuple[str, ...] = ("events",)) -> str:
    """Stream-source dir holding the events file once per name in
    ``layout``, staged once per process."""
    return staged(
        "events_" + "_".join(layout),
        sf_dir,
        lambda d: _link_events(sf_dir, layout, d),
    )


@query(
    "ev_tumbling_hour",
    oracle=f"""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {_DSUM_VAL} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("events", "window-time", "agg"),
    bench=True,
)
def ev_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows per event type — the
    Structured-Streaming-compatible aggregation (F.window), with
    map-side partial aggregation; epoch-aligned starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "ev_tumbling_hour_streamed",
    oracle=f"""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {_DSUM_VAL} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("events", "streaming", "window-time", "agg"),
)
def ev_tumbling_hour_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_tumbling_hour actually executed THROUGH Structured Streaming:
    the events parquet is read as a file-source stream, aggregated with
    the identical windowed plan (streaming/windows.py:
    stream_tumbling_counts shape + decimal-exact value sum), run to
    completion with availableNow, and the memory-sink result compared
    to the same DuckDB oracle as the batch query — promoting the
    stream/batch-equivalence pytest into a driver-checked CORRECTNESS
    row. Complete output mode: every window is final once the
    availableNow backlog drains, so no watermark is needed for
    correctness here (the incremental-state path with watermarks is
    exercised in tests/test_streaming.py)."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain(agg, "ev_tumbling_hour_streamed_sink", "complete")


@query(
    "ev_stream_dedup_ingest",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
    tags=("events", "streaming", "dedup", "exactly-once"),
)
def ev_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest, oracle-checked: the events file is
    staged TWICE into the stream source directory (simulating an
    at-least-once source replaying every record), streamed through
    exact dedup on event_id (streaming/windows.py:stream_dedup_events
    semantics) into an append-mode memory sink, then counted per type.
    The oracle is the single-copy count — the row only matches if the
    streaming dedup dropped every replay, which is the exactly-once
    property itself as a CORRECTNESS row."""
    # Same file staged twice = the replay; one file per micro-batch so
    # the replay arrives in a LATER batch and the dedup must hold state
    # across batches.
    d = _events_dir(sf_dir, ("events_a", "events_b"))
    src = read_events_stream(spark, d)
    out = drain(
        src.dropDuplicates(["event_id"]), "ev_stream_dedup_ingest_sink", "append"
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "ev_sliding_window",
    oracle=f"""
WITH expanded AS (
  SELECT CAST(floor(epoch(ts) / 900) * 900 - k.k * 900 AS BIGINT) AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
)
SELECT window_start, event_type, COUNT(*) AS n_events, {_DSUM_VAL} AS total_value
FROM expanded GROUP BY 1, 2
""",
    tags=("events", "window-time", "agg"),
)
def ev_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 minutes (each event lands in
    exactly 2 windows). Spark's F.window handles the fan-out natively;
    the oracle replicates it with an explicit 2-way expansion."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "ev_sessionize",
    oracle="""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM e),
f AS (SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM l),
s AS (SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM f)
SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n_events,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, sid
""",
    tags=("events", "window", "session"),
    bench=True,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session):
    lag → new-session flag → running sum = session id → per-session
    stats. One shuffle keyed on user_id; microsecond-exact integer
    arithmetic throughout."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(order).isNull()
            | ((F.col("us") - F.lag("us").over(order)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("sid", F.sum("new_s").over(run))
    return sess.groupBy("user_id", F.col("sid").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).cast("long").alias("duration_us"),
    )


@query(
    "ev_topk_per_type",
    oracle="""
WITH r AS (
  SELECT event_type, event_id, user_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events
)
SELECT event_type, event_id, user_id, value, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 5
""",
    tags=("events", "window", "topk"),
)
def ev_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 events by value within each event type (grouped top-n
    window; shuffle keyed on event_type only)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select(
            "event_type",
            "event_id",
            "user_id",
            "value",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "ev_daily_type_matrix",
    oracle="""
SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_start,
       COUNT(*) AS n_total,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
    tags=("events", "agg", "pivot"),
)
def ev_daily_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity matrix: conditional-aggregation pivot (one pass,
    one shuffle — the scalable alternative to a true PIVOT) plus a
    distinct-user count."""
    ev = load_table(spark, sf_dir, "events")

    def cnt(t: str) -> F.Column:
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")

    return (
        ev.groupBy(
            (F.floor(F.unix_timestamp("ts") / 86400) * 86400)
            .cast("long")
            .alias("day_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            cnt("click"),
            cnt("view"),
            cnt("purchase"),
            cnt("signup"),
            cnt("error"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@query(
    "ev_json_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
    tags=("events", "json", "agg"),
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON handling: extract a field from the ``props``
    JSON column (get_json_object — JVM-side JSON path eval, no UDF) and
    aggregate it per event type. Integer-exact."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "ev_asof_join",
    oracle="""
WITH cp AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(click_ts) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_click_ts
  FROM cp
)
SELECT event_id, user_id, ts, last_click_ts,
       CAST(date_diff('microsecond', last_click_ts, ts) AS BIGINT) AS gap_us
FROM m
WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
""",
    tags=("events", "asof-join", "window"),
    bench=True,
)
def ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (Spark has no native one): each purchase matched to
    the user's most recent click at-or-before it, via the
    union-and-window technique in operators/asof.py — ONE shuffle on
    user_id, zero row multiplication (a naive range join is O(|L|·|R|)
    per key before the 'latest' filter). The RANGE frame plus
    order-insensitive MAX makes equal-timestamp ties deterministic on
    any partitioning."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(purchases, clicks, on="user_id", suffix="_click")
    return joined.filter(F.col("ts_click").isNotNull()).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_click").alias("last_click_ts"),
        (F.unix_micros("ts") - F.unix_micros("ts_click")).alias("gap_us"),
    )


@query(
    "ev_heavy_hitters_salted",
    oracle=f"""
SELECT user_id, COUNT(*) AS n, {_DSUM_VAL} AS total_value
FROM events
GROUP BY user_id
ORDER BY n DESC, user_id
LIMIT 20
""",
    tags=("events", "agg", "skew", "topk"),
)
def ev_heavy_hitters_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users via TWO-PHASE SALTED aggregation: phase 1
    groups by (user_id, hash(event_id) % 16) so a pathologically hot
    user's rows spread over 16 reducers; phase 2 re-aggregates the 16
    partials per user. Decimal partial sums are associative, so the
    two-level total is bit-identical to a one-shot aggregation (the
    oracle). Same answer, no hot-key straggler at scale."""
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(16)))
        .groupBy("user_id", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(30,10)")).alias("pv"),
        )
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pv").cast("double").alias("total_value"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(20)
    )


@query(
    "ev_range_join",
    oracle="""
SELECT p.event_id, COUNT(*) AS n_nearby_clicks
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""",
    tags=("events", "range-join"),
)
def ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN by interval bucketing: clicks land in one 5-minute
    bucket; each purchase probes its bucket ±1 via a tiny explode, so
    the range condition becomes an EQUI-join on (user, bucket) plus a
    residual |Δt| <= 5 min filter. A naive range join degenerates to a
    per-user cross product; this shape shuffles each row at most 3x
    and scales linearly. Every qualifying click is counted exactly
    once (its single bucket is always within the probed 3)."""
    ev = load_table(spark, sf_dir, "events")
    bucket_s = 300
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.unix_micros("ts").alias("c_us"),
        (F.col("ts").cast("long") / bucket_s).cast("long").alias("bucket"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.col("user_id").alias("p_uid"),
        F.unix_micros("ts").alias("p_us"),
        F.explode(
            F.sequence(
                (F.col("ts").cast("long") / bucket_s).cast("long") - 1,
                (F.col("ts").cast("long") / bucket_s).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    joined = purchases.join(
        clicks,
        (F.col("p_uid") == F.col("c_uid")) & (purchases.bucket == clicks.bucket),
    ).filter(
        F.abs(F.col("c_us") - F.col("p_us")) <= bucket_s * 1_000_000
    )
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_nearby_clicks")
    )


@query(
    "ev_salted_join",
    oracle=f"""
WITH dim AS (
  SELECT c_custkey AS user_id, c_mktsegment
  FROM customer WHERE c_custkey < 150
)
SELECT d.c_mktsegment, COUNT(*) AS n_events, {_DSUM_VAL} AS total_value
FROM events e JOIN dim d ON d.user_id = e.user_id
GROUP BY d.c_mktsegment
""",
    tags=("events", "join", "skew", "salted"),
)
def ev_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED JOIN (operators/skew.py): the skewed fact side (events,
    hot users) joins a small user dim with an 8-way salt so a hot
    user's rows spread over 8 reducers instead of one straggler.
    The salt is derived from event_id and never escapes; the result
    is hash-identical to the plain join the oracle runs."""
    ev = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 150)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    joined = salted_join(ev, dim, on="user_id", num_salts=8, salt_src="event_id")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("total_value"),
    )


@query(
    "ev_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_signup) AS reached_signup,
       COUNT(CASE WHEN t_click > t_signup THEN 1 END) AS signup_then_click,
       COUNT(CASE WHEN t_click > t_signup AND t_purchase > t_click THEN 1 END)
         AS full_funnel
FROM firsts
""",
    tags=("events", "funnel", "sequence", "agg"),
)
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/funnel analytics: per-user first-touch times via ONE
    conditional-MIN aggregation (no joins, no per-step passes), then
    ordered-step counts signup → click → purchase. The whole funnel is
    two aggregations on one shuffle by user — the shape that holds at
    any event volume (a per-step self-join funnel grows with steps²)."""
    ev = load_table(spark, sf_dir, "events")

    def first(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    step2 = F.col("t_click") > F.col("t_signup")
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("reached_signup"),
        F.count(F.when(step2, 1)).alias("signup_then_click"),
        F.count(F.when(step3, 1)).alias("full_funnel"),
    )


@query(
    "ev_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(MIN(floor(epoch(ts) / 86400)) AS BIGINT) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) - f.cohort_day AS day_offset
  FROM events e JOIN firsts f ON f.user_id = e.user_id
)
SELECT cohort_day, day_offset, COUNT(*) AS n_users
FROM activity
WHERE day_offset IN (0, 1, 7)
GROUP BY cohort_day, day_offset
""",
    tags=("events", "cohort", "retention", "agg"),
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION: users grouped by first-seen day, counted again
    at day offsets 0/1/7 — the canonical product-analytics rollup. Two
    shuffles total (first-seen agg, then the distinct+count on the
    joined activity); the firsts side is the distinct-user set, joined
    back broadcast-or-shuffle as AQE sees fit. Day arithmetic in
    integer epoch-days — exact."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (day - F.col("cohort_day")).alias("day_offset"),
        )
        .filter(F.col("day_offset").isin(0, 1, 7))
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "ev_resample_gapfill",
    oracle="""
WITH daily AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS day_value
  FROM events
  WHERE user_id % 5 = 0
  GROUP BY user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT)
),
bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM bounds
)
SELECT g.user_id, g.day,
       last_value(d.day_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value,
       CAST(CASE WHEN d.day_value IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM grid g
LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
""",
    tags=("events", "resample", "gapfill", "window"),
)
def ev_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: per sampled user, a dense
    daily grid from their first to last active day, with missing days
    forward-filled from the last observed daily total and flagged.

    The dense grid is generated distributed — sequence(d0, d1) per
    user then explode, so each user's grid materializes on whichever
    partition holds the user (no driver-side calendar). Days are
    epoch-day integers (exact on both engines; no timestamp-timezone
    ambiguity). The forward fill is one window pass per user ordered
    by day — `last(value, ignorenulls)` over an unbounded-preceding
    frame, Spark's running-state idiom for LOCF imputation. Everything
    shuffles once on user_id; grid join and window share the
    partitioning. Gap-fill like this is the standard feature-
    engineering step before sequence models consume sparse activity
    data."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    daily = ev.groupBy(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(dsum("value").alias("day_value"))
    bounds = daily.groupBy(F.col("user_id").alias("b_user")).agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        F.col("b_user"), F.explode(F.sequence("d0", "d1")).alias("g_day")
    )
    w = (
        Window.partitionBy("b_user")
        .orderBy("g_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(
            daily,
            (daily["user_id"] == grid["b_user"]) & (daily["day"] == grid["g_day"]),
            "left",
        )
        .select(
            F.col("b_user").alias("user_id"),
            F.col("g_day").alias("day"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
            F.when(F.col("day_value").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
        )
    )


@query(
    "ev_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - med.med), 0.5) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - med.med) / (1.4826 * mad.mad) AS robust_z
FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
WHERE mad.mad > 0
  AND abs((e.value - med.med) / (1.4826 * mad.mad)) > 3.5
""",
    tags=("events", "stats", "outliers", "percentile"),
)
def ev_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outliers via median absolute deviation — the
    companion to ev_zscore_outliers for heavy-tailed value
    distributions where mean/std are themselves dragged by the
    outliers: robust_z = (v − median) / (1.4826·MAD), flag |z| > 3.5
    (the Iglewicz–Hoberg convention). Exact medians (Spark
    ``percentile`` == DuckDB ``quantile_cont``, same interpolation —
    see rel_exact_percentiles) keep it oracle-checkable.

    Plan: two grouped exact percentiles (each shuffles only the
    (type, value) pairs), broadcast of the |types|-row stats back, then
    a scan-speed filter. At 100 TB swap percentile → approx_percentile
    and keep the identical downstream algebra."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"))
    )
    z = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(z) > 3.5))
        .select("event_id", "event_type", "value", z.alias("robust_z"))
    )


@query(
    "ev_zscore_outliers",
    oracle="""
WITH stats AS (
  SELECT event_type,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(value * value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS ssq,
         COUNT(value) AS n
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, s / n AS mean,
         sqrt((ssq - s * s / n) / (n - 1)) AS std
  FROM stats
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - m.mean) / m.std AS z
FROM events e JOIN m USING (event_type)
WHERE abs((e.value - m.mean) / m.std) > 3.0
""",
    tags=("events", "stats", "outliers"),
)
def ev_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 3): the anomaly-flagging pass
    a metrics pipeline runs over event values. The moments are
    decimal-exact sums (sum, sum-of-squares) so mean/std are the
    IDENTICAL doubles on any engine/partitioning — the naive
    two-pass-free variance formula (ssq - s²/n)/(n-1) is safe here
    precisely because the sums are exact, sqrt is correctly rounded,
    and every subsequent op is a single deterministic double op.

    Plan: one shuffle for the per-type moments (map-side combine →
    |types| rows), broadcast back, per-row filter at scan speed."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    stats = ev.groupBy("event_type").agg(
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value")).alias("ssq"),
        F.count("value").alias("n"),
    )
    m = stats.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("ssq") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
        ).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(m), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


@query(
    "ev_transition_matrix",
    oracle="""
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
l AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev,
         us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
  FROM e
)
SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
FROM l
WHERE prev IS NOT NULL AND gap_us <= 1800000000
GROUP BY 1, 2
""",
    tags=("events", "window", "session", "markov"),
)
def ev_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (the Markov-chain view of
    user journeys): lag window over each user's timeline, count
    (from→to) pairs whose gap stays inside the 30-min session horizon
    (same gap convention as ev_sessionize). One shuffle keyed on
    user_id for the window, then a tiny |types|² aggregate with
    map-side combine — the sequence-mining primitive behind funnel
    discovery and next-action models."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    paired = ev.select(
        F.lag("event_type").over(order).alias("from_type"),
        F.col("event_type").alias("to_type"),
        (F.col("us") - F.lag("us").over(order)).alias("gap_us"),
    )
    return (
        paired.filter(
            F.col("from_type").isNotNull() & (F.col("gap_us") <= 1_800_000_000)
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "ev_distinct_users_hourly",
    oracle="""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
""",
    tags=("events", "window-time", "distinct", "agg"),
)
def ev_distinct_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly active users — EXACT distinct count per tumbling window.
    Spark plans count(DISTINCT) as the two-level expand/partial-agg
    rewrite: first a partial dedup of (window, user_id) inside each
    map task, then the merge — so the shuffle carries one row per
    distinct pair, not per event. The approximate sibling for 100 TB
    dashboards is approx_count_distinct (HLL, rows-only checkable —
    see udf_approx_distinct); this exact form is the backfill/audit
    path."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return (
        ev.groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("window_start")
        )
        .agg(
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "ev_click_attribution",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_us, c.click_id,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_us DESC, c.click_id DESC) AS rn
  FROM p JOIN c ON c.user_id = p.user_id AND c.click_us <= p.purchase_us
)
SELECT purchase_id, user_id, purchase_us, click_us, click_id,
       purchase_us - click_us AS latency_us
FROM j WHERE rn = 1 AND purchase_us - click_us <= 1800000000
""",
    tags=("events", "asof", "attribution", "join"),
)
def ev_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click attribution, batch form: each purchase attributed to
    the user's most recent click within a 30-minute horizon — the
    batch twin of streaming/windows.py:stream_click_attribution's
    stream-stream range join, expressed as the as-of join
    (operators/asof.py: one shuffle on user_id, union-and-window, no
    per-row lookup). Filtering the as-of match by horizon is
    equivalent to 'latest click within the window' because the as-of
    match IS the latest click ≤ purchase time. Tie on click time
    resolves to the max click id on both engines (max-struct
    semantics), keeping the row set hash-stable."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.col("event_id").alias("click_id"),
    )
    j = asof_join(
        p, c, on="user_id",
        left_ts="purchase_us", right_ts="click_us",
        right_payload=["click_id"],
    )
    horizon_us = 30 * 60 * 1_000_000
    return (
        j.filter(
            F.col("click_us_right").isNotNull()
            & (F.col("purchase_us") - F.col("click_us_right") <= horizon_us)
        )
        .select(
            "purchase_id",
            "user_id",
            "purchase_us",
            F.col("click_us_right").alias("click_us"),
            F.col("click_id_right").alias("click_id"),
            (F.col("purchase_us") - F.col("click_us_right")).alias("latency_us"),
        )
    )


@query(
    "ev_click_attribution_streamed",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id AS p_uid,
       epoch_us(p.ts) AS purchase_us, epoch_us(c.ts) AS click_us
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
 AND epoch_us(c.ts) <= epoch_us(p.ts)
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
    tags=("events", "streaming", "stream-stream-join", "attribution"),
)
def ev_click_attribution_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM range join executed through the streaming engine
    and oracle-checked: purchases and clicks stream from the same
    file source, join on user with the 30-minute event-time bound
    (streaming/windows.py:stream_click_attribution — the watermark
    lets state evict; inner-join matches emit as found, so an
    availableNow run produces the complete bounded result), land in
    an append memory sink, and must hash-match DuckDB's plain range
    join over the same table. Timestamps are emitted as epoch micros
    (cross-engine stable), matching the batch convention."""
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_click_attribution,
    )

    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    attributed = stream_click_attribution(src).select(
        "purchase_id",
        "p_uid",
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.unix_micros("click_ts").alias("click_us"),
    )
    return drain(attributed, "ev_click_attribution_streamed_sink", "append")


@query(
    "ev_value_histogram",
    oracle="""
WITH s AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events)
SELECT event_type,
       CAST(CASE WHEN value >= mx THEN 19
                 ELSE floor((value - mn) / (mx - mn) * 20) END AS BIGINT) AS bin,
       COUNT(*) AS n
FROM events CROSS JOIN s
GROUP BY 1, 2
""",
    tags=("events", "histogram", "agg"),
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event value per type — the basic
    distribution profile every monitoring/EDA surface needs, exact (not
    a sketch). Bin edges come from the GLOBAL min/max so all types
    share one scale; the max value is clamped into the last bin.

    Plan shape at 100 TB: pass 1 is a full-agg to ONE row (min, max) —
    map-side partials, broadcast back via BroadcastNestedLoopJoin of a
    1-row table (free); pass 2 is one map-side-combined aggregation on
    (type, bin), shuffling ≤ types·20 partials per partition. Two scans
    total, no wide shuffle. Cross-engine exactness: bin = floor of one
    double expression evaluated in the same operation order in both
    engines — IEEE-identical, no tolerance needed."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    s = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = ev.crossJoin(F.broadcast(s)).select(
        "event_type",
        F.when(F.col("value") >= F.col("mx"), F.lit(19))
        .otherwise(
            F.floor((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 20)
        )
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("n"))


@query(
    "ev_sliding_window_streamed",
    oracle=f"""
WITH expanded AS (
  SELECT CAST(floor(epoch(ts) / 900) * 900 - k.k * 900 AS BIGINT) AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
)
SELECT window_start, event_type, COUNT(*) AS n_events, {_DSUM_VAL} AS total_value
FROM expanded GROUP BY 1, 2
""",
    tags=("events", "streaming", "window-time", "agg"),
)
def ev_sliding_window_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_sliding_window executed THROUGH Structured Streaming (same
    pattern as ev_tumbling_hour_streamed: file-source stream →
    identical windowed plan → availableNow to completion → complete-
    mode memory sink vs the batch oracle). Sliding windows are the
    harder streaming shape — each event updates TWO window states — so
    promoting this twin to a driver CORRECTNESS row pins the state
    fan-out, not just the tumbling special case."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    agg = (
        src.groupBy(
            F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain(agg, "ev_sliding_window_streamed_sink", "complete")


@query(
    "ev_sessionize_streamed",
    oracle="""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM e),
f AS (SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM l),
s AS (SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM f)
SELECT user_id, CAST(MIN(us) AS BIGINT) AS session_start_us,
       COUNT(*) AS n_events,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, sid
""",
    tags=("events", "streaming", "session", "stateful"),
)
def ev_sessionize_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization executed THROUGH Structured Streaming's native
    session-window state store (F.session_window, 30-minute gap) — the
    genuinely stateful streaming operator (variable-length state per
    user, windows MERGE as events arrive, unlike fixed tumbling/sliding
    buckets). availableNow to completion, complete-mode sink.

    Boundary semantics: session_window treats a gap of EXACTLY the
    timeout as a new session (windows are half-open [start, start+gap)),
    so the oracle's lag/cumsum reconstruction uses ``>= gap`` — one
    strictness step from the batch ev_sessionize oracle (``> gap``);
    both are pinned so the pair also documents the boundary difference
    between the two formulations. Output keys on session_start_us
    (ordinal session ids are meaningless for merged windows)."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    gap_us = 30 * 60 * 1000 * 1000
    agg = (
        src.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            (
                F.unix_micros(F.col("w.end"))
                - F.lit(gap_us)
                - F.unix_micros(F.col("w.start"))
            ).alias("duration_us"),
        )
    )
    return drain(agg, "ev_sessionize_streamed_sink", "complete")


@query(
    "ev_ewma_hourly",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hr,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, hr, cnt,
         list(cnt) OVER (PARTITION BY event_type ORDER BY hr
                         ROWS BETWEEN 16 PRECEDING AND CURRENT ROW) AS l
  FROM hourly
)
SELECT event_type, hr, cnt,
       list_sum(list_transform(l, (x, i) -> CAST(x AS DOUBLE) / pow(2, len(l) - i)))
         AS ewma
FROM w
""",
    tags=("events", "window", "timeseries", "ewma"),
)
def ev_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2) of hourly event
    counts per type over the trailing 17 nonempty buckets — the
    standard smoothing pass behind alerting/trend dashboards.

    Exactness by construction: weights are powers of two, so each term
    is an exact binary SHIFT of an integer count and the 17-term sum
    spans ≤ 37 significand bits — no rounding anywhere, hence
    bit-identical across engines with no tolerance flag (a general-α
    EWMA could not be oracle-checked this way; α = 1/2 is chosen
    PRECISELY because halving is lossless in IEEE doubles).

    Plan shape at 100 TB: the hourly pre-aggregation collapses volume
    by orders of magnitude before the window; the window partitions on
    event_type — for high-cardinality keys this is the standard
    bounded-frame running computation, state = 17 longs per key.
    DuckDB's list_transform index is 1-based, Spark's 0-based — the
    two weight expressions are aligned accordingly."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-16, 0)
    arr = F.collect_list("cnt").over(w)
    return hourly.select(
        "event_type",
        "hr",
        "cnt",
        F.aggregate(
            F.transform(
                arr,
                lambda x, i: x.cast("double")
                / F.pow(F.lit(2.0), F.size(arr) - 1 - i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ewma"),
    )


@query(
    "ev_stream_static_enrich",
    oracle=f"""
WITH dim AS (
  SELECT event_type, {_DSUM_VAL} / COUNT(*) AS type_avg
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_above,
       MAX(d.type_avg) AS type_avg
FROM events e JOIN dim d ON d.event_type = e.event_type
WHERE e.value > d.type_avg
GROUP BY e.event_type
""",
    tags=("events", "streaming", "stream-static", "join"),
)
def ev_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast enrichment promoted to a CORRECTNESS
    row: a static per-type dimension (decimal-exact average value,
    computed batch-side) joins INTO the event stream, which then
    filters each event against its type's average and counts the
    above-average events per type — the canonical enrich-then-filter
    streaming topology (dimension tables broadcast to every
    micro-batch; only the stream side is unbounded).

    The oracle replays the same join/filter/count in plain SQL. The
    MAX(type_avg) output column is constant within each group —
    included so the enrichment VALUE (not just the filtered counts) is
    hash-verified."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    from quick_and_easy_vectordb_spark.functions.numeric import davg

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("d_type"))
        .agg(davg("value").alias("type_avg"))
    )
    enriched = (
        src.join(F.broadcast(dim), src.event_type == F.col("d_type"))
        .filter(F.col("value") > F.col("type_avg"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.max("type_avg").alias("type_avg"),
        )
    )
    return drain(enriched, "ev_stream_static_enrich_sink", "complete")


@query(
    "ev_asof_join_forward",
    oracle="""
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.c_us,
       (SELECT MIN(p.p_us) FROM purchases p
        WHERE p.user_id = c.user_id AND p.p_us >= c.c_us) AS next_purchase_us
FROM clicks c
WHERE EXISTS (SELECT 1 FROM purchases p
              WHERE p.user_id = c.user_id AND p.p_us >= c.c_us)
""",
    tags=("events", "asof", "join", "window"),
)
def ev_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction='forward'): for
    each click, the user's EARLIEST purchase at-or-after it — the
    time-to-convert primitive (its backward twin ev_asof_join answers
    'which click caused this purchase'; this answers 'when does this
    click pay off'). Same union-and-window operator, mirrored frame
    (RANGE CURRENT ROW .. UNBOUNDED FOLLOWING + min): still ONE
    shuffle, zero row multiplication — the naive formulation is a
    per-key range join that explodes quadratically before its MIN.
    Timestamps compare as epoch micros (BIGINT) for engine-exactness;
    unmatched clicks are filtered (inner-as-of)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="c_us",
        right_ts="p_us",
        direction="forward",
    )
    return (
        joined.filter(F.col("p_us_right").isNotNull())
        .select("user_id", "c_us", F.col("p_us_right").alias("next_purchase_us"))
    )


@query(
    "ev_cumulative_unique_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
),
daily AS (SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d)
SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY d
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
FROM daily
""",
    tags=("events", "growth", "window", "distinct"),
)
def ev_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-unique growth curve: first-seen date per user → new
    users per day → running total — the DAU/'total accounts' chart
    every growth dashboard opens with. The naive formulation (distinct
    over an expanding window) rescans history per day; first-seen
    reduces it to ONE user-keyed aggregation (each user contributes
    exactly once) plus a |days|-row running sum — the 100 TB shape.
    Integer counts only; the running sum is a single-partition window
    over a tiny daily table (fine: |days| rows, not |events|)."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        # ISO string, not DATE: the engines' pandas conversions type
        # bare DATE differently (datetime64 vs date object), which the
        # value-hash comparer cannot unify
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@query(
    "ev_hourly_ohlc",
    oracle=f"""
WITH e AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
         epoch_us(ts) AS us, event_id, value
  FROM events
)
SELECT event_type, hour_us,
       (min({{'us': us, 'id': event_id, 'v': value}})).v AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       (max({{'us': us, 'id': event_id, 'v': value}})).v AS close_value,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_DSUM_VAL} AS volume
FROM e GROUP BY 1, 2
""",
    tags=("events", "timeseries", "ohlc", "agg"),
)
def ev_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly OHLC (open/high/low/close) bars plus count and
    decimal-exact volume — the canonical time-series downsampling shape
    (financial candlesticks, metrics rollups). "Open" and "close" are
    the values of the chronologically first/last event in the bar.

    First/last are computed as ``min/max(struct(us, event_id, value))``
    — a single order-insensitive aggregate, NOT a window + row_number
    pass, so the whole query is one map-side-combined aggregation with
    one shuffle of (type, hour) partials and no per-key sort. Struct
    min/max compares fields lexicographically (ts, then the unique
    event_id, so the value field never decides), which DuckDB's struct
    ``min/max`` mirrors exactly — first/last is deterministic on any
    partitioning, unlike a bare ``first_value`` over a non-unique
    ordering. At 100 TB this is the same plan as any keyed rollup:
    partials are 4 numbers + 2 structs per (type, hour) per partition.

    Reference context: the reference app (app.py:1-193) has no temporal
    operators; this is pipeline-extension surface (SURVEY.md §2b)."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    tagged = ev.select(
        "event_type",
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("id"),
            F.col("value").alias("v"),
        ).alias("tv"),
        "value",
    )
    return tagged.groupBy("event_type", "hour_us").agg(
        F.min("tv").getField("v").alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max("tv").getField("v").alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("volume"),
    )


@query(
    "ev_stream_stateful_totals",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
FROM events GROUP BY user_id
""",
    tags=("events", "streaming", "stateful", "applyInPandasWithState"),
)
def ev_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator promoted to a CORRECTNESS
    row: per-user (count, first-seen, last-seen) carried in an explicit
    applyInPandasWithState GroupState across micro-batches
    (streaming/windows.py:stream_user_activity_state) — the surface
    for per-entity accumulators no built-in window expresses. The
    state tuple is ALL-INTEGER, so unlike a running double sum the
    totals are exact under any micro-batch split or in-batch row
    order, which is what makes an external hash check possible at all.

    Update-mode emissions are monotone per key (count only grows,
    first_us only shrinks, last_us only grows), so the final state is
    recovered from the append-everything memory sink with one
    max/min/max aggregation; the oracle is the plain batch GROUP BY.
    State store size is bounded by user cardinality, not event volume
    — the 100 TB scaling argument for this operator family."""
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_user_activity_state,
    )

    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    out = drain(
        stream_user_activity_state(src), "ev_stream_stateful_totals_sink", "update"
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
    )


@query(
    "ev_hourly_ohlc_streamed",
    oracle=f"""
WITH e AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
         epoch_us(ts) AS us, event_id, value
  FROM events
)
SELECT event_type, hour_us,
       (min({{'us': us, 'id': event_id, 'v': value}})).v AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       (max({{'us': us, 'id': event_id, 'v': value}})).v AS close_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM e GROUP BY 1, 2
""",
    tags=("events", "streaming", "timeseries", "ohlc"),
)
def ev_hourly_ohlc_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_hourly_ohlc executed THROUGH Structured Streaming: OHLC bars
    are a pure aggregation (open/close = order-insensitive min/max over
    (ts, id, value) structs), so the IDENTICAL agg runs incrementally
    over the event-time window — each micro-batch merges its partial
    structs into window state exactly like batch partial aggregation,
    which is why no sort-dependent 'first/last' is needed and the
    streamed result can hash-match the batch oracle. Complete output
    mode over availableNow; state per (type, window) is 4 numbers + 2
    structs regardless of event volume — the incremental-candlestick
    topology every metrics/trading pipeline runs."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    tv = F.struct(
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("id"),
        F.col("value").alias("v"),
    )
    agg = (
        src.select("event_type", "ts", "value", "event_id", tv.alias("tv"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min("tv").getField("v").alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max("tv").getField("v").alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_events",
        )
    )
    return drain(agg, "ev_hourly_ohlc_streamed_sink", "complete")


@query(
    "ev_interarrival_stats",
    oracle="""
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       COUNT(gap_us) AS n_gaps,
       CAST(CAST(SUM(CAST(gap_us AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         / COUNT(gap_us) / 1000000.0 AS avg_gap_s,
       quantile_cont(gap_us, 0.5) / 1000000.0 AS median_gap_s,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
""",
    tags=("events", "window", "interarrival"),
)
def ev_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type — the workload
    characterization every streaming capacity plan starts from (and
    the basis of bot/anomaly detection: humans have heavy-tailed
    gaps, scripts are metronomes). Gap = time since the same user's
    previous event (any type); the gap is attributed to the later
    event's type. Average is the decimal-exact micros sum divided by
    count; the median interpolates two exact longs — identical IEEE
    steps in both engines.

    Plan shape at 100 TB: one shuffle by user_id for the lag window
    (sorted within partition by ts), then a 5-group rollup with
    map-side partials. The window state is one row lookback —
    streaming-friendly (the stateful twin would keep last-ts per user
    in applyInPandasWithState, as ev_stream_stateful_totals does)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        (
            F.sum(F.col("gap_us").cast("decimal(30,10)")).cast("double")
            / F.count("gap_us")
            / F.lit(1000000.0)
        ).alias("avg_gap_s"),
        (F.expr("percentile(gap_us, 0.5)") / F.lit(1000000.0)).alias(
            "median_gap_s"
        ),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


@query(
    "ev_distinct_users_hourly_streamed",
    oracle="""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
""",
    tags=("events", "streaming", "distinct", "window-time"),
)
def ev_distinct_users_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT hourly active users through Structured Streaming — the
    composition of two stateful streaming stages: per-(user, hour)
    dedup (dropDuplicates holds one state row per pair, emitted in
    append mode the first time it is seen) feeding a count per hour.
    The final count runs over the sink table (the serving-layer rollup
    of a streaming pre-aggregation — the standard lambda-less layout:
    the stream does the state-heavy dedup, the cheap final count is a
    O(|users/hour|) aggregate of the deduped feed). The oracle is the
    batch COUNT(DISTINCT) — the row matches only if the streaming
    dedup state was exact across every micro-batch.

    Plan shape at 100 TB: dedup state is hash-partitioned by
    (user, hour) across executors and expired by watermark in the
    incremental deployment (tests/test_streaming.py exercises the
    watermarked path); no shuffle carries raw events twice."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    deduped = (
        src.select(
            F.window("ts", "1 hour").alias("w"), "user_id"
        )
        .select(F.col("w.start").alias("hour_start"), "user_id")
        .dropDuplicates(["hour_start", "user_id"])
    )
    out = drain(deduped, "ev_distinct_users_hourly_streamed_sink", "append")
    return (
        out.groupBy(F.unix_timestamp("hour_start").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "ev_stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, COUNT(*) AS n_clicks_30m
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
""",
    tags=("events", "streaming", "stream-stream-join", "interval-join"),
)
def ev_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — the hardest Structured Streaming
    operator class (two unbounded sides, each buffering state for the
    other): purchases join the same user's clicks from the preceding
    30 minutes, both sides read as file-source streams with event-time
    watermarks, inner-joined on (user, time-range) and appended to the
    sink; the compact per-purchase click count is the batch rollup of
    the sink (the serving-layer pattern every streamed query here
    uses). The oracle is the equivalent batch interval join — the row
    matches only if the streaming state machine buffered and matched
    every cross-batch pair exactly.

    Watermark choice: 35 days covers the fixture's full span, so no
    row can be dropped as late regardless of micro-batch order —
    correctness of the join itself is what this row certifies. In a
    live deployment the delay shrinks to the business bound (30 min +
    lateness budget) and the SAME plan bounds each side's buffer to
    O(users · window) state, which is what makes the interval
    condition (not a plain equi-join) load-bearing at 100 TB: it
    gives the state store an eviction horizon.

    Plan shape: both sides shuffle by user_id into co-partitioned
    state stores; each arriving row probes the opposite buffer within
    the time bounds. The rollup afterwards is one map-side-combined
    groupBy over the (small) matched pairs."""
    d = _events_dir(sf_dir)
    purchases = (
        read_events_stream(spark, d, max_files_per_trigger=None)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "35 days")
    )
    clicks = (
        read_events_stream(spark, d, max_files_per_trigger=None)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "35 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "c_user_id = p_user_id "
            "AND c_ts >= p_ts - INTERVAL 30 MINUTES "
            "AND c_ts < p_ts"
        ),
    )
    out = drain(joined, "ev_stream_stream_join_sink", "append")
    return (
        out.groupBy("purchase_id", F.col("p_user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_clicks_30m"))
    )


@query(
    "ev_session_duration_distribution",
    oracle="""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM e),
f AS (SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM l),
s AS (SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM f),
sess AS (
  SELECT user_id, sid, COUNT(*) AS n_events,
         CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
  FROM s GROUP BY user_id, sid
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       quantile_cont(duration_us, 0.5) / 1000000.0 AS p50_s,
       quantile_cont(duration_us, 0.9) / 1000000.0 AS p90_s,
       CAST(MAX(duration_us) AS BIGINT) AS max_duration_us
FROM sess
""",
    tags=("events", "session", "distribution"),
)
def ev_session_duration_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length distribution — the engagement summary read off
    every product dashboard: session count, bounce count (single-event
    sessions), median and p90 duration, longest session. Built on the
    same gap-sessionization as ev_sessionize (this is the second-level
    rollup of its output), with exact-long durations so the
    interpolated percentiles are the same two-value IEEE blend in both
    engines.

    Plan shape at 100 TB: the sessionize shuffle (by user) is the only
    data-sized exchange; the distribution is a single 1-row aggregate
    with map-side partials — percentiles over per-session longs, whose
    cardinality is already ~|events|/session_len. For sketch-grade
    latency at extreme scale the same rollup runs with approx
    percentile (udf_approx_quantiles pins that contract)."""
    sess = ev_sessionize(spark, sf_dir)
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        (F.expr("percentile(duration_us, 0.5)") / F.lit(1000000.0)).alias("p50_s"),
        (F.expr("percentile(duration_us, 0.9)") / F.lit(1000000.0)).alias("p90_s"),
        F.max("duration_us").cast("long").alias("max_duration_us"),
    )


@query(
    "ev_append_mode_finalized_windows",
    oracle="""
WITH w AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
         COUNT(*) AS n_events
  FROM events GROUP BY 1
),
mx AS (SELECT MAX(epoch_us(ts)) AS m_us FROM events)
SELECT w.window_start, w.n_events
FROM w, mx
WHERE (w.window_start + 3600) * 1000000 <= mx.m_us - 3600000000
""",
    tags=("events", "streaming", "watermark", "append-mode"),
)
def ev_append_mode_finalized_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark semantics, pinned exactly: hourly counts
    with a 1-hour event-time watermark emit a window only once the
    watermark passes its end — each row is final, write-once (the
    contract that lets the sink be an immutable store: files, Kafka, a
    downstream table). The oracle states the semantics in closed form:
    exactly the windows whose end <= max(event_time) - 1h appear; the
    trailing open windows are withheld. This complements the
    complete-mode twins (ev_tumbling_hour_streamed re-emits all
    windows every trigger) — together the two rows pin both streaming
    output contracts against the same batch truth.

    Plan shape at 100 TB: identical to the complete-mode twin (keyed
    state per open window, map-side pre-aggregation per micro-batch);
    the watermark bounds state to open-windows-only, which is the
    difference that matters for an unbounded deployment — state size
    is O(windows in flight), not O(windows ever)."""
    d = _events_dir(sf_dir)
    src = read_events_stream(
        spark, d, max_files_per_trigger=None
    ).withWatermark("ts", "1 hour")
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "n_events")
    )
    return drain(agg, "ev_append_finalized_sink", "append")


@query(
    "ev_user_feature_profile",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS BIGINT)
         AS n_active_days,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_seen_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_seen_us
FROM events
GROUP BY user_id
""",
    tags=("events", "features", "agg"),
)
def ev_user_feature_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user FEATURE-ENGINEERING profile — the table a churn/LTV
    model trains on: event volume, active-day count, behavioral
    breadth (distinct types), decimal-exact monetary total, and
    first/last-seen timestamps (tenure + recency in one pass). The
    bread-and-butter ML-feature materialization every event pipeline
    ships nightly.

    Plan shape at 100 TB: ONE groupBy(user) aggregation; the two
    exact DISTINCTs rewrite to partial-dedup two-level aggs keyed by
    the same user shuffle (day cardinality per user is bounded, type
    cardinality is 5), min/max/sum all map-side-combine. No joins,
    no windows; feature freshness is a pure function of scan
    recency."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.floor(us / F.lit(86400000000)).cast("long"))
        .cast("long")
        .alias("n_active_days"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("total_value"),
        F.min(us).cast("long").alias("first_seen_us"),
        F.max(us).cast("long").alias("last_seen_us"),
    )


@query(
    "ev_winsorize_trimmed_stats",
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo,
         quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY event_type
),
w AS (
  SELECT e.event_type,
         CASE WHEN e.value < b.lo THEN b.lo
              WHEN e.value > b.hi THEN b.hi
              ELSE e.value END AS wv,
         CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END
           AS clipped
  FROM events e JOIN b ON b.event_type = e.event_type
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       CAST(CAST(SUM(CAST(wv AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS winsorized_mean
FROM w GROUP BY event_type
""",
    tags=("events", "robust-stats", "winsorize"),
)
def ev_winsorize_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZATION — the robust-statistics preprocessing every
    metric pipeline applies before averaging heavy-tailed values
    (revenue, latency): clip each event type's values at its own
    exact p1/p99, then report the clipped count and the winsorized
    mean. Complements ev_mad_outliers (flagging) and
    ev_zscore_outliers (parametric flagging) with the REPAIR
    operation. Percentiles interpolate exact doubles identically in
    both engines (rel_exact_percentiles pins that); the clip is a
    pure CASE comparison; the mean is decimal-exact.

    Plan shape at 100 TB: one grouped exact-percentile pass (at
    extreme scale: approx_percentile with the same plan), the tiny
    per-type bounds broadcast back onto an unshuffled scan, and one
    map-side-combined rollup. The fact table is scanned twice, never
    shuffled."""
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    w = e.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
        .alias("wv"),
        F.when(
            (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1
        )
        .otherwise(0)
        .alias("clipped"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("clipped").cast("long").alias("n_clipped"),
        (
            F.sum(F.col("wv").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("winsorized_mean"),
    )


@query(
    "ev_equi_depth_histogram",
    oracle="""
WITH q AS (
  SELECT quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5)  AS q2,
         quantile_cont(value, 0.75) AS q3
  FROM events
)
SELECT CASE WHEN e.value <= q.q1 THEN 0
            WHEN e.value <= q.q2 THEN 1
            WHEN e.value <= q.q3 THEN 2
            ELSE 3 END AS bucket,
       COUNT(*) AS n,
       MIN(e.value) AS lo,
       MAX(e.value) AS hi
FROM events e CROSS JOIN q
GROUP BY 1
""",
    tags=("events", "histogram", "equi-depth"),
)
def ev_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (quartile buckets) — the optimizer-grade
    value-distribution summary: bucket boundaries are exact global
    quartiles, so each bucket holds ~25% of rows regardless of skew
    (the dual of ev_value_histogram's equi-WIDTH bins, which skew
    crushes). This is precisely the statistic a cost-based optimizer
    keeps per column; ties at a boundary go left (<=), pinned in both
    engines.

    Plan shape at 100 TB: one global exact-percentile aggregate (3
    numbers) broadcast onto the scan (1-row cross join), then a
    4-group map-side-combined count. At extreme scale the same plan
    runs on approx_percentile boundaries."""
    e = load_table(spark, sf_dir, "events")
    q = e.agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.5)").alias("q2"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    bucketed = e.crossJoin(F.broadcast(q)).select(
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bucket"),
        "value",
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@query(
    "ev_stream_dedup_within_watermark",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
    tags=("events", "streaming", "dedup", "watermark"),
)
def ev_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest via dropDuplicatesWithinWatermark — the
    BOUNDED-STATE dedup API (state per id lives only until the
    watermark passes its event time, so state is arrival-rate ×
    horizon, not |stream|): the events file is staged TWICE as an
    at-least-once replay, one file per micro-batch so the replay
    arrives in a later batch and the dedup state must hold across
    batches; the watermark delay (35 days) covers the fixture span so
    no first-arrival can expire early, making the oracle the exact
    single-copy count. Complements ev_stream_dedup_ingest
    (unbounded-state dropDuplicates): same correctness bar, the state
    contract that actually survives an unbounded 100 TB source.

    Plan shape: one shuffle by event_id into the dedup state store
    per micro-batch; emissions are append-mode first arrivals; the
    rollup is the serving-layer count of the deduped feed."""
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_dedup_events,
    )

    d = _events_dir(sf_dir, ("events_a", "events_b"))
    src = read_events_stream(spark, d)
    out = drain(
        stream_dedup_events(src, watermark="35 days"),
        "ev_stream_dedup_wm_sink",
        "append",
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "ev_peak_hours",
    oracle="""
WITH h AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hr,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT event_type, hr, n,
         lag(n)  OVER (PARTITION BY event_type ORDER BY hr) AS prev_n,
         lead(n) OVER (PARTITION BY event_type ORDER BY hr) AS next_n
  FROM h
)
SELECT event_type, COUNT(*) AS n_peaks, CAST(MAX(n) AS BIGINT) AS max_peak
FROM l
WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
  AND n > prev_n AND n > next_n
GROUP BY event_type
""",
    tags=("events", "window", "peaks", "time-series"),
)
def ev_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL-MAXIMA detection over the hourly series — the alerting /
    capacity primitive (peak-hour identification, burst counting): an
    hour is a peak when its count strictly exceeds both neighbors
    (series endpoints excluded — they have one neighbor and a
    half-open test would over-count). Summarized per type as peak
    count and tallest peak. All-integer, trivially exact; the
    interesting part is the shape: lag AND lead over the same
    pre-aggregated series resolve to ONE window sort.

    Plan shape at 100 TB: the hourly pre-aggregation (map-side
    combined) collapses volume before any window; the lag/lead window
    runs over O(hours) rows per type. Raw events never see a window."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type",
        (F.floor(F.unix_micros("ts") / 3600000000) * 3600)
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    l = h.select(
        "event_type",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    peaks = l.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    )
    return peaks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_peaks"),
        F.max("n").cast("long").alias("max_peak"),
    )


@query(
    "ev_weekday_seasonality",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow
  FROM events
),
c AS (
  SELECT event_type, dow, COUNT(*) AS n FROM d GROUP BY 1, 2
),
t AS (SELECT event_type, SUM(n) AS total FROM c GROUP BY 1)
SELECT c.event_type, c.dow, CAST(c.n AS BIGINT) AS n,
       CAST(c.n AS DOUBLE) / t.total AS share
FROM c JOIN t ON t.event_type = c.event_type
""",
    tags=("events", "seasonality", "agg"),
)
def ev_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week SEASONALITY profile per event type — the baseline
    every anomaly detector normalizes against (a Monday spike is not
    a spike if Mondays always spike) and the input to traffic-shaped
    capacity scheduling. Counts are exact integers; the share is one
    double division against the type total.

    DOW convention pinned: Spark's dayofweek == DuckDB's
    dayofweek + 1 is FALSE — both return 1=Sunday..7=Saturday for
    Spark vs 0=Sunday..6 for DuckDB, so the Spark side subtracts 1 to
    match DuckDB's numbering; the CORRECTNESS row is what holds the
    convention honest.

    Plan shape at 100 TB: one map-side-combined (type, dow) count —
    35 groups — plus a 5-row total broadcast back."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("total"))
    return c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "dow",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.col("total")).alias("share"),
    )


@query(
    "ev_threshold_breach_islands",
    oracle="""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hr, COUNT(*) AS n
  FROM events GROUP BY 1
),
f AS (
  SELECT hr, n,
         ROW_NUMBER() OVER (ORDER BY hr) AS rn
  FROM h WHERE n >= 18
),
isl AS (
  SELECT hr, n, hr - rn * 3600 AS grp FROM f
)
SELECT CAST(MIN(hr) AS BIGINT) AS island_start,
       COUNT(*) AS n_hours,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS peak
FROM isl
GROUP BY grp
HAVING COUNT(*) >= 3
""",
    tags=("events", "gaps-and-islands", "alerting"),
)
def ev_threshold_breach_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS over a threshold breach — the sustained-alert
    primitive (one noisy hour is noise; three consecutive hot hours
    page someone): hours with >= 18 events are 'breaching', and
    maximal runs of CONSECUTIVE breaching hours are grouped by the
    classic islands trick (hr − row_number·3600 is constant within a
    run), keeping runs of >= 3 hours with their span and peak. The
    value-threshold sibling of gap-based sessionization
    (ev_sessionize groups by time gaps per user; this groups a global
    series by predicate continuity). All-integer.

    Plan shape at 100 TB: the hourly pre-aggregation collapses volume
    first; the islands window runs over O(breaching hours) rows.
    Keyed deployments (per type / per tenant) add the key to the
    partitionBy and scale embarrassingly."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        (F.floor(F.unix_micros("ts") / 3600000000) * 3600)
        .cast("long")
        .alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    f = h.filter(F.col("n") >= 18)
    w = Window.orderBy("hr")
    isl = f.withColumn(
        "grp", F.col("hr") - F.row_number().over(w) * 3600
    )
    return (
        isl.groupBy("grp")
        .agg(
            F.min("hr").cast("long").alias("island_start"),
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n").cast("long").alias("n_events"),
            F.max("n").cast("long").alias("peak"),
        )
        .filter(F.col("n_hours") >= 3)
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Round 6: mergeable sketches, time-series diagnostics, ordered funnels
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SCALE = 16**12  # h is 12 hex chars = 48 uniform bits


@query(
    "ev_kmv_distinct_estimate",
    oracle=f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id,
         ('0x' || substr(md5('kmv-v1:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM du
),
rk AS (
  SELECT event_type, user_id, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
  FROM h
),
k AS (
  SELECT event_type, COUNT(*) AS n_k, MAX(h) AS h_k
  FROM rk WHERE rn <= {_KMV_K} GROUP BY event_type
),
ex AS (SELECT event_type, COUNT(*) AS n_exact FROM du GROUP BY event_type)
SELECT k.event_type,
       CAST(ex.n_exact AS BIGINT) AS n_exact,
       CAST(k.n_k AS BIGINT) AS kmv_k,
       CASE WHEN k.n_k < {_KMV_K} THEN CAST(k.n_k AS DOUBLE)
            ELSE CAST({(_KMV_K - 1) * _KMV_SCALE} AS DOUBLE)
                 / CAST(k.h_k AS DOUBLE) END AS kmv_estimate
FROM k JOIN ex ON ex.event_type = k.event_type
""",
    tags=("events", "sketch", "distinct", "kmv"),
)
def ev_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) DISTINCT-COUNT SKETCH per
    event type, audited against the exact count — the MERGEABLE
    distinct estimator (Bar-Yossef et al. 2002): keep the k=64
    smallest 48-bit hash values of the distinct user set; the k-th
    smallest normalized hash U_(k) estimates D as (k-1)/U_(k).
    Unlike HLL (whose register layout is engine-private, so
    approx_count_distinct can never be oracle-checked), the KMV
    estimate is a pure function of md5 — bit-identical across engines,
    so the SKETCH ITSELF is hash-verified, not just its error bound.

    Mergeability is demonstrated structurally: the bottom-64 is
    computed as 32 per-salt partial bottom-64s (each a bounded
    window) unioned and re-reduced — exactly how per-partition /
    per-day sketches would merge in an incremental pipeline, and
    provably equal to the direct global bottom-k.

    Plan shape at 100 TB: the distinct-(type,user) pre-aggregation is
    the only data-sized shuffle (two-level, map-side partial dedup);
    the partial bottom-k windows run over O(distinct/32) rows per
    (type,salt) slice, the merge window over <= 32*64 rows per type.
    Estimator state is O(k) per group — the 100 TB dashboard path.
    When fewer than k values exist the sketch IS the exact set, so the
    estimate falls back to the count (standard KMV small-set rule)."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = du.withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv-v1:"), F.col("user_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long"),
    )
    # Phase 1: 32 partial bottom-k sketches per type (bounded windows).
    salted = h.withColumn("salt", F.pmod(F.col("h"), F.lit(32)))
    w1 = Window.partitionBy("event_type", "salt").orderBy("h", "user_id")
    partial = (
        salted.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn", "salt")
    )
    # Phase 2: merge = global bottom-k over the <=32*64 survivors.
    w2 = Window.partitionBy("event_type").orderBy("h", "user_id")
    kept = (
        partial.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _KMV_K)
    )
    k = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_k"), F.max("h").alias("h_k")
    )
    exact = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(
        F.col("n_k") < _KMV_K, F.col("n_k").cast("double")
    ).otherwise(
        F.lit((_KMV_K - 1) * _KMV_SCALE).cast("double")
        / F.col("h_k").cast("double")
    )
    return (
        k.join(exact, "event_type")
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_k").cast("long").alias("kmv_k"),
            est.alias("kmv_estimate"),
        )
    )


@query(
    "ev_autocorr_lag1",
    oracle="""
WITH h AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM h GROUP BY event_type
),
c AS (
  SELECT h.event_type, h.hr,
         CAST(st.n * h.x - st.s AS DECIMAL(19,0)) AS c,
         st.n
  FROM h JOIN st ON st.event_type = h.event_type
),
l AS (
  SELECT event_type, n, c,
         lead(c) OVER (PARTITION BY event_type ORDER BY hr) AS cn
  FROM c
),
a AS (
  SELECT event_type, MAX(n) AS n_hours,
         SUM(CASE WHEN cn IS NOT NULL THEN c * cn ELSE CAST(0 AS DECIMAL(38,0)) END) AS num,
         SUM(c * c) AS den
  FROM l GROUP BY event_type
)
SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS r1
FROM a
""",
    tags=("events", "time-series", "autocorrelation", "window"),
)
def ev_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-1 AUTOCORRELATION of the hourly volume series per event
    type — the burstiness / self-similarity diagnostic behind traffic
    forecasting (high r1: smooth diurnal load; near 0: memoryless) and
    the ACF(1) term of any ARIMA-style model. Series = observed hourly
    buckets in hour order.

    Exactness: with x̄ = S/n, every centered term is scaled by n to
    the INTEGER c_t = n·x_t − S, so numerator Σ c_t·c_{t+1} and
    denominator Σ c_t² are exact DECIMAL sums (the common n² factor
    cancels in the ratio); r1 is ONE double division of two exactly
    computed integers — no float fold order anywhere. DECIMAL(19,0)
    terms keep the products inside DECIMAL(38,0) even when hourly
    counts reach 10^9 at the 100 TB scale.

    Plan shape at 100 TB: the hourly pre-aggregation (map-side
    combined) is the only data-sized stage; the stats join is a
    broadcast of O(types) rows and the lead() window sorts O(hours)
    rows per type. Raw events never see a window."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        (F.floor(F.unix_micros("ts") / 3600000000) * 3600)
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("x"))
    st = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    c = h.join(F.broadcast(st), "event_type").select(
        "event_type",
        "hr",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).cast("decimal(19,0)").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    l = c.select(
        "event_type", "n", "c", F.lead("c").over(w).alias("cn")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    a = l.groupBy("event_type").agg(
        F.max("n").alias("n_hours"),
        F.sum(
            F.when(F.col("cn").isNotNull(), F.col("c") * F.col("cn")).otherwise(zero)
        ).alias("num"),
        F.sum(F.col("c") * F.col("c")).alias("den"),
    )
    return a.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        (F.col("num").cast("double") / F.col("den").cast("double")).alias("r1"),
    )


@query(
    "ev_ordered_funnel_windowed",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us FROM events
),
m1 AS (
  SELECT user_id, MIN(us) AS m1 FROM e WHERE event_type = 'view' GROUP BY user_id
),
m2 AS (
  SELECT e.user_id, MIN(e.us) AS m2, MIN(m1.m1) AS m1
  FROM e JOIN m1 ON m1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.us >= m1.m1 AND e.us <= m1.m1 + 3600000000
  GROUP BY e.user_id
),
m3 AS (
  SELECT e.user_id, MIN(e.us) AS m3, MIN(m2.m1) AS m1
  FROM e JOIN m2 ON m2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us >= m2.m2 AND e.us <= m2.m1 + 3600000000
  GROUP BY e.user_id
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM m1) AS users_viewed,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM m2) AS users_clicked,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM m3) AS users_converted,
  (SELECT CAST(COALESCE(SUM(m3 - m1), 0) AS BIGINT) FROM m3) AS total_convert_us
""",
    tags=("events", "funnel", "sessionization", "ordered"),
)
def ev_ordered_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY-ORDERED, TIME-BOUNDED conversion funnel
    view → click → purchase, all inside one hour of the FIRST view —
    the semantics product analytics tools ship (each stage must follow
    the previous stage's match, inside the horizon), which the
    unordered conditional-MIN funnel (ev_funnel) cannot express: there
    a click before any view still counts.

    Stage matching is earliest-eligible (min over events at-or-after
    the previous stage's match, at-or-before first_view + 1h), which
    is deterministic and engine-exact on epoch-microsecond integers.

    Plan shape at 100 TB: three aggregations and two joins, ALL keyed
    on user_id — one hash partitioning reused across every stage (no
    re-shuffle between stages under AQE exchange reuse); stage tables
    shrink monotonically (m2 joins only clicks against funnel
    entrants, m3 only purchases against m2 survivors). The final
    packaging of three 1-row counts is a broadcast cross of
    singletons. Raw events are never window-sorted."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    hz = 3600000000
    m1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("m1"))
    )
    m2 = (
        e.filter(F.col("event_type") == "click")
        .join(m1, "user_id")
        .filter((F.col("us") >= F.col("m1")) & (F.col("us") <= F.col("m1") + hz))
        .groupBy("user_id")
        .agg(F.min("us").alias("m2"), F.min("m1").alias("m1"))
    )
    m3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(m2, "user_id")
        .filter((F.col("us") >= F.col("m2")) & (F.col("us") <= F.col("m1") + hz))
        .groupBy("user_id")
        .agg(F.min("us").alias("m3"), F.min("m1").alias("m1"))
    )
    c1 = m1.agg(F.count(F.lit(1)).cast("long").alias("users_viewed"))
    c2 = m2.agg(F.count(F.lit(1)).cast("long").alias("users_clicked"))
    c3 = m3.agg(
        F.count(F.lit(1)).cast("long").alias("users_converted"),
        F.coalesce(F.sum(F.col("m3") - F.col("m1")), F.lit(0))
        .cast("long")
        .alias("total_convert_us"),
    )
    return c1.crossJoin(F.broadcast(c2)).crossJoin(F.broadcast(c3))


@query(
    "ev_stream_foreachbatch_upsert",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events, {_DSUM_VAL} AS total_value
FROM events
GROUP BY user_id
""",
    tags=("events", "streaming", "foreachBatch", "merge", "exactly-once"),
)
def ev_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch + keyed MERGE — the canonical PRODUCTION STREAMING
    SINK pattern (the one the Structured Streaming guide recommends
    for upserts into warehouses): the events file is staged THREE
    times (an at-least-once source replaying every record twice) and
    drained in per-file micro-batches; each batch MERGEs into a
    versioned keyed table via operators/merge.py upsert (update-wins
    on event_id), so replays overwrite themselves instead of
    duplicating. The final table is aggregated per user and checked
    against the SINGLE-COPY oracle — the row only matches if the
    merge made a 3× replay idempotent, which is the exactly-once
    upsert property AS a correctness row. Complements
    ev_stream_dedup_ingest (dropDuplicates state inside the stream):
    here dedup lives in the SINK table, surviving stream restarts
    with zero in-stream state.

    Version-per-batch writes keep the sink atomic: a batch writes
    v{{n}} completely before it becomes the next batch's base, so a
    crashed batch leaves the previous version intact (the same
    pointer-swap protocol as sources/pydatasource.py's manifest).

    Plan shape at 100 TB: a real deployment makes the merge
    partition-scoped (Delta/Iceberg MERGE rewrites only matched
    partitions); the full-table rewrite here is the fixture-sized
    stand-in, while the PATTERN under test — idempotent keyed merge
    per micro-batch, version-pointer atomicity, no in-stream dedup
    state — is exactly the 100 TB one. The merge join is keyed on
    event_id, co-partitioned batch-over-batch."""
    import os as _os

    from quick_and_easy_vectordb_spark.operators.merge import upsert

    # Each run starts from an empty table; the final version outlives
    # the call because the returned DataFrame scans it lazily.
    root = fresh("fbatch_upsert", sf_dir)
    d = _events_dir(sf_dir, ("events_a", "events_b", "events_c"))
    src = read_events_stream(spark, d).select(
        "event_id", "user_id", "value"
    )

    def _merge_batch(batch_df, batch_id: int) -> None:
        versions = sorted(
            int(v[1:]) for v in _os.listdir(root) if v.startswith("v")
        )
        if versions:
            current = spark.read.parquet(_os.path.join(root, f"v{versions[-1]}"))
        else:
            current = spark.createDataFrame(
                [], "event_id long, user_id long, value double"
            )
        merged = upsert(current, batch_df, on="event_id")
        merged.write.mode("overwrite").parquet(
            _os.path.join(root, f"v{batch_id}")
        )

    q = (
        src.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", _os.path.join(root, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = sorted(int(v[1:]) for v in _os.listdir(root) if v.startswith("v"))
    table = spark.read.parquet(_os.path.join(root, f"v{final[-1]}"))
    return table.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Round 6 continuation: bitmap distinct counting, interval concurrency,
# changepoint detection, sketch set algebra
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000


@query(
    "ev_bitmap_daily_actives",
    oracle="""
WITH e AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, user_id
  FROM events
)
SELECT day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
       CAST(COUNT(DISTINCT user_id // 32) AS BIGINT) AS n_words
FROM e GROUP BY day
""",
    tags=("events", "bitmap", "distinct", "dau"),
)
def ev_bitmap_daily_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT daily-active-users via BITMAP aggregation (the
    roaring-bitmap technique every OLAP engine uses for distinct-user
    rollups): user ids are bucketed into 32-bit words
    (word = uid//32, bit = uid%32), a per-(day, word) BIT_OR collapses
    all activity into one long per word, and the daily count is the
    sum of popcounts. The oracle is the naive COUNT(DISTINCT) — a
    result match proves the bitmap algebra end to end.

    Plan shape at 100 TB: the shuffle carries (day, word, bitmap)
    rows — at most n_users/32 longs per day regardless of event
    volume, with map-side BIT_OR partials absorbing the per-partition
    duplication before the exchange (vs COUNT DISTINCT's
    (day, user) expansion). Bitmaps also merge across days/nodes by
    OR, which ev_rolling_wau_bitmap exploits. 32-bit words keep the
    1<<bit mask inside non-negative long range in every engine."""
    ev = load_table(spark, sf_dir, "events")
    words = ev.select(
        F.floor(F.unix_micros("ts") / _DAY_US).cast("long").alias("day"),
        F.floor(F.col("user_id") / 32).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").alias(
            "mask"
        ),
    )
    bm = words.groupBy("day", "word").agg(F.bit_or("mask").alias("bm"))
    return bm.groupBy("day").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("n_active"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


@query(
    "ev_rolling_wau_bitmap",
    oracle="""
WITH e AS (
  SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM e)
SELECT d.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau_7d
FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
""",
    tags=("events", "bitmap", "distinct", "rolling-window", "wau"),
)
def ev_rolling_wau_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day via BITMAP OR-MERGE — the
    query COUNT DISTINCT cannot do incrementally: a user active on
    day d and d-3 must count ONCE in every window containing both.
    Each (day, word) bitmap from the daily layer is contributed to the
    7 windows it can influence (a bounded x7 explode — the same
    bucket-fanout trick as the binned range join), windows OR-merge
    per word, and the answer is a popcount sum. The oracle is the
    naive self-join COUNT(DISTINCT) over the trailing window.

    Plan shape at 100 TB: two shuffles of word-level bitmaps
    (O(users/32) per day, never per-event rows); the x7 fanout is a
    constant. This is how a 100 TB lakehouse serves WAU/MAU without
    re-scanning 7 days of raw events per day — daily bitmaps are the
    incremental state, OR is the merge."""
    ev = load_table(spark, sf_dir, "events")
    words = ev.select(
        F.floor(F.unix_micros("ts") / _DAY_US).cast("long").alias("day"),
        F.floor(F.col("user_id") / 32).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").alias(
            "mask"
        ),
    )
    # daily bitmaps feed the x7 fanout AND the observed-day grid;
    # persisted so the event-sized aggregation runs once.
    daily = words.groupBy("day", "word").agg(F.bit_or("mask").alias("bm")).persist()
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
        "word",
        "bm",
    )
    rolled = contrib.groupBy("day", "word").agg(F.bit_or("bm").alias("bm"))
    observed = daily.select("day").distinct()
    return (
        rolled.join(observed, "day")
        .groupBy("day")
        .agg(F.sum(F.bit_count("bm")).cast("long").alias("wau_7d"))
    )


@query(
    "ev_max_concurrent_sessions",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sids AS (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid, MIN(us) AS s_us, MAX(us) AS e_us
  FROM sids GROUP BY user_id, sid
),
per_hour AS (
  SELECT s_us, e_us,
         unnest(range(s_us // 3600000000, e_us // 3600000000 + 1)) AS hr
  FROM sess
),
pts AS (
  SELECT hr, GREATEST(s_us, hr * 3600000000) AS t, 1 AS d FROM per_hour
  UNION ALL
  SELECT hr, e_us + 1 AS t, -1 AS d FROM per_hour
  WHERE e_us + 1 < (hr + 1) * 3600000000
),
merged AS (SELECT hr, t, SUM(d) AS d FROM pts GROUP BY 1, 2),
run AS (
  SELECT hr, t, SUM(d) OVER (PARTITION BY hr ORDER BY t) AS pfx FROM merged
),
hp AS (SELECT hr, MAX(pfx) AS peak_hr FROM run GROUP BY hr)
SELECT CAST(hr // 24 AS BIGINT) AS day,
       CAST(MAX(peak_hr) AS BIGINT) AS peak_concurrent
FROM hp GROUP BY 1
""",
    tags=("events", "interval", "sweep-line", "sessionize", "concurrency"),
)
def ev_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY per day — the classic interval sweep-line
    ("how many sessions were open at once"), decomposed so no global
    sort exists: sessions (30-min-gap sessionize) are CLIPPED to each
    hour they span (bounded explode), each hour runs an independent
    prefix-sum sweep over its clipped +1/-1 deltas, and the daily
    peak is the max over hourly peaks — exact because every instant
    belongs to exactly one hour and a spanning session surfaces as a
    +1 at the hour-start instant (operators/intervals.py documents
    why clipping replaced the carry-in formulation: a subtle
    boundary undercount, and a plan that re-traversed sessions three
    times).

    Plan shape at 100 TB: one user-keyed shuffle for sessionize
    (spill-guarded by scaled_shuffle_partitions), then a single
    linear chain — explode, (hr,t) merge, per-hour window, two
    rollups; the sweep's sort is PARTITIONED by hour (thousands of
    independent sweeps), never a global order-by-time pass, and the
    decomposition chains to minutes if a single hour is too hot."""
    from quick_and_easy_vectordb_spark.operators.intervals import (
        peak_concurrency_daily,
        sessionize_intervals,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    sess = sessionize_intervals(ev)
    return peak_concurrency_daily(sess)


@query(
    "ev_cusum_changepoint",
    oracle="""
WITH h AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DECIMAL(25,10)) AS s
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type,
         CAST(SUM(s) AS DECIMAL(38,10)) AS t,
         CAST(COUNT(*) AS DECIMAL(12,0)) AS n
  FROM h GROUP BY event_type
),
dev AS (
  SELECT h.event_type, h.hr,
         h.s * tot.n - tot.t AS dev, tot.n
  FROM h JOIN tot ON tot.event_type = h.event_type
),
cs AS (
  SELECT event_type, hr, n,
         SUM(dev) OVER (PARTITION BY event_type ORDER BY hr) AS cusum
  FROM dev
),
rk AS (
  SELECT event_type, hr, n, cusum,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(cusum) DESC, hr) AS rn
  FROM cs
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_hours,
       hr AS cp_hour,
       CAST(CAST(abs(cusum) AS VARCHAR) AS DOUBLE) AS max_abs_cusum
FROM rk WHERE rn = 1
""",
    tags=("events", "time-series", "changepoint", "cusum"),
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT detection per event type: the cumulative sum
    of deviations from the series mean peaks (in absolute value) at
    the most likely level-shift hour (Page 1954). Division-free by
    construction: deviations are computed as H*s_t - T (hour count
    times hourly sum minus total) in DECIMAL with operand widths
    chosen so every product/sum stays inside (38,10) EXACTLY in both
    engines — a mean-based formulation would re-cast a pre-aggregated
    double to decimal, the cross-engine divergence class SURVEY §:
    exactness notes pin. The argmax tiebreak is earliest hour.

    Plan shape at 100 TB: the raw scan collapses to O(types*hours)
    rows in one map-side-combined aggregation; the prefix sum windows
    over a per-type partition of that tiny series; the join-back of
    per-type totals broadcasts. Adding a per-series key (user,
    region) scales the partition count, not the partition size."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / _HOUR_US).cast("long").alias("hr"),
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("decimal(25,10)")
        .alias("s")
    ).persist()  # O(types*hours) series, read by totals + deviations
    tot = h.groupBy("event_type").agg(
        F.sum("s").cast("decimal(38,10)").alias("t"),
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
    )
    dev = h.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hr",
        "n",
        (F.col("s") * F.col("n") - F.col("t")).alias("dev"),
    )
    cw = Window.partitionBy("event_type").orderBy("hr")
    cs = dev.withColumn("cusum", F.sum("dev").over(cw))
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.asc("hr")
    )
    return (
        cs.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            F.col("hr").alias("cp_hour"),
            F.abs(F.col("cusum")).cast("string").cast("double").alias("max_abs_cusum"),
        )
    )


@query(
    "ev_kmv_set_ops",
    oracle=f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id,
         ('0x' || substr(md5('kmv-v1:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM du
),
kept AS (
  SELECT event_type, user_id, h FROM (
    SELECT event_type, user_id, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
    FROM h
  ) WHERE rn <= {_KMV_K}
),
onetype AS (
  SELECT event_type,
         COUNT(*) AS n_k, MAX(h) AS h_k
  FROM kept GROUP BY event_type
),
est1 AS (
  SELECT event_type,
         CASE WHEN n_k < {_KMV_K} THEN CAST(n_k AS DOUBLE)
              ELSE CAST({(_KMV_K - 1) * _KMV_SCALE} AS DOUBLE)
                   / CAST(h_k AS DOUBLE) END AS est
  FROM onetype
),
types AS (SELECT DISTINCT event_type FROM du),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
pk AS (
  SELECT DISTINCT p.type_a, p.type_b, k.user_id, k.h
  FROM pairs p JOIN kept k
    ON k.event_type = p.type_a OR k.event_type = p.type_b
),
uk AS (
  SELECT type_a, type_b, n_k, h_k FROM (
    SELECT type_a, type_b,
           COUNT(*) OVER (PARTITION BY type_a, type_b) AS n_all,
           row_number() OVER (PARTITION BY type_a, type_b
                              ORDER BY h, user_id) AS rn,
           COUNT(*) OVER (PARTITION BY type_a, type_b
                          ORDER BY h, user_id
                          ROWS UNBOUNDED PRECEDING) AS n_k,
           MAX(h) OVER (PARTITION BY type_a, type_b
                        ORDER BY h, user_id
                        ROWS UNBOUNDED PRECEDING) AS h_k
    FROM pk
  ) WHERE rn = LEAST(n_all, {_KMV_K})
),
estu AS (
  SELECT type_a, type_b,
         CASE WHEN n_k < {_KMV_K} THEN CAST(n_k AS DOUBLE)
              ELSE CAST({(_KMV_K - 1) * _KMV_SCALE} AS DOUBLE)
                   / CAST(h_k AS DOUBLE) END AS est_union
  FROM uk
),
exu AS (
  SELECT p.type_a, p.type_b, COUNT(DISTINCT d.user_id) AS exact_union
  FROM pairs p JOIN du d
    ON d.event_type = p.type_a OR d.event_type = p.type_b
  GROUP BY p.type_a, p.type_b
),
ex1 AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY event_type)
SELECT e.type_a, e.type_b,
       CAST(exu.exact_union AS BIGINT) AS exact_union,
       CAST(xa.n + xb.n - exu.exact_union AS BIGINT) AS exact_intersect,
       e.est_union,
       ea.est + eb.est - e.est_union AS est_intersect,
       (ea.est + eb.est - e.est_union) / e.est_union AS jaccard_est
FROM estu e
JOIN exu ON exu.type_a = e.type_a AND exu.type_b = e.type_b
JOIN est1 ea ON ea.event_type = e.type_a
JOIN est1 eb ON eb.event_type = e.type_b
JOIN ex1 xa ON xa.event_type = e.type_a
JOIN ex1 xb ON xb.event_type = e.type_b
""",
    tags=("events", "sketch", "kmv", "set-ops", "jaccard"),
)
def ev_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET ALGEBRA over every pair of event types: union
    cardinality straight from the MERGED sketch (the bottom-k of
    A union B is always contained in bottomk(A) union bottomk(B) — the
    closure property that makes KMV mergeable), intersection by
    inclusion-exclusion on the estimates, and a Jaccard estimate as
    their ratio — audited against exact unions/intersections. This is
    the audience-overlap / cross-contamination query at sketch cost:
    once per-type sketches exist, every pairwise overlap is O(k)
    arithmetic, no re-scan of the fact table.

    Plan shape at 100 TB: the only data-sized work is the per-type
    bottom-k (same two-level reduction as ev_kmv_distinct_estimate);
    the pair lattice operates on <=types*k sketch rows — with 1000
    types that is a few hundred thousand rows for half a million
    pairwise overlaps. The exact-side audit joins exist only for the
    correctness gate. All estimates are pure md5 functions —
    bit-identical across engines, so the sketch VALUES are verified,
    not just bounds."""
    ev = load_table(spark, sf_dir, "events")
    # du feeds four consumers (sketch build, per-type counts, pair
    # unions); persisted so the distinct-(type,user) shuffle — the
    # only data-sized work here — happens once instead of per branch
    # (same multi-consumer persist pattern as operators/graph.py:56).
    # Its footprint is the distinct count, not the event count.
    du = ev.select("event_type", "user_id").distinct().persist()
    h = du.withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv-v1:"), F.col("user_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long"),
    )
    w1 = Window.partitionBy("event_type").orderBy("h", "user_id")
    kept = (
        h.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
        .persist()  # O(types * k) rows, read by 3 sketch branches
    )
    est_expr = lambda n_k, h_k: F.when(  # noqa: E731
        F.col(n_k) < _KMV_K, F.col(n_k).cast("double")
    ).otherwise(
        F.lit((_KMV_K - 1) * _KMV_SCALE).cast("double") / F.col(h_k).cast("double")
    )
    one = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_k"), F.max("h").alias("h_k")
    )
    est1 = one.select("event_type", est_expr("n_k", "h_k").alias("est"))
    types = du.select("event_type").distinct()
    # the pair lattice is the ONLY intentionally non-equi join here —
    # O(types^2) rows of strings; persisted so its 4 consumers (two
    # sketch attaches, two exact attaches) read one materialization.
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
        .persist()
    )
    # attach each kept row to its pairs via TWO equi-joins (as the
    # left and as the right member) — an OR predicate would force a
    # nested-loop over the pair lattice, quadratic in type count.
    pk = (
        kept.join(F.broadcast(pairs), kept["event_type"] == pairs["type_a"])
        .select("type_a", "type_b", "user_id", "h")
        .unionAll(
            kept.join(
                F.broadcast(pairs), kept["event_type"] == pairs["type_b"]
            ).select("type_a", "type_b", "user_id", "h")
        )
        .distinct()
    )
    w2 = Window.partitionBy("type_a", "type_b").orderBy("h", "user_id")
    uk = (
        pk.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("un_k"), F.max("h").alias("uh_k"))
    )
    estu = uk.select("type_a", "type_b", est_expr("un_k", "uh_k").alias("est_union"))
    exu = (
        du.join(F.broadcast(pairs), du["event_type"] == pairs["type_a"])
        .select("type_a", "type_b", "user_id")
        .unionAll(
            du.join(
                F.broadcast(pairs), du["event_type"] == pairs["type_b"]
            ).select("type_a", "type_b", "user_id")
        )
        .distinct()
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_union"))
    )
    ex1 = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ea = est1.select(F.col("event_type").alias("type_a"), F.col("est").alias("est_a"))
    eb = est1.select(F.col("event_type").alias("type_b"), F.col("est").alias("est_b"))
    xa = ex1.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    xb = ex1.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        estu.join(exu, ["type_a", "type_b"])
        .join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(F.broadcast(xa), "type_a")
        .join(F.broadcast(xb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("exact_union").cast("long").alias("exact_union"),
            (F.col("n_a") + F.col("n_b") - F.col("exact_union"))
            .cast("long")
            .alias("exact_intersect"),
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersect"
            ),
            (
                (F.col("est_a") + F.col("est_b") - F.col("est_union"))
                / F.col("est_union")
            ).alias("jaccard_est"),
        )
    )


_STRAT_K = 50


@query(
    "ev_stratified_sample_alloc",
    oracle=f"""
WITH s AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type),
t AS (SELECT COUNT(*) AS total FROM events),
alloc AS (
  SELECT s.event_type,
         GREATEST(1, ({_STRAT_K} * s.n) // t.total) AS n_alloc
  FROM s, t
),
rk AS (
  SELECT event_type, event_id, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5('strat-v1:' || CAST(event_id AS VARCHAR)), event_id
         ) AS rn
  FROM events
)
SELECT rk.event_type, CAST(rk.rn AS BIGINT) AS rn, rk.event_id, rk.user_id,
       CAST(a.n_alloc AS BIGINT) AS n_alloc
FROM rk JOIN alloc a ON a.event_type = rk.event_type
WHERE rk.rn <= a.n_alloc
""",
    tags=("events", "sampling", "stratified", "deterministic"),
)
def ev_stratified_sample_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED sampling with PROPORTIONAL ALLOCATION, fully
    deterministic: each stratum (event type) gets
    floor(K * n_s / N) slots (min 1 — floor allocation; the
    largest-remainder top-up is a trivial extension), filled by the
    md5-minimum rule — rank events by md5('strat-v1:' || id) and keep
    the first n_alloc. Unlike df.sample() (engine- and
    partitioning-dependent RNG, never cross-engine verifiable), the
    hash rank makes the EXACT sampled rows a pure function of the
    data, so the sample itself is oracle-checked, reproducible across
    reruns, and stable under repartitioning — the property an
    auditable training-data pipeline needs from its samplers.

    Plan shape at 100 TB: allocation is an O(strata) broadcast; the
    rank window carries a LITERAL rn <= K pre-filter (valid because
    n_alloc <= K by construction) so WindowGroupLimit bounds
    per-partition state at O(K), not O(events) — the join-derived
    n_alloc bound alone could not push below the sort. Same skeleton
    as ev_topk_per_type with a hash in place of a business column."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    t = ev.agg(F.count(F.lit(1)).alias("total"))
    alloc = s.crossJoin(F.broadcast(t)).select(
        "event_type",
        F.greatest(
            F.lit(1), F.floor(F.lit(_STRAT_K) * F.col("n") / F.col("total"))
        ).alias("n_alloc"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("strat-v1:"), F.col("event_id").cast("string"))),
        "event_id",
    )
    # literal rn <= K first: n_alloc <= K by construction, and a
    # LITERAL bound is what WindowGroupLimit can push below the sort
    # (the join-derived n_alloc bound cannot); the join filter then
    # refines within the K survivors.
    rk = ev.select(
        "event_type", "event_id", "user_id", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _STRAT_K)
    return (
        rk.join(F.broadcast(alloc), "event_type")
        .filter(F.col("rn") <= F.col("n_alloc"))
        .select(
            "event_type",
            F.col("rn").cast("long").alias("rn"),
            "event_id",
            "user_id",
            F.col("n_alloc").cast("long").alias("n_alloc"),
        )
    )


@query(
    "ev_stream_bitmap_actives",
    oracle="""
SELECT CAST(epoch_us(ts) // 86400000000 * 86400 AS BIGINT) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
       CAST(COUNT(DISTINCT user_id // 32) AS BIGINT) AS n_words
FROM events GROUP BY 1
""",
    tags=("events", "streaming", "bitmap", "distinct", "dau"),
)
def ev_stream_bitmap_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users maintained as INCREMENTAL STREAMING BITMAP
    state: the stream aggregates BIT_OR per (day-window, word) — the
    same word-bucketed layout as the batch ev_bitmap_daily_actives,
    but held in the state store and updated by OR as events arrive
    (OR is idempotent and commutative, so replays and out-of-order
    batches converge to the same registers — the property that makes
    bitmaps the right streaming-distinct state, vs a count that
    double-increments on replay). The batch rollup of the sink sums
    popcounts per day; the oracle is the exact COUNT(DISTINCT).

    Plan shape at 100 TB: state is O(users/32) longs per open day —
    ~3 MB per 100M users — hash-partitioned by (window, word) across
    executors; in the incremental deployment a watermark closes
    day windows and evicts their registers. Contrast with
    ev_distinct_users_hourly_streamed (one state row per
    user-hour): the bitmap holds 32 users per row, trading row count
    for fixed-width registers."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    bm = (
        src.select(
            F.window("ts", "1 day").alias("w"),
            F.floor(F.col("user_id") / 32).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
            ).alias("mask"),
        )
        .groupBy(F.col("w.start").alias("day_start"), "word")
        .agg(F.bit_or("mask").alias("bm"))
    )
    out = drain(bm, "ev_stream_bitmap_actives_sink", "complete")
    return (
        out.groupBy(F.unix_timestamp("day_start").alias("window_start"))
        .agg(
            F.sum(F.bit_count("bm")).cast("long").alias("n_active"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )


@query(
    "ev_burst_detection",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us FROM events
),
w AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY us
                        RANGE BETWEEN CURRENT ROW
                        AND 299999999 FOLLOWING) AS burst
  FROM e
),
mx AS (SELECT user_id, MAX(burst) AS max_burst FROM w GROUP BY user_id)
SELECT CAST(max_burst AS BIGINT) AS max_burst,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM mx GROUP BY 1
""",
    tags=("events", "burst", "rate-limit", "range-frame"),
)
def ev_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURST DETECTION (bot/rate-limit signal): each user's maximum
    event count inside ANY 5-minute window, computed exactly with a
    forward RANGE frame anchored at each event (a burst's peak window
    always starts at one of its events, so per-event forward counts
    cover every candidate window — no time grid needed, no
    approximation from bucketing). Output is the corpus-level burst
    histogram (max_burst -> user count), the distribution a rate
    limiter is calibrated against.

    Plan shape at 100 TB: one user-keyed shuffle; the range frame
    scans each user's sorted timeline with a sliding two-pointer —
    O(events) work and O(window) state per user, the same cost class
    as a lag window. The rollups are map-side combinable."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.currentRow, 299_999_999)
    )
    mx = (
        ev.withColumn("burst", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("burst").alias("max_burst"))
    )
    return mx.groupBy(F.col("max_burst").cast("long").alias("max_burst")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@query(
    "ev_funnel_time_to_convert",
    oracle="""
WITH f AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS first_purchase
  FROM events GROUP BY user_id
),
conv AS (
  SELECT user_id, first_purchase - first_view AS latency_us
  FROM f
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
)
SELECT CAST((SELECT COUNT(*) FROM f WHERE first_view IS NOT NULL) AS BIGINT)
         AS n_viewers,
       CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(MIN(latency_us) AS BIGINT) AS min_latency_us,
       quantile_cont(latency_us, 0.5) AS p50_latency_us,
       quantile_cont(latency_us, 0.9) AS p90_latency_us,
       CAST(MAX(latency_us) AS BIGINT) AS max_latency_us
FROM conv
""",
    tags=("events", "funnel", "latency", "percentiles"),
)
def ev_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution — the funnel's missing axis (ev_funnel
    counts WHO converts; this measures HOW LONG): per user, latency from
    first view to first purchase (ordered: purchase at-or-after view),
    summarized as exact interpolated percentiles. Latencies are integer
    micros and the p50/p90 interpolation is the same two-exact-longs
    IEEE step in both engines (the ev_interarrival_stats precedent).

    Plan shape at 100 TB: one map-side-combined groupBy(user) with
    conditional MINs (no per-event-type join), then a fixed-size
    summary. The percentile over per-user latencies is the only
    all-to-one reduction and runs over n_users rows, not events."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "first_purchase"
        ),
    ).persist()  # read by the viewer count and the latency summary
    conv = f.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).alias("latency_us"))
    viewers = f.filter(F.col("first_view").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_viewers")
    )
    return viewers.crossJoin(
        conv.agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.min("latency_us").cast("long").alias("min_latency_us"),
            F.expr("percentile(latency_us, 0.5)").alias("p50_latency_us"),
            F.expr("percentile(latency_us, 0.9)").alias("p90_latency_us"),
            F.max("latency_us").cast("long").alias("max_latency_us"),
        )
    ).select(
        F.col("n_viewers").cast("long").alias("n_viewers"),
        "n_converted",
        "min_latency_us",
        "p50_latency_us",
        "p90_latency_us",
        "max_latency_us",
    )


@query(
    "ev_gapfill_interpolate",
    oracle="""
WITH daily AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS day_value
  FROM events WHERE user_id % 5 = 0
  GROUP BY user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT)
),
bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM bounds
),
joined AS (
  SELECT g.user_id, g.day, d.day_value,
         last_value(d.day_value IGNORE NULLS) OVER w AS v_prev,
         last_value(CASE WHEN d.day_value IS NOT NULL THEN g.day END
                    IGNORE NULLS) OVER w AS d_prev,
         first_value(d.day_value IGNORE NULLS) OVER wf AS v_next,
         first_value(CASE WHEN d.day_value IS NOT NULL THEN g.day END
                     IGNORE NULLS) OVER wf AS d_next
  FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
  WINDOW w AS (PARTITION BY g.user_id ORDER BY g.day
               ROWS UNBOUNDED PRECEDING),
         wf AS (PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       CASE WHEN day_value IS NOT NULL THEN day_value
            ELSE v_prev + (v_next - v_prev) * (day - d_prev)
                 / (d_next - d_prev) END AS filled_value,
       CASE WHEN day_value IS NULL THEN 1 ELSE 0 END AS interpolated
FROM joined
""",
    tags=("events", "time-series", "gap-fill", "interpolation"),
)
def ev_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-INTERPOLATION gap fill — the imputation a sequence model
    wants when activity is a LEVEL, not an event count (sensor
    readings, balances): missing days get
    v_prev + (v_next - v_prev) * (day - d_prev)/(d_next - d_prev),
    the straight line between the surrounding observations
    (ev_resample_gapfill is the LOCF step-function twin; shipping both
    pins the two imputation semantics). Interpolation inputs are the
    decimal-exact daily sums, and the arithmetic is the identical
    IEEE multiply-add in both engines; the grid's endpoints are
    always observed, so every gap is interior and the denominator
    is never zero.

    Plan shape at 100 TB: one user-keyed shuffle shared by the dense
    grid join and BOTH fill windows (forward for prev, backward for
    next — two window passes over the same partitioning, no extra
    exchange)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    daily = ev.groupBy(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(dsum("value").alias("day_value"))
    bounds = daily.groupBy(F.col("user_id").alias("b_user")).agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        F.col("b_user").alias("user_id"),
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    wb = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    filled = j.select(
        "user_id",
        "day",
        "day_value",
        F.last("day_value", ignorenulls=True).over(wb).alias("v_prev"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("d_prev"),
        F.first("day_value", ignorenulls=True).over(wf).alias("v_next"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("d_next"),
    )
    return filled.select(
        "user_id",
        "day",
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .otherwise(
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * (F.col("day") - F.col("d_prev"))
            / (F.col("d_next") - F.col("d_prev"))
        )
        .alias("filled_value"),
        F.when(F.col("day_value").isNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("interpolated"),
    )


@query(
    "ev_multi_distinct_profile",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT CAST(round(value) AS BIGINT)) AS BIGINT)
         AS n_value_levels
FROM events GROUP BY event_type
""",
    tags=("events", "multi-distinct", "expand", "agg"),
)
def ev_multi_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE COUNT(DISTINCT) over DIFFERENT columns in one aggregate —
    the query shape that forces Spark's EXPAND operator (each input
    row is replicated once per distinct-aggregate with a grouping-id,
    then a single two-phase aggregation dedups all three at once):
    the cardinality profile (users, active days, value levels) every
    per-segment health dashboard computes. One query, not three — the
    Expand replication is what buys the single shuffle.

    Plan shape at 100 TB: Expand multiplies rows 3x BEFORE the
    exchange, so the shuffle carries 3x(events) thinned rows — the
    planner's trade against running three separate jobs (3 full
    scans). When the 3x shuffle dominates, the alternative is one
    pass of per-column sketches (ev_kmv_distinct_estimate's path) —
    both layouts exist in this engine, which is the point."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count_distinct(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
        ).cast("long").alias("n_days"),
        F.count_distinct(F.round("value").cast("long"))
        .cast("long")
        .alias("n_value_levels"),
    )


@query(
    "ev_holt_linear_forecast",
    oracle="""
WITH RECURSIVE h AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
ser AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY hr) AS i
  FROM h
),
n AS (SELECT event_type, COUNT(*) AS n_hours,
             CAST(SUM(CAST(x AS BIGINT)) AS BIGINT) AS total_events
      FROM ser GROUP BY event_type),
f AS (
  SELECT event_type, i, x AS l, CAST(0 AS DOUBLE) AS b
  FROM ser WHERE i = 1
  UNION ALL
  SELECT s.event_type, s.i,
         0.5 * s.x + 0.5 * (f.l + f.b) AS l,
         0.5 * s.x - 0.5 * (0.5 * s.x + 0.5 * (f.l + f.b)) + f.b AS b
  FROM f JOIN ser s ON s.event_type = f.event_type AND s.i = f.i + 1
)
SELECT f.event_type,
       CAST(n.n_hours AS BIGINT) AS n_hours,
       n.total_events,
       f.l AS level,
       f.b AS trend,
       f.l + f.b AS forecast_next
FROM f JOIN n ON n.event_type = f.event_type AND f.i = n.n_hours
""",
    tags=("events", "time-series", "forecast", "holt", "fold"),
)
def ev_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR-TREND forecast (double exponential smoothing,
    alpha = beta = 0.5) over each type's hourly count series — the
    one-step capacity forecast, and the representative of
    INHERENTLY-SEQUENTIAL per-series recurrences expressed as an
    ORDERED ARRAY FOLD (F.aggregate over the collected series with a
    STRUCT accumulator), seeded from the first observation; the
    oracle replays the same recurrence as a RECURSIVE CTE (DuckDB's
    list_reduce mis-evaluates struct accumulators beyond two
    elements — found while building this oracle — so the recursion,
    not the fold, is the reliable SQL spelling). The trend update is
    written as b_new = 0.5*x - 0.5*l_new + b_old in BOTH engines
    (algebraically the classical 0.5*(l_new - l_old) + 0.5*b_old),
    with the identical expression shape, so every IEEE step
    matches.

    Plan shape at 100 TB: the raw scan collapses to O(types*hours)
    map-side; each series folds WITHIN its group's collected array —
    state is one (level, trend) struct per series, and a million
    independent series parallelize as a million cheap folds (the
    same per-key-sequential / cross-key-parallel layout as
    applyInPandasWithState, without Python)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / _HOUR_US).cast("long").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    ser = h.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("hr", "n"))),
            lambda s: F.struct(
                s.n.cast("double").alias("l"), F.lit(0.0).alias("b")
            ),
        ).alias("arr"),
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").cast("long").alias("total_events"),
    )

    def merge(acc, e):
        # mirrors the oracle's sequential-accumulator form:
        # b_new = 0.5*e - 0.5*l_new + b_old (see the oracle comment)
        l_new = F.lit(0.5) * e.l + F.lit(0.5) * (acc.l + acc.b)
        return F.struct(
            l_new.alias("l"),
            (F.lit(0.5) * e.l - F.lit(0.5) * l_new + acc.b).alias("b"),
        )

    fit = ser.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        "total_events",
        F.aggregate(
            F.slice(F.col("arr"), 2, F.size("arr") - 1),
            F.element_at(F.col("arr"), 1),
            merge,
        ).alias("st"),
    )
    return fit.select(
        "event_type",
        "n_hours",
        "total_events",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + F.col("st.b")).alias("forecast_next"),
    )


@query(
    "ev_ks_two_sample",
    oracle="""
WITH e AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('click', 'view')
),
per AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
  FROM e GROUP BY value
),
cum AS (
  SELECT value,
         SUM(c1) OVER (ORDER BY value) AS a1,
         SUM(c2) OVER (ORDER BY value) AS a2
  FROM per
),
tot AS (SELECT MAX(a1) AS n1, MAX(a2) AS n2 FROM cum)
SELECT CAST(tot.n1 AS BIGINT) AS n1,
       CAST(tot.n2 AS BIGINT) AS n2,
       CAST(MAX(ABS(a1 * tot.n2 - a2 * tot.n1)) AS BIGINT) AS max_num,
       CAST(MAX(ABS(a1 * tot.n2 - a2 * tot.n1)) AS DOUBLE)
         / (tot.n1 * tot.n2) AS ks_stat
FROM cum, tot
GROUP BY tot.n1, tot.n2
""",
    tags=("events", "statistics", "distribution-shift", "ks-test"),
)
def ev_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV–SMIRNOV statistic between the `click` and
    `view` value distributions — the nonparametric drift test a data
    pipeline runs between yesterday's and today's feature
    distribution before a model retrain (complements
    text_source_divergence_tv, which needs binning; KS is
    binning-free). D = max over the pooled support of
    |ECDF1 − ECDF2|, kept EXACT and division-free until the final
    step: the running difference is the integer
    |a1·n2 − a2·n1| (a_i = cumulative counts), whose max divided by
    n1·n2 is D — no per-row double rounding can accumulate.

    Plan shape at 100 TB: a (value)-grouped count collapses the fact
    table to its distinct support first (map-side combine). The ECDF
    prefix sum is DISTRIBUTED, not a single-partition window: values
    are range-bucketed (floor(value/8)), the cumsum runs per bucket in
    parallel, and each bucket adds a broadcast offset = the prefix
    total of all lower buckets (classic two-level scan: ~62 bucket
    totals on the driver-free broadcast path). The final max is one
    map-side-combined aggregate. Nothing global-sorts the support."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
    ).withColumn("bkt", F.floor(F.col("value") / F.lit(8.0)))
    # Two-level distributed prefix sum: per-bucket cumsum + broadcast
    # bucket-offset table (offset = sum of all strictly-lower buckets).
    wb = Window.partitionBy("bkt").orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    woff = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        per.groupBy("bkt")
        .agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
        .select(
            "bkt",
            F.coalesce(F.sum("t1").over(woff), F.lit(0)).alias("o1"),
            F.coalesce(F.sum("t2").over(woff), F.lit(0)).alias("o2"),
        )
    )
    cum = per.join(F.broadcast(offsets), "bkt").select(
        (F.col("o1") + F.sum("c1").over(wb)).alias("a1"),
        (F.col("o2") + F.sum("c2").over(wb)).alias("a2"),
    )
    tot = cum.agg(F.max("a1").alias("n1"), F.max("a2").alias("n2"))
    num = cum.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.abs(F.col("a1") * F.col("n2") - F.col("a2") * F.col("n1")).alias("d"),
    )
    return num.groupBy("n1", "n2").agg(F.max("d").alias("max_num")).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("max_num").cast("long").alias("max_num"),
        (F.col("max_num").cast("double") / (F.col("n1") * F.col("n2"))).alias(
            "ks_stat"
        ),
    )


@query(
    "ev_welch_ab_test",
    oracle="""
WITH e AS (
  SELECT user_id % 2 AS variant, value FROM events
  WHERE event_type = 'purchase'
),
s AS (
  SELECT
    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
    CAST(CAST(SUM(CASE WHEN variant = 0
        THEN CAST(value AS DECIMAL(30,10)) END) AS VARCHAR) AS DOUBLE) AS s_a,
    CAST(CAST(SUM(CASE WHEN variant = 1
        THEN CAST(value AS DECIMAL(30,10)) END) AS VARCHAR) AS DOUBLE) AS s_b,
    CAST(CAST(SUM(CASE WHEN variant = 0
        THEN CAST(value * value AS DECIMAL(30,10)) END) AS VARCHAR) AS DOUBLE)
      AS q_a,
    CAST(CAST(SUM(CASE WHEN variant = 1
        THEN CAST(value * value AS DECIMAL(30,10)) END) AS VARCHAR) AS DOUBLE)
      AS q_b
  FROM e
),
m AS (
  SELECT n_a, n_b,
         s_a / n_a AS mean_a, s_b / n_b AS mean_b,
         (q_a - (s_a / n_a) * s_a) / (n_a - 1) AS var_a,
         (q_b - (s_b / n_b) * s_b) / (n_b - 1) AS var_b
  FROM s
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       mean_a, mean_b, var_a, var_b,
       (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
       ((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b))
         / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
            + (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS welch_dof
FROM m
""",
    tags=("events", "statistics", "ab-test", "experimentation"),
)
def ev_welch_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S unequal-variance t-test — the experimentation
    primitive behind every A/B readout: users are deterministically
    hash-assigned to variants (user_id parity — in production, a
    salted hash), per-variant mean/variance of purchase value are
    computed from decimal-exact moment sums, and the t statistic and
    Welch–Satterthwaite degrees of freedom come out as a fixed double
    expression tree (sqrt and division are IEEE-deterministic, so
    both engines produce bit-identical results; the decimal moment
    sums make the inputs identical under ANY partitioning).

    Variance via the moment identity (Σx² − x̄·Σx)/(n−1): one pass,
    no mean-first re-scan; x² ≤ 2.5e5 fits decimal(30,10) exactly to
    1e-10, and both engines round double→decimal identically (pinned
    by every dsum user in this file).

    Plan shape at 100 TB: one map-side-combined conditional aggregate
    over the scan — 6 running numbers total, no shuffle of rows, no
    second pass. The reduction is a single 1-row exchange."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v = F.col("user_id") % 2
    dec = "decimal(30,10)"
    s = e.agg(
        F.sum(F.when(v == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(v == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(v == 0, F.col("value").cast(dec))).cast("double").alias("s_a"),
        F.sum(F.when(v == 1, F.col("value").cast(dec))).cast("double").alias("s_b"),
        F.sum(F.when(v == 0, (F.col("value") * F.col("value")).cast(dec)))
        .cast("double")
        .alias("q_a"),
        F.sum(F.when(v == 1, (F.col("value") * F.col("value")).cast(dec)))
        .cast("double")
        .alias("q_b"),
    )
    m = s.select(
        "n_a",
        "n_b",
        (F.col("s_a") / F.col("n_a")).alias("mean_a"),
        (F.col("s_b") / F.col("n_b")).alias("mean_b"),
        ((F.col("q_a") - (F.col("s_a") / F.col("n_a")) * F.col("s_a"))
         / (F.col("n_a") - 1)).alias("var_a"),
        ((F.col("q_b") - (F.col("s_b") / F.col("n_b")) * F.col("s_b"))
         / (F.col("n_b") - 1)).alias("var_b"),
    )
    va_n = F.col("var_a") / F.col("n_a")
    vb_n = F.col("var_b") / F.col("n_b")
    return m.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(va_n + vb_n)).alias(
            "t_stat"
        ),
        (
            ((va_n + vb_n) * (va_n + vb_n))
            / (va_n * va_n / (F.col("n_a") - 1) + vb_n * vb_n / (F.col("n_b") - 1))
        ).alias("welch_dof"),
    )


@query(
    "ev_chisq_type_weekday",
    oracle="""
WITH o AS (
  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, SUM(n) AS r FROM o GROUP BY 1),
ct AS (SELECT dow, SUM(n) AS c FROM o GROUP BY 1),
g AS (SELECT SUM(n) AS total, COUNT(DISTINCT event_type) AS nr,
             COUNT(DISTINCT dow) AS nc FROM o),
terms AS (
  SELECT CAST(
    CAST((o.n * g.total - rt.r * ct.c) AS DOUBLE)
      * (o.n * g.total - rt.r * ct.c)
      / (CAST(g.total AS DOUBLE) * rt.r * ct.c)
    AS DECIMAL(30,10)) AS term,
    g.nr AS nr, g.nc AS nc
  FROM o
  JOIN rt ON rt.event_type = o.event_type
  JOIN ct ON ct.dow = o.dow
  CROSS JOIN g
)
SELECT CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS chi2,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
FROM terms GROUP BY nr, nc
""",
    tags=("events", "statistics", "chi-square", "independence"),
)
def ev_chisq_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON CHI-SQUARE test of independence between event type and
    day-of-week — "does traffic mix shift by weekday?", the
    categorical sibling of ev_ks_two_sample. Each cell's term is
    computed on INTEGERS as (n·N − r·c)² / (N·r·c) — n·N ≤ ~4e14 at
    this scale stays under 2⁵³, so the numerator is exact and the
    single double division is correctly rounded and identical in both
    engines — then the ~35 terms are summed in decimal so the total
    is order-independent (a plain double sum over cells would vary
    with join output order).

    DOW convention: Spark dayofweek()−1 == DuckDB dayofweek(), the
    numbering pinned by ev_weekday_seasonality's CORRECTNESS row.

    Plan shape at 100 TB: the contingency table is a map-side-combined
    (type, dow) count — 35 rows — and everything after (marginals,
    grand total, terms) is driver-free arithmetic over those 35 rows
    with broadcast joins. One shuffle of 35 rows, total."""
    e = load_table(spark, sf_dir, "events")
    o = e.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    rt = o.groupBy("event_type").agg(F.sum("n").alias("r"))
    ct = o.groupBy("dow").agg(F.sum("n").alias("c"))
    g = o.agg(
        F.sum("n").alias("total"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("dow").alias("nc"),
    )
    num = F.col("n") * F.col("total") - F.col("r") * F.col("c")
    terms = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(g))
        .select(
            (
                num.cast("double") * num
                / (F.col("total").cast("double") * F.col("r") * F.col("c"))
            ).cast("decimal(30,10)").alias("term"),
            "nr",
            "nc",
        )
    )
    return terms.groupBy("nr", "nc").agg(
        F.sum("term").cast("double").alias("chi2")
    ).select(
        "chi2",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
    )


@query(
    "ev_lag_feature_matrix",
    oracle="""
WITH p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
),
f AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         value,
         LAG(value, 1) OVER w AS lag1,
         LAG(value, 2) OVER w AS lag2,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) OVER
              (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
              AS VARCHAR) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS rolling_mean3,
         CAST(epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS BIGINT)
           AS gap_us
  FROM (SELECT user_id, ts, value, event_id FROM events
        WHERE event_type = 'purchase') t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT * FROM f
""",
    tags=("events", "feature-engineering", "window", "ml-pipeline"),
)
def ev_lag_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-FEATURE MATRIX — the classic ML feature-engineering pass
    that turns an event log into per-example training features:
    for every purchase, the user's previous two purchase values
    (lag1/lag2), a 3-row rolling mean, and the microsecond gap since
    the prior purchase. This is the batch shape of a feature store's
    point-in-time-correct backfill (only PAST rows enter each
    feature — the window frame is the leakage guard).

    The rolling mean sums in decimal so it is partition-order exact;
    ties in ts are broken by event_id so lag assignment is
    deterministic in both engines.

    Plan shape at 100 TB: one shuffle on user_id (the window's
    ClusteredDistribution), all four features from the SAME sorted
    window pass — Spark collapses the co-partitioned window specs
    into one WindowExec. Event-type pushdown reaches the scan."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    ts_us = (F.unix_micros("ts")).cast("long")
    return e.select(
        "user_id",
        ts_us.alias("ts_us"),
        "value",
        F.lag("value", 1).over(w).alias("lag1"),
        F.lag("value", 2).over(w).alias("lag2"),
        (
            F.sum(F.col("value").cast("decimal(30,10)")).over(wf).cast("double")
            / F.count(F.lit(1)).over(wf)
        ).alias("rolling_mean3"),
        (ts_us - F.unix_micros(F.lag("ts", 1).over(w))).cast("long").alias(
            "gap_us"
        ),
    )


@query(
    "ev_variant_shred",
    oracle="""
WITH v AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM v GROUP BY event_type
""",
    tags=("events", "variant", "semi-structured", "engine-surface"),
)
def ev_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT shredding (Spark 4's semi-structured type, the
    open-format answer to JSON columns at scale): `parse_json` turns
    the props string into a binary VARIANT once, `variant_get`
    extracts a TYPED path — all JVM-side, no Python, no schema
    declared up front — and the integers aggregate exactly.
    Complements ev_json_extract (string-path get_json_object): the
    VARIANT encoding is the one that survives 100 TB because the
    parse cost is paid once at ingest and every later path access is
    a binary offset lookup, not a re-parse; in a lakehouse the
    encoded column also shreds into parquet subcolumns so path reads
    prune like real columns.

    Plan shape at 100 TB: parse + extract fuse into the scan's
    project (WholeStageCodegen), then one map-side-combined grouped
    aggregate; distinct-k adds the one unavoidable pre-shuffle."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.countDistinct("k").cast("long").alias("n_distinct_k"),
    )


@query(
    "ev_stream_checkpoint_recovery",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       {_DSUM_VAL} AS total_value
FROM events GROUP BY event_type
""",
    tags=("events", "streaming", "checkpoint", "fault-tolerance"),
)
def ev_stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RESTART — the fault-tolerance contract Structured
    Streaming actually sells: a stateful aggregation runs over the
    first half of the feed, the query STOPS (simulating a crash or
    deploy), the second half arrives, and a NEW query object restarts
    from the same checkpoint. The restarted run reads ONLY the unseen
    file (the checkpoint's file-source log proves offset recovery),
    yet its complete-mode output carries the FULL totals — which is
    only possible if the aggregation STATE was recovered from the
    state store, not rebuilt from the sink. The batch oracle over the
    whole table is therefore a proof of end-to-end exactly-once
    across a restart; a failed recovery would emit second-half-only
    totals and hash-mismatch.

    Plan shape at 100 TB: per micro-batch one shuffle into the state
    store keyed by event_type (the distinct-user set state is bounded
    by |users per type|; at 100 TB swap it for the two-stage streamed
    bitmap of ev_stream_bitmap_actives — same restart contract);
    restart cost is state-store reload (O(state), not O(history)) +
    the file-source log replay (O(files seen), kept bounded by
    compaction) — the knobs a production deploy actually cares
    about."""
    import os

    def write_halves(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        for name, keep in (("h0", 0), ("h1", 1)):
            (
                ev.filter(F.col("event_id") % 2 == keep)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(d, name))
            )

    halves_dir = staged("ckpt_halves", sf_dir, write_halves)

    def _links(src_sub: str, live: str) -> None:
        sub = os.path.join(halves_dir, src_sub)
        for f in sorted(os.listdir(sub)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                os.symlink(
                    os.path.join(sub, f), os.path.join(live, f"{src_sub}_{f}")
                )

    # Live feed + checkpoint are fresh per invocation so the restart
    # sequence replays deterministically.
    run = fresh("ckpt_run", sf_dir)
    live, ckpt = os.path.join(run, "live"), os.path.join(run, "ckpt")
    os.mkdir(live)
    _links("h0", live)

    def _run(sink: str) -> DataFrame:
        agg = (
            read_events_stream(spark, live, max_files_per_trigger=None)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.collect_set("user_id").alias("_users"),
                F.sum(F.col("value").cast("decimal(30,10)")).alias("_tv"),
            )
        )
        return drain(agg, sink, "complete", checkpoint=ckpt)

    _run("ev_ckpt_run1")  # first half only; then the "crash"
    _links("h1", live)
    final = _run("ev_ckpt_run2")  # restart: reads ONLY h1, state carries h0
    return final.select(
        "event_type",
        "n_events",
        F.size("_users").cast("long").alias("n_users"),
        F.col("_tv").cast("double").alias("total_value"),
    )


@query(
    "ev_jackknife_variance",
    oracle="""
WITH h AS (
  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
         SUM(CAST(value AS DECIMAL(30,10))) AS s_dec,
         COUNT(*) AS n_h
  FROM events GROUP BY 1
),
tot AS (SELECT SUM(s_dec) AS s, SUM(n_h) AS n, COUNT(*) AS g FROM h),
e AS (
  SELECT hr,
         CAST(CAST(tot.s - h.s_dec AS VARCHAR) AS DOUBLE)
           / CAST(tot.n - h.n_h AS DOUBLE) AS est
  FROM h, tot
),
l AS (SELECT list(est ORDER BY hr) AS le FROM e),
s1 AS (SELECT le, list_reduce(le, (a, b) -> a + b) AS sum_est FROM l),
s2 AS (
  SELECT le, tot.g AS g, tot.s AS s, tot.n AS n,
         sum_est / CAST(tot.g AS DOUBLE) AS m
  FROM s1, tot
),
s3 AS (
  SELECT g, s, n, m,
         list_reduce(list_transform(le, x -> (x - m) * (x - m)),
                     (a, b) -> a + b) AS ss
  FROM s2
)
SELECT CAST(g AS BIGINT) AS n_groups,
       CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS grand_mean,
       (CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE)) * ss AS jk_var,
       sqrt((CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE)) * ss) AS jk_se
FROM s3
""",
    tags=("events", "statistics", "jackknife", "uncertainty", "fold"),
)
def ev_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-GROUP JACKKNIFE standard error for the global mean
    of `value` — the resampling-free uncertainty estimate a metrics
    platform attaches to every dashboard number (and the honest
    alternative to bootstrap when runs must be deterministic): with
    hours as the delete groups, every leave-one-hour-out estimate is
    computed IN CLOSED FORM from the per-hour aggregates
    (est_h = (S - s_h)/(N - n_h)) — no second pass over the data, no
    resampling shuffle, respecting within-hour correlation. The
    across-groups mean and squared-deviation sums run as ORDERED
    ARRAY FOLDS over the hour-sorted estimate array (the
    ev_holt_linear_forecast discipline), with per-hour sums
    decimal-exact, so every IEEE step matches the oracle's
    list_reduce replay bit-for-bit.

    Plan shape at 100 TB: ONE map-side-combined groupBy collapses
    the fact table to O(hours) rows; totals broadcast back; the fold
    runs over a ~720-element array. Jackknife over G groups costs
    O(G) after the base aggregate — independent of row count, which
    is the entire point at scale."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.floor(F.unix_micros("ts") / _HOUR_US).cast("long").alias("hr")
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)")).alias("s_dec"),
        F.count(F.lit(1)).alias("n_h"),
    )
    tot = h.agg(
        F.sum("s_dec").alias("s"),
        F.sum("n_h").alias("n"),
        F.count(F.lit(1)).alias("g"),
    )
    e = h.crossJoin(F.broadcast(tot)).select(
        "hr",
        "g",
        "s",
        "n",
        (
            (F.col("s") - F.col("s_dec")).cast("double")
            / (F.col("n") - F.col("n_h")).cast("double")
        ).alias("est"),
    )
    folded = e.groupBy("g", "s", "n").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("hr", "est"))),
            lambda r: r.est,
        ).alias("le")
    )
    with_mean = folded.select(
        "*",
        (
            F.aggregate(F.col("le"), F.lit(0.0), lambda a, x: a + x)
            / F.col("g").cast("double")
        ).alias("m"),
    )
    out = with_mean.select(
        "g",
        "s",
        "n",
        "m",
        F.aggregate(
            F.col("le"),
            F.lit(0.0),
            lambda a, x: a + (x - F.col("m")) * (x - F.col("m")),
        ).alias("ss"),
    )
    jk = ((F.col("g") - 1).cast("double") / F.col("g").cast("double")) * F.col(
        "ss"
    )
    return out.select(
        F.col("g").cast("long").alias("n_groups"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "grand_mean"
        ),
        jk.alias("jk_var"),
        F.sqrt(jk).alias("jk_se"),
    )


@query(
    "ev_ols_closed_form",
    oracle="""
WITH xy AS (
  SELECT CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS x, value AS y
  FROM events
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS sy,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS sxy,
         CAST(CAST(SUM(CAST(y * y AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS syy
  FROM xy
),
d AS (
  SELECT n, sx, sxx, sy, sxy, syy,
         CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov_n,
         CAST(n * sxx - sx * sx AS DOUBLE) AS var_x_n,
         CAST(n AS DOUBLE) * syy - sy * sy AS var_y_n
  FROM m
)
SELECT n,
       cov_n / var_x_n AS slope,
       (sy - (cov_n / var_x_n) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
         AS intercept,
       (cov_n * cov_n) / (var_x_n * var_y_n) AS r2
FROM d
""",
    tags=("events", "statistics", "regression", "ols", "ml-features"),
)
def ev_ols_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDINARY LEAST SQUARES in closed form — the daily-seasonality
    trend fit (value ~ hour-of-day) every metrics pipeline runs,
    expressed the only way a distributed engine should: ONE
    map-side-combined aggregate collects the five sufficient moments
    (Σx, Σx², Σy, Σxy, Σy² — x integer-exact, the y-moments
    decimal-exact per the functions/numeric.py discipline), and
    slope / intercept / R² fall out of the normal equations as pure
    scalar arithmetic on the 1-row moment set. Spark's built-in
    regr_slope/regr_r2 accumulate in floating point (order-dependent
    across partitionings — not bit-stable, not oracle-checkable);
    this shape is deterministic at ANY cluster layout and is how the
    engine's other statistics (Welch t, chi-square, KS) are built.

    Plan shape at 100 TB: the fit costs exactly one scan + one 1-row
    exchange regardless of row count; K independent fits (per
    segment) become one groupBy with the same moment expressions.
    Closed-form-from-moments is the zero-iteration end of the
    spectrum whose iterative end is ann_kmeans_iterated."""
    ev = load_table(spark, sf_dir, "events")
    xy = ev.select(
        (F.floor(F.unix_micros("ts") / _HOUR_US) % 24)
        .cast("long")
        .alias("x"),
        F.col("value").alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y").cast("decimal(30,10)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,10)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(30,10)"))
        .cast("double")
        .alias("syy"),
    )
    d = m.select(
        "*",
        (
            F.col("n").cast("double") * F.col("sxy")
            - F.col("sx").cast("double") * F.col("sy")
        ).alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("var_x_n"),
        (
            F.col("n").cast("double") * F.col("syy") - F.col("sy") * F.col("sy")
        ).alias("var_y_n"),
    )
    slope = F.col("cov_n") / F.col("var_x_n")
    return d.select(
        "n",
        slope.alias("slope"),
        (
            (F.col("sy") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
        (
            (F.col("cov_n") * F.col("cov_n"))
            / (F.col("var_x_n") * F.col("var_y_n"))
        ).alias("r2"),
    )


@query(
    "ev_hll_daily_union",
    oracle="""
SELECT CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS union_within_5pct,
       TRUE AS all_daily_within_5pct
FROM events
""",
    tags=("events", "sketch", "hll", "mergeable", "distinct"),
)
def ev_hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the production shape for
    incremental cardinality at 100 TB: one Apache DataSketches HLL
    sketch per day (Spark's native `hll_sketch_agg`, a binary column
    you can STORE in a daily rollup table), then `hll_union_agg` over
    the stored sketches answers "distinct users over any day range"
    without re-touching the raw events. The estimate is checked
    against the exact distinct count under the sketch's error
    contract (within 5%, far above lgK=12's ~1.6% RSE) — both the
    per-day estimates and the unioned total — so the oracle pins the
    accuracy CLAIM (the same pattern as ann_recall_at_k: the quality
    metric itself is the checked output).

    Plan shape at 100 TB: partial hll_sketch_agg runs map-side (a
    4 KB register array per day per task), the exchange carries
    sketches not user ids, and re-aggregation over stored daily
    sketches is O(days) — the raw scan happens once, ever."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = ev.groupBy(day.alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_day"),
    )
    per_day_ok = (
        F.abs(
            F.hll_sketch_estimate(F.col("sk")).cast("double")
            - F.col("exact_day")
        )
        <= 0.05 * F.col("exact_day")
    )
    rolled = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est"),
        F.min(per_day_ok).alias("all_daily_within_5pct"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    return rolled.crossJoin(F.broadcast(exact)).select(
        "n_days",
        "exact_users",
        (
            F.abs(F.col("union_est").cast("double") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("union_within_5pct"),
        "all_daily_within_5pct",
    )


@query(
    "ev_survival_life_table",
    oracle="""
WITH spans AS (
  SELECT user_id,
         CAST(date_part('epoch', MAX(ts)) - date_part('epoch', MIN(ts))
              AS BIGINT) AS span,
         CAST(date_part('epoch', MAX(ts)) AS BIGINT) AS last_s
  FROM events GROUP BY user_id
),
gm AS (
  SELECT CAST(date_part('epoch', MAX(ts)) AS BIGINT) AS gmax FROM events
),
lab AS (
  SELECT span, CASE WHEN last_s >= gmax - 3600 THEN 1 ELSE 0 END AS cen
  FROM spans, gm
),
ms AS (
  SELECT MIN(span) AS lo, (MAX(span) - MIN(span)) // 8 + 1 AS width FROM lab
),
bins AS (
  SELECT (span - lo) // width AS bin,
         CAST(SUM(1 - cen) AS BIGINT) AS n_deaths,
         CAST(SUM(cen) AS BIGINT) AS n_censored
  FROM lab, ms GROUP BY 1
),
w AS (
  SELECT bin, n_deaths, n_censored,
         CAST(SUM(n_deaths + n_censored) OVER ()
              - COALESCE(SUM(n_deaths + n_censored) OVER (
                  ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
  FROM bins
),
f AS (
  SELECT *, CAST(n_at_risk - n_deaths AS DOUBLE) / n_at_risk AS frac,
         CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS rk
  FROM w
),
a AS (SELECT array_agg(frac ORDER BY bin) AS fr FROM f)
SELECT bin, n_at_risk, n_deaths, n_censored,
       list_reduce(fr[1:CAST(rk AS INTEGER)], (x, y) -> x * y) AS survival
FROM f, a
""",
    tags=("events", "survival", "life-table", "kaplan-meier", "stats"),
)
def ev_survival_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIFE-TABLE (actuarial Kaplan-Meier) survival estimate over user
    lifetimes — the churn/retention curve: each user's observed
    lifetime is the span between their first and last event; users
    still active in the final hour of the dataset are CENSORED
    (lifetime ongoing, not ended). Lifetimes fall into 8 equi-width
    intervals spanning the observed [min, max] lifetime range; per interval the table reports n_at_risk, deaths
    (churned), censored, and the survival estimate
    S(k) = prod_{j<=k} (n_j - d_j)/n_j. The prefix product is a LEFT
    FOLD over the bin-sorted fraction array (`aggregate(slice(...))`
    here, `list_reduce` in the oracle) — the identical
    multiplication order in both engines, so even the floating
    survival curve hash-matches bitwise; every count is exact
    integer arithmetic.

    Plan shape at 100 TB: one shuffle on user_id for the span
    aggregation; everything after operates on ≤ 8 interval rows
    (broadcast scalars for the global max timestamp and bin width).
    The single-partition window over 8 rows is O(1)."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("span"),
        F.unix_timestamp(F.max("ts")).alias("last_s"),
    )
    gm = ev.agg(F.unix_timestamp(F.max("ts")).alias("gmax"))
    lab = spans.crossJoin(F.broadcast(gm)).select(
        "span",
        F.when(F.col("last_s") >= F.col("gmax") - 3600, 1)
        .otherwise(0)
        .alias("cen"),
    )
    ms = lab.agg(
        F.min("span").alias("lo"),
        ((F.max("span") - F.min("span")) / 8 + 1).cast("long").alias("width"),
    )
    bins = (
        lab.crossJoin(F.broadcast(ms))
        .groupBy(F.expr("(span - lo) div width").alias("bin"))
        .agg(
            F.sum(1 - F.col("cen")).cast("long").alias("n_deaths"),
            F.sum("cen").cast("long").alias("n_censored"),
        )
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_prev = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    ended = F.col("n_deaths") + F.col("n_censored")
    f = bins.select(
        "bin", "n_deaths", "n_censored",
        (
            F.sum(ended).over(w_all)
            - F.coalesce(F.sum(ended).over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n_at_risk"),
    ).withColumn(
        "frac",
        (F.col("n_at_risk") - F.col("n_deaths")).cast("double")
        / F.col("n_at_risk"),
    )
    one = f.agg(
        F.expr(
            "array_sort(collect_list(struct(bin, n_at_risk, n_deaths,"
            " n_censored, frac))) AS arr"
        )
    )
    return one.select(
        F.expr(
            """
inline(transform(sequence(1, size(arr)), k -> struct(
  arr[k-1].bin AS bin,
  arr[k-1].n_at_risk AS n_at_risk,
  arr[k-1].n_deaths AS n_deaths,
  arr[k-1].n_censored AS n_censored,
  aggregate(slice(transform(arr, x -> x.frac), 1, k),
            cast(1.0 AS double), (acc, x) -> acc * x) AS survival)))
"""
        )
    )


_LAG_THRESHOLDS = (0, 60, 300, 900, 3600)


@query(
    "ev_watermark_lag_audit",
    oracle=f"""
WITH arr AS (
  SELECT event_id, CAST(date_part('epoch', ts) AS BIGINT) AS ts_s
  FROM events
),
lat AS (
  SELECT MAX(ts_s) OVER (ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING) - ts_s AS lateness
  FROM arr
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lat)
{" UNION ALL ".join(
    f'''SELECT CAST({t} AS BIGINT) AS threshold_s,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lat
        WHERE lateness <= {t}) AS n_within,
       (SELECT CAST(COUNT(*) AS DOUBLE) FROM lat WHERE lateness <= {t})
         / (SELECT n FROM tot) AS pct_within'''
    for t in _LAG_THRESHOLDS)}
""",
    tags=("events", "streaming", "watermark", "out-of-order", "audit"),
)
def ev_watermark_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-LAG audit — the measurement that CONFIGURES every
    streaming query's `withWatermark` delay: per event, lateness =
    (running max of event time in ARRIVAL order) − its own event
    time; the report gives event coverage at candidate watermark
    delays {0s, 1m, 5m, 15m, 1h} — pick the smallest threshold whose
    coverage meets the pipeline's completeness SLO, and that is your
    watermark. Companion to ev_stream_dedup_within_watermark /
    ev_append_mode_finalized_windows, which CONSUME such a delay.

    Plan shape at 100 TB: the running max is the same TWO-LEVEL
    distributed prefix as ev_ks_two_sample's ECDF — arrival-bucketed
    per-partition running max plus a broadcast prefix-max offset
    table of bucket maxima (O(buckets) rows); nothing global-sorts
    the stream history. Threshold coverage is one map-side-combined
    conditional aggregate."""
    ev = load_table(spark, sf_dir, "events")
    arr = ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        (F.col("event_id") / 1024).cast("long").alias("bkt"),
    )
    wb = Window.partitionBy("bkt").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        arr.groupBy("bkt")
        .agg(F.max("ts_s").alias("bmax"))
        .select("bkt", F.max("bmax").over(woff).alias("omax"))
    )
    lat = (
        arr.join(F.broadcast(offsets), "bkt")
        .select(
            (
                F.greatest(
                    F.coalesce(F.col("omax"), F.lit(-(1 << 62))),
                    F.max("ts_s").over(wb),
                )
                - F.col("ts_s")
            ).alias("lateness")
        )
    )
    agg_cols = [F.count(F.lit(1)).cast("long").alias("n")]
    for t in _LAG_THRESHOLDS:
        agg_cols.append(
            F.sum(F.when(F.col("lateness") <= t, 1).otherwise(0))
            .cast("long")
            .alias(f"w{t}")
        )
    one = lat.agg(*agg_cols)
    rows = []
    for t in _LAG_THRESHOLDS:
        rows.append(
            one.select(
                F.lit(t).cast("long").alias("threshold_s"),
                F.col(f"w{t}").alias("n_within"),
                (F.col(f"w{t}").cast("double") / F.col("n")).alias(
                    "pct_within"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# Model-evaluation analytics: exact ROC AUC, calibration, CMS sketch.
# A training-data engine that can't score the models trained on its
# output can't close the curation loop; these run the standard offline
# metrics as distributed one-pass / one-shuffle aggregations. The
# reference (app.py:1-193) has no evaluation surface at all.
# ---------------------------------------------------------------------------


@query(
    "ev_roc_auc_exact",
    oracle="""
WITH s AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS si,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS pos
  FROM events GROUP BY 1
),
r AS (
  SELECT si, cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY si
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS off
  FROM s
),
t AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS pos_cnt,
         CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS neg_cnt,
         CAST(SUM(pos * (2 * off + cnt + 1)) AS BIGINT) AS su2
  FROM r
)
SELECT pos_cnt, neg_cnt,
       CAST(su2 - pos_cnt * (pos_cnt + 1) AS BIGINT) AS u2,
       CAST(su2 - pos_cnt * (pos_cnt + 1) AS DOUBLE)
         / (2.0 * pos_cnt * neg_cnt) AS auc
FROM t
""",
    tags=("events", "evaluation", "roc-auc", "rank", "distributed-rank"),
)
def ev_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of `value` as a score for predicting
    `event_type = 'purchase'`, via the rank formulation (Mann-Whitney
    U with midranks for ties) — no threshold sweep, no sampling, no
    trapezoid approximation. Scores are 2-decimal by construction so
    `round(value*100)` is a lossless integer key; midranks are kept
    DOUBLED (`2*offset + cnt + 1`) so every intermediate is integer
    and the only float op is the final single division
    `U2 / (2*P*N)` — bit-identical in any engine.

    The global rank over distinct scores uses the same TWO-LEVEL
    distributed prefix sum as ev_ks_two_sample / rel_ntile_deciles:
    scores range-bucket on `si div 2000`, each bucket prefix-sums its
    own counts in parallel, and a broadcast O(buckets) offset table
    lifts local prefixes to global rank offsets — no single-partition
    window ever sees the score table.

    Plan shape at 100 TB: one map-side-combined aggregate collapses
    N rows to |distinct scores|; one bucket-partitioned window plus a
    tiny broadcast; one final scalar aggregate. Adding tied scores or
    more data changes nothing structurally."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.select(
            F.round(F.col("value") * 100).cast("long").alias("si"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_pos"),
        )
        .groupBy("si")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("is_pos").cast("long").alias("pos"),
        )
        .withColumn("bkt", F.expr("si div 2000"))
    )
    wloc = Window.partitionBy("bkt").orderBy("si").rowsBetween(
        Window.unboundedPreceding, -1
    )
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        s.groupBy("bkt")
        .agg(F.sum("cnt").alias("bcnt"))
        .select(
            "bkt",
            F.coalesce(F.sum("bcnt").over(woff), F.lit(0)).alias("boff"),
        )
    )
    r = (
        s.join(F.broadcast(offsets), "bkt")
        .withColumn(
            "off",
            F.col("boff") + F.coalesce(F.sum("cnt").over(wloc), F.lit(0)),
        )
    )
    t = r.agg(
        F.sum("pos").cast("long").alias("pos_cnt"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("neg_cnt"),
        F.sum(
            F.col("pos") * (2 * F.col("off") + F.col("cnt") + 1)
        ).cast("long").alias("su2"),
    )
    return t.select(
        "pos_cnt",
        "neg_cnt",
        (F.col("su2") - F.col("pos_cnt") * (F.col("pos_cnt") + 1))
        .cast("long")
        .alias("u2"),
        (
            (F.col("su2") - F.col("pos_cnt") * (F.col("pos_cnt") + 1)).cast(
                "double"
            )
            / (F.lit(2.0) * F.col("pos_cnt") * F.col("neg_cnt"))
        ).alias("auc"),
    )


@query(
    "ev_calibration_bins",
    oracle=f"""
SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS n_pos,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
         / COUNT(*) AS frac_pos,
       ({_DSUM_VAL} / COUNT(*)) / 500.0 AS mean_pred,
       ABS(CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
             / COUNT(*)
           - ({_DSUM_VAL} / COUNT(*)) / 500.0) AS gap
FROM events
GROUP BY 1
""",
    tags=("events", "evaluation", "calibration", "reliability-diagram"),
)
def ev_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability-diagram) table: treat `value/500` as a
    predicted probability of `purchase`, bin predictions into ten
    equal-width bins, and report per bin the observed positive rate
    vs the mean prediction plus their absolute gap — the exact table
    a calibration plot / ECE computation consumes. Observed rate is a
    rational (`pos/n`, one IEEE division); mean prediction divides a
    decimal-exact sum (functions/numeric.py dsum) by the count and
    then by the literal 500.0 in that fixed order, so every float is
    the result of the same op sequence in both engines.

    Plan shape at 100 TB: ONE map-side-combined aggregate over the
    scan, 10 output rows. The bin key is computed per-row in codegen;
    nothing shuffles but 10 partial-agg rows per task."""
    ev = load_table(spark, sf_dir, "events")
    frac = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).cast("double") / F.count(F.lit(1))
    mean_pred = (dsum("value") / F.count(F.lit(1))) / F.lit(500.0)
    return (
        ev.groupBy(
            F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pos"),
            frac.alias("frac_pos"),
            mean_pred.alias("mean_pred"),
            F.abs(frac - mean_pred).alias("gap"),
        )
    )


_CMS_D = 4    # hash rows
_CMS_W = 64   # buckets per row — deliberately small so collisions occur
_CMS_TOPK = 10


def _cms_bucket_sql(row: int, key: str) -> str:
    """DuckDB fragment: CMS bucket of *key* under hash row *row* —
    mirrors the Spark conv(substr(md5,1,12),16,10) % w pipeline."""
    return (
        f"(('0x' || substr(md5('{row}:' || {key}), 1, 12))::BIGINT"
        f" % {_CMS_W})"
    )


@query(
    "ev_cms_heavy_hitters",
    oracle=f"""
WITH k AS (
  SELECT event_type || '|' || props AS key,
         CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY 1
),
counters AS (
  SELECT t.r AS r, CASE t.r
           WHEN 0 THEN {_cms_bucket_sql(0, 'key')}
           WHEN 1 THEN {_cms_bucket_sql(1, 'key')}
           WHEN 2 THEN {_cms_bucket_sql(2, 'key')}
           ELSE {_cms_bucket_sql(3, 'key')} END AS b,
         CAST(SUM(exact_cnt) AS BIGINT) AS c
  FROM k, unnest([0, 1, 2, 3]) AS t(r)
  GROUP BY 1, 2
),
est AS (
  SELECT k.key, k.exact_cnt, CAST(MIN(c.c) AS BIGINT) AS cms_est
  FROM k, unnest([0, 1, 2, 3]) AS t(r)
  JOIN counters c ON c.r = t.r AND c.b = CASE t.r
           WHEN 0 THEN {_cms_bucket_sql(0, 'k.key')}
           WHEN 1 THEN {_cms_bucket_sql(1, 'k.key')}
           WHEN 2 THEN {_cms_bucket_sql(2, 'k.key')}
           ELSE {_cms_bucket_sql(3, 'k.key')} END
  GROUP BY 1, 2
)
SELECT key, exact_cnt, cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overestimate
FROM est
ORDER BY exact_cnt DESC, key
LIMIT {_CMS_TOPK}
""",
    tags=("events", "sketch", "count-min", "heavy-hitters", "mergeable"),
)
def ev_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH over (event_type, props) keys: build a d=4 ×
    w={_CMS_W} counter matrix with deterministic md5-derived hash
    rows, then read back the CMS estimate for the top-{_CMS_TOPK}
    keys by exact count next to the truth. `w` is deliberately
    smaller than the key cardinality so bucket collisions actually
    happen and the one-sided error (`cms_est >= exact_cnt`, never
    under) is visible in the `overestimate` column — the property
    that makes CMS usable as an admission filter.

    Counters are built from the per-key counts rather than the raw
    stream: CMS increments are associative, so pre-aggregating by key
    first is bit-identical to streaming every event through the
    sketch — that pre-aggregation IS Spark's map-side partial
    combine, stated explicitly. The counter matrix is a FIXED
    d·w = {_CMS_D * _CMS_W}-cell state no matter the input size —
    the whole point of a sketch at 100 TB — and merging two sketches
    is cell-wise addition of these tables.

    Plan shape at 100 TB: one map-side-combined key count (the only
    data-sized shuffle), a {_CMS_D}× explode of the key table into a
    {_CMS_D * _CMS_W}-row counter aggregate, and a broadcast join of
    the counter table back onto the key table. No driver state."""
    ev = load_table(spark, sf_dir, "events")
    k = (
        ev.select(
            F.concat_ws("|", "event_type", "props").alias("key")
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )

    def bucket(row: int, col: str) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{row}:"), F.col(col))), 1, 12
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    hashed = k.select(
        "key",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), bucket(r, "key").alias("b")
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("key", "exact_cnt", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    counters = hashed.groupBy("r", "b").agg(
        F.sum("exact_cnt").cast("long").alias("c")
    )
    est = (
        hashed.join(F.broadcast(counters), ["r", "b"])
        .groupBy("key", "exact_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    out = est.select(
        "key",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias(
            "overestimate"
        ),
    )
    return out.orderBy(F.desc("exact_cnt"), "key").limit(_CMS_TOPK)


# ---------------------------------------------------------------------------
# Watermark-closed streaming: OUTER stream-stream join and CHAINED
# stateful aggregations. Both need the event-time watermark to pass the
# last real row before their final results exist (outer-join null
# emission / second-level window finalization), which a finite file feed
# never does on its own — the watermark stalls `delay` short of max(ts).
# The fixture therefore stages one FAR-FUTURE SENTINEL row (2124-01-01)
# as an extra source file: it drags the watermark past every real
# timestamp, while the sentinel itself stays forever unfinalized
# (watermark = sentinel_ts - delay < sentinel_ts), so it can never leak
# into the output. This is the streaming analog of a punctuation /
# end-of-stream marker — exactly what a production pipeline emits on
# topic drain before decommissioning a job.
# ---------------------------------------------------------------------------

_SENTINEL_TS = "2124-01-01 00:00:00"
_SENTINEL_NANOS = 4859827200 * 1_000_000_000


def _sentinel_dir(
    spark: SparkSession, sf_dir: str, kinds: tuple[str, ...]
) -> str:
    """Stream-source dir = events parquet + one sentinel file holding a
    far-future row per event_type in ``kinds`` (negative ids, so any
    equi-join on user_id can never match real rows). The sentinel file
    is written with the SAME logical ts type the stream reader probes
    from the source footer, so the stream source's merged schema is
    unchanged."""
    import os
    import shutil

    def write(d: str) -> None:
        _link_events(sf_dir, ("events",), d)
        src = os.path.abspath(f"{sf_dir}/events.parquet")
        one = spark.read.parquet(src).limit(1)
        ts_dtype = one.schema["ts"].dataType
        if ts_dtype.simpleString() == "bigint":  # TIMESTAMP(NANOS) as raw long
            ts_lit = F.lit(_SENTINEL_NANOS).cast("long")
        else:
            ts_lit = F.lit(_SENTINEL_TS).cast(ts_dtype)
        rows = None
        for i, et in enumerate(kinds):
            r = one.select(
                F.lit(-(i + 1)).cast("long").alias("event_id"),
                ts_lit.alias("ts"),
                F.lit(-(i + 1)).cast("long").alias("user_id"),
                F.lit(et).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )
            rows = r if rows is None else rows.unionAll(r)
        out = os.path.join(d, "_sentinel")
        rows.coalesce(1).write.mode("overwrite").parquet(out)
        leaf = sorted(
            f for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )[0]
        os.rename(
            os.path.join(out, leaf), os.path.join(d, "zz_sentinel.parquet")
        )
        shutil.rmtree(out)

    return staged("events_sentinel_" + "_".join(kinds), sf_dir, write)


@query(
    "ev_stream_left_outer_join",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_30m
FROM events p LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
""",
    tags=("events", "streaming", "stream-stream-join", "outer-join",
          "watermark-eviction"),
)
def ev_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the state-machine step
    beyond ev_stream_stream_join's inner join: a purchase with NO
    click in its preceding 30 minutes must still be emitted (null
    right side), and Structured Streaming can only do that once the
    click-side watermark proves no matching click can ever arrive.
    That makes this query certify the EVICTION path of the join state
    store, not just the match path: every null-padded row in the sink
    is a row the engine held back until the watermark closed its
    window, then released exactly once.

    The far-future sentinel (see _sentinel_dir) pushes
    the final watermark past every real purchase so the tail rows
    close too; the sentinel purchase itself is the one row the
    watermark never passes, so it stays buffered and out of the
    output by the same inequality that governs every other row.

    Oracle: the equivalent batch LEFT JOIN + COUNT(c.event_id) —
    unmatched purchases appear with n_clicks_30m = 0 only if the
    stream emitted their null-padded row.

    Plan shape at 100 TB: identical to the inner interval join (both
    sides hash-partitioned by user_id into co-located state stores,
    per-row range probe) plus the watermark-driven eviction scan; a
    shrunk production delay bounds state to O(users · 30 min)."""
    d = _sentinel_dir(spark, sf_dir, ("purchase", "click"))
    purchases = (
        read_events_stream(spark, d, max_files_per_trigger=None)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 minute")
    )
    clicks = (
        read_events_stream(spark, d, max_files_per_trigger=None)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 minute")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "c_user_id = p_user_id "
            "AND c_ts >= p_ts - INTERVAL 30 MINUTES "
            "AND c_ts < p_ts"
        ),
        "leftOuter",
    )
    out = drain(joined, "ev_stream_left_outer_join_sink", "append")
    return (
        out.groupBy("purchase_id", F.col("p_user_id").alias("user_id"))
        .agg(F.count("click_id").cast("long").alias("n_clicks_30m"))
    )


@query(
    "ev_stream_chained_agg",
    oracle="""
WITH b5 AS (
  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5_start,
         event_type, CAST(COUNT(*) AS BIGINT) AS n5
  FROM events GROUP BY 1, 2
)
SELECT CAST(floor(b5_start / 3600) * 3600 AS BIGINT) AS hour_start,
       event_type,
       CAST(MAX(n5) AS BIGINT) AS max_5m,
       CAST(SUM(n5) AS BIGINT) AS total,
       CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM b5 GROUP BY 1, 2
""",
    tags=("events", "streaming", "chained-aggregation",
          "multiple-stateful-operators"),
)
def ev_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in ONE streaming query (Spark
    3.4+ multiple-stateful-operator support): 5-minute tumbling counts
    per event type feed a second windowed aggregation that rolls them
    into hourly max/total/bucket-count — the classic two-level
    downsample (raw → 5 min → 1 h) that pre-3.4 required two jobs
    with an intermediate topic. Both levels run append-mode against
    the same watermark; the second level's window(w5, '1 hour')
    groups by the TIME COLUMN of the first level's window struct.

    The sentinel row (see _sentinel_dir) finalizes every
    real 5-minute and 1-hour window; its own 2124 window can never
    finalize, so it is structurally absent from the sink.

    Oracle: the same two-level rollup as nested batch GROUP BYs.

    Plan shape at 100 TB: two cascaded shuffles — by (w5, type) then
    by (hour, type) — each with partial aggregation before the
    exchange; level-2 state is |hours × types|, negligible. This is
    strictly cheaper than two separate jobs because level 2 consumes
    level 1's in-flight stream, never a persisted intermediate."""
    d = _sentinel_dir(spark, sf_dir, ("purchase",))
    s = read_events_stream(
        spark, d, max_files_per_trigger=None
    ).withWatermark("ts", "1 minute")
    a1 = s.groupBy(
        F.window("ts", "5 minutes").alias("w5"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n5"))
    a2 = a1.groupBy(
        F.window(F.col("w5"), "1 hour").alias("wh"), "event_type"
    ).agg(
        F.max("n5").cast("long").alias("max_5m"),
        F.sum("n5").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    out = drain(a2, "ev_stream_chained_agg_sink", "append")
    return out.select(
        F.unix_timestamp(F.col("wh.start")).cast("long").alias("hour_start"),
        "event_type",
        "max_5m",
        "total",
        "n_buckets",
    )


@query(
    "ev_pr_auc_exact",
    oracle="""
WITH r AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS si, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events
),
o AS (
  SELECT p,
         CAST(row_number() OVER (ORDER BY si DESC, event_id) AS BIGINT) AS k,
         CAST(SUM(p) OVER (ORDER BY si DESC, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
  FROM r
)
SELECT CAST(SUM(p) AS BIGINT) AS pos_cnt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN p = 1 THEN (cp * 1000000000000) // k
                     ELSE 0 END) AS BIGINT) AS ap_fp,
       CAST(SUM(CASE WHEN p = 1 THEN (cp * 1000000000000) // k
                     ELSE 0 END) AS DOUBLE)
         / (CAST(SUM(p) AS DOUBLE) * 1000000000000.0) AS ap
FROM o
""",
    tags=("events", "evaluation", "pr-auc", "average-precision",
          "distributed-rank"),
    bench=True,
)
def ev_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE PRECISION (area under the precision-recall curve, the
    metric that matters when positives are rare) of `value` as a score
    for `event_type = 'purchase'`, under the fully deterministic total
    order (score DESC, event_id ASC):

        AP = (1/P) * sum over positive ranks k of  cum_pos(k) / k

    Each precision@k is kept as the FIXED-POINT integer
    `(cum_pos * 10^12) div k` — exact integer arithmetic with one
    deterministic truncation per positive, summed exactly; the only
    float op is the final division, so the result hash-matches any
    engine bit-for-bit (each term is within 1e-12 of the real
    precision, so ap carries ~12 exact digits — documented fixed-point
    semantics, not a float-summation accident).

    Unlike ROC AUC (a pure rank statistic, ev_roc_auc_exact), AP needs
    each positive row's own global rank, so the two-level prefix sum
    here lifts PER-ROW ranks, not just per-score offsets: score groups
    prefix-sum inside `si div 2000` range buckets (plus a broadcast
    O(buckets) offset table), and each row finishes its rank with a
    within-score window ordered by event_id — three window stages,
    none of which ever sees more than one score-bucket's rows in a
    single partition.

    Plan shape at 100 TB: one map-side-combined aggregate to the
    distinct-score table, one bucket-partitioned window over it, one
    per-score window over the full rows (partitioned by si — bounded
    skew since scores are 2-decimal), one scalar aggregate. At larger
    P than ~9e6 the 10^12 scale factor must drop a digit or the term
    sum must widen to DECIMAL(38,0) — the overflow margin is
    documented, not silent."""
    ev = load_table(spark, sf_dir, "events")
    r0 = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("si"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    g = (
        r0.groupBy("si")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("p").cast("long").alias("pos"),
        )
        .withColumn("ns", -F.col("si"))
        .withColumn("nbkt", F.expr("ns div 2000"))
    )
    wloc = Window.partitionBy("nbkt").orderBy("ns").rowsBetween(
        Window.unboundedPreceding, -1
    )
    woff = Window.orderBy("nbkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        g.groupBy("nbkt")
        .agg(
            F.sum("cnt").alias("bcnt"),
            F.sum("pos").alias("bpos"),
        )
        .select(
            "nbkt",
            F.coalesce(F.sum("bcnt").over(woff), F.lit(0)).alias("bo_cnt"),
            F.coalesce(F.sum("bpos").over(woff), F.lit(0)).alias("bo_pos"),
        )
    )
    goff = (
        g.join(F.broadcast(offsets), "nbkt")
        .select(
            "si",
            (
                F.col("bo_cnt")
                + F.coalesce(F.sum("cnt").over(wloc), F.lit(0))
            ).alias("off_cnt"),
            (
                F.col("bo_pos")
                + F.coalesce(F.sum("pos").over(wloc), F.lit(0))
            ).alias("off_pos"),
        )
    )
    wrow = Window.partitionBy("si").orderBy("event_id")
    wrun = wrow.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        r0.join(F.broadcast(goff), "si")
        .select(
            "p",
            (F.col("off_cnt") + F.row_number().over(wrow)).alias("k"),
            (F.col("off_pos") + F.sum("p").over(wrun)).alias("cp"),
        )
    )
    return ranked.agg(
        F.sum("p").cast("long").alias("pos_cnt"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("p") == 1,
                F.expr("(cp * 1000000000000L) div k"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("ap_fp"),
    ).select(
        "pos_cnt",
        "n",
        "ap_fp",
        (
            F.col("ap_fp").cast("double")
            / (F.col("pos_cnt").cast("double") * F.lit(1000000000000.0))
        ).alias("ap"),
    )


@query(
    "ev_brier_decomposition",
    oracle="""
WITH r AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_v,
         CAST(SUM(y) AS BIGINT) AS pos_v,
         CAST(SUM(y * (v - 50000) * (v - 50000)
                  + (1 - y) * v * v) AS BIGINT) AS s_v
  FROM r GROUP BY v
),
t AS (
  SELECT CAST(SUM(n_v) AS BIGINT) AS n,
         CAST(SUM(pos_v) AS BIGINT) AS pos_cnt,
         CAST(CAST(SUM(CAST(s_v AS DECIMAL(38,0))) AS VARCHAR)
              AS DOUBLE) AS s
  FROM g
),
terms AS (
  SELECT array_agg(CAST(n_v * v - 50000 * pos_v AS DOUBLE)
                   * CAST(n_v * v - 50000 * pos_v AS DOUBLE) / n_v
                   ORDER BY v) AS rel_t,
         array_agg(n_v * (CAST(pos_v AS DOUBLE) / n_v
                          - (SELECT CAST(pos_cnt AS DOUBLE) / n FROM t))
                   * (CAST(pos_v AS DOUBLE) / n_v
                      - (SELECT CAST(pos_cnt AS DOUBLE) / n FROM t))
                   ORDER BY v) AS res_t
  FROM g
)
SELECT n, pos_cnt,
       s / (CAST(n AS DOUBLE) * 2500000000.0) AS brier,
       list_reduce(rel_t, (x, y) -> x + y)
         / (CAST(n AS DOUBLE) * 2500000000.0) AS reliability,
       list_reduce(res_t, (x, y) -> x + y) / CAST(n AS DOUBLE)
         AS resolution,
       (CAST(pos_cnt AS DOUBLE) / n)
         * (1.0 - CAST(pos_cnt AS DOUBLE) / n) AS uncertainty
FROM t, terms
""",
    tags=("events", "evaluation", "brier", "murphy-decomposition",
          "calibration"),
)
def ev_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE with the exact MURPHY (1973) decomposition
    BS = reliability - resolution + uncertainty, conditioning on the
    DISTINCT predicted value itself (p = v/50000 where v is the
    lossless 2-decimal integer of `value`), under which the identity
    is exact in real arithmetic — no binning approximation.

    Exactness discipline, one class per component:
    - BS numerator: sum of (v - 50000*y)^2 — pure integers, summed as
      DECIMAL(38,0) so it cannot overflow at any scale; one final
      float division.
    - reliability / resolution: per-distinct-score terms whose inputs
      (n_v*v - 50000*pos_v fits double exactly at < 2^53) go through
      the IDENTICAL IEEE expression tree in both engines, then a
      bin-ordered array LEFT FOLD (the ev_survival_life_table
      pattern) fixes the float summation order — the doubles
      hash-match bitwise.

    Plan shape at 100 TB: one map-side-combined groupBy collapses N
    rows to <= 50001 distinct scores; everything downstream is O(50k)
    on one executor (the fold array), with the three scalars
    broadcast. Adding data changes only the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    r0 = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = r0.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_v"),
        F.sum("y").cast("long").alias("pos_v"),
        F.sum(
            F.col("y") * (F.col("v") - 50000) * (F.col("v") - 50000)
            + (1 - F.col("y")) * F.col("v") * F.col("v")
        )
        .cast("long")
        .alias("s_v"),
    )
    t = g.agg(
        F.sum("n_v").cast("long").alias("n"),
        F.sum("pos_v").cast("long").alias("pos_cnt"),
        F.sum(F.col("s_v").cast("decimal(38,0)"))
        .cast("string")
        .cast("double")
        .alias("s"),
    )
    base = F.col("pos_cnt").cast("double") / F.col("n")
    d = F.col("n_v") * F.col("v") - 50000 * F.col("pos_v")
    frac = F.col("pos_v").cast("double") / F.col("n_v")
    terms = g.crossJoin(F.broadcast(t)).select(
        "v",
        (d.cast("double") * d.cast("double") / F.col("n_v")).alias("rel_t"),
        (F.col("n_v") * (frac - base) * (frac - base)).alias("res_t"),
    )
    folded = terms.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(v, rel_t))),"
            " s -> s.rel_t), cast(0.0 as double), (a, x) -> a + x)"
        ).alias("rel_sum"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(v, res_t))),"
            " s -> s.res_t), cast(0.0 as double), (a, x) -> a + x)"
        ).alias("res_sum"),
    )
    return t.crossJoin(F.broadcast(folded)).select(
        "n",
        "pos_cnt",
        (F.col("s") / (F.col("n").cast("double") * F.lit(2500000000.0))).alias(
            "brier"
        ),
        (
            F.col("rel_sum")
            / (F.col("n").cast("double") * F.lit(2500000000.0))
        ).alias("reliability"),
        (F.col("res_sum") / F.col("n").cast("double")).alias("resolution"),
        (base * (F.lit(1.0) - base)).alias("uncertainty"),
    )


@query(
    "ev_mann_kendall_trend",
    oracle="""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
p AS (
  SELECT CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sg
  FROM h a JOIN h b ON b.hr > a.hr
),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM h GROUP BY y)
  WHERE t > 1
),
t AS (
  SELECT CAST((SELECT COUNT(*) FROM h) AS BIGINT) AS n,
         CAST((SELECT SUM(sg) FROM p) AS BIGINT) AS s,
         (SELECT tie_term FROM ties) AS tie_term
)
SELECT n, s AS s_stat,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var_num,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0 AS var_s,
       CASE
         WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
           / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
         WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
           / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
         ELSE 0.0
       END AS z
FROM t
""",
    tags=("events", "time-series", "trend", "mann-kendall",
          "nonparametric"),
)
def ev_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test on the hourly event-count series — the
    standard nonparametric "is traffic trending?" monitor (no
    normality assumption, robust to outliers): S = sum over ordered
    hour pairs of sign(y_later - y_earlier), with the tie-corrected
    variance Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]/18 and the
    continuity-corrected z. Everything up to the final two float ops
    (one division, one sqrt — both IEEE correctly-rounded) is exact
    integer arithmetic, so the statistic hash-matches bitwise.

    The pairwise self-join is over HOURS, not events: its size is
    bounded by the square of the time span (~744 hours/month ->
    ~276k pairs), a constant w.r.t. corpus size — 100 TB of events
    changes only the first map-side-combined hourly aggregate. This
    is the right decomposition for any pairwise statistic over a
    bounded time grid.

    Plan shape at 100 TB: one shuffle to hourly counts, one
    broadcast-scale self-join on the tiny hour table, three scalar
    aggregates."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr")
        )
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .persist()
    )
    a = h.select(F.col("hr").alias("ha"), F.col("y").alias("ya"))
    b = h.select(F.col("hr").alias("hb"), F.col("y").alias("yb"))
    p = a.join(b, F.col("hb") > F.col("ha")).select(
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
        .alias("sg")
    )
    ties = (
        h.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    t = (
        h.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(p.agg(F.sum("sg").cast("long").alias("s")))
        .crossJoin(ties)
    )
    var_num = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("long")
    var_s = var_num.cast("double") / F.lit(18.0)
    return t.select(
        "n",
        F.col("s").alias("s_stat"),
        var_num.alias("var_num"),
        var_s.alias("var_s"),
        F.when(
            F.col("s") > 0,
            (F.col("s").cast("double") - F.lit(1.0)) / F.sqrt(var_s),
        )
        .when(
            F.col("s") < 0,
            (F.col("s").cast("double") + F.lit(1.0)) / F.sqrt(var_s),
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


@query(
    "ev_theil_sen_slope",
    oracle="""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
p AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.hr - a.hr AS DOUBLE) AS slope
  FROM h a JOIN h b ON b.hr > a.hr
),
m AS (
  SELECT CAST((SELECT COUNT(*) FROM h) AS BIGINT) AS n_hours,
         CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_pairs,
         (SELECT quantile_cont(slope, 0.5) FROM p) AS slope_per_hour
)
SELECT n_hours, n_pairs, slope_per_hour,
       (SELECT quantile_cont(CAST(y AS DOUBLE)
                             - m.slope_per_hour * CAST(hr AS DOUBLE), 0.5)
        FROM h) AS intercept
FROM m
""",
    tags=("events", "time-series", "trend", "theil-sen",
          "robust-regression"),
)
def ev_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust slope of the hourly event-count series — the
    median of all pairwise slopes (y_j - y_i)/(t_j - t_i), the
    estimator that shrugs off up to 29% outliers where OLS
    (ev_ols_closed_form) folds; intercept = median residual at the
    fitted slope. Medians use Spark `percentile` == DuckDB
    `quantile_cont` (same sort + same lo + (hi-lo)*frac
    interpolation, bitwise-pinned by rel_exact_percentiles), and
    every slope is a single IEEE division of exact integers, so the
    whole fit hash-matches.

    Like ev_mann_kendall_trend, the O(n^2) pair set is over the
    BOUNDED hour grid (~276k pairs for a month), constant in corpus
    size; the corpus-sized work is one map-side-combined hourly
    count.

    Plan shape at 100 TB: one shuffle to hourly counts, a tiny
    self-join, two percentile aggregations over bounded inputs."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr")
        )
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .persist()
    )
    a = h.select(F.col("hr").alias("ha"), F.col("y").alias("ya"))
    b = h.select(F.col("hr").alias("hb"), F.col("y").alias("yb"))
    p = a.join(b, F.col("hb") > F.col("ha")).select(
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("hb") - F.col("ha")).cast("double")
        ).alias("slope")
    )
    m = (
        h.agg(F.count(F.lit(1)).cast("long").alias("n_hours"))
        .crossJoin(
            p.agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.percentile("slope", 0.5).alias("slope_per_hour"),
            )
        )
    )
    resid = h.crossJoin(F.broadcast(m)).select(
        "n_hours",
        "n_pairs",
        "slope_per_hour",
        (
            F.col("y").cast("double")
            - F.col("slope_per_hour") * F.col("hr").cast("double")
        ).alias("r"),
    )
    return resid.groupBy("n_hours", "n_pairs", "slope_per_hour").agg(
        F.percentile("r", 0.5).alias("intercept")
    )


@query(
    "ev_hampel_filter",
    oracle="""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
m AS (
  SELECT hr, y,
         quantile_cont(y, 0.5) OVER (
           ORDER BY hr ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS med
  FROM h
),
d AS (
  SELECT hr, y, med,
         quantile_cont(abs(CAST(y AS DOUBLE) - med), 0.5) OVER (
           ORDER BY hr ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS mad
  FROM m
)
SELECT hr, y, med, mad
FROM d
WHERE mad > 0.0
  AND abs(CAST(y AS DOUBLE) - med)
      > 3.0 * CAST(1.4826 AS DOUBLE) * mad
""",
    tags=("events", "time-series", "hampel", "robust-outliers",
          "rolling-median"),
)
def ev_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMPEL FILTER on the hourly event-count series — the robust
    rolling-window outlier detector (rolling median ± 3 scaled rolling
    MADs over a centered 7-hour frame) that survives the very spikes
    it is hunting, where ev_zscore_outliers' rolling mean/stddev get
    dragged by them. Two cascaded window passes: median, then median
    absolute deviation around it; a point is flagged when
    |y - med| > 3 * 1.4826 * MAD (1.4826 = the Gaussian MAD-to-sigma
    constant, injected as the identical double literal in both
    engines). Medians ride the pinned percentile == quantile_cont
    interpolation equivalence; both engines use the same ROWS frame
    over the same (hr) order, so presence/absence of every flagged
    row hash-matches.

    The window runs over the BOUNDED hour grid (~744 rows/month) —
    the corpus-sized work is the one map-side-combined hourly
    aggregate, identical to ev_mann_kendall_trend's decomposition.

    Plan shape at 100 TB: one shuffle to hourly counts, then two O(1)
    windows over the tiny grid. The single-partition window is over
    ≤ |hours| rows by construction."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr")
        )
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w7 = Window.orderBy("hr").rowsBetween(-3, 3)
    m = h.withColumn("med", F.percentile("y", 0.5).over(w7))
    d = m.withColumn(
        "mad",
        F.percentile(
            F.abs(F.col("y").cast("double") - F.col("med")), 0.5
        ).over(w7),
    )
    return d.filter(
        (F.col("mad") > 0.0)
        & (
            F.abs(F.col("y").cast("double") - F.col("med"))
            > F.lit(3.0) * F.lit(1.4826).cast("double") * F.col("mad")
        )
    ).select("hr", "y", "med", "mad")


@query(
    "ev_cuped_adjustment",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                FILTER (WHERE ts < TIMESTAMP '2024-01-16'), 0) AS BIGINT)
           AS x,
         CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                FILTER (WHERE ts >= TIMESTAMP '2024-01-16'), 0) AS BIGINT)
           AS y,
         user_id % 2 AS arm
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
           AS sxx,
         CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
           AS syy,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
           AS sxy
  FROM u
),
a AS (
  SELECT CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_control,
         CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_treat,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) FILTER (WHERE arm = 0)
              AS VARCHAR) AS DOUBLE) AS sy0,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) FILTER (WHERE arm = 1)
              AS VARCHAR) AS DOUBLE) AS sy1
  FROM u
)
SELECT n, n_control, n_treat,
       (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
       (syy - sy * sy / n) / n AS var_y,
       (syy - sy * sy / n) / n
         - ((sxy - sx * sy / n) / n) * ((sxy - sx * sy / n) / n)
           / ((sxx - sx * sx / n) / n) AS var_y_adj,
       1.0 - ((syy - sy * sy / n) / n
              - ((sxy - sx * sy / n) / n) * ((sxy - sx * sy / n) / n)
                / ((sxx - sx * sx / n) / n))
             / ((syy - sy * sy / n) / n) AS variance_reduction,
       sy1 / n_treat - sy0 / n_control AS lift_cents
FROM m, a
""",
    tags=("events", "experimentation", "cuped", "variance-reduction",
          "ab-testing"),
)
def ev_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Existing Data, Deng et
    al. 2013) — the variance-reduction step every mature A/B platform
    applies before the t-test: regress each user's post-period metric
    y on their pre-period metric x (theta = Cov(x,y)/Var(x)) and
    analyze y_adj = y - theta(x - mean(x)) instead; Var(y_adj) =
    Var(y) - Cov^2/Var(x) in closed form, so the adjusted variance,
    the reduction factor, and the arm lift all come from ONE pass of
    sufficient moments — no per-user adjusted column ever
    materializes. Extends ev_welch_ab_test with the pre-period
    covariate; the split is the fixture midpoint (2024-01-16), arms
    are user_id parity.

    Exactness: per-user x, y are exact integer cents; the five
    moments are DECIMAL(38,0) sums of integer products (overflow-
    proof at any scale); every downstream statistic is the identical
    IEEE expression tree over those six numbers in both engines.

    Plan shape at 100 TB: one user-keyed shuffle with both period
    sums as conditional aggregates in the SAME pass, then two scalar
    aggregates over the user table. The moment trick is what makes
    CUPED free at scale — platforms that materialize y_adj pay a
    second corpus pass for nothing."""
    ev = load_table(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("long")
    u = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < mid, cents)), F.lit(0)
        ).cast("long").alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= mid, cents)), F.lit(0)
        ).cast("long").alias("y"),
    ).withColumn("arm", F.col("user_id") % 2).persist()
    dec = "decimal(38,0)"
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("string").cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("string").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec))
        .cast("string").cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("sxy"),
    )
    a = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long").alias("n_control"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long").alias("n_treat"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).cast(dec))
        .cast("string").cast("double").alias("sy0"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).cast(dec))
        .cast("string").cast("double").alias("sy1"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / n
    varx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / n
    vary = (F.col("syy") - F.col("sy") * F.col("sy") / n) / n
    theta = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    var_adj = vary - cov * cov / varx
    return m.crossJoin(F.broadcast(a)).select(
        "n",
        "n_control",
        "n_treat",
        theta.alias("theta"),
        vary.alias("var_y"),
        var_adj.alias("var_y_adj"),
        (F.lit(1.0) - var_adj / vary).alias("variance_reduction"),
        (
            F.col("sy1") / F.col("n_treat")
            - F.col("sy0") / F.col("n_control")
        ).alias("lift_cents"),
    )


@query(
    "ev_diff_in_diff",
    oracle="""
WITH u AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS period,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
cell AS (
  SELECT arm, period,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean_cents
  FROM u GROUP BY arm, period
)
SELECT CAST(arm AS BIGINT) AS arm, CAST(period AS BIGINT) AS period,
       n, total_cents, mean_cents,
       (SELECT (t1.mean_cents - t0.mean_cents)
               - (c1.mean_cents - c0.mean_cents)
        FROM cell t1, cell t0, cell c1, cell c0
        WHERE t1.arm = 1 AND t1.period = 1
          AND t0.arm = 1 AND t0.period = 0
          AND c1.arm = 0 AND c1.period = 1
          AND c0.arm = 0 AND c0.period = 0) AS did_cents
FROM cell
""",
    tags=("events", "experimentation", "difference-in-differences",
          "causal"),
)
def ev_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the workhorse causal estimator when
    randomization is imperfect or a launch is staged: effect =
    (treat_post - treat_pre) - (control_post - control_pre), which
    cancels both the arms' level difference and the shared time
    trend. The full 2x2 cell table (arm x period counts, exact
    integer cent totals, means) is emitted with the DiD scalar on
    every row, so the reader sees the estimate AND the cells it came
    from — the table every DiD writeup prints. Same fixture split as
    ev_cuped_adjustment (midpoint 2024-01-16, arms by user parity);
    together they cover the two standard bias/variance tools of
    product experimentation.

    Plan shape at 100 TB: ONE map-side-combined aggregate over
    (arm, period) — four cells out of any number of events; the DiD
    combination is driver-free arithmetic on the 4-row table. The
    only float ops are four exact-integer divisions and three
    subtractions, identical trees in both engines."""
    ev = load_table(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    u = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("ts") < mid, 0).otherwise(1).alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cell = u.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias(
            "mean_cents"
        ),
    ).persist()

    def m(arm: int, period: int):
        return (
            cell.filter((F.col("arm") == arm) & (F.col("period") == period))
            .select(F.col("mean_cents").alias(f"m{arm}{period}"))
        )

    did = (
        m(1, 1)
        .crossJoin(m(1, 0))
        .crossJoin(m(0, 1))
        .crossJoin(m(0, 0))
        .select(
            (
                (F.col("m11") - F.col("m10"))
                - (F.col("m01") - F.col("m00"))
            ).alias("did_cents")
        )
    )
    return cell.crossJoin(F.broadcast(did)).select(
        F.col("arm").cast("long").alias("arm"),
        F.col("period").cast("long").alias("period"),
        "n",
        "total_cents",
        "mean_cents",
        "did_cents",
    )


@query(
    "ev_asof_join_tolerance",
    oracle="""
WITH cp AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(click_ts) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_click_ts
  FROM cp
), tol AS (
  SELECT event_id, user_id, ts,
         CASE WHEN last_click_ts IS NOT NULL
                AND abs(date_diff('microsecond', last_click_ts, ts))
                      <= 600 * 1000000
              THEN last_click_ts END AS last_click_ts
  FROM m WHERE event_type = 'purchase'
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(last_click_ts) AS BIGINT) AS n_matched,
       CAST(COUNT(*) - COUNT(last_click_ts) AS BIGINT) AS n_stale_or_none,
       CAST(SUM(CASE WHEN last_click_ts IS NOT NULL
                     THEN date_diff('microsecond', last_click_ts, ts)
                     ELSE 0 END) AS BIGINT) AS matched_gap_us_total
FROM tol
""",
    tags=("events", "asof-join", "tolerance", "staleness-bound"),
)
def ev_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN with a TOLERANCE (staleness) bound — pandas
    merge_asof's `tolerance`, the guard every feature-serving as-of
    needs: a purchase is matched to the user's most recent click
    only if it happened within the last 10 MINUTES; an older click
    is a stale feature and must become NULL, not silently served.
    Exercises the new `tolerance_s` parameter of
    operators/asof.py:asof_join, applied as a post-window filter on
    the matched struct — the single user-keyed shuffle of the
    untolerated as-of is unchanged. Output: purchase count,
    within-tolerance matches, stale-or-none count, and the exact
    integer total of matched gaps (the freshness mass a monitoring
    dashboard plots).

    Plan shape at 100 TB: identical to ev_asof_join (one shuffle,
    zero row multiplication) plus one codegen comparison per row."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases, clicks, on="user_id", suffix="_click", tolerance_s=600
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.count("ts_click").cast("long").alias("n_matched"),
        (F.count(F.lit(1)) - F.count("ts_click"))
        .cast("long")
        .alias("n_stale_or_none"),
        F.sum(
            F.when(
                F.col("ts_click").isNotNull(),
                F.unix_micros("ts") - F.unix_micros("ts_click"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("matched_gap_us_total"),
    )


@query(
    "ev_stream_late_data_accounting",
    oracle="""
SELECT CAST(COUNT(DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT))
            FILTER (WHERE day(ts) >= 16) AS BIGINT) AS n_windows,
       CAST(COUNT(*) FILTER (WHERE day(ts) >= 16) AS BIGINT)
         AS n_admitted,
       CAST(COUNT(*) FILTER (WHERE day(ts) < 16) AS BIGINT) AS n_dropped
FROM events
""",
    tags=("events", "streaming", "watermark", "late-data",
          "checkpoint-recovery"),
)
def ev_stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-DATA DROP ACCOUNTING — measures the completeness cost a
    watermark actually charges: the month's SECOND half streams
    first (run 1, checkpointed); then the FIRST half arrives — two
    weeks out of order, far beyond the 1-minute watermark persisted
    in the checkpoint — and run 2, restarted from that checkpoint,
    must DROP every one of those rows from its hourly aggregation.
    The report (windows present, events admitted, events dropped) is
    hash-checked against the oracle's split: only second-half events
    may appear.

    The empirically load-bearing detail (found by prototype, pinned
    here): WITHIN one availableNow run Spark does not apply the
    late-row filter across that run's own micro-batches — the
    filtering watermark is the one PERSISTED AT RUN START, so an
    in-run out-of-order file is admitted. Only a watermark committed
    to the checkpoint by a previous run drops data. That is exactly
    the production semantics (a restarted job enforces the watermark
    its checkpoint carries) and why this fixture needs the two-run
    staging; ev_watermark_lag_audit sizes the delay, this query
    verifies the enforcement.

    Plan shape at 100 TB: the aggregation is the standard windowed
    streaming shape; the drop is a per-row predicate against the
    broadcast watermark — accounting costs nothing."""
    import os
    import shutil

    def write(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        a_dir, b_dir = d + "/late_half", d + "/early_half"
        ev.filter(F.dayofmonth("ts") >= 16).coalesce(1).write.mode(
            "overwrite"
        ).parquet(a_dir)
        ev.filter(F.dayofmonth("ts") < 16).coalesce(1).write.mode(
            "overwrite"
        ).parquet(b_dir)
        feed = d + "/feed"
        os.makedirs(feed)
        ckpt = d + "/ckpt"
        out = d + "/out"

        def leaf(p: str) -> str:
            return next(
                f for f in sorted(os.listdir(p))
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )

        shutil.copy(
            os.path.join(a_dir, leaf(a_dir)),
            os.path.join(feed, "01_second_half.parquet"),
        )

        def write_batch(bdf, bid: int) -> None:
            bdf.write.mode("append").parquet(out)

        def run() -> None:
            stream = read_events_stream(spark, feed, max_files_per_trigger=None)
            agg = (
                stream.withWatermark("ts", "1 minute")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
            )
            q = (
                agg.writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()  # run 1: second half only; watermark -> checkpoint
        shutil.copy(
            os.path.join(b_dir, leaf(b_dir)),
            os.path.join(feed, "02_first_half.parquet"),
        )
        run()  # run 2: first half arrives 2 weeks late -> dropped

    out = os.path.join(staged("late_acct", sf_dir, write), "out")
    sunk = spark.read.parquet(out).groupBy("w").agg(
        F.max("n").alias("n")
    )
    totals = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return (
        sunk.agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum("n").cast("long").alias("n_admitted"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_windows",
            "n_admitted",
            (F.col("n_total") - F.col("n_admitted"))
            .cast("long")
            .alias("n_dropped"),
        )
    )


@query(
    "ev_cep_strict_sequence",
    oracle="""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(ts, 2) OVER w AS ts2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
hits AS (
  SELECT user_id, event_id,
         epoch_us(ts2) // 1000000 - epoch_us(ts) // 1000000 AS span_s
  FROM o
  WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
    AND epoch_us(ts2) // 1000000 - epoch_us(ts) // 1000000 <= 86400
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(event_id) AS BIGINT) AS first_match_event,
       CAST(SUM(span_s) AS BIGINT) AS total_span_s
FROM hits GROUP BY user_id
""",
    tags=("events", "cep", "match-recognize", "strict-contiguity",
          "pattern"),
)
def ev_cep_strict_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLEX EVENT PROCESSING with STRICT CONTIGUITY — the
    MATCH_RECOGNIZE / FlinkCEP `next` semantics that funnels cannot
    express: view -> click -> purchase as three CONSECUTIVE events of
    the same user (no other event in between; ev_funnel and
    ev_ordered_funnel_windowed are the relaxed `followedBy` family),
    with the whole triple inside 24 hours (the fixture's inter-event
    cadence is hours, so a 30-minute bound would be vacuous; the
    bound still rejects 29% of raw triples here). A single lead-window
    pass per user turns the pattern into a row-local predicate —
    pattern length k costs k-1 lead columns on ONE shuffle, which is
    the relational compilation of any fixed strict-contiguity
    regex without a state machine.

    Everything is exact integers (counts, event ids, epoch-second
    spans); no floats anywhere.

    Plan shape at 100 TB: one user-keyed window (shared sort for all
    leads), a codegen predicate, one map-side-combined groupBy. For
    streaming, the same pattern runs in
    applyInPandasWithState/transformWithState with k-row buffers per
    key (streaming/windows.py documents that surface)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts", 2).over(w).alias("ts2"),
    )
    hits = o.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
        & (
            F.unix_timestamp("ts2") - F.unix_timestamp("ts")
            <= 86400
        )
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("event_id").cast("long").alias("first_match_event"),
        F.sum(F.unix_timestamp("ts2") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("total_span_s"),
    )


_SHAPLEY_CHANNELS = (("click", 1), ("view", 2), ("signup", 4), ("error", 8))


def _shapley_oracle() -> str:
    chan_case = " + ".join(
        f"MAX(CASE WHEN event_type = '{c}' THEN {b} ELSE 0 END)"
        for c, b in _SHAPLEY_CHANNELS
    )
    chan_rows = ", ".join(f"('{c}', {b})" for c, b in _SHAPLEY_CHANNELS)
    return f"""
WITH u AS (
  SELECT user_id, {chan_case} AS mask,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
cnt AS (
  SELECT mask, CAST(SUM(conv) AS BIGINT) AS n_conv FROM u GROUP BY mask
),
subsets AS (SELECT unnest(range(16)) AS s),
v AS (
  SELECT s.s, CAST(COALESCE(SUM(c.n_conv), 0) AS BIGINT) AS v
  FROM subsets s LEFT JOIN cnt c ON (c.mask & s.s) = c.mask
  GROUP BY s.s
),
ch AS (SELECT * FROM (VALUES {chan_rows}) AS t(channel, bit)),
terms AS (
  SELECT ch.channel,
         CASE bit_count(CAST(s.s AS BIGINT))
           WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6
         END * (va.v - vs.v) AS term
  FROM ch JOIN subsets s ON (s.s & ch.bit) = 0
  JOIN v vs ON vs.s = s.s
  JOIN v va ON va.s = s.s + ch.bit
)
SELECT channel,
       CAST(SUM(term) AS BIGINT) AS phi_x24,
       CAST(SUM(term) AS DOUBLE) / 24.0 AS phi
FROM terms GROUP BY channel
"""


@query(
    "ev_shapley_attribution",
    oracle=_shapley_oracle(),
    tags=("events", "attribution", "shapley", "marketing", "causal"),
)
def ev_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE channel attribution — the game-theoretic credit
    split (the only one satisfying efficiency/symmetry/dummy axioms)
    that replaced last-touch in serious marketing stacks: channels
    {click, view, signup, error} are players, the characteristic
    function v(S) counts users who CONVERTED while touching only
    channels within S (v(S) = sum of exact-mask counts over subsets
    of S — the zeta transform), and each channel's credit is
    phi_c = sum over S not containing c of
    |S|!(k-1-|S|)!/k! * [v(S+c) - v(S)]. With k = 4 the factorial
    weights are {6,2,2,6}/24, so phi*24 is an EXACT INTEGER — the
    whole attribution is integer arithmetic with one final division,
    and efficiency (sum phi = v(full set)) is checkable in integers.

    Plan shape at 100 TB: ONE user-keyed aggregate folds any event
    volume to a 16-row mask table (bitmask built by MAX-per-type in
    the same pass as the conversion flag); the zeta transform and
    the 32 Shapley terms are literal-table joins over those 16 rows.
    Exponential-in-k work never touches the corpus — the reason
    set-based Shapley attribution is tractable at all."""
    ev = load_table(spark, sf_dir, "events")
    mask = sum(
        F.max(F.when(F.col("event_type") == c, b).otherwise(0))
        for c, b in _SHAPLEY_CHANNELS
    )
    u = ev.groupBy("user_id").agg(
        mask.alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cnt = u.groupBy("mask").agg(F.sum("conv").cast("long").alias("n_conv"))
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(cnt),
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v"))
    )
    ch = spark.createDataFrame(
        list(_SHAPLEY_CHANNELS), "channel string, bit int"
    )
    weight = (
        F.when(F.bit_count(F.col("s").cast("long")) == 0, 6)
        .when(F.bit_count(F.col("s").cast("long")) == 1, 2)
        .when(F.bit_count(F.col("s").cast("long")) == 2, 2)
        .otherwise(6)
    )
    terms = (
        ch.join(
            F.broadcast(subsets),
            F.col("s").bitwiseAND(F.col("bit")) == 0,
        )
        .join(
            F.broadcast(v.select(F.col("s").alias("s0"), F.col("v").alias("vs"))),
            F.col("s0") == F.col("s"),
        )
        .join(
            F.broadcast(v.select(F.col("s").alias("s1"), F.col("v").alias("va"))),
            F.col("s1") == F.col("s") + F.col("bit"),
        )
        .select(
            "channel",
            (weight * (F.col("va") - F.col("vs"))).alias("term"),
        )
    )
    return terms.groupBy("channel").agg(
        F.sum("term").cast("long").alias("phi_x24"),
        (F.sum("term").cast("double") / F.lit(24.0)).alias("phi"),
    )


@query(
    "ev_snaive_backtest_mase",
    oracle="""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
mx AS (SELECT MAX(hr) AS hmax FROM h),
f AS (
  SELECT cur.hr, cur.y, prev.y AS yhat
  FROM h cur JOIN h prev ON prev.hr = cur.hr - 168
  JOIN mx ON cur.hr > mx.hmax - 168
),
nv AS (
  SELECT cur.hr, abs(cur.y - prev.y) AS ad
  FROM h cur JOIN h prev ON prev.hr = cur.hr - 1
  JOIN mx ON cur.hr <= mx.hmax - 168
),
t AS (
  SELECT CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_eval,
         CAST((SELECT SUM(abs(y - yhat)) FROM f) AS BIGINT) AS sae,
         CAST((SELECT COUNT(*) FROM nv) AS BIGINT) AS n_train,
         CAST((SELECT SUM(ad) FROM nv) AS BIGINT) AS naive_sad
)
SELECT n_eval, sae, n_train, naive_sad,
       CAST(sae AS DOUBLE) / n_eval AS mae,
       (CAST(sae AS DOUBLE) / n_eval)
         / (CAST(naive_sad AS DOUBLE) / n_train) AS mase
FROM t
""",
    tags=("events", "forecasting", "seasonal-naive", "mase",
          "backtest"),
)
def ev_snaive_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE FORECAST BACKTEST scored by MASE — the
    forecasting-evaluation pair every capacity-planning pipeline
    starts from: predict each of the final week's hourly counts with
    the value exactly one week (168 h) earlier, and scale the mean
    absolute error by the training period's mean absolute one-step
    naive difference (Hyndman & Koehler's MASE — the scale-free
    metric that, unlike MAPE, survives zero-count hours). MASE < 1
    beats the random-walk baseline; any candidate model must beat
    snaive's MASE first.

    Every numerator and denominator is an exact integer sum of
    absolute count differences; the only float ops are the three
    final divisions — identical trees in both engines.

    Plan shape at 100 TB: one map-side-combined hourly aggregate,
    then two self equi-joins (lag 168, lag 1) on the bounded hour
    grid and four scalars. The corpus is touched once."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr")
        )
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .persist()
    )
    mx = h.agg(F.max("hr").alias("hmax"))
    cur = h.select(F.col("hr"), F.col("y"))
    wk = h.select(
        (F.col("hr") + 168).alias("hr"), F.col("y").alias("yhat")
    )
    f = (
        cur.join(wk, "hr")
        .crossJoin(F.broadcast(mx))
        .filter(F.col("hr") > F.col("hmax") - 168)
    )
    one = h.select((F.col("hr") + 1).alias("hr"), F.col("y").alias("yprev"))
    nv = (
        cur.join(one, "hr")
        .crossJoin(F.broadcast(mx))
        .filter(F.col("hr") <= F.col("hmax") - 168)
        .select(F.abs(F.col("y") - F.col("yprev")).alias("ad"))
    )
    t = (
        f.agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.abs(F.col("y") - F.col("yhat")))
            .cast("long")
            .alias("sae"),
        )
        .crossJoin(
            nv.agg(
                F.count(F.lit(1)).cast("long").alias("n_train"),
                F.sum("ad").cast("long").alias("naive_sad"),
            )
        )
    )
    mae = F.col("sae").cast("double") / F.col("n_eval")
    return t.select(
        "n_eval",
        "sae",
        "n_train",
        "naive_sad",
        mae.alias("mae"),
        (
            mae
            / (F.col("naive_sad").cast("double") / F.col("n_train"))
        ).alias("mase"),
    )


@query(
    "ev_ltv_triangle",
    oracle="""
WITH u AS (
  SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort
  FROM events GROUP BY user_id
),
r AS (
  SELECT u.cohort,
         CAST((epoch(CAST(date_trunc('week', e.ts) AS DATE))
               - epoch(u.cohort)) // 604800 AS BIGINT) AS age_w,
         CAST(ROUND(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN u ON u.user_id = e.user_id
  WHERE e.event_type = 'purchase'
),
cell AS (
  SELECT cohort, age_w,
         CAST(SUM(cents) AS BIGINT) AS rev_cents,
         CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM r GROUP BY cohort, age_w
),
sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM u GROUP BY cohort)
SELECT CAST(c.cohort AS VARCHAR) AS cohort, c.age_w, c.n_purchases,
       c.rev_cents,
       CAST(SUM(c.rev_cents) OVER (PARTITION BY c.cohort ORDER BY c.age_w
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_rev_cents,
       s.cohort_users,
       CAST(SUM(c.rev_cents) OVER (PARTITION BY c.cohort ORDER BY c.age_w
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / s.cohort_users AS cum_ltv_cents
FROM cell c JOIN sz s ON s.cohort = c.cohort
""",
    tags=("events", "ltv", "cohort-triangle", "revenue"),
)
def ev_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV COHORT TRIANGLE — the revenue matrix every growth team
    reads weekly: users cohorted by first-seen week, purchase
    revenue bucketed by cohort-age (weeks since cohort start), with
    the running cumulative and per-user cumulative LTV along each
    cohort row. The 'triangle' shape (younger cohorts have fewer
    observable ages) is the raw input to any LTV projection; this
    emits the exact observed half. Complements ev_retention_cohorts
    (the count triangle) with the money triangle — revenue in exact
    integer CENTS, the only float being the final per-user division.

    Plan shape at 100 TB: one user-keyed aggregate for cohort
    assignment, one broadcast-or-shuffle join back (cohort table is
    O(users)), one (cohort, age) aggregate, a window over the tiny
    triangle. The cumulative is per-cohort over <= |weeks| rows."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    u = ev.groupBy("user_id").agg(F.min(week).alias("cohort"))
    r = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u, "user_id")
        .select(
            "cohort",
            F.expr(
                "CAST((unix_date(CAST(date_trunc('week', ts) AS DATE))"
                " - unix_date(cohort)) div 7 AS BIGINT)"
            ).alias("age_w"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    cell = r.groupBy("cohort", "age_w").agg(
        F.sum("cents").cast("long").alias("rev_cents"),
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
    )
    sz = u.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    wc = Window.partitionBy("cohort").orderBy("age_w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cell.join(sz, "cohort")
        .select(
            F.col("cohort").cast("string").alias("cohort"),
            "age_w",
            "n_purchases",
            "rev_cents",
            F.sum("rev_cents").over(wc).cast("long").alias("cum_rev_cents"),
            "cohort_users",
            (
                F.sum("rev_cents").over(wc).cast("double")
                / F.col("cohort_users")
            ).alias("cum_ltv_cents"),
        )
    )


@query(
    "ev_stream_join_then_agg",
    oracle="""
SELECT CAST(floor(epoch(p.ts) / 3600) * 3600 AS BIGINT) AS hour_start,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1
""",
    tags=("events", "streaming", "multiple-stateful-operators",
          "join-then-aggregate"),
)
def ev_stream_join_then_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN feeding a WINDOWED AGGREGATION in the SAME
    streaming query — the second multiple-stateful-operator shape
    (ev_stream_chained_agg chains agg->agg; this chains join->agg):
    purchase-click interval pairs roll up to hourly pair counts
    without ever materializing the joined stream to a topic. The
    aggregation windows on the PURCHASE-side event time, which the
    join propagates through its watermark; the far-future sentinel
    (one per side) closes both the join state and the final hourly
    windows, and can itself never match or finalize.

    Oracle: the equivalent batch interval join + GROUP BY hour.

    Plan shape at 100 TB: the join's co-partitioned two-sided state
    (keyed by user) flows directly into the windowed aggregation's
    exchange (keyed by hour) — two stateful operators, two shuffles,
    zero intermediate storage; pre-3.4 this was two jobs and a Kafka
    topic between them."""
    d = _sentinel_dir(spark, sf_dir, ("purchase", "click"))
    purchases = (
        read_events_stream(spark, d, max_files_per_trigger=None)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 minute")
    )
    clicks = (
        read_events_stream(spark, d, max_files_per_trigger=None)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 minute")
    )
    j = purchases.join(
        clicks,
        F.expr(
            "c_user_id = p_user_id "
            "AND c_ts >= p_ts - INTERVAL 30 MINUTES "
            "AND c_ts < p_ts"
        ),
    )
    agg = j.groupBy(F.window("p_ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    out = drain(agg, "ev_stream_join_then_agg_sink", "append")
    return out.select(
        F.unix_timestamp(F.col("w.start")).cast("long").alias("hour_start"),
        "n_pairs",
    )


@query(
    "ev_pinball_loss_eval",
    oracle="""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
mx AS (SELECT MAX(hr) AS hmax FROM h),
f AS (
  SELECT q.q10 AS fq, q.tag, h.y
  FROM h JOIN mx ON h.hr > mx.hmax - 168
  CROSS JOIN (
    SELECT CAST(quantile_cont(y, 0.5) * 10 AS BIGINT) AS q10, 'p50' AS tag
    FROM h JOIN mx ON h.hr <= mx.hmax - 168
    UNION ALL
    SELECT CAST(quantile_cont(y, 0.9) * 10 AS BIGINT), 'p90'
    FROM h JOIN mx ON h.hr <= mx.hmax - 168
  ) q
),
loss AS (
  SELECT tag, fq,
         CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(SUM(CASE WHEN tag = 'p50'
                       THEN GREATEST(5 * (10 * y - fq),
                                     -5 * (10 * y - fq))
                       ELSE GREATEST(9 * (10 * y - fq),
                                     -1 * (10 * y - fq)) END)
              AS BIGINT) AS pinball_x100
  FROM f GROUP BY tag, fq
)
SELECT tag, CAST(fq AS DOUBLE) / 10.0 AS forecast,
       n_eval, pinball_x100,
       CAST(pinball_x100 AS DOUBLE) / (100.0 * n_eval)
         AS mean_pinball
FROM loss
""",
    tags=("events", "forecasting", "pinball-loss", "quantile-eval"),
)
def ev_pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINBALL (quantile) LOSS evaluation — the proper scoring rule
    for quantile forecasts (the metric behind every probabilistic
    load-forecasting leaderboard): the training period's p50 and p90
    hourly counts serve as constant quantile forecasts for the final
    week, and each is scored with its own asymmetric loss
    L_q(y, f) = max(q(y-f), (q-1)(y-f)) — under which the q-quantile
    is the unique optimal constant, so p90 must beat p50 at q = 0.9
    or something is wrong with the pipeline. Forecasts are decimal
    (quantile interpolation), so everything scales to TENTHS
    (y*10, f*10) and the q-weights {5,-5} / {9,-1} make the summed
    loss an EXACT INTEGER (x100); the only floats are the final
    display divisions. Quantiles ride the pinned percentile ==
    quantile_cont equivalence.

    Plan shape at 100 TB: one hourly aggregate, two percentile
    scalars over the training grid, one conditional-sum pass over
    the 168-row eval window. Completes the forecasting-eval pair
    with ev_snaive_backtest_mase (point forecasts there, quantile
    forecasts here)."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr")
        )
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .persist()
    )
    mx = h.agg(F.max("hr").alias("hmax"))
    train = h.crossJoin(F.broadcast(mx)).filter(
        F.col("hr") <= F.col("hmax") - 168
    )
    ev_w = h.crossJoin(F.broadcast(mx)).filter(
        F.col("hr") > F.col("hmax") - 168
    )
    q = train.agg(
        (F.percentile("y", 0.5) * 10).cast("long").alias("f50"),
        (F.percentile("y", 0.9) * 10).cast("long").alias("f90"),
    )
    j = ev_w.crossJoin(F.broadcast(q))
    d50 = 10 * F.col("y") - F.col("f50")
    d90 = 10 * F.col("y") - F.col("f90")
    loss = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.greatest(5 * d50, -5 * d50)).cast("long").alias("pb50"),
        F.sum(F.greatest(9 * d90, -1 * d90)).cast("long").alias("pb90"),
        F.max("f50").alias("f50"),
        F.max("f90").alias("f90"),
    )
    out50 = loss.select(
        F.lit("p50").alias("tag"),
        (F.col("f50").cast("double") / 10.0).alias("forecast"),
        "n_eval",
        F.col("pb50").alias("pinball_x100"),
        (F.col("pb50").cast("double") / (100.0 * F.col("n_eval"))).alias(
            "mean_pinball"
        ),
    )
    out90 = loss.select(
        F.lit("p90").alias("tag"),
        (F.col("f90").cast("double") / 10.0).alias("forecast"),
        "n_eval",
        F.col("pb90").alias("pinball_x100"),
        (F.col("pb90").cast("double") / (100.0 * F.col("n_eval"))).alias(
            "mean_pinball"
        ),
    )
    return out50.unionAll(out90)


@query(
    "ev_loo_target_encoding",
    oracle="""
WITH e AS (
  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS k
  FROM e GROUP BY dow
)
SELECT dow, n, k,
       CAST(k AS DOUBLE) / n AS naive_rate,
       CAST(k - 1 AS DOUBLE) / (n - 1) AS loo_for_positives,
       CAST(k AS DOUBLE) / (n - 1) AS loo_for_negatives,
       (CAST(k AS DOUBLE) + 20.0 * (SELECT CAST(SUM(k) AS DOUBLE) / SUM(n)
                                    FROM g))
         / (n + 20.0) AS smoothed_rate
FROM g
""",
    tags=("events", "feature-engineering", "target-encoding",
          "leakage-safe"),
)
def ev_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT TARGET ENCODING — the leakage-safe categorical
    encoder every tabular-ML pipeline ships (CatBoost's core idea):
    a category's encoding for row i excludes row i's own label,
    loo_i = (k - y_i)/(n - 1). The subtle exactness win: with a
    BINARY target the per-row encoding takes only TWO distinct
    values per category — (k-1)/(n-1) for positive rows and k/(n-1)
    for negative rows — so the full encoding is emitted in CLOSED
    FORM from the group sums, no per-row column, no float-sum-order
    hazard. Also reports the m=20 smoothed (empirical-Bayes) rate
    toward the global prior — the companion encoder for rare
    categories.

    Category: day-of-week; target: purchase indicator. All counts
    exact; four float expressions with identical trees.

    Plan shape at 100 TB: one map-side-combined aggregate to
    |categories| rows; the encode JOIN back to rows (when a model
    needs the column) is a broadcast. The closed form is what makes
    LOO free — naive implementations window over every row."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = e.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("k"),
    )
    prior = g.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("prior")
    )
    return g.crossJoin(F.broadcast(prior)).select(
        "dow",
        "n",
        "k",
        (F.col("k").cast("double") / F.col("n")).alias("naive_rate"),
        ((F.col("k") - 1).cast("double") / (F.col("n") - 1)).alias(
            "loo_for_positives"
        ),
        (F.col("k").cast("double") / (F.col("n") - 1)).alias(
            "loo_for_negatives"
        ),
        (
            (F.col("k").cast("double") + F.lit(20.0) * F.col("prior"))
            / (F.col("n") + F.lit(20.0))
        ).alias("smoothed_rate"),
    )


# ---------------------------------------------------------------------------
# Round 8: Markov transition matrix, stratified IPW, Poisson bootstrap.
# ---------------------------------------------------------------------------


@query(
    "ev_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
tr AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
       FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS from_total
        FROM tr GROUP BY 1)
SELECT t.from_type, t.to_type, t.n_trans, o.from_total,
       CAST(t.n_trans AS DOUBLE) / o.from_total AS p_hat
FROM tr t JOIN tot o ON o.from_type = t.from_type
""",
    tags=("events", "markov", "transitions", "sessions"),
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV TRANSITION MATRIX over per-user event
    streams — the empirical P(next event type | current event type)
    behind session modeling, anomaly scoring (improbable transitions)
    and funnel-shape drift monitors. One user-keyed window produces
    (from, to) pairs; counts are exact integers and each probability
    is a single division of two BIGINTs, so the matrix hash-matches
    bitwise.

    100 TB shape: ONE shuffle (user-keyed sort window — same
    distribution the sessionize family reuses), then a map-side-
    combinable (from, to) aggregate over |types|² ≤ tiny keys; the
    row-normalizing totals join touches only the matrix, never the
    event stream."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    tr = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_trans")
    )
    # Row totals as a window over the |types|²-row matrix — NOT a
    # self-join back through the aggregate, which would recompute the
    # event-stream lineage twice (the plan doubled to 7 shuffles that
    # way; this shape is one stream shuffle + one matrix-local window).
    w_tot = Window.partitionBy("from_type")
    return tr.select(
        "from_type",
        "to_type",
        "n_trans",
        F.sum("n_trans").over(w_tot).cast("long").alias("from_total"),
        (F.col("n_trans").cast("double")
         / F.sum("n_trans").over(w_tot)).alias("p_hat"),
    )


@query(
    "ev_ipw_ate_strata",
    oracle=f"""
WITH base AS (
  SELECT event_type AS stratum,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
         value
  FROM events
),
s AS (
  SELECT stratum,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(treated) AS BIGINT) AS n_t,
         CAST(CAST(SUM(CASE WHEN treated = 1
                            THEN CAST(value AS DECIMAL(30,10)) END)
              AS VARCHAR) AS DOUBLE) AS sum_y_t,
         CAST(CAST(SUM(CASE WHEN treated = 0
                            THEN CAST(value AS DECIMAL(30,10)) END)
              AS VARCHAR) AS DOUBLE) AS sum_y_c
  FROM base GROUP BY stratum
)
SELECT stratum, n, n_t, (n - n_t) AS n_c,
       CAST(n_t AS DOUBLE) / n AS propensity,
       sum_y_t / n_t AS mean_t,
       sum_y_c / (n - n_t) AS mean_c,
       sum_y_t / n_t - sum_y_c / (n - n_t) AS ate_stratum
FROM s
""",
    tags=("events", "experimentation", "ipw", "causal"),
)
def ev_ipw_ate_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED INVERSE-PROPENSITY-WEIGHTED treatment effect — the
    observational-data causal estimator (Horvitz-Thompson / Rosenbaum-
    Rubin): within each stratum, weight treated outcomes by 1/p̂ and
    controls by 1/(1−p̂) where p̂ is the stratum's empirical treatment
    rate. With p̂ estimated from the SAME stratum, the HT estimator
    collapses algebraically to the stratum difference-in-means —
    Σy_t·(n/n_t)/n − Σy_c·(n/n_c)/n = ȳ_t − ȳ_c — so the query emits
    the exact closed form: decimal-exact arm sums, ONE IEEE division
    per mean, identical expression trees both engines. Treatment =
    even user_id (a deterministic stand-in assignment), stratum =
    event_type.

    Per-stratum rows are the contract (no cross-stratum float
    reduction — pooling ~6 stratum doubles would be the one
    non-associative sum in the query; consumers pool with their own
    variance weighting anyway, cf. ev_welch_ab_test / ev_cuped_*).

    100 TB shape: one map-side-combined stratum aggregate over the
    stream; output is O(strata)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("stratum"),
        (F.col("user_id") % 2 == 0).cast("int").alias("treated"),
        "value",
    )
    s = base.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("treated").cast("long").alias("n_t"),
        dsum(F.when(F.col("treated") == 1, F.col("value"))).alias("sum_y_t"),
        dsum(F.when(F.col("treated") == 0, F.col("value"))).alias("sum_y_c"),
    )
    return s.select(
        "stratum",
        "n",
        "n_t",
        (F.col("n") - F.col("n_t")).alias("n_c"),
        (F.col("n_t").cast("double") / F.col("n")).alias("propensity"),
        (F.col("sum_y_t") / F.col("n_t")).alias("mean_t"),
        (F.col("sum_y_c") / (F.col("n") - F.col("n_t"))).alias("mean_c"),
        (F.col("sum_y_t") / F.col("n_t")
         - F.col("sum_y_c") / (F.col("n") - F.col("n_t")))
        .alias("ate_stratum"),
    )


# Poisson(1) inverse-CDF thresholds scaled by 2^32, floor'd to exact
# integers so the weight draw is an INTEGER comparison in both engines
# (u32 from md5 hex vs literal): P(X<=k) for k = 0..4; u >= the last
# threshold draws weight 5.
_POIS_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)
_BOOT_R = 32


def _sql_pois_w(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_POIS_T[0]} THEN 0 "
        f"WHEN {u} < {_POIS_T[1]} THEN 1 "
        f"WHEN {u} < {_POIS_T[2]} THEN 2 "
        f"WHEN {u} < {_POIS_T[3]} THEN 3 "
        f"WHEN {u} < {_POIS_T[4]} THEN 4 ELSE 5 END"
    )


@query(
    "ev_poisson_bootstrap_ci",
    oracle=f"""
WITH p AS (SELECT event_id, value FROM events
           WHERE event_type = 'purchase'),
reps AS (SELECT unnest(range(0, {_BOOT_R})) AS r),
w AS (
  SELECT r.r,
         {_sql_pois_w("('0x' || substr(md5(p.event_id || ':' || r.r), 1, 8))::BIGINT")}
           AS wt,
         p.value
  FROM p CROSS JOIN reps r
),
boot AS (
  SELECT r,
         CAST(CAST(SUM(CAST(wt * value AS DECIMAL(30,10))) AS VARCHAR)
              AS DOUBLE) / CAST(SUM(wt) AS DOUBLE) AS mean_r
  FROM w GROUP BY r
),
pt AS (
  SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR)
              AS DOUBLE) / COUNT(*) AS est,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM p
)
SELECT pt.est, pt.n,
       CAST({_BOOT_R} AS BIGINT) AS n_replicates,
       (SELECT quantile_cont(mean_r, 0.025) FROM boot) AS boot_lo,
       (SELECT quantile_cont(mean_r, 0.975) FROM boot) AS boot_hi
FROM pt
""",
    tags=("events", "bootstrap", "poisson", "confidence-interval"),
)
def ev_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for the mean purchase
    value — THE bootstrap for cluster-scale data (Chamandy et al.,
    Google 2012): classical resampling needs n draws from n rows
    (a shuffle per replicate); the Poisson bootstrap gives each row
    an IID Poisson(1) weight per replicate, so all {_BOOT_R}
    replicates are computed in ONE streaming pass with map-side
    weights — no resampling shuffle exists at all. Weights are drawn
    deterministically: u32 = md5(event_id:replicate) prefix, compared
    against floor(2^32·CDF) INTEGER thresholds (exact integer
    comparisons — the float CDF never crosses an engine boundary).
    Replicate means divide a decimal-exact weighted sum by an integer
    weight total; the 2.5/97.5 percentile bracket runs over
    {_BOOT_R} replicate doubles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, same interpolation).

    100 TB shape: the replicate fan-out is a flatMap (×{_BOOT_R}
    rows map-side, never materialized through a shuffle); the only
    shuffle is the {_BOOT_R}-key partial aggregate; the CI reduce
    touches {_BOOT_R} rows."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "value")
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r")
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("event_id"), F.col("r"))), 1, 8),
        16, 10,
    ).cast("long")
    wt = (
        F.when(u < _POIS_T[0], 0)
        .when(u < _POIS_T[1], 1)
        .when(u < _POIS_T[2], 2)
        .when(u < _POIS_T[3], 3)
        .when(u < _POIS_T[4], 4)
        .otherwise(5)
    )
    boot = (
        p.select("event_id", "value", reps)
        .withColumn("wt", wt)
        .groupBy("r")
        .agg(
            (dsum(F.col("wt") * F.col("value"))
             / F.sum("wt").cast("double")).alias("mean_r")
        )
    )
    pt = p.agg(
        (dsum("value") / F.count(F.lit(1))).alias("est"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    ci = boot.agg(
        F.percentile("mean_r", 0.025).alias("boot_lo"),
        F.percentile("mean_r", 0.975).alias("boot_hi"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "est",
        "n",
        F.lit(_BOOT_R).cast("long").alias("n_replicates"),
        "boot_lo",
        "boot_hi",
    )


@query(
    "ev_qini_uplift",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS score,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
r AS (
  SELECT treated, conv,
         NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
  FROM u
),
d AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(treated) AS BIGINT) AS n_t,
         CAST(COUNT(*) - SUM(treated) AS BIGINT) AS n_c,
         CAST(SUM(treated * conv) AS BIGINT) AS conv_t,
         CAST(SUM((1 - treated) * conv) AS BIGINT) AS conv_c
  FROM r GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n, n_t, n_c, conv_t, conv_c,
       CAST(SUM(conv_t) OVER w AS BIGINT) AS conv_t_cum,
       CAST(SUM(conv_c) OVER w AS BIGINT) AS conv_c_cum,
       CAST(SUM(conv_t) OVER w AS DOUBLE)
         - CAST(SUM(conv_c) OVER w * SUM(n_t) OVER w AS DOUBLE)
           / (SUM(n_c) OVER w) AS qini
FROM d
WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
""",
    tags=("events", "experimentation", "uplift", "qini"),
)
def ev_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI CURVE for uplift evaluation (Radcliffe 2007) — the
    incremental-conversions-vs-targeting-depth curve every uplift
    model is judged by: rank users by a score (here their exact
    total event value), cut into NTILE deciles, and report cumulative
    qini(k) = T_conv(k) − C_conv(k)·N_t(k)/N_c(k) — the conversions
    gained over a control scaled to the treated volume.

    Exactness: user scores divide a decimal-exact sum once; deciles
    use the DISTRIBUTED NTILE construction (rel_ntile_deciles' two-
    level rank: range-bucket shuffle + local row_number + broadcast
    offsets — never a single-partition window over users); all
    decile tallies are integers; qini is one multiply + one division
    + one subtract in the same tree both engines.

    100 TB shape: one user aggregate over the stream, one bucket
    shuffle over user-level rows, cumulative window over 10 rows."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        dsum("value").alias("score"),
        F.max((F.col("user_id") % 2 == 0).cast("int")).alias("treated"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    b = u.select(
        "user_id",
        "treated",
        "conv",
        "score",
        F.floor(-F.col("score") / F.lit(25.0)).alias("bkt"),
    )
    wloc = Window.partitionBy("bkt").orderBy(F.desc("score"), F.asc("user_id"))
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        b.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bkt",
            F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off"),
            F.sum("cnt").over(wall).alias("n_total"),
        )
    )
    ranked = b.join(F.broadcast(offsets), "bkt").select(
        "treated",
        "conv",
        (F.col("off") + F.row_number().over(wloc)).alias("r"),
        "n_total",
    )
    k = F.lit(10)
    size = (F.col("n_total") / k).cast("long")
    rem = F.col("n_total") % k
    r0 = F.col("r") - 1
    decile = F.when(
        r0 < rem * (size + 1), (r0 / (size + 1)).cast("long") + 1
    ).otherwise(rem + ((r0 - rem * (size + 1)) / size).cast("long") + 1)
    d = (
        ranked.select(decile.alias("decile"), "treated", "conv")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("treated").cast("long").alias("n_t"),
            (F.count(F.lit(1)) - F.sum("treated")).cast("long").alias("n_c"),
            F.sum(F.col("treated") * F.col("conv")).cast("long")
            .alias("conv_t"),
            F.sum((1 - F.col("treated")) * F.col("conv")).cast("long")
            .alias("conv_c"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0)
    return d.select(
        F.col("decile").cast("long").alias("decile"),
        "n", "n_t", "n_c", "conv_t", "conv_c",
        F.sum("conv_t").over(wcum).cast("long").alias("conv_t_cum"),
        F.sum("conv_c").over(wcum).cast("long").alias("conv_c_cum"),
        (
            F.sum("conv_t").over(wcum).cast("double")
            - (F.sum("conv_c").over(wcum) * F.sum("n_t").over(wcum))
            .cast("double") / F.sum("n_c").over(wcum)
        ).alias("qini"),
    )


@query(
    "ev_srm_guardrail",
    oracle="""
WITH du AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id
  FROM events
),
d AS (
  SELECT day,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_t,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_c
  FROM du GROUP BY day
)
SELECT day, n_t, n_c,
       CAST((n_t - n_c) * (n_t - n_c) AS DOUBLE) / (n_t + n_c) AS chi2,
       CASE WHEN (n_t - n_c) * (n_t - n_c) * 100 > 384 * (n_t + n_c)
            THEN 1 ELSE 0 END AS srm_flag
FROM d
""",
    tags=("events", "experimentation", "srm", "guardrail"),
)
def ev_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH guardrail — the first check every A/B
    platform runs before reading any metric: with a 50/50 split, the
    per-day distinct-user counts per arm must not diverge beyond
    chance, or the assignment/logging pipeline is broken and every
    downstream readout is invalid. For two equal-expectation cells
    the chi-square statistic collapses to (n_t − n_c)²/(n_t + n_c)
    — an integer numerator and ONE division; the 95% breach flag is
    the INTEGER-SCALED comparison d²·100 > 384·n (3.84 = χ²₁ at
    0.05), so no float threshold crosses the engine boundary.

    100 TB shape: one (day, user) distinct (map-side partial), one
    day aggregate; output O(days)."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).distinct()
    d = du.groupBy("day").agg(
        F.sum((F.col("user_id") % 2 == 0).cast("int")).cast("long")
        .alias("n_t"),
        F.sum((F.col("user_id") % 2 == 1).cast("int")).cast("long")
        .alias("n_c"),
    )
    diff = F.col("n_t") - F.col("n_c")
    tot = F.col("n_t") + F.col("n_c")
    return d.select(
        "day",
        "n_t",
        "n_c",
        ((diff * diff).cast("double") / tot).alias("chi2"),
        F.when(diff * diff * 100 > 384 * tot, 1).otherwise(0)
        .alias("srm_flag"),
    )


_ATTR_WINDOW_US = 24 * 3600 * 1_000_000
_ATTR_SCALE = 1_000_000
_ATTR_MAX_TOUCH = 256


@query(
    "ev_multitouch_attribution",
    oracle=f"""
WITH p AS (
  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS cus
  FROM events WHERE event_type = 'purchase'
),
ecap AS (
  SELECT user_id, event_type, ts, event_id
  FROM (
    SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS r
    FROM events WHERE event_type <> 'purchase'
  ) WHERE r <= {_ATTR_MAX_TOUCH}
),
tp AS (
  SELECT p.conv_id, e.event_type AS channel, epoch_us(e.ts) AS tus,
         e.event_id
  FROM p JOIN ecap e ON e.user_id = p.user_id
  WHERE epoch_us(e.ts) < p.cus
    AND epoch_us(e.ts) >= p.cus - {_ATTR_WINDOW_US}
),
r AS (
  SELECT conv_id, channel,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY tus ASC, event_id ASC) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY tus DESC, event_id DESC) AS rn_last,
         COUNT(*) OVER (PARTITION BY conv_id) AS n_touches
  FROM tp
)
SELECT channel,
       CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS last_touch_convs,
       CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS first_touch_convs,
       CAST(SUM({_ATTR_SCALE} // n_touches) AS BIGINT)
         AS linear_credit_micros,
       CAST(COUNT(*) AS BIGINT) AS n_touches_total
FROM r GROUP BY channel
""",
    tags=("events", "attribution", "multitouch", "marketing"),
    bench=True,  # round-9: the experimentation-stats family's bench
    # representative (round-8 verdict item 5)
)
def ev_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION under three industry rule sets in one
    pass — last-touch, first-touch, and linear — over each purchase's
    24-hour lookback of same-user non-purchase touchpoints. The three
    models are columns of ONE per-conversion ranking (two row_numbers
    + a count over the same window partition), so comparing rule sets
    costs nothing extra — the comparison IS the deliverable (how much
    credit moves when the model changes). Linear credit is the
    fixed-point integer 10^6 div n_touches summed as BIGINTs — no
    float fraction accumulation (total credit under-counts by the
    division remainder per conversion; exact and documented, the
    standard fixed-point trade; cf. ev_shapley_attribution for the
    axiomatic model). Conversions with an empty lookback simply have
    no touch rows — they appear in no channel (orphan conversions are
    a separate count query by construction). Time bounds compare
    integer epoch-micros — no timestamp arithmetic crosses engines.

    100 TB shape: the lookback is a user-keyed equi-join with a time
    residual (the as-of/range-join discipline: the shuffle key is
    user_id, the 24 h predicate filters within the user's partition);
    per-conversion windows partition on conv_id (bounded by a user's
    touch rate); final channel rollup is map-side-combinable."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.unix_micros("ts").alias("cus"),
    )
    e = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("tus"),
        "event_id",
    )
    # Hot-user cap (the LSH bucket-cap discipline applied to the join
    # fan-out): a bot with T touches and C purchases costs O(T·C)
    # pairs; keeping each user's most recent _ATTR_MAX_TOUCH touches
    # bounds the fan-out per user before the join. Never binds at the
    # shipped scales (max 86 events/user at sf0.01) so the oracle
    # mirrors it verbatim; at 100 TB it is the difference between a
    # bounded join and a quadratic hot key.
    w_cap = Window.partitionBy("user_id").orderBy(
        F.desc("tus"), F.desc("event_id"))
    e = (
        e.withColumn("__r", F.row_number().over(w_cap))
        .filter(F.col("__r") <= _ATTR_MAX_TOUCH)
        .drop("__r")
    )
    tp = p.join(e, "user_id").filter(
        (F.col("tus") < F.col("cus"))
        & (F.col("tus") >= F.col("cus") - _ATTR_WINDOW_US)
    )
    w_first = Window.partitionBy("conv_id").orderBy(
        F.asc("tus"), F.asc("event_id"))
    w_last = Window.partitionBy("conv_id").orderBy(
        F.desc("tus"), F.desc("event_id"))
    w_n = Window.partitionBy("conv_id")
    r = tp.select(
        "channel",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
        F.count(F.lit(1)).over(w_n).alias("n_touches"),
    )
    return r.groupBy("channel").agg(
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0)).cast("long")
        .alias("last_touch_convs"),
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0)).cast("long")
        .alias("first_touch_convs"),
        F.sum(F.expr(f"{_ATTR_SCALE} div n_touches")).cast("long")
        .alias("linear_credit_micros"),
        F.count(F.lit(1)).cast("long").alias("n_touches_total"),
    )


@query(
    "ev_power_mde",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR)
              AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(value * value AS DECIMAL(30,10))) AS VARCHAR)
              AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       sx / n AS mean,
       (sxx - sx * sx / n) / (n - 1) AS variance,
       (CAST(1.96 AS DOUBLE) + CAST(0.84 AS DOUBLE))
         * sqrt(CAST(2 AS DOUBLE) * ((sxx - sx * sx / n) / (n - 1))
                / (n / CAST(2 AS DOUBLE))) AS mde_abs,
       (CAST(1.96 AS DOUBLE) + CAST(0.84 AS DOUBLE))
         * sqrt(CAST(2 AS DOUBLE) * ((sxx - sx * sx / n) / (n - 1))
                / (n / CAST(2 AS DOUBLE))) / (sx / n) AS mde_rel
FROM s
""",
    tags=("events", "experimentation", "power-analysis", "mde"),
)
def ev_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT for a 50/50 two-sample test on each
    metric stream — the pre-experiment power analysis every platform
    runs before committing traffic: MDE = (z_{{α/2}} + z_{{β}}) ·
    sqrt(2σ²/(n/2)) at 95% confidence / 80% power (1.96 and 0.84
    injected as identical LITERALS — the standard-normal quantiles
    are constants, not computed, so no erf/ppf crosses an engine).
    Sample variance is EXACT up to the two final divisions: Σx and
    Σx² are DECIMAL(30,10) sums (order-independent under any
    partitioning), and mean/variance/MDE are one fixed IEEE
    expression tree both engines share, so even the derived floats
    hash-match bitwise.

    Pairs with ev_welch_ab_test (the post-experiment readout) and
    ev_srm_guardrail (the validity check): together the three are
    the experiment lifecycle — size it, guard it, read it.

    100 TB shape: one map-side-combined aggregate per metric; output
    O(event types)."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("value").alias("sx"),
        dsum(F.col("value") * F.col("value")).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    mde = (F.lit(1.96) + F.lit(0.84)) * F.sqrt(
        F.lit(2.0) * var / (F.col("n") / F.lit(2.0))
    )
    return s.select(
        "event_type",
        "n",
        mean.alias("mean"),
        var.alias("variance"),
        mde.alias("mde_abs"),
        (mde / mean).alias("mde_rel"),
    )


_FH_DIMS = 32


@query(
    "ev_feature_hashing",
    oracle=f"""
WITH f AS (
  SELECT user_id,
         ('0x' || substr(md5(event_type || '=' ||
            COALESCE(json_extract_string(props, '$.k'), '')), 1, 8))::BIGINT
           % {_FH_DIMS} AS dim,
         CASE WHEN ('0x' || substr(md5(event_type || '=' ||
            COALESCE(json_extract_string(props, '$.k'), '')), 9, 1))::BIGINT
              % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM events
),
m AS (
  SELECT user_id, dim, CAST(SUM(sign) AS BIGINT) AS val
  FROM f GROUP BY user_id, dim
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS nnz,
       CAST(SUM(val * val) AS BIGINT) AS sq_norm,
       CAST(SUM(val) AS BIGINT) AS comp_sum,
       CAST(MIN(dim) AS BIGINT) AS first_dim
FROM m WHERE val <> 0 GROUP BY user_id
""",
    tags=("events", "feature-hashing", "ml-prep", "hashing-trick"),
)
def ev_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE HASHING TRICK (Weinberger et al. 2009) — fixed-width
    feature vectors from unbounded categorical vocabularies with NO
    dictionary, the ML-prep step that removes the vocabulary-build
    pass (and its shuffle) entirely: each (event_type, props.k) pair
    hashes to one of {_FH_DIMS} dimensions with an md5-derived ±1
    sign (the signed variant that makes collisions cancel in
    expectation — the property that keeps inner products unbiased).
    Per-user vectors are INTEGER component sums; the output row per
    user carries the sparse summary (nnz, exact squared norm,
    component sum, first live dimension) — all BIGINTs, hash-exact.

    100 TB shape: feature extraction is map-side string hashing (no
    vocabulary table exists — that is the trick); the only shuffles
    are the (user, dim) partial aggregate and the per-user rollup.
    Contrast ev_lag_feature_matrix (dense engineered features) and
    ev_loo_target_encoding (supervised encoding): this is the
    unsupervised unbounded-cardinality path."""
    ev = load_table(spark, sf_dir, "events")
    feat = F.concat(
        F.col("event_type"),
        F.lit("="),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("")),
    )
    f = ev.select(
        "user_id",
        (F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long")
         % _FH_DIMS).alias("dim"),
        F.when(
            F.conv(F.substring(F.md5(feat), 9, 1), 16, 10).cast("long")
            % 2 == 0, 1
        ).otherwise(-1).alias("sign"),
    )
    m = (
        f.groupBy("user_id", "dim")
        .agg(F.sum("sign").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("nnz"),
        F.sum(F.col("val") * F.col("val")).cast("long").alias("sq_norm"),
        F.sum("val").cast("long").alias("comp_sum"),
        F.min("dim").cast("long").alias("first_dim"),
    )


_SPC_WINDOW = 24  # trailing hours in the control window


@query(
    "ev_shewhart_control",
    oracle=f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
w AS (
  SELECT epoch_us(hr) AS hr_us, y,
         CAST(SUM(y) OVER tw AS BIGINT) AS sx,
         CAST(SUM(y * y) OVER tw AS BIGINT) AS sxx,
         CAST(COUNT(*) OVER tw AS BIGINT) AS n
  FROM h
  WINDOW tw AS (ORDER BY hr ROWS BETWEEN {_SPC_WINDOW} PRECEDING
                AND 1 PRECEDING)
),
c AS (
  SELECT hr_us, y, n,
         CAST(sx AS DOUBLE) / n AS mu,
         sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              / (n - 1)) AS sigma
  FROM w WHERE n >= 12
)
SELECT hr_us, y, n, mu, sigma,
       CASE WHEN CAST(y AS DOUBLE) > mu + 3 * sigma THEN 1
            WHEN CAST(y AS DOUBLE) < mu - 3 * sigma THEN -1
            ELSE 0 END AS breach
FROM c
""",
    tags=("events", "spc", "control-chart", "anomaly"),
)
def ev_shewhart_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHEWHART CONTROL CHART (the 1931 original SPC monitor, still
    the default ops alerting rule): each hour's event count is judged
    against μ ± 3σ computed from the TRAILING {_SPC_WINDOW}-hour
    window EXCLUDING the current hour (self-exclusion keeps an
    anomalous point from masking itself — the rolling twin of
    leave-one-out encoding). The rolling moments are INTEGER window
    sums (Σy, Σy² over counts — exact under any evaluation order,
    the same reason the share-of-parent rollup windows over
    decimals); μ, σ, and the breach comparison are one fixed IEEE
    tree. Warm-up hours (fewer than 12 prior points) are excluded
    rather than judged against a noisy baseline. Complements
    ev_cusum_changepoint (cumulative drift) and ev_hampel_filter
    (robust point outliers): Shewhart is the threshold-breach
    monitor between them.

    100 TB shape: corpus work is ONE hourly aggregate; the rolling
    window runs over the bounded hour grid (744 rows/month), not
    events."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    tw = Window.orderBy("hr").rowsBetween(-_SPC_WINDOW, -1)
    w = h.select(
        F.unix_micros("hr").alias("hr_us"),
        "y",
        F.sum("y").over(tw).cast("long").alias("sx"),
        F.sum(F.col("y") * F.col("y")).over(tw).cast("long").alias("sxx"),
        F.count(F.lit(1)).over(tw).cast("long").alias("n"),
    ).filter(F.col("n") >= 12)
    mu = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    return w.select(
        "hr_us",
        "y",
        "n",
        mu.alias("mu"),
        sigma.alias("sigma"),
        F.when(F.col("y").cast("double") > mu + 3 * sigma, 1)
        .when(F.col("y").cast("double") < mu - 3 * sigma, -1)
        .otherwise(0)
        .alias("breach"),
    )


@query(
    "ev_time_weighted_average",
    oracle="""
WITH seq AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_us
  FROM events
),
seg AS (
  SELECT user_id, value, next_us - us AS dur_us
  FROM seq WHERE next_us IS NOT NULL
),
u AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(dur_us) AS BIGINT) AS span_us,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10)) * dur_us)
              AS VARCHAR) AS DOUBLE) AS vt
  FROM seg GROUP BY user_id
)
SELECT user_id, n_segments, span_us,
       vt / span_us AS twap
FROM u WHERE span_us > 0
""",
    tags=("events", "twap", "time-weighted", "window"),
)
def ev_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED AVERAGE (TWAP — the estimator that makes
    irregular samples comparable: a value held for an hour must weigh
    3600× a value held a second; the plain mean ev_user_feature_
    profile reports is biased toward bursty periods): each
    observation holds until the user's next event (step/last-value
    interpolation, the convention of every metrics store), weights
    are integer MICROSECOND durations from one lead window, and the
    weighted sum Σ value·Δt is a DECIMAL(30,10)·BIGINT product summed
    exactly — order-free under any partitioning — with ONE final
    division per user. The trailing observation (no successor) has
    undefined holding time and is excluded, per the standard
    right-open convention.

    100 TB shape: one user-keyed sort window (the sessionize family's
    shared shuffle), one map-side-combined user aggregate; output
    O(users)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    seg = seq.select(
        "user_id", "value", (F.col("next_us") - F.col("us")).alias("dur_us")
    )
    u = seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("dur_us").cast("long").alias("span_us"),
        F.sum(F.col("value").cast("decimal(30,10)") * F.col("dur_us"))
        .cast("double").alias("vt"),
    )
    return u.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_segments",
        "span_us",
        (F.col("vt") / F.col("span_us")).alias("twap"),
    )


# Campaign windows as epoch-micros literals (UTC interpretation of the
# NTZ fixture timestamps — the same convention unix_micros/epoch_us
# already share across every event-time oracle).
_CAMPAIGNS = (
    ("c1", 1704412800000000, 1704585600000000),   # Jan 05 .. Jan 07
    ("c2", 1705276800000000, 1705363200000000),   # Jan 15 .. Jan 16
    ("c3", 1705752000000000, 1705838400000000),   # Jan 20 12:00 .. Jan 21 12:00
)


def _campaign_sql() -> str:
    rows = ", ".join(f"('{n}', {s}, {e})" for n, s, e in _CAMPAIGNS)
    return (f"(SELECT * FROM (VALUES {rows})"
            f" AS t(campaign, c_start, c_end))")


@query(
    "ev_interval_overlap_duration",
    oracle=f"""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, us,
             LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS prev
      FROM e),
f AS (SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM l),
s AS (SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM f),
sess AS (
  SELECT user_id, CAST(MIN(us) AS BIGINT) AS s_start,
         CAST(MAX(us) AS BIGINT) AS s_end
  FROM s GROUP BY user_id, sid
),
c AS {_campaign_sql()},
ov AS (
  SELECT c.campaign,
         GREATEST(0, LEAST(sess.s_end, c.c_end)
                     - GREATEST(sess.s_start, c.c_start)) AS ov_us,
         sess.user_id
  FROM sess JOIN c
    ON sess.s_start < c.c_end AND sess.s_end > c.c_start
)
SELECT campaign,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(ov_us) AS BIGINT) AS overlap_us_total,
       CAST(MAX(ov_us) AS BIGINT) AS max_overlap_us
FROM ov GROUP BY campaign
""",
    tags=("events", "intervals", "overlap", "exposure"),
)
def ev_interval_overlap_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP DURATION — ad-exposure accounting: how much
    session time fell inside each campaign flight window. Sessions
    are the standard 30-minute-gap islands (the batch sessionize
    construction, shared shuffle); per (session, campaign) overlap
    is the classic GREATEST(0, LEAST(ends) − GREATEST(starts)) in
    integer MICROSECONDS — exact, no timestamp arithmetic crosses
    engines — and the join predicate is the open-interval overlap
    test, so zero-length touches are excluded. Complements
    ev_max_concurrent_sessions (sweep-line counting) and
    ev_range_join (bucketed interval join): this is the measure-the-
    intersection variant.

    100 TB shape: sessionization is the one user-keyed shuffle; the
    campaign table is O(flights) and BROADCAST (a few rows against
    millions of sessions); overlap math is codegen per pair."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e = ev.select("user_id", "event_id", F.unix_micros("ts").alias("us"))
    f = e.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    s = f.withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.min("us").cast("long").alias("s_start"),
        F.max("us").cast("long").alias("s_end"),
    )
    camp = spark.createDataFrame(
        [(n, s_, e_) for n, s_, e_ in _CAMPAIGNS],
        "campaign string, c_start long, c_end long",
    )
    ov = sess.join(
        F.broadcast(camp),
        (F.col("s_start") < F.col("c_end"))
        & (F.col("s_end") > F.col("c_start")),
    ).select(
        "campaign",
        "user_id",
        F.greatest(
            F.lit(0).cast("long"),
            F.least("s_end", "c_end") - F.greatest("s_start", "c_start"),
        ).alias("ov_us"),
    )
    return ov.groupBy("campaign").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("ov_us").cast("long").alias("overlap_us_total"),
        F.max("ov_us").cast("long").alias("max_overlap_us"),
    )


@query(
    "ev_path_trigrams",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS t1,
         LEAD(event_type, 2) OVER w AS t2,
         epoch_us(ts) AS us,
         LEAD(epoch_us(ts), 2) OVER w AS us2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (
  SELECT event_type || '>' || t1 || '>' || t2 AS path,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM seq
  WHERE t2 IS NOT NULL AND us2 - us <= 3600000000
  GROUP BY 1
),
r AS (SELECT *, RANK() OVER (ORDER BY n DESC, path) AS rk FROM tri)
SELECT path, n, n_users FROM r WHERE rk <= 15
""",
    tags=("events", "paths", "sequence-mining", "trigrams"),
)
def ev_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP USER-PATH TRIGRAMS — the sequence-mining staple behind
    'common journeys' product analytics (and the n-gram flattening
    that makes path mining tractable where full-sequence mining
    explodes): three CONSECUTIVE same-user events within one hour
    collapse to a 'a>b>c' path string via two LEAD columns on the
    shared user-keyed sort (the ev_cep_strict_sequence window — path
    mining IS CEP with counting instead of matching), counted
    globally with distinct-user support, top-15 by (count, path).
    RANK with the path tiebreak keeps the cut deterministic; the
    1-hour bound compares integer epoch-micros.

    100 TB shape: ONE user-keyed window shuffle; the path aggregate
    is map-side-combinable over ≤ |types|³ keys; top-15 is a
    TakeOrdered over that tiny table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts"), 2).over(w).alias("us2"),
    ).filter(
        F.col("t2").isNotNull()
        & (F.col("us2") - F.col("us") <= 3_600_000_000)
    )
    tri = seq.select(
        F.concat_ws(">", "event_type", "t1", "t2").alias("path"),
        "user_id",
    ).groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    r = tri.withColumn(
        "rk", F.rank().over(Window.orderBy(F.desc("n"), F.asc("path")))
    )
    return r.filter(F.col("rk") <= 15).select("path", "n", "n_users")


_FUNNEL_WINDOWS_H = (1, 6, 24)


@query(
    "ev_funnel_window_sensitivity",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS first_purchase
  FROM events GROUP BY user_id
),
conv AS (
  SELECT user_id, first_purchase - first_click AS delay_us
  FROM u
  WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_click
),
ks AS (SELECT unnest([{", ".join(str(h) for h in _FUNNEL_WINDOWS_H)}])
         AS window_h),
base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clickers FROM u
         WHERE first_click IS NOT NULL)
SELECT CAST(ks.window_h AS BIGINT) AS window_h,
       base.n_clickers,
       CAST((SELECT COUNT(*) FROM conv
             WHERE delay_us <= ks.window_h * 3600000000) AS BIGINT)
         AS n_converted,
       CAST((SELECT COUNT(*) FROM conv
             WHERE delay_us <= ks.window_h * 3600000000) AS DOUBLE)
         / base.n_clickers AS conversion_rate
FROM ks, base
""",
    tags=("events", "funnel", "attribution-window", "sensitivity"),
)
def ev_funnel_window_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTRIBUTION-WINDOW SENSITIVITY for the click→purchase funnel —
    the table that answers the perennial 'does our conversion rate
    depend on the 24 h cutoff we picked?': conversion under 1 h /
    6 h / 24 h windows from ONE user-level pass (first click, first
    purchase, integer-microsecond delay), each window a filter over
    the same per-user delays, never a re-scan per window (the
    ann_recall_curve discipline applied to funnels; ev_funnel and
    ev_funnel_time_to_convert report the fixed-window point and its
    latency distribution). A steep rate change between windows means
    the funnel definition — not the product — is driving the metric.

    100 TB shape: one user-keyed conditional-MIN aggregate over the
    stream; the sweep fans out over a 3-row bound table against
    O(converting users) delays."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click",
                     F.unix_micros("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.unix_micros("ts"))).alias("first_purchase"),
    ).persist()
    conv = u.filter(
        F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_click"))
    ).select(
        (F.col("first_purchase") - F.col("first_click")).alias("delay_us")
    )
    base = u.filter(F.col("first_click").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_clickers"))
    ks = spark.createDataFrame(
        [(h,) for h in _FUNNEL_WINDOWS_H], "window_h long")
    counts = (
        conv.crossJoin(F.broadcast(ks))
        .filter(F.col("delay_us") <= F.col("window_h") * 3_600_000_000)
        .groupBy("window_h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_converted"))
    )
    return (
        ks.join(counts, "window_h", "left")
        .crossJoin(F.broadcast(base))
        .select(
            "window_h",
            "n_clickers",
            F.coalesce("n_converted", F.lit(0).cast("long"))
            .alias("n_converted"),
            (F.coalesce("n_converted", F.lit(0).cast("long")).cast("double")
             / F.col("n_clickers")).alias("conversion_rate"),
        )
    )


@query(
    "ev_growth_accounting",
    oracle="""
WITH du AS (
  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events
),
seq AS (
  SELECT user_id, day,
         LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
         MIN(day) OVER (PARTITION BY user_id) AS first_day
  FROM du
),
cls AS (
  SELECT day,
         CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
         CAST(SUM(CASE WHEN day <> first_day
                        AND prev_day = strftime(CAST(day AS DATE)
                                                - INTERVAL 1 DAY, '%Y-%m-%d')
                       THEN 1 ELSE 0 END) AS BIGINT) AS retained,
         CAST(SUM(CASE WHEN day <> first_day
                        AND prev_day <> strftime(CAST(day AS DATE)
                                                 - INTERVAL 1 DAY, '%Y-%m-%d')
                       THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
  FROM seq GROUP BY day
),
churn AS (
  SELECT strftime(CAST(a.day AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS churned
  FROM du a
  WHERE NOT EXISTS (
    SELECT 1 FROM du b WHERE b.user_id = a.user_id
      AND b.day = strftime(CAST(a.day AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d')
  )
  GROUP BY 1
)
SELECT cls.day, cls.new_users, cls.retained, cls.resurrected,
       COALESCE(churn.churned, 0) AS churned_from_prev,
       cls.new_users + cls.retained + cls.resurrected AS dau
FROM cls LEFT JOIN churn ON churn.day = cls.day
""",
    tags=("events", "growth-accounting", "retention", "dau"),
)
def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING (the Social Capital DAU decomposition every
    growth team reports): each day's actives split EXACTLY into
    new (first day ever), retained (also active yesterday), and
    resurrected (returning after a gap), plus yesterday's actives
    who did not return (churned-into-today) — the four flows whose
    identity dau(t) = new + retained + resurrected and
    dau(t) − dau(t−1) = new + resurrected − churned make growth
    arithmetic auditable. Classification needs only each user's
    PREVIOUS active day (one lag window over the deduplicated
    (user, day) table) and first day (min window on the same sort);
    churn is a day-shifted anti-join on the same table. All counts
    integer-exact; day arithmetic via date ± INTERVAL rendered to
    strings identically.

    100 TB shape: the (user, day) distinct is the only stream-sized
    shuffle (map-side partial); windows partition per user over
    their active-day list (≤ 31 rows); churn's anti-join runs on
    the same deduplicated table."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).distinct().persist()
    w = Window.partitionBy("user_id").orderBy("day")
    wall = Window.partitionBy("user_id")
    seq = du.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.min("day").over(wall).alias("first_day"),
    )
    yesterday = F.date_format(
        F.date_sub(F.col("day").cast("date"), 1), "yyyy-MM-dd")
    cls = seq.groupBy("day").agg(
        F.sum((F.col("day") == F.col("first_day")).cast("int"))
        .cast("long").alias("new_users"),
        F.sum(((F.col("day") != F.col("first_day"))
               & (F.col("prev_day") == yesterday)).cast("int"))
        .cast("long").alias("retained"),
        F.sum(((F.col("day") != F.col("first_day"))
               & (F.col("prev_day") != yesterday)).cast("int"))
        .cast("long").alias("resurrected"),
    )
    nxt = du.select(
        "user_id",
        F.date_format(F.date_add(F.col("day").cast("date"), 1),
                      "yyyy-MM-dd").alias("day"),
    )
    churn = (
        nxt.join(du, ["user_id", "day"], "left_anti")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("churned_from_prev"))
    )
    return (
        cls.join(churn, "day", "left")
        .select(
            "day",
            "new_users",
            "retained",
            "resurrected",
            F.coalesce("churned_from_prev", F.lit(0).cast("long"))
            .alias("churned_from_prev"),
            (F.col("new_users") + F.col("retained") + F.col("resurrected"))
            .alias("dau"),
        )
    )


_ES_EVENT_DAY = "2024-01-16"  # the ev_diff_in_diff / ev_cuped launch midpoint
_ES_SPAN = 10  # relative-day window: [-10, +10]


@query(
    "ev_event_study_did",
    oracle=f"""
WITH u AS (
  SELECT user_id % 2 AS arm,
         date_diff('day', DATE '{_ES_EVENT_DAY}', CAST(ts AS DATE))
           AS rel_day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
cell AS (
  SELECT rel_day, arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS tot
  FROM u WHERE rel_day BETWEEN -{_ES_SPAN} AND {_ES_SPAN}
  GROUP BY rel_day, arm
),
pre AS (
  SELECT arm, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(tot) AS BIGINT) AS tot
  FROM cell WHERE rel_day < 0 GROUP BY arm
),
gap0 AS (
  SELECT (t.tot * 1.0 / t.n) - (c.tot * 1.0 / c.n) AS pre_gap
  FROM pre t, pre c WHERE t.arm = 1 AND c.arm = 0
)
SELECT CAST(t.rel_day AS BIGINT) AS rel_day,
       t.n AS n_treat, c.n AS n_ctrl,
       (t.tot * 1.0 / t.n) - (c.tot * 1.0 / c.n) AS day_gap_cents,
       (t.tot * 1.0 / t.n) - (c.tot * 1.0 / c.n) - gap0.pre_gap
         AS event_study_coef
FROM cell t JOIN cell c ON c.rel_day = t.rel_day, gap0
WHERE t.arm = 1 AND c.arm = 0
""",
    tags=("events", "experimentation", "event-study", "causal"),
)
def ev_event_study_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-STUDY difference-in-differences — the per-period
    decomposition every staged-launch writeup plots before trusting
    the pooled DiD scalar (ev_diff_in_diff): for each relative day d
    in [-{_ES_SPAN}, +{_ES_SPAN}] around the launch midpoint, the
    treat-control gap in mean cents, re-centered by the POOLED
    pre-period gap — pre-period coefficients hovering at ~0 validate
    the parallel-trends assumption; post-period coefficients trace
    effect onset and decay. RATIONAL discipline throughout: integer
    cent totals and counts per (day, arm) cell, each mean one
    int/int division, the pre-gap from pooled pre-period TOTALS (not
    an order-dependent average of daily gaps) — bitwise-hashable.

    Plan shape at 100 TB: one map-side-combinable groupBy to the
    O(days x 2) cell table; everything after (arm self-join, pre-gap
    scalar) runs on that tiny table via broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        F.datediff(
            F.col("ts").cast("date"), F.lit(_ES_EVENT_DAY).cast("date")
        ).alias("rel_day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).filter(F.col("rel_day").between(-_ES_SPAN, _ES_SPAN))
    cell = u.groupBy("rel_day", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
    )
    pre = (
        cell.filter(F.col("rel_day") < 0)
        .groupBy("arm")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("tot").cast("long").alias("tot"),
        )
    )
    pt = pre.filter(F.col("arm") == 1).select(
        (F.col("tot") * 1.0 / F.col("n")).alias("mt"))
    pc = pre.filter(F.col("arm") == 0).select(
        (F.col("tot") * 1.0 / F.col("n")).alias("mc"))
    gap0 = pt.crossJoin(F.broadcast(pc)).select(
        (F.col("mt") - F.col("mc")).alias("pre_gap"))
    t = cell.filter(F.col("arm") == 1).select(
        "rel_day",
        F.col("n").alias("n_treat"),
        (F.col("tot") * 1.0 / F.col("n")).alias("m_t"),
    )
    c = cell.filter(F.col("arm") == 0).select(
        "rel_day",
        F.col("n").alias("n_ctrl"),
        (F.col("tot") * 1.0 / F.col("n")).alias("m_c"),
    )
    return (
        t.join(c, "rel_day")
        .crossJoin(F.broadcast(gap0))
        .select(
            "rel_day",
            "n_treat",
            "n_ctrl",
            (F.col("m_t") - F.col("m_c")).alias("day_gap_cents"),
            (F.col("m_t") - F.col("m_c") - F.col("pre_gap"))
            .alias("event_study_coef"),
        )
    )


_CMS_SWEEP_WS = (16, 64, 256)  # widths; depth fixed at _CMS_D rows


@query(
    "ev_cms_width_sweep",
    oracle=f"""
WITH k AS (
  SELECT event_type || '|' || props AS key,
         CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY 1
),
hr AS (
  SELECT key, exact_cnt, t.r AS r,
         (('0x' || substr(md5(t.r || ':' || key), 1, 12))::BIGINT) AS h
  FROM k, unnest([0, 1, 2, 3]) AS t(r)
),
fan AS (
  SELECT key, exact_cnt, r, h, t.w AS w
  FROM hr, unnest([{", ".join(str(w) for w in _CMS_SWEEP_WS)}]) AS t(w)
),
counters AS (
  SELECT w, r, h % w AS b, CAST(SUM(exact_cnt) AS BIGINT) AS c
  FROM fan GROUP BY 1, 2, 3
),
est AS (
  SELECT f.key, f.w, MAX(f.exact_cnt) AS exact_cnt,
         CAST(MIN(c.c) AS BIGINT) AS est
  FROM fan f
  JOIN counters c ON c.w = f.w AND c.r = f.r AND c.b = f.h % f.w
  GROUP BY f.key, f.w
)
SELECT CAST(w AS BIGINT) AS w,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(est - exact_cnt) AS BIGINT) AS total_overestimate,
       CAST(MAX(est - exact_cnt) AS BIGINT) AS max_overestimate,
       CAST(SUM(est - exact_cnt) AS DOUBLE) / COUNT(*)
         AS mean_overestimate
FROM est GROUP BY w
""",
    tags=("events", "sketch", "count-min", "parameter-sweep"),
)
def ev_cms_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN WIDTH SWEEP from ONE hash pass — sketch sizing as a
    measured decision instead of a rule of thumb (the
    dedup_band_tuning / ann_lsh_planes_sweep discipline applied to
    the CMS of ev_cms_heavy_hitters): each key hashes ONCE per depth
    row, and every width's bucket is h % w of the SAME 48-bit hash,
    so the 3-width sweep costs one md5 pass plus per-width counter
    aggregates. Per width: total / max / mean overestimate vs exact
    counts — the error-vs-memory curve (CMS theory bounds mean error
    by N/w; this table shows the actual constant for THIS key
    distribution, which theory can't).

    Plan shape at 100 TB: the key count is the only data-sized
    shuffle; everything downstream runs on the O(vocab) key table —
    depth x width fan-out of that table, counter aggregates of
    O(d * w) rows, and a broadcast-sized join back. Counter tables
    are mergeable across partitions/days by cell-wise addition, the
    property that makes CMS a distributed sketch at all."""
    ev = load_table(spark, sf_dir, "events")
    k = (
        ev.select(F.concat_ws("|", "event_type", "props").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    rows = F.array(*[F.lit(r) for r in range(_CMS_D)])
    hr = k.select(
        "key",
        "exact_cnt",
        F.explode(rows).alias("r"),
    ).select(
        "key",
        "exact_cnt",
        "r",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("r").cast("string"), F.lit(":"), F.col("key")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long").alias("h"),
    )
    ws = F.array(*[F.lit(w) for w in _CMS_SWEEP_WS])
    fan = hr.select(
        "key", "exact_cnt", "r", "h", F.explode(ws).alias("w")
    ).persist()
    counters = fan.groupBy(
        F.col("w").alias("cw"), F.col("r").alias("cr"),
        (F.col("h") % F.col("w")).alias("b"),
    ).agg(F.sum("exact_cnt").cast("long").alias("c"))
    est = (
        fan.join(
            F.broadcast(counters),
            (F.col("cw") == F.col("w"))
            & (F.col("cr") == F.col("r"))
            & (F.col("b") == F.col("h") % F.col("w")),
        )
        .select("key", "w", "exact_cnt", "c")
        .groupBy("key", "w")
        .agg(
            F.max("exact_cnt").alias("exact_cnt"),
            F.min("c").cast("long").alias("est"),
        )
    )
    return est.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("est") - F.col("exact_cnt")).cast("long")
        .alias("total_overestimate"),
        F.max(F.col("est") - F.col("exact_cnt")).cast("long")
        .alias("max_overestimate"),
        (F.sum(F.col("est") - F.col("exact_cnt")).cast("double")
         / F.count(F.lit(1))).alias("mean_overestimate"),
    ).select(F.col("w").cast("long").alias("w"), "n_keys",
             "total_overestimate", "max_overestimate", "mean_overestimate")


def run_stream_transform_with_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ev_stream_stateful_totals re-run on Spark 4's
    transformWithStateInPandas (SPARK-49564) — the NEW arbitrary
    stateful API: named ValueState handles instead of one opaque
    GroupState tuple, a class-based processor with init/close
    lifecycle, mandatory RocksDB state store, and (not used here)
    timers + ListState/MapState for richer operators.

    ENV-GATED, not a registered oracle query: the API's Python side
    needs the ``protobuf`` package (its state-server protocol is
    proto-encoded), which this container does not ship — the same
    gate discipline as the torch embedding backend.
    tests/test_transform_with_state.py skips on the ImportError and
    verifies batch-equivalence with the applyInPandasWithState twin
    wherever protobuf IS present; ev_stream_stateful_totals carries
    the oracle-checked semantics meanwhile.

    100 TB shape: state is 3 integers per user in RocksDB (spillable
    to disk — the practical difference from the HDFS-backed store at
    large key cardinality); throughput is Arrow-batched like every
    pandas-facing operator here."""
    import google.protobuf.descriptor  # noqa: F401 — ImportError IS the gate

    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_user_activity_tws,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        d = _events_dir(sf_dir)
        src = read_events_stream(spark, d, max_files_per_trigger=None)
        out = drain(
            stream_user_activity_tws(src), "ev_stream_tws_sink", "update"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
    )


_DEC_SUM = "CAST(CAST(SUM(CAST({x} AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"


@query(
    "ev_markov_k_step",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
tr AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS t FROM tr GROUP BY 1),
p1 AS (
  SELECT tr.from_type AS i, tr.to_type AS j,
         CAST(tr.n AS DOUBLE) / tot.t AS p
  FROM tr JOIN tot ON tot.from_type = tr.from_type
),
p2 AS (
  SELECT a.i, b.j, {_DEC_SUM.format(x='a.p * b.p')} AS p
  FROM p1 a JOIN p1 b ON b.i = a.j GROUP BY a.i, b.j
),
p4 AS (
  SELECT a.i, b.j, {_DEC_SUM.format(x='a.p * b.p')} AS p
  FROM p2 a JOIN p2 b ON b.i = a.j GROUP BY a.i, b.j
)
SELECT i AS from_type, j AS to_type, p AS p4,
       CAST(CAST(SUM(CAST(p AS DECIMAL(30,10)))
                 OVER (PARTITION BY i) AS VARCHAR) AS DOUBLE) AS row_total
FROM p4
""",
    tags=("events", "markov", "matrix-power", "iterative"),
)
def ev_markov_k_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-STEP TRANSITION PROBABILITIES — the 'where is a user 4
    actions from now' forecast built by squaring the 1-step Markov
    matrix twice (P⁴ = (P²)², the repeated-squaring trick that makes
    k-step reachability O(log k) matrix multiplies — the same
    schedule vdb_power_iteration_step amortizes): the 1-step matrix
    comes from ev_markov_transitions' user-keyed LEAD construction,
    and each multiply's inner sum over mid-states runs through
    DECIMAL(30,10) so the float matrix product is ORDER-INDEPENDENT
    and hash-verifies bitwise (a plain SUM of double products differs
    in the last ulp per join order — the dsum discipline applied to
    linear algebra). A decimal row_total column rides along as the
    visible stochasticity check (≈1 up to the quantization of the
    decimal sums).

    Plan shape at 100 TB: ONE user-keyed stream shuffle builds the
    count matrix; every multiply joins |types|² broadcast-sized
    tables — matrix powers cost nothing at any corpus size because
    the STATE SPACE, not the data, bounds them."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    tr = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_tot = Window.partitionBy("from_type")
    p1 = tr.select(
        F.col("from_type").alias("i"),
        F.col("to_type").alias("j"),
        (F.col("n").cast("double") / F.sum("n").over(w_tot)).alias("p"),
    )

    def square(p: DataFrame) -> DataFrame:
        a = p.select(F.col("i").alias("ai"), F.col("j").alias("aj"),
                     F.col("p").alias("ap"))
        b = p.select(F.col("i").alias("bi"), F.col("j").alias("bj"),
                     F.col("p").alias("bp"))
        return (
            a.join(F.broadcast(b), F.col("bi") == F.col("aj"))
            .groupBy(F.col("ai").alias("i"), F.col("bj").alias("j"))
            .agg(dsum(F.col("ap") * F.col("bp")).alias("p"))
        )

    p4 = square(square(p1))
    w_row = Window.partitionBy("i")
    return p4.select(
        F.col("i").alias("from_type"),
        F.col("j").alias("to_type"),
        F.col("p").alias("p4"),
        F.sum(F.col("p").cast("decimal(30,10)")).over(w_row)
        .cast("double").alias("row_total"),
    )


_GAP_SWEEP_MIN = (15, 30, 60)  # session inactivity gaps (minutes)


@query(
    "ev_session_gap_sweep",
    oracle=f"""
WITH seq AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
  FROM events
),
u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events),
g AS (
  SELECT t.g AS gap_min,
         CAST(COALESCE(SUM(CASE WHEN delta_us > CAST(t.g AS BIGINT)
                                               * 60000000
                                THEN 1 END), 0) AS BIGINT) AS n_breaks,
         CAST(COUNT(delta_us) AS BIGINT) AS n_gaps,
         CAST(COALESCE(SUM(CASE WHEN delta_us > CAST(t.g AS BIGINT)
                                               * 60000000
                                THEN delta_us END), 0) AS BIGINT)
           AS idle_us
  FROM seq, unnest([{", ".join(str(g) for g in _GAP_SWEEP_MIN)}]) AS t(g)
  GROUP BY t.g
)
SELECT CAST(gap_min AS BIGINT) AS gap_min,
       n_breaks + u.n_users AS n_sessions,
       CAST(n_breaks + u.n_users AS DOUBLE) / u.n_users
         AS sessions_per_user,
       CAST(n_breaks AS DOUBLE) / n_gaps AS break_rate,
       idle_us
FROM g, u
""",
    tags=("events", "sessionize", "parameter-sweep"),
)
def ev_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-GAP SWEEP from ONE ordered pass — picking the
    inactivity threshold (the one free parameter of ev_sessionize) as
    a measured decision: because a gap that breaks sessions at 60 min
    also breaks them at 30 and 15, the thresholds NEST, and
    n_sessions(g) = n_users + #{{deltas > g}} needs only the per-user
    LAG deltas computed once — the dedup_band_tuning /
    ev_cms_width_sweep / ann_lsh_planes_sweep discipline applied to
    sessionization. Per gap: session count, sessions/user, the
    break rate (fraction of inter-event gaps that split), and total
    idle time beyond the threshold. The knee of sessions_per_user
    vs gap is where practitioners set the timeout (Halfaker et al.'s
    activity-gap analysis).

    Plan shape at 100 TB: ONE user-keyed window shuffle for the
    deltas; the 3-threshold fan-out is map-side on the delta stream
    and aggregates to O(thresholds) rows; the 1-row user count
    broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        (F.unix_micros("ts")
         - F.lag(F.unix_micros("ts")).over(w)).alias("delta_us")
    )
    u = ev.agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    gaps = F.array(*[F.lit(g).cast("long") for g in _GAP_SWEEP_MIN])
    fan = seq.select(
        "delta_us", F.explode(gaps).alias("gap_min")
    ).groupBy("gap_min").agg(
        F.coalesce(
            F.sum((F.col("delta_us")
                   > F.col("gap_min") * 60_000_000).cast("int")),
            F.lit(0),
        ).cast("long").alias("n_breaks"),
        F.count("delta_us").cast("long").alias("n_gaps"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("delta_us") > F.col("gap_min") * 60_000_000,
                    F.col("delta_us"),
                )
            ),
            F.lit(0),
        ).cast("long").alias("idle_us"),
    )
    return fan.crossJoin(F.broadcast(u)).select(
        F.col("gap_min").cast("long").alias("gap_min"),
        (F.col("n_breaks") + F.col("n_users")).alias("n_sessions"),
        ((F.col("n_breaks") + F.col("n_users")).cast("double")
         / F.col("n_users")).alias("sessions_per_user"),
        (F.col("n_breaks").cast("double") / F.col("n_gaps"))
        .alias("break_rate"),
        "idle_us",
    )


# --------------------------------------------------------------------------
# Round 10: sequential testing + decayed feature scores
# --------------------------------------------------------------------------

import math as _math

_SPRT_P0, _SPRT_P1 = 0.19, 0.21
# The ln() constants fold into BOTH engines as the same double. SQL
# side they are embedded as CAST('<repr>' AS DOUBLE) — a STRING parse,
# which DuckDB correctly rounds once; a bare 17-digit numeric literal
# would parse as DECIMAL(18,17) and double-round through the decimal,
# shifting products by 1 ulp (measured).
_SPRT_C1 = repr(_math.log(_SPRT_P1 / _SPRT_P0))            # per-success LLR
_SPRT_C2 = repr(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)))  # per-failure
_SPRT_A = repr(_math.log(0.95 / 0.05))   # accept H1 above  (alpha=beta=.05)
_SPRT_B = repr(_math.log(0.05 / 0.95))   # accept H0 below
_SPRT_C1_SQL = f"CAST('{_SPRT_C1}' AS DOUBLE)"
_SPRT_C2_SQL = f"CAST('{_SPRT_C2}' AS DOUBLE)"
_SPRT_A_SQL = f"CAST('{_SPRT_A}' AS DOUBLE)"
_SPRT_B_SQL = f"CAST('{_SPRT_B}' AS DOUBLE)"


@query(
    "ev_sprt_sequential_test",
    oracle=f"""
WITH e AS (
  SELECT user_id % 2 AS variant, CAST(ts AS DATE) AS day,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
),
daily AS (
  SELECT variant, day, COUNT(*) AS n, SUM(conv) AS c
  FROM e GROUP BY variant, day
),
cum AS (
  SELECT variant, day,
         SUM(n) OVER (PARTITION BY variant ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(c) OVER (PARTITION BY variant ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM daily
)
SELECT CAST(variant AS BIGINT) AS variant,
       CAST(day AS VARCHAR) AS day,
       CAST(cum_n AS BIGINT) AS cum_n,
       CAST(cum_c AS BIGINT) AS cum_conv,
       CAST(cum_c AS DOUBLE) * {_SPRT_C1_SQL}
         + CAST(cum_n - cum_c AS DOUBLE) * {_SPRT_C2_SQL} AS llr,
       CASE
         WHEN CAST(cum_c AS DOUBLE) * {_SPRT_C1_SQL}
              + CAST(cum_n - cum_c AS DOUBLE) * {_SPRT_C2_SQL} >= {_SPRT_A_SQL}
           THEN 'accept_h1'
         WHEN CAST(cum_c AS DOUBLE) * {_SPRT_C1_SQL}
              + CAST(cum_n - cum_c AS DOUBLE) * {_SPRT_C2_SQL} <= {_SPRT_B_SQL}
           THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM cum
""",
    tags=("events", "experimentation", "sprt", "sequential", "ab-test"),
)
def ev_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPRT (Wald sequential probability ratio test) over an A/B
    conversion stream, evaluated at DAILY checkpoints — the always-
    valid alternative to fixed-horizon tests (peek any day without
    alpha inflation): per variant the running log-likelihood ratio
    LLR_t = c_t·ln(p1/p0) + (n_t−c_t)·ln((1−p1)/(1−p0)) against H0
    p={_SPRT_P0} / H1 p={_SPRT_P1}, decided at ln((1−β)/α) /
    ln(β/(1−α)) boundaries (α=β=0.05). The ln() constants are folded
    into BOTH engines as the same Python double literal — the design
    rule that keeps transcendental-function queries hash-verifiable
    (same as text_zipf_fit avoiding ln entirely).

    Scale design: sequential tests are evaluated at analysis
    checkpoints, not per event — the corpus reduces map-side to a
    (variant, day) grid (one combinable groupBy), and the cumulative
    window runs over that O(variants × days) table, never over
    events. Integer cumulative counts; two exact-rounded double
    products at the end."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            (F.col("user_id") % 2).alias("variant"),
            F.col("ts").cast("date").alias("day"),
            (F.col("event_type") == "purchase").cast("int").alias("conv"),
        )
        .groupBy("variant", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c"))
    )
    w = (
        Window.partitionBy("variant")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "variant",
        "day",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("c").over(w).alias("cum_c"),
    )
    llr = F.col("cum_c").cast("double") * F.lit(float(_SPRT_C1)) + (
        F.col("cum_n") - F.col("cum_c")
    ).cast("double") * F.lit(float(_SPRT_C2))
    return cum.select(
        F.col("variant").cast("long").alias("variant"),
        F.col("day").cast("string").alias("day"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_c").cast("long").alias("cum_conv"),
        llr.alias("llr"),
        F.when(llr >= float(_SPRT_A), F.lit("accept_h1"))
        .when(llr <= float(_SPRT_B), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


_DECAY_TOPN = 50
_WEEK_US = 7 * 86400 * 1_000_000


@query(
    "ev_decay_user_score",
    oracle=f"""
WITH anchor AS (SELECT MAX(epoch_us(ts)) AS a FROM events),
e AS (
  SELECT user_id, value,
         (anchor.a - epoch_us(ts)) // {_WEEK_US} AS k
  FROM events CROSS JOIN anchor
),
s AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         CAST(CAST(SUM(CAST(value * pow(0.5, k) AS DECIMAL(30,10)))
              AS VARCHAR) AS DOUBLE) AS decayed_score,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS raw_sum
  FROM e GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n_events AS BIGINT) AS n_events,
       decayed_score, raw_sum
FROM s
ORDER BY decayed_score DESC, user_id
LIMIT {_DECAY_TOPN}
""",
    tags=("events", "features", "decay", "half-life", "scoring"),
)
def ev_decay_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAYED user activity score — the feature-engineering
    staple (recent behaviour weighted over stale): score(u) =
    Σ value·2^(−weeks_old), one-week half-life anchored at the
    corpus max timestamp. The decay weight is a POWER OF TWO — the
    multiplication only shifts the value's exponent, so every per-row
    product is EXACT in IEEE doubles and the decimal-exact sum makes
    the aggregate order-independent and hash-verifiable (an e^−λt
    decay would be 1-ulp engine-dependent; at half-life granularity
    the two parameterizations are interchangeable).

    Scale: anchor is a 1-row aggregate broadcast into the projection;
    the score is one map-side-combinable decimal groupBy over users;
    top-{_DECAY_TOPN} is TakeOrderedAndProject. No window, no
    second pass."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("a"))
    e = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "value",
        ((F.col("a") - F.unix_micros("ts")) / F.lit(_WEEK_US))
        .cast("long")
        .alias("k"),
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value") * F.pow(F.lit(0.5), F.col("k")))
            .alias("decayed_score"),
            dsum("value").alias("raw_sum"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_events").cast("long").alias("n_events"),
            "decayed_score",
            "raw_sum",
        )
        .orderBy(F.desc("decayed_score"), F.asc("user_id"))
        .limit(_DECAY_TOPN)
    )


@query(
    "ev_cohort_retention_matrix",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first_seen AS (
  SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id
),
sizes AS (
  SELECT cohort_day, COUNT(*) AS cohort_size
  FROM first_seen GROUP BY cohort_day
),
cells AS (
  SELECT f.cohort_day, datediff('day', f.cohort_day, a.day) AS day_offset,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM act a JOIN first_seen f ON f.user_id = a.user_id
  GROUP BY 1, 2
)
SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
       CAST(c.day_offset AS BIGINT) AS day_offset,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(c.n_active AS BIGINT) AS n_active,
       CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
         AS retention
FROM cells c JOIN sizes s ON s.cohort_day = c.cohort_day
""",
    tags=("events", "retention", "cohort", "growth"),
)
def ev_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION MATRIX — the growth-analytics staple every
    product dashboard renders: users grouped by first-seen day, each
    cohort's share still active at day offsets 0..N. Complements
    ev_growth_accounting (flow decomposition) and ev_ltv_triangle
    (value triangle) with the classic activity-rate triangle.

    Scale design: activity first reduces to DISTINCT (user, day) —
    one map-side-combinable distinct, the only corpus-sized shuffle;
    first-seen is a min-agg over that; the matrix is an
    O(users·active-days) join keyed on user_id followed by a
    combinable count-distinct over the O(days²) cohort grid. The
    cohort-size join at the end is a broadcast of O(days) rows.
    Integer counts, one final division."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first_seen = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        act.join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.col("n_active").cast("long").alias("n_active"),
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


@query(
    "ev_stream_sprt_monitor",
    oracle=f"""
WITH e AS (
  SELECT user_id % 2 AS variant, CAST(ts AS DATE) AS day,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
),
daily AS (
  SELECT variant, day, COUNT(*) AS n, SUM(conv) AS c
  FROM e GROUP BY variant, day
),
cum AS (
  SELECT variant, day,
         SUM(n) OVER (PARTITION BY variant ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(c) OVER (PARTITION BY variant ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM daily
)
SELECT CAST(variant AS BIGINT) AS variant,
       CAST(day AS VARCHAR) AS day,
       CAST(cum_n AS BIGINT) AS cum_n,
       CAST(cum_c AS BIGINT) AS cum_conv,
       CAST(cum_c AS DOUBLE) * {_SPRT_C1_SQL}
         + CAST(cum_n - cum_c AS DOUBLE) * {_SPRT_C2_SQL} AS llr,
       CASE
         WHEN CAST(cum_c AS DOUBLE) * {_SPRT_C1_SQL}
              + CAST(cum_n - cum_c AS DOUBLE) * {_SPRT_C2_SQL}
              >= {_SPRT_A_SQL}
           THEN 'accept_h1'
         WHEN CAST(cum_c AS DOUBLE) * {_SPRT_C1_SQL}
              + CAST(cum_n - cum_c AS DOUBLE) * {_SPRT_C2_SQL}
              <= {_SPRT_B_SQL}
           THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM cum
""",
    tags=("events", "streaming", "sprt", "sequential", "monitoring"),
)
def ev_stream_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_sprt_sequential_test deployed as a STREAMING MONITOR — the
    natural home of a sequential test (it exists to be peeked
    continuously): Structured Streaming incrementally maintains the
    (variant, day) trial/conversion grid (complete-mode state is
    O(variants × days) counters, independent of event volume), and
    the LLR cumulation + boundary decision run as a trivial
    O(days)-row batch step over the drained grid — exactly how a
    production monitor re-evaluates boundaries per micro-batch. The
    result hash-matches the batch query's oracle, proving the
    streaming grid is bit-equivalent to the batch grid (integer
    counts merge associatively, the design rule every streaming twin
    here follows)."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    daily = (
        src.select(
            (F.col("user_id") % 2).alias("variant"),
            F.col("ts").cast("date").alias("day"),
            (F.col("event_type") == "purchase").cast("int").alias("conv"),
        )
        .groupBy("variant", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c"))
    )
    grid = drain(daily, "ev_stream_sprt_monitor_sink", "complete")
    w = (
        Window.partitionBy("variant")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "variant",
        "day",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("c").over(w).alias("cum_c"),
    )
    llr = F.col("cum_c").cast("double") * F.lit(float(_SPRT_C1)) + (
        F.col("cum_n") - F.col("cum_c")
    ).cast("double") * F.lit(float(_SPRT_C2))
    return cum.select(
        F.col("variant").cast("long").alias("variant"),
        F.col("day").cast("string").alias("day"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_c").cast("long").alias("cum_conv"),
        llr.alias("llr"),
        F.when(llr >= float(_SPRT_A), F.lit("accept_h1"))
        .when(llr <= float(_SPRT_B), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


@query(
    "ev_stream_hll_distinct",
    oracle="""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM events
),
r AS (
  SELECT event_type, h % 64 AS idx,
         CASE WHEN h // 64 = 0 THEN 43
              ELSE 43 - length(bin(h // 64)) END AS rho
  FROM h
),
grid AS (
  SELECT t.event_type, g.idx
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(64)) AS idx) g
),
regs AS (
  SELECT grid.event_type, grid.idx, COALESCE(MAX(r.rho), 0) AS m
  FROM grid LEFT JOIN r ON r.event_type = grid.event_type AND r.idx = grid.idx
  GROUP BY 1, 2
),
est AS (
  SELECT event_type,
         (7.213e-1 / (1.0e0 + 1.079e0 / 6.4e1)) * 4.096e3
           / SUM(power(2e0, -m)) AS hll_estimate,
         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_registers
  FROM regs GROUP BY 1
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT e.event_type, ex.exact_distinct, e.hll_estimate, e.n_zero_registers
FROM est e JOIN ex USING (event_type)
""",
    tags=("events", "streaming", "sketch", "distinct"),
)
def ev_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch maintenance: the HyperLogLog registers of
    udf_hll_register_merge (same m=64 explicit-md5 construction — see
    queries/udf_surface.py for the exactness argument) kept live by a
    STATEFUL streaming aggregation ``groupBy(type, idx).max(rho)`` over
    the event file-stream, complete-mode to the memory sink; the
    harmonic-mean estimate and the batch COUNT(DISTINCT) audit column
    are the serving-layer rollup of the sink.

    This is the production reason sketches exist in streams: exact
    streaming COUNT(DISTINCT) state grows with the user count and is
    why ev_distinct_users_hourly_streamed needs a watermark to bound
    dedup state, while THIS query's state is a fixed G*64 integer
    registers no matter how many events or users ever arrive — the
    micro-batch merge is max-per-register, associative and idempotent,
    so replays and reorderings cannot change the answer (the oracle
    match certifies exactly that: the stream's final registers equal
    the batch registers bit-for-bit).

    Plan shape at 100 TB/day: partial max combines map-side within
    each micro-batch; the state store holds G*64 rows hash-partitioned
    by (type, idx); downstream estimate is O(G*64)."""
    d = _events_dir(sf_dir)
    src = read_events_stream(spark, d, max_files_per_trigger=None)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    regs_stream = (
        src.select(
            "event_type",
            (h % 64).alias("idx"),
            F.when(F.floor(h / 64) == 0, F.lit(43))
            .otherwise(F.lit(43) - F.length(F.bin(F.floor(h / 64))))
            .cast("int")
            .alias("rho"),
        )
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("m"))
    )
    out = drain(regs_stream, "ev_stream_hll_distinct_sink", "complete")
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(64).select(F.col("id").alias("idx")))
    )
    regs = grid.join(out, ["event_type", "idx"], "left").select(
        "event_type", "idx", F.coalesce("m", F.lit(0)).alias("m")
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(64.0))
    ests = regs.groupBy("event_type").agg(
        (alpha * F.lit(4096.0) / F.sum(F.pow(F.lit(2.0), -F.col("m"))))
        .alias("hll_estimate"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_registers"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return exact.join(ests, "event_type").select(
        "event_type", "exact_distinct", "hll_estimate", "n_zero_registers"
    )
