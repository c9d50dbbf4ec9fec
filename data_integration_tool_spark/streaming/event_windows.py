"""Event-time window operators, batch-verified on the events table
(SURVEY.md §2.9).

These are the batch twins of the Structured Streaming operators in
``structured.py``: identical event-time semantics (tumbling/sliding
windows, sessionization, dedup), expressed so a DuckDB oracle can verify
them. The streaming layer reuses the same groupings with
``readStream`` + watermarks.

events.ts is timestamp[ns] in parquet; Spark truncates to µs on read,
so every oracle casts ts to plain TIMESTAMP first (SURVEY.md §7e).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import micro
from ..io import load
from ..registry import query

# --- the time-series inputs ----------------------------------------------
# Each helper below has one DuckDB twin that the oracles splice in as a
# CTE body, so a series is spelled once per engine.

# The oracles' twin of daily_revenue: the body of their `daily` CTE.
_DAILY_REVENUE_SQL = """
            SELECT date_trunc('day', o_orderdate) AS day,
                   CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS rev
            FROM orders GROUP BY 1"""


def daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily revenue series ``(day, rev BIGINT)``: order totals
    floored to whole currency units and summed per day, so every per-day
    sum and every moment built on it is an exact BIGINT. One map-side
    combinable aggregate whose output is the calendar span, not the
    row count; not checkpointed, so each caller places its own cut."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )


_HOUR_US = 3600 * 1000000
_DAY_US = 24 * _HOUR_US


def _event_counts_sql(bucket_us: int) -> str:
    """The oracles' twin of event_counts: the body of a `(t, x)` CTE."""
    return f"""
            SELECT epoch_us(CAST(ts AS TIMESTAMP)) // {bucket_us} AS t,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1"""


def event_counts(spark: SparkSession, sf_dir: str, bucket_us: int) -> DataFrame:
    """The event-count series ``(t, x BIGINT)``: events per bucket of
    ``bucket_us`` microseconds, ``t`` the bucket's index since the
    epoch. Integer bucketing of ``unix_micros`` matches DuckDB's
    ``epoch_us // bucket_us`` for every post-epoch event. One combinable
    aggregate; the series is as long as the time span, in buckets."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            (F.unix_micros(F.col("ts")) / F.lit(bucket_us))
            .cast("bigint")
            .alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )


def _lag_moments_sql(L: int) -> str:
    """The oracles' twin of lag_moments, over the `daily` CTE."""
    lags = range(1, L + 1)
    lagged = ", ".join(f"lag(rev, {k}) OVER (ORDER BY day) AS l{k}" for k in lags)
    pairs = " UNION ALL ".join(
        f"SELECT {k} AS lag, rev AS x, l{k} AS y FROM lagged"
        f" WHERE l{k} IS NOT NULL"
        for k in lags
    )
    return f"""
            WITH lagged AS (SELECT rev, {lagged} FROM daily)
            SELECT lag, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sx2,
                   CAST(sum(y * y) AS BIGINT) AS sy2
            FROM ({pairs}) GROUP BY lag"""


def lag_moments(series: DataFrame, L: int) -> DataFrame:
    """Exact pair moments ``(lag, n, sx, sy, sxy, sx2, sy2)`` of a
    ``(day, rev)`` series against itself at lags 1..L: x is today's
    value, y the value k days earlier, pairs with no y dropped. The L
    lags ride ONE window pass over the series, explode to long
    (lag, x, y) form and reduce in one combinable aggregate keyed on
    lag; every moment is a BIGINT sum."""
    w = Window.orderBy("day")
    lagged = series.select(
        "rev", *[F.lag("rev", k).over(w).alias(f"l{k}") for k in range(1, L + 1)]
    )
    pair = [
        F.struct(
            F.lit(k).alias("lag"), F.col("rev").alias("x"), F.col(f"l{k}").alias("y")
        )
        for k in range(1, L + 1)
    ]
    pairs = (
        lagged.select(F.explode(F.array(*pair)).alias("p"))
        .select("p.lag", "p.x", "p.y")
        .filter(F.col("y").isNotNull())
    )
    x, y = F.col("x"), F.col("y")
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sx2"),
        F.sum(y * y).cast("bigint").alias("sy2"),
    )


# Periodogram basis: cos(2πk/P), sin(2πk/P) are minted ONCE in Python
# and EMBEDDED as double literals in BOTH engines (the splitmix64
# constant-embedding rule): libm cos/sin may differ across engines in
# the last ULP, but multiplying the SAME literal by the same integer is
# bit-identical everywhere.
_PGRAM_PERIODS: tuple[int, ...] = (2, 3, 4, 6, 8, 12, 24)


def _pgram_coefs(p: int) -> tuple[list[float], list[float]]:
    cos = [_math.cos(2.0 * _math.pi * k / p) for k in range(p)]
    sin = [_math.sin(2.0 * _math.pi * k / p) for k in range(p)]
    return cos, sin


def _pgram_powers_sql() -> str:
    """The oracles' twin of pgram_powers, over the `hourly` CTE."""
    sums = []
    for p in _PGRAM_PERIODS:
        for tag, coefs in zip("cs", _pgram_coefs(p)):
            whens = " ".join(f"WHEN {k} THEN {c!r}" for k, c in enumerate(coefs))
            sums.append(
                f"CAST(sum(CAST(floor(x * (CASE (t % {p}) {whens} END)"
                f" * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS {tag}{p}"
            )
    rows = " UNION ALL ".join(
        f"SELECT CAST({p} AS BIGINT) AS period, c{p} AS sum_cos_nano,"
        f" s{p} AS sum_sin_nano FROM wide"
        for p in _PGRAM_PERIODS
    )
    return f"""
            WITH wide AS MATERIALIZED (SELECT {", ".join(sums)} FROM hourly)
            SELECT period, sum_cos_nano, sum_sin_nano,
                   CAST(floor(
                       (CAST(sum_cos_nano AS DOUBLE) / 1000000000.0)
                     * (CAST(sum_cos_nano AS DOUBLE) / 1000000000.0)
                     + (CAST(sum_sin_nano AS DOUBLE) / 1000000000.0)
                     * (CAST(sum_sin_nano AS DOUBLE) / 1000000000.0)
                     + 0.5) AS BIGINT) AS power_unit
            FROM ({rows})"""


def pgram_powers(hourly: DataFrame) -> DataFrame:
    """DFT power of an hourly ``(t, x)`` count series at each of
    ``_PGRAM_PERIODS``: ``(period, sum_cos_nano, sum_sin_nano,
    power_unit)``. Each x·coef term nano-quantizes at HOUR grain, so
    both projections are order-free BIGINT sums, and the power fold
    is spelled once over them. The 14 conditional sums ride ONE 1-row
    aggregate (there is no cross-branch CSE to make a per-period scan
    cheap), stacked to one row per period. Headroom: |Σ| ≤ total
    events × 1e9 ≈ 1e15 ≪ 2^63 at sf0.1 and power_unit ≤ 1e12; past
    ~1e9 events per series drop the term grain to micro."""
    aggs = []
    for p in _PGRAM_PERIODS:
        for tag, coefs in zip("cs", _pgram_coefs(p)):
            coef = F.element_at(
                F.array(*[F.lit(float(v)) for v in coefs]),
                (F.col("t") % p).cast("int") + 1,
            )
            term = F.floor(F.col("x") * coef * F.lit(1000000000.0) + F.lit(0.5))
            aggs.append(F.sum(term.cast("bigint")).cast("bigint").alias(f"{tag}{p}"))
    stack_args = []
    for p in _PGRAM_PERIODS:
        stack_args += [F.lit(p).cast("bigint"), F.col(f"c{p}"), F.col(f"s{p}")]
    rows = hourly.agg(*aggs).select(
        F.stack(F.lit(len(_PGRAM_PERIODS)), *stack_args).alias(
            "period", "sum_cos_nano", "sum_sin_nano"
        )
    )
    sc = F.col("sum_cos_nano").cast("double") / F.lit(1000000000.0)
    ss = F.col("sum_sin_nano").cast("double") / F.lit(1000000000.0)
    return rows.select(
        "period",
        "sum_cos_nano",
        "sum_sin_nano",
        F.floor(sc * sc + ss * ss + F.lit(0.5)).cast("bigint").alias("power_unit"),
    )


@query(
    "stream_tumbling",
    oracle="""
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type,
               count(*)   AS n_events,
               sum(value) AS total_value,
               avg(value) AS avg_value
        FROM events
        GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
    """,
    phase="P2",
    tags=("streaming", "window"),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event_type.

    Uses F.window (the same operator Structured Streaming uses with a
    watermark); window.start == date_trunc('hour', ts) for aligned
    1-hour tumbling windows.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


@query(
    "stream_sliding",
    oracle="""
        SELECT window_start,
               count(*)   AS n_events,
               sum(value) AS total_value
        FROM (
            SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
                     - to_minutes(15 * g.i) AS window_start,
                   value
            FROM events, (SELECT unnest(range(4)) AS i) g
        )
        GROUP BY window_start
    """,
    phase="P3",
    tags=("streaming", "window"),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in 4).

    F.window with a slide assigns each event to ceil(window/slide)
    overlapping windows map-side — no self-join, unlike the SQL oracle
    emulation.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_session",
    oracle="""
        WITH gaps AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                             - lag(CAST(ts AS TIMESTAMP))
                               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                             > INTERVAL 30 MINUTE
                        OR lag(CAST(ts AS TIMESTAMP))
                               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                           IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ), sessions AS (
            SELECT user_id, ts, event_id, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM gaps
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               min(ts)    AS session_start,
               max(ts)    AS session_end,
               count(*)   AS n_events,
               sum(value) AS total_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    phase="P3",
    tags=("streaming", "session"),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize per user with a 30-minute inactivity gap.

    Batch form of F.session_window: gap-and-cumsum — lag() finds session
    starts, a running sum numbers them. One shuffle on user_id; the
    streaming twin uses F.session_window with a watermark. The gap is
    compared in microseconds, the timestamps' own precision, as the
    oracle's ``> INTERVAL 30 MINUTE`` does: epoch seconds would
    truncate a 30 min + 0.5 s gap to 1800 and keep the session open.
    """
    e = load(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_us = F.lag(F.unix_micros("ts")).over(w_order)
    is_new = (
        prev_us.isNull()
        | (F.unix_micros("ts") - prev_us > 30 * 60 * 1_000_000)
    ).cast("int")
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(w_run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )


@query(
    "stream_dedup",
    oracle="""
        SELECT user_id, event_type, event_id, ts AS first_ts
        FROM (
            SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    phase="P2",
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the earliest event per (user_id, event_type).

    Batch twin of streaming dropDuplicates-with-watermark, but
    deterministic: row_number over event time (dropDuplicates keeps an
    arbitrary row, which can't be hash-verified).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.col("ts").alias("first_ts"))
    )


@query(
    "stream_late",
    oracle="""
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >=
              (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 7 DAY
    """,
    phase="P4",
    tags=("streaming", "watermark"),
)
def stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch emulation of watermark late-data filtering: keep events
    within 7 days of the max event time (the 'watermark')."""
    e = load(spark, sf_dir, "events")
    cutoff = e.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("cutoff")
    )
    return (
        e.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("cutoff"))
        .select("event_id", "user_id", "ts")
    )


@query(
    "stream_gapfill",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket,
                   count(*) AS n_events,
                   sum(value) AS total_value
            FROM events GROUP BY 1
        ),
        series AS (
            SELECT unnest(generate_series(
                (SELECT min(date_trunc('hour', ts)) FROM events),
                (SELECT max(date_trunc('hour', ts)) FROM events),
                INTERVAL 1 HOUR)) AS bucket
        )
        SELECT s.bucket,
               coalesce(h.n_events, 0) AS n_events,
               coalesce(h.total_value, 0.0) AS total_value
        FROM series s LEFT JOIN hourly h ON s.bucket = h.bucket
    """,
    phase="P3",
    tags=("stream", "gapfill"),
)
def stream_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series over the event span with zero-filled gaps —
    the hypertable-rollup/time-bucket-gapfill shape: aggregate sparse
    buckets, generate the full bucket range from the observed min/max
    (sequence + explode, one 1-row subplan), left-join and coalesce.
    The series side is tiny at any data scale (hours in the span), so
    the join broadcasts; the event scan aggregates map-side."""
    e = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = e.groupBy(hour.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    bounds = e.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    series = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    return series.join(hourly, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
    )


@query(
    "funnel_conversion",
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts AS click_ts FROM events
            WHERE event_type = 'click'
        ),
        converted AS (
            SELECT DISTINCT c.user_id, c.click_ts
            FROM clicks c JOIN events p
              ON p.user_id = c.user_id
             AND p.event_type = 'purchase'
             AND p.ts > c.click_ts
             AND p.ts <= c.click_ts + INTERVAL 1 HOUR
        )
        SELECT (SELECT count(*) FROM clicks)     AS n_clicks,
               (SELECT count(*) FROM converted)  AS n_converted,
               CAST((SELECT count(*) FROM converted) AS DOUBLE)
                   / (SELECT count(*) FROM clicks) AS conversion_rate
    """,
    phase="P3",
    tags=("stream", "funnel"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase funnel: fraction of clicks followed by a purchase
    from the same user within one hour.

    The range join is bounded per user (both sides shuffle on user_id,
    the interval predicate prunes inside each key group), and the
    left-semi form counts each click once no matter how many purchases
    land in its window — no fan-out, no distinct over a blowup.
    """
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    return clicks.agg(F.count(F.lit(1)).alias("n_clicks")).crossJoin(
        converted.agg(F.count(F.lit(1)).alias("n_converted"))
    ).select(
        "n_clicks",
        "n_converted",
        (F.col("n_converted").cast("double") / F.col("n_clicks")).alias(
            "conversion_rate"
        ),
    )


@query(
    "retention_cohort",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
            FROM events GROUP BY user_id
        )
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS BIGINT)
                   AS day_offset,
               count(DISTINCT e.user_id) AS active_users
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        GROUP BY 1, 2
    """,
    phase="P3",
    tags=("stream", "cohort"),
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted as active per day offset.

    Plan shape: pre-reduce events to user-day grain FIRST —
    ``distinct(user_id, day)`` collapses the event fan-in (|events|
    rows) to |user-days| before anything else touches it.
    ``firsts`` is then a cheap re-aggregate of that same reduced relation
    (min over user-days == min over events), the cohort join is
    co-partitioned on user_id, and because (user_id, day) is already
    unique the final count is a plain ``count(*)`` — no countDistinct
    expand over the raw event stream. At 100 TB the distinct is the only
    pass over the full table and it map-side combines on user_id×day."""
    e = load(spark, sf_dir, "events")
    user_days = (
        e.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    firsts = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        user_days.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@query(
    "stream_topk_per_window",
    oracle="""
        SELECT window_start, event_type, n_events, rk
        FROM (
            SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   row_number() OVER (
                       PARTITION BY date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY count(*) DESC, event_type
                   ) AS rk
            FROM events
            GROUP BY date_trunc('day', CAST(ts AS TIMESTAMP)), event_type
        ) WHERE rk <= 3
    """,
    phase="P3",
    tags=("stream", "topk"),
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per daily window — the trending-items shape.
    The heavy reduction (count per window×type) happens FIRST as a
    combinable aggregate; the rank window then runs over the tiny
    aggregated relation (days × types), so the sort never sees raw
    events. In Structured Streaming the same count feeds foreachBatch
    ranking; the batch form here is the verified semantics."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("w").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "rk",
        )
    )


@query(
    "stream_distinct_users",
    oracle="""
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS window_start,
               count(DISTINCT user_id) AS n_users,
               count(*)                AS n_events
        FROM events
        GROUP BY date_trunc('day', CAST(ts AS TIMESTAMP))
    """,
    phase="P3",
    tags=("stream", "distinct"),
)
def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users — the windowed DISTINCT aggregation class
    (state per window is a set, not a counter; in Structured Streaming
    this is the shape that forces watermark-bounded state or an
    approx_count_distinct trade). Batch form: one aggregate; Spark
    plans countDistinct as a two-phase expand + partial agg, so the
    distinct set never concentrates on one task."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(F.col("w.start").alias("window_start"), "n_users", "n_events")


@query(
    "win_streak",
    oracle="""
        WITH user_days AS (
            SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
            FROM events
        ), islands AS (
            SELECT user_id, day,
                   day - to_days(CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY day) AS INTEGER)) AS island
            FROM user_days
        )
        SELECT user_id, max(streak_len) AS longest_streak
        FROM (
            SELECT user_id, island, count(*) AS streak_len
            FROM islands
            GROUP BY user_id, island
        )
        GROUP BY user_id
    """,
    phase="P3",
    tags=("stream", "window", "streak"),
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands: distinct user-days, then (day - row_number) is
    constant within a consecutive run, so two cheap aggregates finish
    the job. The distinct pre-reduction bounds everything downstream at
    |user-days| (same trick as retention_cohort)."""
    e = load(spark, sf_dir, "events")
    user_days = (
        e.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = user_days.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("streak_len"))
        .groupBy("user_id")
        .agg(F.max("streak_len").alias("longest_streak"))
    )


@query(
    "funnel_3step",
    oracle="""
        WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts FROM events WHERE event_type = 'view'),
        vc AS (
            SELECT v.user_id, v.vts,
                   min(c.ts) AS cts
            FROM v JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click') c
              ON c.user_id = v.user_id
             AND c.ts > v.vts AND c.ts <= v.vts + INTERVAL 24 HOUR
            GROUP BY v.user_id, v.vts
        ),
        vcp AS (
            SELECT vc.user_id, vc.vts
            FROM vc
            WHERE EXISTS (
                SELECT 1 FROM events p
                WHERE p.event_type = 'purchase' AND p.user_id = vc.user_id
                  AND CAST(p.ts AS TIMESTAMP) > vc.cts
                  AND CAST(p.ts AS TIMESTAMP) <= vc.cts + INTERVAL 24 HOUR
            )
        )
        SELECT (SELECT count(*) FROM v)   AS n_views,
               (SELECT count(*) FROM vc)  AS n_view_click,
               (SELECT count(*) FROM vcp) AS n_full_funnel,
               CAST((SELECT count(*) FROM vcp) AS DOUBLE)
                   / (SELECT count(*) FROM v) AS full_conversion
    """,
    phase="P3",
    tags=("stream", "funnel"),
)
def funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step sequential funnel: view → first click within 24 h →
    purchase within 24 h OF THAT CLICK (fixture events are ~daily per
    user, so day-scale windows make every stage non-vacuous). The step-2 anchor is the
    EARLIEST qualifying click (min over the per-view window — a
    combinable aggregate, no row_number sort), so step 3's window is
    anchored per converted view, the realistic attribution rule. Each
    step's range join shuffles on user_id only; fan-out collapses at
    every stage via the min / left-semi reductions."""
    e = load(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    vc = (
        v.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") > F.col("vts"))
            & (F.col("c_ts") <= F.col("vts") + F.expr("INTERVAL 24 HOUR")),
        )
        .groupBy("user_id", "vts")
        .agg(F.min("c_ts").alias("cts"))
        # converted-view grain, referenced by BOTH the purchase
        # semi-join and the step-2 count — lazy checkpoint so the
        # view⋈click range join runs once per action, not twice
        # (Catalyst does no CSE across the two branches)
        .localCheckpoint(eager=False)
    )
    vcp = vc.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("cts"))
        & (F.col("p_ts") <= F.col("cts") + F.expr("INTERVAL 24 HOUR")),
        "left_semi",
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_views"))
        .crossJoin(vc.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(vcp.agg(F.count(F.lit(1)).alias("n_full_funnel")))
        .select(
            "n_views",
            "n_view_click",
            "n_full_funnel",
            (F.col("n_full_funnel").cast("double") / F.col("n_views")).alias(
                "full_conversion"
            ),
        )
    )


@query(
    "seq_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS next_type
            FROM events
        )
        SELECT event_type, next_type, count(*) AS n_transitions
        FROM seq
        WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
        ORDER BY event_type, next_type
    """,
    phase="P3",
    tags=("stream", "sequence"),
)
def seq_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (Markov counts): for every
    consecutive pair in each user's timeline, count (state → next
    state). One lead() window per user (shuffle on user_id, linear
    scan), then a tiny types×types aggregate — the behavioral-model
    input shape."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("event_type", "next_type")
    )


@query(
    "seq_inter_arrival",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   date_diff('second',
                             lag(CAST(ts AS TIMESTAMP)) OVER (
                                 PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id),
                             CAST(ts AS TIMESTAMP)) AS gap_sec
            FROM events
        )
        SELECT event_type,
               count(*)                                    AS n_gaps,
               avg(gap_sec)                                AS avg_gap_sec,
               CAST(quantile_disc(gap_sec, 0.5) AS DOUBLE) AS p50_gap_sec,
               max(gap_sec)                                AS max_gap_sec
        FROM gaps
        WHERE gap_sec IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
    phase="P3",
    tags=("stream", "sequence"),
)
def seq_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: seconds since
    the user's previous event (any type), aggregated to count / mean /
    discrete median / max. The lag window shares the same user_id
    shuffle as the other sequence ops; the integer second gaps make the
    median exact across engines."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    return (
        e.withColumn("gap_sec", gap)
        .filter(F.col("gap_sec").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.avg("gap_sec").alias("avg_gap_sec"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_sec)")
            .cast("double")
            .alias("p50_gap_sec"),
            F.max("gap_sec").alias("max_gap_sec"),
        )
        .orderBy("event_type")
    )


@query(
    "events_heatmap",
    oracle="""
        SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER)      AS hod,
               count(*)   AS n_events,
               sum(value) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    phase="P3",
    tags=("stream", "heatmap"),
)
def events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: events bucketed by (day-of-week, hour-of-day)
    — the usage-pattern dashboard shape. Pure scan-side expressions
    into a 7×24-cell aggregate; DuckDB's dayofweek (0=Sunday) matches
    Spark's dayofweek-1."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .orderBy("dow", "hod")
    )


@query(
    "win_cumulative_distinct",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   CAST(min(date_trunc('day', CAST(ts AS TIMESTAMP)))
                        AS TIMESTAMP) AS first_day
            FROM events
            GROUP BY user_id
        ),
        daily AS (
            SELECT first_day AS day, count(*) AS new_users
            FROM firsts GROUP BY first_day
        )
        SELECT day, new_users,
               -- DuckDB sum(BIGINT) → HUGEINT → float64 in fetchdf(),
               -- a driver-red dtype vs Spark int64 (CORRECTNESS_r05)
               CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        FROM daily
    """,
    phase="P3",
    tags=("stream", "window", "distinct"),
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve. The naive
    form (COUNT(DISTINCT user) OVER (ORDER BY day)) re-scans the full
    user set per day (quadratic, and Spark refuses DISTINCT window
    aggregates outright); the scalable identity is first-occurrence
    decomposition: each user contributes exactly once, on their first
    day, so cumulative uniques = running SUM of per-day NEW users.

    Plan: one agg keyed on user (min day), one tiny agg keyed on day,
    one running sum over the day relation (rows = days in span). At
    100 TB only the user-keyed agg touches data volume — map-side
    combinable min — and everything after operates on day-grain rows.
    All-integer measures, hash-stable by construction."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day")
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@query(
    "seq_top_paths",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t1,
                   lead(event_type, 2) OVER w AS t2
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
        )
        SELECT event_type || '>' || t1 || '>' || t2 AS path,
               count(*) AS n_walks
        FROM seq
        WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        GROUP BY path
        ORDER BY n_walks DESC, path
        LIMIT 20
    """,
    phase="P3",
    tags=("stream", "sequence", "paths"),
)
def seq_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths: every consecutive event-type
    trigram in each user's timeline, counted globally — the longer-
    memory sibling of seq_transition_matrix (journey mining /
    higher-order Markov input).

    Plan: ONE window pass per user emits both lookaheads (lead(1) and
    lead(2) share the same sort, Spark computes them in a single
    Window operator — no second shuffle), trigrams that run off the
    end of a user's timeline are dropped, then a global count over the
    ~|types|^3 path space (tiny regardless of input scale) and a
    TakeOrderedAndProject top-20 with the path string as total
    tiebreak. At 100 TB the only full-data exchange is the user_id
    partition — identical cost to the pairwise matrix."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("t1"),
            F.lead("event_type", 2).over(w).alias("t2"),
        )
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_walks"))
        .orderBy(F.desc("n_walks"), F.asc("path"))
        .limit(20)
    )


@query(
    "ts_resample_ohlc",
    oracle="""
        WITH bars AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar,
                   event_type, value,
                   row_number() OVER (
                       PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)),
                                    event_type
                       ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
                   ) AS rn_open,
                   row_number() OVER (
                       PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)),
                                    event_type
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
                   ) AS rn_close
            FROM events
        )
        SELECT bar, event_type,
               max(CASE WHEN rn_open  = 1 THEN value END) AS open,
               max(value)                                 AS high,
               min(value)                                 AS low,
               max(CASE WHEN rn_close = 1 THEN value END) AS close,
               count(*)                                   AS n_ticks,
               CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT)                            AS volume_micro
        FROM bars
        GROUP BY bar, event_type
    """,
    phase="P3",
    tags=("stream", "timeseries", "resample"),
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: 1-hour bars per event_type with open / high /
    low / close / tick count / micro-quantized volume — the canonical
    time-series resample (market bars, sensor rollups, metrics
    downsampling before retention).

    Scale shape: ONE groupBy on (bar, event_type); open and close ride
    min_by/max_by over the unique (ts, event_id) struct, so the whole
    bar collapses map-side (all six measures are combinable partial
    aggregates — no window, no self-join, unlike the oracle's
    row_number emulation). Output cardinality is time-span x type-count,
    INDEPENDENT of input rows: at 100 TB this is the classic
    1000x-reduction first stage. High/low/open/close are raw stored
    doubles (no arithmetic → bitwise-stable); only the summed volume
    crosses an addition-order boundary, so it ships as per-element
    micro-BIGINTs per the registry contract."""
    e = load(spark, sf_dir, "events")
    ohlc_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.select(
            F.date_trunc("hour", "ts").alias("bar"),
            "event_type",
            "value",
            ohlc_key.alias("k"),
            micro(F.col("value")).alias("value_micro"),
        )
        .groupBy("bar", "event_type")
        .agg(
            F.expr("min_by(value, k)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, k)").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("value_micro").alias("volume_micro"),
        )
    )


@query(
    "ts_cusum_alarm",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP) AS day,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS tot_micro
            FROM events GROUP BY 1, 2
        ),
        dev AS (
            SELECT event_type, day, tot_micro,
                   tot_micro - CAST(floor(
                       CAST(sum(tot_micro) OVER (PARTITION BY event_type)
                            AS DOUBLE)
                       / count(*) OVER (PARTITION BY event_type))
                     AS BIGINT) AS d,
                   2 * CAST(floor(
                       CAST(sum(tot_micro) OVER (PARTITION BY event_type)
                            AS DOUBLE)
                       / count(*) OVER (PARTITION BY event_type))
                     AS BIGINT) AS h
            FROM daily
        ),
        curve AS (
            SELECT event_type, day, tot_micro, h,
                   CAST(sum(d) OVER (PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM dev
        ),
        reflected AS (
            SELECT event_type, day, tot_micro, h, cs,
                   CAST(least(0, min(cs) OVER (PARTITION BY event_type
                        ORDER BY day ROWS UNBOUNDED PRECEDING))
                     AS BIGINT) AS runmin
            FROM curve
        )
        SELECT event_type, day, tot_micro,
               cs - runmin AS cusum_micro,
               CAST(CASE WHEN cs - runmin > h THEN 1 ELSE 0 END
                    AS BIGINT) AS alarm
        FROM reflected
    """,
    phase="P3",
    tags=("stream", "timeseries", "changepoint"),
)
def ts_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point monitor over daily per-type volume:
    s_i = max(0, s_{i-1} + (x_i − target)) with an alarm when the
    accumulated positive drift exceeds 2× the per-type daily mean — the
    classical sequential drift detector (Page's test) behind volume /
    cost / error-rate monitors.

    The recursion LOOKS window-inexpressible (each s depends on the
    previous s, the win_ewma class), but the reflection identity
    s_i = cs_i − min(0, min_{j≤i} cs_j) turns it into a running sum
    plus a running minimum — two stacked unbounded windows sharing one
    sort, NO Python kernel, NO recursive CTE. All-integer micro
    arithmetic end to end. Scale shape: the data-sized stage is the
    combinable (type, day) agg; both windows run at day grain per
    type."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(micro(F.col("value"))).alias("tot_micro"))
    w_type = Window.partitionBy("event_type")
    target = F.floor(
        F.sum("tot_micro").over(w_type).cast("double")
        / F.count(F.lit(1)).over(w_type)
    ).cast("bigint")
    dev = daily.select(
        "event_type",
        "day",
        "tot_micro",
        (F.col("tot_micro") - target).alias("d"),
        (2 * target).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = dev.select(
        "event_type",
        "day",
        "tot_micro",
        "h",
        F.sum("d").over(w).alias("cs"),
    ).withColumn("runmin", F.least(F.lit(0), F.min("cs").over(w)))
    return curve.select(
        "event_type",
        "day",
        "tot_micro",
        (F.col("cs") - F.col("runmin")).alias("cusum_micro"),
        (F.col("cs") - F.col("runmin") > F.col("h"))
        .cast("bigint")
        .alias("alarm"),
    )


ACF_MAX_LAG = 7  # report lags 1..7 (a week of daily bars)

# Pearson over integer-exact per-day revenue sums, spelled out manually
# so BOTH engines execute the identical IEEE double expression over
# identical BIGINT operands — bitwise-equal results, so the micro
# quantization can never straddle a boundary differently. Engine-native
# corr() is avoided on purpose: Spark and DuckDB use different
# single-pass covariance updates whose rounding can diverge.
_ACF_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_ACF_DEN = (
    "(sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
_ACF_EXPR = f"{_ACF_NUM} / {_ACF_DEN}"


@query(
    "ts_autocorr",
    oracle=f"""
        WITH daily AS ({_DAILY_REVENUE_SQL}
        ),
        moments AS ({_lag_moments_sql(ACF_MAX_LAG)}
        )
        SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
               CAST(floor(({_ACF_EXPR}) * 1000000.0 + 0.5) AS BIGINT)
                   AS acf_micro
        FROM moments
        ORDER BY lag
    """,
    phase="P3",
    tags=("timeseries", "autocorrelation"),
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags
    1..7 — the standard seasonality probe (a weekly cycle shows as a
    lag-7 peak) run before choosing a forecasting model or a seasonal
    index. Revenue is floored to whole currency units so every per-day
    sum and every second moment is an exact BIGINT; only the final
    Pearson ratio is a double, spelled identically on both engines.

    Scale shape: the raw table collapses to one row per day in the
    first groupBy (map-side combinable — output cardinality is the time
    span, not the row count). The 7 lags ride ONE window pass over that
    tiny series, explode to long (lag, x, y) form, and reduce with a
    second combinable agg keyed on lag. At 100 TB the only full-data
    stage is the first partial agg; everything after runs on ~10^3 rows
    regardless of input size. sum(x*y) with daily sums ~2^24 stays
    far below int64 range for any realistic span; the n*sxy products
    are cast to double BEFORE multiplying on both engines.
    """
    moments = lag_moments(daily_revenue(spark, sf_dir), ACF_MAX_LAG)
    return moments.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        micro(F.expr(_ACF_EXPR)).alias("acf_micro"),
    ).orderBy("lag")


@query(
    "ts_seasonal_decompose",
    oracle=f"""
        WITH daily AS ({_DAILY_REVENUE_SQL}
        ),
        trended AS (
            SELECT day, CAST(dayofweek(day) AS BIGINT) AS dow, rev,
                   CAST(sum(rev) OVER w AS BIGINT) AS s7,
                   count(*) OVER w AS n7
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                            AND 3 FOLLOWING)
        ),
        detrended AS (
            SELECT day, dow, rev,
                   CAST(floor(s7 / 7.0 * 1000000.0 + 0.5) AS BIGINT)
                       AS trend_micro,
                   rev * 1000000
                     - CAST(floor(s7 / 7.0 * 1000000.0 + 0.5) AS BIGINT)
                       AS det_micro
            FROM trended WHERE n7 = 7
        ),
        seasonal AS (
            SELECT dow,
                   CAST(floor(CAST(sum(det_micro) AS DOUBLE) / count(*)
                              + 0.5) AS BIGINT) AS seasonal_micro
            FROM detrended GROUP BY dow
        )
        SELECT d.day, d.dow, d.rev, d.trend_micro, s.seasonal_micro,
               d.det_micro - s.seasonal_micro AS resid_micro
        FROM detrended d JOIN seasonal s USING (dow)
        ORDER BY d.day
    """,
    phase="P3",
    tags=("timeseries", "decomposition"),
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily revenue series:
    trend = centered 7-day moving average (full windows only),
    seasonal = per-day-of-week mean of the detrended series, residual =
    observed − trend − seasonal. The moving-average + seasonal-mean
    construction is the textbook "classical decomposition" first stage
    of STL; the residual is what anomaly monitors actually threshold.

    All-integer pipeline (the CUSUM/Hampel house rule): revenues floor
    to whole units, the trend is the exact 7-day BIGINT sum divided by
    7.0 once (identical IEEE op both engines) and micro-floored, so
    detrended/seasonal/residual values are pure BIGINT arithmetic —
    hash-exact with no tolerance anywhere.

    Scale shape: raw rows collapse to one row per day in a combinable
    first agg; the rolling trend is a bounded ROWS frame in JVM window
    codegen over that tiny series; the seasonal means are a 7-group agg
    of it. Only the first agg ever sees data-scale input. DuckDB's
    dayofweek (0=Sunday) matches Spark's dayofweek−1.
    """
    daily = daily_revenue(spark, sf_dir).withColumn(
        "dow", (F.dayofweek("day") - 1).cast("bigint")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "dow",
        "rev",
        F.sum("rev").over(w).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    trend_micro = micro(F.col("s7") / 7.0)
    detrended = trended.filter(F.col("n7") == 7).select(
        "day",
        "dow",
        "rev",
        trend_micro.alias("trend_micro"),
        (F.col("rev") * 1000000 - trend_micro).alias("det_micro"),
    )
    seasonal = detrended.groupBy("dow").agg(
        F.floor(
            F.sum("det_micro").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("seasonal_micro")
    )
    return (
        detrended.join(F.broadcast(seasonal), "dow")
        .select(
            "day",
            "dow",
            "rev",
            "trend_micro",
            "seasonal_micro",
            (F.col("det_micro") - F.col("seasonal_micro")).alias("resid_micro"),
        )
        .orderBy("day")
    )


@query(
    "ts_holt_winters",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP) AS day,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS tot_micro
            FROM events GROUP BY 1, 2
        ),
        seq AS (
            SELECT event_type, day, tot_micro,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS rn
            FROM daily
        ),
        rec AS (
            SELECT event_type, day, rn, tot_micro,
                   CAST(tot_micro AS DOUBLE) AS l,
                   CAST(0 AS DOUBLE) AS b
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.event_type, s.day, s.rn, s.tot_micro,
                   0.5 * CAST(s.tot_micro AS DOUBLE) + 0.5 * (r.l + r.b),
                   0.5 * ((0.5 * CAST(s.tot_micro AS DOUBLE)
                           + 0.5 * (r.l + r.b)) - r.l)
                       + 0.5 * r.b
            FROM rec r
            JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
        )
        SELECT event_type, day, tot_micro,
               CAST(floor(l + 0.5) AS BIGINT)         AS level_micro,
               CAST(floor(b + 0.5) AS BIGINT)         AS trend_micro,
               CAST(floor(l + b + 0.5) AS BIGINT)     AS forecast_micro
        FROM rec
        ORDER BY event_type, day
    """,
    phase="P3",
    tags=("stream", "timeseries", "smoothing", "pandas-udf"),
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) over
    daily per-type volume — the forecasting recurrence
    l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1} with α = β = 1/2, plus the
    one-step-ahead forecast l+b. Unlike win_ewma's single-state
    recurrence (closed geometric form) or ts_cusum_alarm's
    reflection identity, the coupled two-state recursion has no
    window re-expression — this is the applyInPandas class: the
    corpus-scale stage is the combinable (type, day) aggregate, the
    recurrence runs at SERIES grain inside one Arrow batch per key.

    Cross-engine exactness without quantizing the state: α = β = 1/2
    and integer-micro inputs make every recurrence step pure IEEE
    double arithmetic with identical operand order in the Python
    kernel and the recursive-CTE oracle — bitwise-equal trajectories,
    so the final floor(x+0.5) can never straddle a boundary
    differently. Scale shape: thousands of series parallelize across
    the groupBy keys; per-series work is linear and bounded by the
    day count, never the event count."""
    import pandas as pd

    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(micro(F.col("value"))).alias("tot_micro"))

    out_schema = (
        "event_type string, day timestamp, tot_micro long, "
        "level_micro long, trend_micro long, forecast_micro long"
    )

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        pdf = pdf.sort_values("day").reset_index(drop=True)
        lvl, trd = [], []
        l = b = 0.0
        for i, y in enumerate(pdf["tot_micro"].tolist()):
            if i == 0:
                l, b = float(y), 0.0
            else:
                l_new = 0.5 * float(y) + 0.5 * (l + b)
                b = 0.5 * (l_new - l) + 0.5 * b
                l = l_new
            lvl.append(l)
            trd.append(b)
        pdf["level_micro"] = [int(math.floor(x + 0.5)) for x in lvl]
        pdf["trend_micro"] = [int(math.floor(x + 0.5)) for x in trd]
        pdf["forecast_micro"] = [
            int(math.floor(x + y + 0.5)) for x, y in zip(lvl, trd)
        ]
        return pdf[
            [
                "event_type",
                "day",
                "tot_micro",
                "level_micro",
                "trend_micro",
                "forecast_micro",
            ]
        ]

    return (
        daily.groupBy("event_type")
        .applyInPandas(holt, schema=out_schema)
        .orderBy("event_type", "day")
    )


_MARKOV_STATES = ("click", "error", "purchase", "signup", "view")
_MARKOV_ITERS = 20


def _markov_oracle() -> str:
    """Unrolled power iteration π ← πP over the 5-state transition
    matrix. The matrix CTE pivots the transition counts into 25 scalar
    columns (row-normalized doubles, absent cells → 0); the recursive
    CTE then replays the identical left-to-right multiply-add order
    the Spark builder's driver loop uses, so the 20-step trajectory is
    bitwise IEEE-identical and the final micro quantization cannot
    straddle a boundary."""
    k = len(_MARKOV_STATES)
    cells = []
    for i, a in enumerate(_MARKOV_STATES):
        for j, b in enumerate(_MARKOV_STATES):
            cells.append(
                f"coalesce(CAST(max(n) FILTER (WHERE event_type = '{a}'"
                f" AND next_type = '{b}') AS DOUBLE)"
                f" / NULLIF(max(tot) FILTER (WHERE event_type = '{a}'),"
                f" 0), 0.0) AS p{i}_{j}"
            )
    rowsums = ", ".join(
        f"CAST(max(tot) FILTER (WHERE event_type = "
        f"'{a}') AS BIGINT) AS out{i}"
        for i, a in enumerate(_MARKOV_STATES)
    )
    step = ", ".join(
        "("
        + " + ".join(f"r.v{i} * m.p{i}_{j}" for i in range(k))
        + f") AS v{j}"
        for j in range(k)
    )
    init = ", ".join(f"CAST(0.2 AS DOUBLE) AS v{j}" for j in range(k))
    finals = "\n UNION ALL ".join(
        f"""SELECT '{s}' AS state,
               CAST(floor(r.v{j} * 1000000.0 + 0.5) AS BIGINT)
                   AS stationary_micro,
               m.out{j} AS n_out
        FROM rec r, matrix m WHERE r.it = {_MARKOV_ITERS}"""
        for j, s in enumerate(_MARKOV_STATES)
    )
    return f"""
        WITH RECURSIVE counts AS (
            SELECT event_type, next_type, count(*) AS n
            FROM (
                SELECT event_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ) AS next_type
                FROM events
            )
            WHERE next_type IS NOT NULL
            GROUP BY event_type, next_type
        ), with_tot AS (
            SELECT event_type, next_type, n,
                   sum(n) OVER (PARTITION BY event_type) AS tot
            FROM counts
        ), matrix AS (
            SELECT {", ".join(cells)}, {rowsums}
            FROM with_tot
        ), rec AS (
            SELECT 0 AS it, {init}
            UNION ALL
            SELECT r.it + 1, {step}
            FROM rec r, matrix m WHERE r.it < {_MARKOV_ITERS}
        )
        {finals}
        ORDER BY state
    """


@query(
    "seq_markov_stationary",
    oracle=_markov_oracle(),
    phase="P4",
    tags=("stream", "sequence", "markov", "iterative"),
)
def seq_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain — the
    long-run fraction of time the event stream spends in each state,
    the PageRank-style summary that turns seq_transition_matrix's raw
    counts into "where do journeys settle". Twenty power-iteration
    steps π ← πP from the uniform start.

    Scale shape (the PCA/k-means driver-iteration pattern): the ONLY
    data-sized stage is the transition count (one per-user window +
    one combinable groupBy); the chain itself is 25 scalars that
    collect once (# driver-scalar) and iterate in plain Python. The
    oracle replays the identical left-to-right multiply-add order, so
    the 20-step trajectory is bitwise IEEE-identical cross-engine —
    iteration without a quantized state, same contract as
    ts_holt_winters. State count is fixed by the schema (5 event
    types); a 10⁶-state chain would move the iteration into the
    engine (matrix as a DataFrame, π as a broadcast join), same
    math."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        e.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = counts.collect()  # driver-scalar: 25 transition counts
    states = list(_MARKOV_STATES)
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    n = [[0] * k for _ in range(k)]
    for r in rows:
        n[idx[r.event_type]][idx[r.next_type]] = r.n
    tot = [sum(row) for row in n]
    p = [
        [
            (float(n[i][j]) / tot[i]) if tot[i] else 0.0
            for j in range(k)
        ]
        for i in range(k)
    ]
    pi = [0.2] * k
    for _ in range(_MARKOV_ITERS):
        nxt = []
        for j in range(k):
            acc = pi[0] * p[0][j]
            for i in range(1, k):
                acc = acc + pi[i] * p[i][j]
            nxt.append(acc)
        pi = nxt
    import math

    out = [
        (states[j], int(math.floor(pi[j] * 1000000.0 + 0.5)), tot[j])
        for j in range(k)
    ]
    return spark.createDataFrame(
        out, "state string, stationary_micro long, n_out long"
    ).orderBy("state")


# Binary-segmentation changepoint gain, spelled once over the exact
# integer prefix moments (sl, nl = left micro-sum / count; s_tot, n_tot
# = totals).  gain = SL²/nL + SR²/nR − S²/N is the between-segment sum
# of squares — the reduction in SSE from splitting at this boundary.
_CP_SLD = "(CAST(sl AS DOUBLE) / 1000000.0)"
_CP_SRD = "(CAST(s_tot - sl AS DOUBLE) / 1000000.0)"
_CP_STD = "(CAST(s_tot AS DOUBLE) / 1000000.0)"
_CP_GAIN = (
    f"({_CP_SLD} * {_CP_SLD} / nl"
    f" + {_CP_SRD} * {_CP_SRD} / (n_tot - nl)"
    f" - {_CP_STD} * {_CP_STD} / n_tot)"
)


@query(
    "ts_changepoint_mean",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_d,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS s_d
            FROM events GROUP BY 1
        ), pre AS (
            SELECT day,
                   CAST(sum(n_d) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
                   CAST(sum(s_d) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
                   CAST(sum(n_d) OVER () AS BIGINT) AS n_tot,
                   CAST(sum(s_d) OVER () AS BIGINT) AS s_tot,
                   CAST(count(*) OVER () AS BIGINT) AS n_days
            FROM daily
        )
        SELECT day AS split_day, n_days, nl AS n_left,
               CAST(n_tot - nl AS BIGINT) AS n_right,
               CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT)
                   AS left_mean_micro,
               CAST(floor(CAST(s_tot - sl AS DOUBLE) / (n_tot - nl)
                          + 0.5) AS BIGINT) AS right_mean_micro,
               CAST(floor({_CP_GAIN} * 1000000.0 + 0.5) AS BIGINT)
                   AS gain_micro
        FROM pre
        WHERE nl < n_tot
        ORDER BY gain_micro DESC, split_day
        LIMIT 1
    """,
    phase="P3",
    tags=("stream", "timeseries", "changepoint"),
)
def ts_changepoint_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single mean-shift changepoint by binary segmentation — the
    first split of the CUSUM/PELT family (ts_cusum_alarm raises the
    alarm; this LOCATES the level shift): choose the day boundary
    maximizing the between-segment sum of squares
    SL²/nL + SR²/nR − S²/N, i.e. the split that most reduces total
    SSE under a piecewise-constant-mean model.

    Cross-engine exactness: prefix sums are exact micro BIGINTs at
    DAY grain, the gain is ONE shared spelled IEEE expression over
    them, and the argmax orders by the micro-QUANTIZED gain with the
    day as tiebreak — float ties can never flip the winner between
    engines.

    Plan: combinable (day) aggregate collapses the corpus to
    calendar grain, one running window at that tiny grain scores
    every candidate split, and a TakeOrdered(1) picks the argmax —
    no per-candidate re-scan (the naive formulation re-aggregates
    both segments per split = O(days²)); recursing into the winning
    segment repeats the same O(grain) step."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d"),
        F.sum(micro(F.col("value"))).cast("bigint").alias("s_d"),
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    pre = daily.select(
        "day",
        F.sum("n_d").over(w_cum).cast("bigint").alias("nl"),
        F.sum("s_d").over(w_cum).cast("bigint").alias("sl"),
        F.sum("n_d").over(w_all).cast("bigint").alias("n_tot"),
        F.sum("s_d").over(w_all).cast("bigint").alias("s_tot"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_days"),
    )
    cand = pre.filter(F.col("nl") < F.col("n_tot")).select(
        F.col("day").alias("split_day"),
        "n_days",
        F.col("nl").alias("n_left"),
        (F.col("n_tot") - F.col("nl")).cast("bigint").alias("n_right"),
        F.floor(F.col("sl").cast("double") / F.col("nl") + F.lit(0.5))
        .cast("bigint")
        .alias("left_mean_micro"),
        F.floor(
            (F.col("s_tot") - F.col("sl")).cast("double")
            / (F.col("n_tot") - F.col("nl"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("right_mean_micro"),
        micro(F.expr(_CP_GAIN)).alias("gain_micro"),
    )
    return cand.orderBy(
        F.col("gain_micro").desc(), F.col("split_day")
    ).limit(1)


# Rolling 7-day population variance over the integer micro daily means,
# spelled once: var = (Σx² − (Σx)²/cnt)/cnt.  The integer sums stay
# int64-exact (7·(5e8)² ≈ 1.75e18); the square of Σx is computed in
# DOUBLE (its integer form would overflow), identically on both engines.
_BB_VAR = (
    "((CAST(sq AS DOUBLE)"
    " - CAST(smd AS DOUBLE) * smd / cnt7) / cnt7)"
)
_BB_SD = f"sqrt(greatest({_BB_VAR}, 0.0))"


@query(
    "ts_bollinger_bands",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(floor(CAST(sum(CAST(floor(value * 1000000.0
                        + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5)
                        AS BIGINT) AS md
            FROM events GROUP BY 1, 2
        ), rolled AS (
            SELECT event_type, day, md,
                   CAST(count(*) OVER w AS BIGINT)       AS cnt7,
                   CAST(sum(md) OVER w AS BIGINT)        AS smd,
                   CAST(sum(md * md) OVER w AS BIGINT)   AS sq
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day, md AS md_micro,
               CASE WHEN cnt7 = 7 THEN
                    CAST(floor(CAST(smd AS DOUBLE) / cnt7 + 0.5)
                         AS BIGINT) END AS mean7_micro,
               CASE WHEN cnt7 = 7 THEN
                    CAST(floor({_BB_SD} + 0.5) AS BIGINT)
               END AS sd7_micro,
               CASE WHEN cnt7 = 7 THEN
                    CAST(floor(CAST(smd AS DOUBLE) / cnt7
                               + 2.0 * {_BB_SD} + 0.5) AS BIGINT)
               END AS ub_micro,
               CASE WHEN cnt7 = 7 THEN
                    CAST(floor(CAST(smd AS DOUBLE) / cnt7
                               - 2.0 * {_BB_SD} + 0.5) AS BIGINT)
               END AS lb_micro,
               CASE WHEN cnt7 = 7 THEN
                    md > CAST(floor(CAST(smd AS DOUBLE) / cnt7
                              + 2.0 * {_BB_SD} + 0.5) AS BIGINT)
                    OR md < CAST(floor(CAST(smd AS DOUBLE) / cnt7
                              - 2.0 * {_BB_SD} + 0.5) AS BIGINT)
               END AS breakout
        FROM rolled
        ORDER BY event_type, day
    """,
    phase="P3",
    tags=("stream", "timeseries", "volatility"),
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (trailing 7-day mean ± 2σ) over the daily mean
    value per event type, with a breakout flag — the rolling-
    volatility envelope behind alerting and regime detection
    (ts_cusum_alarm's windowed, variance-aware sibling: CUSUM finds
    sustained level shifts; bands flag single-day excursions scaled
    to LOCAL volatility).

    Exactness: the daily series is integer micro means, the rolling
    frame carries exact integer Σx/Σx² (7·(5e8)² stays inside
    int64; (Σx)² alone crosses to DOUBLE — spelled identically),
    and the breakout compare runs on the micro-QUANTIZED band edges
    so an IEEE tie cannot flip the flag between engines.  Warm-up
    rows (fewer than 7 prior days) yield NULL bands, never a
    short-frame band that looks real.

    Plan: combinable (type, day) aggregate collapses the corpus to
    calendar grain first; the three-sum rolling window then runs on
    that dictionary-sized relation (the feat_pit_window day-grain
    rule), so full-width cost is one map-side-combined exchange."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.floor(
            F.sum(micro(F.col("value"))).cast("double")
            / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("md")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    rolled = daily.select(
        "event_type",
        "day",
        "md",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cnt7"),
        F.sum("md").over(w).cast("bigint").alias("smd"),
        F.sum(F.col("md") * F.col("md")).over(w).cast("bigint").alias("sq"),
    )
    full = F.col("cnt7") == 7
    mean7 = F.floor(
        F.col("smd").cast("double") / F.col("cnt7") + F.lit(0.5)
    ).cast("bigint")
    sd = F.expr(_BB_SD)
    ub = F.floor(
        F.col("smd").cast("double") / F.col("cnt7")
        + F.lit(2.0) * sd
        + F.lit(0.5)
    ).cast("bigint")
    lb = F.floor(
        F.col("smd").cast("double") / F.col("cnt7")
        - F.lit(2.0) * sd
        + F.lit(0.5)
    ).cast("bigint")
    return rolled.select(
        "event_type",
        "day",
        F.col("md").alias("md_micro"),
        F.when(full, mean7).alias("mean7_micro"),
        F.when(full, F.floor(sd + F.lit(0.5)).cast("bigint")).alias(
            "sd7_micro"
        ),
        F.when(full, ub).alias("ub_micro"),
        F.when(full, lb).alias("lb_micro"),
        F.when(full, (F.col("md") > ub) | (F.col("md") < lb)).alias(
            "breakout"
        ),
    ).orderBy("event_type", "day")


@query(
    "ts_theil_sen",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(ts AS DATE)) AS BIGINT) AS d,
                   CAST(floor(CAST(sum(CAST(floor(value * 1000000.0
                        + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5)
                        AS BIGINT) AS y
            FROM events GROUP BY 1
        ), slopes AS (
            SELECT CAST(floor(CAST(b.y - a.y AS DOUBLE) / (b.d - a.d)
                        * 1000000.0 + 0.5) AS BIGINT) AS sm
            FROM daily a JOIN daily b ON a.d < b.d
        ), scum AS (
            SELECT sm, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(count(*)) OVER (ORDER BY sm
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
                   CAST(sum(count(*)) OVER () AS BIGINT) AS p
            FROM slopes GROUP BY sm
        ), fit AS (
            SELECT CAST(min(CASE WHEN 2 * c >= p THEN sm END)
                        AS BIGINT) AS slope_micro,
                   CAST(max(p) AS BIGINT) AS n_pairs
            FROM scum
        ), icepts AS (
            SELECT CAST(d.y * 1000000 - f.slope_micro * d.d AS BIGINT)
                       AS bm
            FROM daily d, fit f
        ), icum AS (
            SELECT bm, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(count(*)) OVER (ORDER BY bm
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
                   CAST(sum(count(*)) OVER () AS BIGINT) AS p
            FROM icepts GROUP BY bm
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
               f.n_pairs, f.slope_micro,
               (SELECT CAST(floor(CAST(min(CASE WHEN 2 * c >= p
                        THEN bm END) AS DOUBLE) / 1000000.0 + 0.5)
                        AS BIGINT) FROM icum) AS intercept_micro
        FROM fit f
    """,
    phase="P3",
    tags=("stream", "timeseries", "robust-regression"),
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise daily
    slopes, with the matching median intercept — the trend estimator
    that shrugs off the outlier days that pull win_moving_regression's
    OLS around (29.3% breakdown point vs OLS's zero).  Output is the
    fitted line (micro-slope per day, micro-intercept at epoch) over
    the daily mean-value series.

    Exactness: every pairwise slope micro-quantizes the moment it is
    computed (one IEEE division of exact integers), the median picks
    by the ALL-INTEGER 2·cum ≥ P rule at distinct-slope grain (the
    agg_weighted_median machinery — no engine median() whose
    interpolation differs), and the intercept candidates
    y·1e6 − slope_micro·d are EXACT integers, so the second median
    is pure integer selection.

    Plan: the corpus collapses to calendar grain first (one
    combinable day aggregate); the pairwise self-join is
    GRAIN-bounded — days², never rows² (a decade of dailies is ~6.6M
    pairs, one task) — and both medians run the reduced-grain
    histogram-selection shape.  The fitted scalar re-enters as a
    broadcast single row, never a driver scalar."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d")
    ).agg(
        F.floor(
            F.sum(micro(F.col("value"))).cast("double")
            / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("y")
    )
    daily = daily.localCheckpoint(eager=False)
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("a.d") < F.col("b.d")).select(
        micro(
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.d") - F.col("a.d"))
        ).alias("sm")
    )

    def int_median(df: DataFrame, col: str, out: str) -> DataFrame:
        """Lower median by the all-integer 2·cum ≥ P selection at
        distinct-value grain."""
        grp = df.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = grp.select(
            col,
            F.sum("cnt").over(w).cast("bigint").alias("c"),
            F.sum("cnt").over(Window.partitionBy()).cast("bigint").alias("p"),
        )
        return cum.agg(
            F.min(F.when(2 * F.col("c") >= F.col("p"), F.col(col)))
            .cast("bigint")
            .alias(out),
            F.max("p").cast("bigint").alias(f"_n_{out}"),
        )

    fit = int_median(slopes, "sm", "slope_micro")
    icepts = daily.crossJoin(F.broadcast(fit)).select(
        (F.col("y") * F.lit(1000000) - F.col("slope_micro") * F.col("d"))
        .cast("bigint")
        .alias("bm")
    )
    ifit = int_median(icepts, "bm", "b_raw")
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        n_days.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(ifit))
        .select(
            "n_days",
            F.col("_n_slope_micro").alias("n_pairs"),
            "slope_micro",
            F.floor(
                F.col("b_raw").cast("double") / F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("intercept_micro"),
        )
    )


_ATTR_WINDOW_US = 7 * 24 * 3600 * 1000000  # 7-day lookback


@query(
    "seq_attribution",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm,
                   CASE WHEN event_type IN ('click', 'view')
                        THEN event_type END AS touch
            FROM events
        ), attributed AS (
            SELECT event_type, vm,
                   coalesce(last_value(touch IGNORE NULLS) OVER w,
                            '(none)') AS last_ch,
                   coalesce(first_value(touch IGNORE NULLS) OVER w,
                            '(none)') AS first_ch
            FROM seq
            WINDOW w AS (PARTITION BY user_id ORDER BY us
                         RANGE BETWEEN {_ATTR_WINDOW_US} PRECEDING
                               AND 1 PRECEDING)
        ), purchases AS (
            SELECT last_ch, first_ch, vm FROM attributed
            WHERE event_type = 'purchase'
        ), melted AS (
            SELECT 'last' AS kind, last_ch AS channel, vm
            FROM purchases
            UNION ALL
            SELECT 'first' AS kind, first_ch AS channel, vm
            FROM purchases
        )
        SELECT channel,
               CAST(count(*) FILTER (WHERE kind = 'last') AS BIGINT)
                   AS n_last_touch,
               CAST(coalesce(sum(vm) FILTER (WHERE kind = 'last'), 0)
                    AS BIGINT) AS rev_last_micro,
               CAST(count(*) FILTER (WHERE kind = 'first') AS BIGINT)
                   AS n_first_touch,
               CAST(coalesce(sum(vm) FILTER (WHERE kind = 'first'), 0)
                    AS BIGINT) AS rev_first_micro
        FROM melted
        GROUP BY channel
        ORDER BY channel
    """,
    phase="P3",
    tags=("stream", "sequence", "attribution"),
)
def seq_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: credit each purchase to the LAST and
    the FIRST touch event (click/view) in the 7 days strictly before
    it, and roll purchases + revenue up by channel — the first-touch
    vs last-touch comparison every growth team runs, with '(none)'
    capturing organic purchases that had no touch in window.
    Complements funnel_conversion (did the journey complete?) with
    WHO GETS CREDIT.

    Exactness: both credits come from IGNORE-NULLS edge values over
    one integer-µs RANGE frame that excludes the purchase itself
    (1 PRECEDING — the feat_pit_window leakage rule); (user, ts) is
    unique in the fixture so the frame ordering is total (production
    adds an event-id tiebreak to the order key).  Revenue is
    quantize-then-sum.

    Plan: NO self-join — one per-user sort exchange carries both
    window edge-values; the two credit schemes then MELT into
    (kind, channel) long form via an explode so a single
    FILTER-clause aggregate produces all four measures.  The melt
    (not a full-outer join of two per-scheme aggregates) matters:
    Catalyst does no cross-branch CSE, so a join of two aggregates
    over the same windowed subtree would scan and window the corpus
    TWICE (the decon_ngram lesson).  Cost is one full-width shuffle
    on user_id at any corpus size."""
    e = load(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        micro(F.col("value")).alias("vm"),
        F.when(
            F.col("event_type").isin("click", "view"), F.col("event_type")
        ).alias("touch"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ATTR_WINDOW_US, -1)
    )
    attributed = seq.select(
        "event_type",
        "vm",
        F.coalesce(F.last("touch", ignorenulls=True).over(w), F.lit("(none)")).alias("last_ch"),
        F.coalesce(F.first("touch", ignorenulls=True).over(w), F.lit("(none)")).alias("first_ch"),
    )
    purchases = attributed.filter(F.col("event_type") == "purchase")
    melted = purchases.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("last").alias("kind"),
                    F.col("last_ch").alias("channel"),
                    F.col("vm").alias("vm"),
                ),
                F.struct(
                    F.lit("first").alias("kind"),
                    F.col("first_ch").alias("channel"),
                    F.col("vm").alias("vm"),
                ),
            )
        ).alias("m")
    ).select("m.kind", "m.channel", "m.vm")
    is_last = F.col("kind") == "last"
    is_first = F.col("kind") == "first"
    return (
        melted.groupBy("channel")
        .agg(
            F.count(F.when(is_last, 1)).cast("bigint").alias("n_last_touch"),
            F.coalesce(F.sum(F.when(is_last, F.col("vm"))), F.lit(0))
            .cast("bigint")
            .alias("rev_last_micro"),
            F.count(F.when(is_first, 1))
            .cast("bigint")
            .alias("n_first_touch"),
            F.coalesce(F.sum(F.when(is_first, F.col("vm"))), F.lit(0))
            .cast("bigint")
            .alias("rev_first_micro"),
        )
        .orderBy("channel")
    )


@query(
    "seq_survival_km",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
                   max(epoch_us(CAST(ts AS TIMESTAMP))) AS t_last,
                   min(CASE WHEN event_type = 'purchase'
                       THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_evt
            FROM events GROUP BY user_id
        ), durs AS (
            SELECT CASE WHEN t_evt IS NOT NULL
                        THEN CAST(floor((t_evt - t0) / 86400000000.0)
                             AS BIGINT)
                        ELSE CAST(floor((t_last - t0) / 86400000000.0)
                             AS BIGINT)
                   END AS dur_days,
                   CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS evt
            FROM per_user
        ), grp AS (
            SELECT dur_days,
                   CAST(sum(evt) AS BIGINT)       AS d,
                   CAST(sum(1 - evt) AS BIGINT)   AS c,
                   CAST(count(*) AS BIGINT)       AS cnt
            FROM durs GROUP BY dur_days
        ), risk AS (
            SELECT dur_days, d, c,
                   CAST(sum(cnt) OVER () - (sum(cnt) OVER (
                        ORDER BY dur_days ROWS UNBOUNDED PRECEDING)
                        - cnt) AS BIGINT) AS n_risk
            FROM grp
        ), terms AS (
            SELECT dur_days, d, c, n_risk,
                   CASE WHEN d > 0 AND d < n_risk THEN
                        CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                             * 1000000000000.0 + 0.5) AS BIGINT)
                        WHEN d = 0 THEN CAST(0 AS BIGINT)
                   END AS lt
            FROM risk
        ), cum AS (
            SELECT dur_days, d, c, n_risk,
                   CAST(sum(lt) OVER (ORDER BY dur_days
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cl,
                   max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
                        ORDER BY dur_days ROWS UNBOUNDED PRECEDING)
                        AS dead
            FROM terms
        )
        SELECT dur_days, n_risk,
               d AS n_events, c AS n_censored,
               CASE WHEN dead = 1 THEN CAST(0 AS BIGINT)
                    WHEN cl IS NOT NULL THEN
                    CAST(floor(exp(CAST(cl AS DOUBLE)
                         / 1000000000000.0) * 1000000.0 + 0.5)
                         AS BIGINT)
               END AS survival_micro
        FROM cum
        WHERE d > 0
        ORDER BY dur_days
    """,
    phase="P3",
    tags=("stream", "sequence", "survival"),
)
def seq_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase (days
    from a user's first event), right-censoring users who never
    purchase at their last observed activity — THE estimator for
    time-to-event questions (conversion latency, churn, time-to-
    failure) because naive averages are biased the moment anyone is
    still alive at the end of the window.  Ŝ(t) = Π_{tᵢ≤t}
    (1 − dᵢ/nᵢ) over event times, with the at-risk set shrinking by
    both events and censorings.

    Exactness: durations, event/censor tallies, and at-risk counts
    are exact integers from ONE per-user reduce + one duration-grain
    fold; the product becomes a SUM via ln (each step's
    ln(1 − d/n) PICO-quantized at compute — the agg_mutual_info
    rule), accumulated by an integer running window, and exp
    re-crosses only at the final micro-quantized output.  A step
    where d = n_risk (every remaining at-risk user fails) has no
    finite ln term — SUM would silently skip the NULL — so a
    cumulative `dead` flag pins survival to EXACTLY 0 at and after
    that step on both engines.

    Plan: events collapse to USER grain in one combinable aggregate,
    then to distinct-DURATION grain in a second; the risk-set window
    and the cumulative-hazard window share one tiny sort at that
    calendar-bounded grain.  One full-width exchange on user_id,
    everything after is dictionary-sized."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    per_user = e.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.max(us).alias("t_last"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("t_evt"),
    )
    day_us = F.lit(86400000000)
    durs = per_user.select(
        F.when(
            F.col("t_evt").isNotNull(),
            F.floor(
                (F.col("t_evt") - F.col("t0")) / day_us.cast("double")
            ).cast("bigint"),
        )
        .otherwise(
            F.floor(
                (F.col("t_last") - F.col("t0")) / day_us.cast("double")
            ).cast("bigint")
        )
        .alias("dur_days"),
        F.when(F.col("t_evt").isNotNull(), 1).otherwise(0).alias("evt"),
    )
    grp = durs.groupBy("dur_days").agg(
        F.sum("evt").cast("bigint").alias("d"),
        F.sum(1 - F.col("evt")).cast("bigint").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    w_cum = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    risk = grp.select(
        "dur_days",
        "d",
        "c",
        (
            F.sum("cnt").over(w_all)
            - (F.sum("cnt").over(w_cum) - F.col("cnt"))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    lt = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.floor(
            F.log(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
            )
            * F.lit(1000000000000.0)
            + F.lit(0.5)
        ).cast("bigint"),
    ).when(F.col("d") == 0, F.lit(0).cast("bigint"))
    terms = risk.select("dur_days", "d", "c", "n_risk", lt.alias("lt"))
    cum = terms.select(
        "dur_days",
        "d",
        "c",
        "n_risk",
        F.sum("lt").over(w_cum).cast("bigint").alias("cl"),
        F.max(
            F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
        )
        .over(w_cum)
        .alias("dead"),
    )
    return (
        cum.filter(F.col("d") > 0)
        .select(
            "dur_days",
            "n_risk",
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            F.when(F.col("dead") == 1, F.lit(0).cast("bigint"))
            .when(
                F.col("cl").isNotNull(),
                micro(
                    F.exp(F.col("cl").cast("double") / F.lit(1000000000000.0))
                ),
            )
            .alias("survival_micro"),
        )
        .orderBy("dur_days")
    )


_PACF_L = 5


def _durbin_steps(L: int) -> list[tuple[str, str]]:
    """Durbin-Levinson recursion as an ORDERED list of (column, SQL)
    steps in terms of the de-scaled lag correlations d1..dL and
    previously-named phi columns.  Naming every level's coefficients
    (instead of textually inlining the recursion) keeps the
    expression LINEAR in L — the inlined tree grows ~5× per level
    (111 KB at L=5) — and both engines evaluate each coefficient
    exactly once, in the same order, from the same spelling."""
    steps: list[tuple[str, str]] = [("p1_1", "d1")]
    for k in range(2, L + 1):
        num = " + ".join(f"p{k-1}_{j} * d{k-j}" for j in range(1, k))
        den = " + ".join(f"p{k-1}_{j} * d{j}" for j in range(1, k))
        steps.append(
            (f"p{k}_{k}", f"((d{k} - ({num})) / (1.0 - ({den})))")
        )
        for j in range(1, k):
            steps.append(
                (f"p{k}_{j}", f"(p{k-1}_{j} - p{k}_{k} * p{k-1}_{k-j})")
            )
    return steps


@query(
    "ts_pacf_durbin",
    oracle=f"""
        WITH daily AS ({_DAILY_REVENUE_SQL}
        ),
        moments AS ({_lag_moments_sql(_PACF_L)}
        ),
        rho AS (
            SELECT {", ".join(
                f"max(CASE WHEN lag = {k} THEN CAST(floor(({_ACF_EXPR})"
                f" * 1000000000000.0 + 0.5) AS BIGINT) END)"
                f" AS r{k}_pico"
                for k in range(1, _PACF_L + 1)
            )}
            FROM moments
        ),
        d AS (
            SELECT *, {", ".join(
                f"CAST(r{k}_pico AS DOUBLE) / 1000000000000.0 AS d{k}"
                for k in range(1, _PACF_L + 1)
            )}
            FROM rho
        )
        {"".join(
            f", lv{i} AS (SELECT *, {sql} AS {name} FROM "
            f"{'d' if i == 0 else f'lv{i-1}'})"
            for i, (name, sql) in enumerate(_durbin_steps(_PACF_L))
        )}
        SELECT * FROM (
            {" UNION ALL ".join(
                f"SELECT CAST({k} AS BIGINT) AS lag,"
                f" CAST(r{k}_pico AS BIGINT) AS rho_pico,"
                f" CAST(floor(p{k}_{k} * 1000000.0 + 0.5) AS BIGINT)"
                f" AS pacf_micro"
                f" FROM lv{len(_durbin_steps(_PACF_L)) - 1}"
                for k in range(1, _PACF_L + 1)
            )}
        )
        ORDER BY lag
    """,
    phase="P3",
    tags=("timeseries", "pacf", "durbin-levinson"),
)
def ts_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function at lags 1..5 via the
    Durbin-Levinson recursion — ts_autocorr's model-selection
    companion (ACF tails off / PACF cuts at p identifies an AR(p);
    the pair is the Box-Jenkins order-picking toolkit).  PACF(k) is
    the correlation at lag k AFTER removing what shorter lags
    already explain — exactly the last coefficient of the
    order-k Yule-Walker fit the recursion computes.

    Exactness: lag correlations come from exact integer moments and
    PICO-quantize before entering the recursion, so both engines
    start from identical integers; the recursion itself is a chain
    of NAMED single-row columns generated from ONE shared
    `_durbin_steps` spelling (naming keeps the expression linear in
    L — textually inlining the recursion quintuples per level,
    111 KB at L=5 — and fixes the IEEE evaluation order).  No
    driver round-trip: the "iteration" is L unrolled expression
    steps over a one-row relation.

    Plan: identical data shape to ts_autocorr — one map-side
    combinable day aggregate is the only full-width stage; the lag
    window, moment reduce, pivot, and the entire recursion run on
    calendar-bounded (then single-row) relations."""
    moments = lag_moments(daily_revenue(spark, sf_dir), _PACF_L)
    acf_pico = F.floor(
        F.expr(_ACF_EXPR) * F.lit(1000000000000.0) + F.lit(0.5)
    ).cast("bigint")
    rho = moments.select("lag", acf_pico.alias("acf_pico")).agg(
        *[
            F.max(
                F.when(F.col("lag") == k, F.col("acf_pico"))
            ).alias(f"r{k}_pico")
            for k in range(1, _PACF_L + 1)
        ]
    )
    # The recursion is ONE projection whose later columns read earlier
    # ones by lateral alias, so the tree is analyzed once; a chain of
    # withColumn calls re-analyzes the whole upstream tree per step.
    cur = rho.selectExpr(
        "*",
        *[
            f"CAST(r{k}_pico AS DOUBLE) / 1000000000000.0D AS d{k}"
            for k in range(1, _PACF_L + 1)
        ],
        *[f"{sql} AS {name}" for name, sql in _durbin_steps(_PACF_L)],
    )
    # ONE explode projection, not a 5-branch union — each union branch
    # would re-analyze the recursion's projection.
    return (
        cur.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("lag"),
                            F.col(f"r{k}_pico")
                            .cast("bigint")
                            .alias("rho_pico"),
                            micro(F.col(f"p{k}_{k}")).alias("pacf_micro"),
                        )
                        for k in range(1, _PACF_L + 1)
                    ]
                )
            ).alias("row")
        )
        .select("row.lag", "row.rho_pico", "row.pacf_micro")
        .orderBy("lag")
    )


@query(
    "ts_kalman_1d",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP) AS day,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS tot_micro
            FROM events GROUP BY 1, 2
        ),
        seq AS (
            SELECT event_type, day, tot_micro,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS rn
            FROM daily
        ),
        rec AS (
            SELECT event_type, day, rn, tot_micro,
                   CAST(tot_micro AS DOUBLE) AS x,
                   CAST(1.0 AS DOUBLE) AS p,
                   CAST(1.0 AS DOUBLE) AS k
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.event_type, s.day, s.rn, s.tot_micro,
                   r.x + ((r.p + 1.0) / ((r.p + 1.0) + 4.0))
                       * (CAST(s.tot_micro AS DOUBLE) - r.x),
                   (1.0 - (r.p + 1.0) / ((r.p + 1.0) + 4.0))
                       * (r.p + 1.0),
                   (r.p + 1.0) / ((r.p + 1.0) + 4.0)
            FROM rec r
            JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
        )
        SELECT event_type, day, tot_micro,
               CAST(floor(x + 0.5) AS BIGINT)             AS x_micro,
               CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS p_micro,
               CAST(floor(k * 1000000.0 + 0.5) AS BIGINT) AS k_micro
        FROM rec
        ORDER BY event_type, day
    """,
    phase="P3",
    tags=("stream", "timeseries", "kalman", "pandas-udf"),
)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level (random-walk + noise) Kalman filter over daily
    per-type volume — the optimal online smoother whose gain ADAPTS:
    it starts trusting observations, converges to the steady-state
    blend dictated by the process/measurement noise ratio (Q=1, R=4
    here), and its posterior variance P quantifies how sure the
    filter is at every step. Emits the filtered level, gain, and
    variance per day. Unlike ts_holt_winters' fixed-α smoothing, the
    recurrence couples THREE states (x, P, K) through a division —
    the canonical non-window-expressible recurrence.

    Cross-engine exactness without quantizing the state
    (ts_holt_winters' rule): integer-micro observations enter a pure
    IEEE double recurrence whose operand order is spelled identically
    in the Python kernel and the recursive-CTE oracle —
    pp = P + 1.0; K = pp / (pp + 4.0); x += K·(y − x);
    P = (1.0 − K)·pp — so trajectories are bitwise-equal and the
    final floor(·+0.5) can never straddle a boundary differently.

    Scale shape: the corpus-sized stage is the combinable (type, day)
    aggregate; the recurrence runs at SERIES grain inside one Arrow
    batch per key, parallel across keys, linear in days — never in
    events."""
    import pandas as pd

    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(micro(F.col("value"))).alias("tot_micro"))

    out_schema = (
        "event_type string, day timestamp, tot_micro long, "
        "x_micro long, p_micro long, k_micro long"
    )

    def kalman(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs, ps, ks = [], [], []
        x = p = k = 0.0
        for i, y in enumerate(pdf["tot_micro"].tolist()):
            if i == 0:
                x, p, k = float(y), 1.0, 1.0
            else:
                pp = p + 1.0
                k = pp / (pp + 4.0)
                x = x + k * (float(y) - x)
                p = (1.0 - k) * pp
            xs.append(x)
            ps.append(p)
            ks.append(k)
        pdf["x_micro"] = [int(math.floor(v + 0.5)) for v in xs]
        pdf["p_micro"] = [int(math.floor(v * 1000000.0 + 0.5)) for v in ps]
        pdf["k_micro"] = [int(math.floor(v * 1000000.0 + 0.5)) for v in ks]
        return pdf[
            ["event_type", "day", "tot_micro", "x_micro", "p_micro", "k_micro"]
        ]

    return (
        daily.groupBy("event_type")
        .applyInPandas(kalman, schema=out_schema)
        .orderBy("event_type", "day")
    )


# Shared SAX spelling: series stats over unit-grain daily totals (unit
# grain keeps Σy² inside int64 — micro would overflow), z computed as
# ONE spelled chain so segment symbols derive from bitwise-equal z.
_SAX_Z = (
    "((CAST(ssum AS DOUBLE) / scnt - CAST(s AS DOUBLE) / n)"
    " / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n))"
)
_SAX_SYMBOL = (
    f"CASE WHEN {_SAX_Z} < -0.6745 THEN 'a'"
    f" WHEN {_SAX_Z} < 0.0 THEN 'b'"
    f" WHEN {_SAX_Z} < 0.6745 THEN 'c'"
    " ELSE 'd' END"
)


@query(
    "ts_sax",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP) AS day,
                   CAST(sum(CAST(floor(value + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), seq AS (
            SELECT event_type, day, y,
                   CAST(floor((row_number() OVER (
                        PARTITION BY event_type ORDER BY day) - 1)
                        / 7.0) AS BIGINT) AS seg
            FROM daily
        ), stats AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS s,
                   CAST(sum(y * y) AS BIGINT) AS q
            FROM daily GROUP BY event_type
        ), segs AS (
            SELECT event_type, seg,
                   CAST(count(*) AS BIGINT) AS scnt,
                   CAST(sum(y) AS BIGINT) AS ssum,
                   min(day) AS seg_start
            FROM seq GROUP BY event_type, seg
        )
        SELECT g.event_type, g.seg, g.seg_start, g.scnt AS n_days,
               CAST(floor(CAST(ssum AS DOUBLE) / scnt * 1000000.0 + 0.5)
                    AS BIGINT) AS paa_micro,
               CAST(floor({_SAX_Z} * 1000000.0 + 0.5) AS BIGINT)
                   AS z_micro,
               {_SAX_SYMBOL} AS symbol
        FROM segs g JOIN stats st ON st.event_type = g.event_type
        ORDER BY g.event_type, g.seg
    """,
    phase="P3",
    tags=("stream", "timeseries", "sax", "symbolic"),
)
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of daily per-type volume:
    Piecewise Aggregate Approximation into 7-day segments, z-normalized
    against the series' own mean/std, then discretized to a 4-letter
    alphabet at the standard Gaussian breakpoints (−0.6745, 0, 0.6745)
    — the time-series-to-string transform behind motif discovery,
    similarity indexing, and anomaly grammars.

    Exactness: daily totals are UNIT-grain BIGINTs (unit, not micro,
    keeps Σy² inside int64); segment sums and series moments are exact
    integers; z is one shared-spelling IEEE chain so both engines
    compute bitwise-equal z — symbols (comparisons on that z) can
    never straddle a breakpoint differently.

    Scale shape: the corpus-sized stage is the combinable (type, day)
    aggregate; everything after runs at day/segment grain. Segment id
    rides row_number over the per-type day order (one tiny window);
    series stats broadcast back into segment rows."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "day",
        "y",
        F.floor((F.row_number().over(w) - 1) / 7.0)
        .cast("bigint")
        .alias("seg"),
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("q"),
    )
    segs = seq.groupBy("event_type", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("scnt"),
        F.sum("y").cast("bigint").alias("ssum"),
        F.min("day").alias("seg_start"),
    )
    return (
        segs.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "seg",
            "seg_start",
            F.col("scnt").alias("n_days"),
            micro(F.col("ssum").cast("double") / F.col("scnt"))
            .alias("paa_micro"),
            micro(F.expr(_SAX_Z)).alias("z_micro"),
            F.expr(_SAX_SYMBOL).alias("symbol"),
        )
        .orderBy("event_type", "seg")
    )


@query(
    "win_decayed_sum",
    oracle="""
        WITH b AS (
            SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
            FROM events
        ), terms AS (
            SELECT user_id,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
                       >> CAST(least(floor(
                              CAST(floor((b.tmax
                                   - epoch_us(CAST(ts AS TIMESTAMP)))
                                   / 86400000000.0) AS BIGINT) / 7.0),
                              40.0) AS BIGINT) AS term,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
                       AS vmicro
            FROM events CROSS JOIN b
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(vmicro) AS BIGINT) AS raw_micro,
               CAST(sum(term) AS BIGINT) AS decayed_micro
        FROM terms
        GROUP BY user_id
        ORDER BY user_id
    """,
    phase="P3",
    tags=("window", "decay", "recency"),
)
def win_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score per user: every event's value
    is halved for each full 7 days of age at the corpus watermark
    (max ts), then summed — the recency weighting behind engagement
    ranking, churn scoring, and freshness-aware mixtures.

    The decay is deliberately DYADIC (half-life = 7 whole days) so the
    weight is an exact arithmetic shift: micro-value >> (age_days/7)
    is pure BIGINT arithmetic — no exp(), no per-row libm call whose
    last ULP could differ across engines, no float accumulation order.
    The fractional remainder a continuous exp(−λt) would add is a
    modeling choice, not a precision one; at 100 TB the shift spelling
    is the one that stays provably cross-engine-exact (the
    sample_weighted md5-ladder principle). Age buckets floor() on both
    engines (the CAST-rounds-vs-truncates trap). Shift clamps at 40:
    beyond ~5.4 years of age the term is 0 at micro grain anyway.

    Plan: one single-row watermark aggregate broadcast into a map-only
    term projection, then ONE combinable groupBy(user_id) — a scan
    plus one user-grain exchange at any scale."""
    e = load(spark, sf_dir, "events")
    b = e.agg(F.max(F.unix_micros("ts")).alias("tmax"))
    # F.shiftright only takes a literal bit count, so the variable
    # shift is spelled in SQL (same spelling class as the oracle)
    terms = e.crossJoin(F.broadcast(b)).select(
        "user_id",
        F.expr(
            "shiftright(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT), "
            "CAST(least(floor(CAST(floor((tmax - unix_micros(ts)) "
            "/ 86400000000.0) AS BIGINT) / 7.0), 40.0) AS INT))"
        ).alias("term"),
        micro(F.col("value")).alias("vmicro"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("vmicro").cast("bigint").alias("raw_micro"),
            F.sum("term").cast("bigint").alias("decayed_micro"),
        )
        .orderBy("user_id")
    )


# Lagged cross-correlation: paired Pearson over exact integer moments,
# one shared spelled IEEE chain.
_CCF_R = (
    "(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
    "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))"
)


@query(
    "ts_cross_correlation",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS DATE) AS day,
                   CAST(sum(CASE WHEN event_type = 'view'
                            THEN CAST(floor(value + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(floor(value + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y
            FROM events WHERE event_type IN ('view', 'purchase')
            GROUP BY 1
        ), lags AS (
            SELECT CAST(unnest(range(-3, 4)) AS INTEGER) AS lag
        ), pairs AS (
            SELECT l.lag, a.x, b.y
            FROM lags l
            JOIN daily a ON TRUE
            JOIN daily b ON b.day = a.day + l.lag
        ), m AS (
            SELECT lag,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM pairs GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
               CAST(floor({_CCF_R} * 1000000.0 + 0.5) AS BIGINT)
                   AS r_micro
        FROM m
        ORDER BY lag
    """,
    phase="P3",
    tags=("stream", "timeseries", "correlation"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between daily view volume and daily
    purchase volume (lags −3..+3): "do views lead purchases, and by
    how many days?" — the lead-lag diagnostic behind marketing-mix
    and funnel-latency analyses, complementing ts_autocorr (one
    series' memory) and ts_pacf_durbin (its direct memory).

    Per lag the statistic is the paired Pearson r over the
    day-aligned (x_t, y_{t+l}) pairs. All six moments are exact
    BIGINTs at unit grain (daily totals ≤ ~1e6 keep n·Σx² inside
    int64); r is one shared-spelling IEEE chain — the ts_autocorr
    rule. Date alignment is pure DATE + integer arithmetic on both
    engines.

    Scale shape: events collapse to DAY grain in one combinable
    aggregate; the 7-lag fan-out and self-join run on the tiny daily
    relation (calendar-bounded), then one 7-group fold."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    unit = F.floor(F.col("value") + F.lit(0.5)).cast("bigint")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", unit).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", unit).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day").alias("aday"), "x")
    bside = daily.select(F.col("day").alias("bday"), "y")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            F.broadcast(bside),
            F.col("bday") == F.date_add(F.col("aday"), F.col("lag")),
        )
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        micro(F.expr(_CCF_R)).alias("r_micro"),
    ).orderBy("lag")


# Ljung-Box pieces: full-series-mean autocovariance ratio and the
# per-lag Q term, spelled once so both engines run identical IEEE.
_LB_M = "(CAST(stot AS DOUBLE) / ndays)"
_LB_NUM = (
    f"(CAST(sxy AS DOUBLE) - {_LB_M} * (sx + sy)"
    f" + n * {_LB_M} * {_LB_M})"
)
_LB_DEN = "(CAST(sx2tot AS DOUBLE) - CAST(stot AS DOUBLE) * stot / ndays)"
_LB_RHO = f"({_LB_NUM} / {_LB_DEN})"
_LB_TERM = f"({_LB_RHO} * {_LB_RHO} / (ndays - lag))"
_LB_Q = (
    "(CAST(ndays AS DOUBLE) * (ndays + 2) * qsum / 1000000.0)"
)


@query(
    "ts_ljung_box",
    oracle=f"""
        WITH daily AS ({_DAILY_REVENUE_SQL}
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS ndays,
                   CAST(sum(rev) AS BIGINT) AS stot,
                   CAST(sum(rev * rev) AS BIGINT) AS sx2tot
            FROM daily
        ),
        moments AS ({_lag_moments_sql(ACF_MAX_LAG)}
        ),
        terms AS (
            SELECT CAST(lag AS BIGINT) AS lag, n,
                   CAST(floor({_LB_RHO} * 1000000.0 + 0.5) AS BIGINT)
                       AS rho_micro,
                   CAST(floor({_LB_TERM} * 1000000000000.0 + 0.5)
                        AS BIGINT) AS t_pico,
                   ndays
            FROM moments, tot
        )
        SELECT lag, n AS n_pairs, rho_micro,
               CAST(floor({_LB_Q} + 0.5) AS BIGINT) AS q_micro
        FROM (
            SELECT lag, n, rho_micro, ndays,
                   CAST(sum(t_pico) OVER (ORDER BY lag) AS BIGINT)
                       AS qsum
            FROM terms
        )
        ORDER BY lag
    """,
    phase="P3",
    tags=("timeseries", "hypothesis-test"),
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau white-noise test on the daily revenue
    series: per lag h = 1..7, the textbook autocorrelation (full-
    series mean and denominator — unlike ts_autocorr's per-lag
    Pearson) and the CUMULATIVE Q(h) = n(n+2) * sum_{{k<=h}}
    rho_k^2/(n-k) — the gate a forecasting pipeline runs on model
    residuals before trusting prediction intervals.

    Exactness: daily sums and all cross-moments are exact BIGINTs;
    rho_k folds the full-series mean correction from exact moments
    (sxy - m*(sx+sy) + n*m^2) in ONE shared IEEE formula; each Q term
    rho^2/(n-k) pico-quantizes at lag grain, so the cumulative sum is
    an exact integer window over 7 rows — no float accumulation
    anywhere.

    Plan: identical scale shape to ts_autocorr — the only data-sized
    stage is the map-side-combinable daily rollup; lags ride one
    window pass over the ~10^3-row series; the 1-row total relation
    cross-joins (broadcast) into 7-row lag grain."""
    daily = daily_revenue(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("ndays"),
        F.sum("rev").cast("bigint").alias("stot"),
        F.sum(F.col("rev") * F.col("rev")).cast("bigint").alias("sx2tot"),
    )
    terms = lag_moments(daily, ACF_MAX_LAG).crossJoin(F.broadcast(tot)).select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        micro(F.expr(_LB_RHO)).alias("rho_micro"),
        F.floor(F.expr(_LB_TERM) * F.lit(1000000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("t_pico"),
        "ndays",
    )
    wq = Window.orderBy("lag")
    return (
        terms.select(
            "lag",
            F.col("n").alias("n_pairs"),
            "rho_micro",
            F.sum("t_pico").over(wq).cast("bigint").alias("qsum"),
            "ndays",
        )
        .select(
            "lag",
            "n_pairs",
            "rho_micro",
            F.floor(F.expr(_LB_Q) + F.lit(0.5))
            .cast("bigint")
            .alias("q_micro"),
        )
        .orderBy("lag")
    )


# Hurst variance-plot pieces: block-mean variance from exact block-sum
# moments, and the 5-point OLS slope over (ln m, ln var), spelled once.
_HU_VAR = (
    "((CAST(sb2 AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb)"
    " / (nb - 1) / (CAST(m AS DOUBLE) * m))"
)
_HU_SLOPE = (
    "((np * (CAST(sxy AS DOUBLE) / 1000000000000.0)"
    " - (CAST(sx AS DOUBLE) / 1000000000000.0)"
    " * (CAST(sy AS DOUBLE) / 1000000000000.0))"
    " / (np * (CAST(sx2 AS DOUBLE) / 1000000000000.0)"
    " - (CAST(sx AS DOUBLE) / 1000000000000.0)"
    " * (CAST(sx AS DOUBLE) / 1000000000000.0)))"
)
_HU_SCALES = (1, 2, 4, 8, 16)


@query(
    "ts_hurst_exponent",
    oracle=f"""
        WITH daily AS (
            SELECT rev, row_number() OVER (ORDER BY day) - 1 AS rn
            FROM ({_DAILY_REVENUE_SQL})
        ),
        tot AS (
            SELECT CAST(sum(rev) // count(*) AS BIGINT) AS c
            FROM daily
        ),
        blocks AS (
            {" UNION ALL ".join(
                f"SELECT {m} AS m, CAST(floor(rn / {m}.0) AS BIGINT)"
                f" AS bid, CAST(sum(rev) AS BIGINT) AS bsum,"
                f" count(*) AS cnt"
                f" FROM daily GROUP BY 2"
                for m in _HU_SCALES
            )}
        ),
        scales AS (
            SELECT m, CAST(count(*) AS BIGINT) AS nb,
                   CAST(sum(bsum - c * m) AS BIGINT) AS sb,
                   CAST(sum((bsum - c * m) * (bsum - c * m)) AS BIGINT)
                       AS sb2
            FROM blocks, tot WHERE cnt = m
            GROUP BY m
        ),
        pts AS (
            SELECT m, nb,
                   CAST(floor({_HU_VAR} / 1000000.0 + 0.5) AS BIGINT)
                       AS var_unit,
                   CAST(floor(ln(CAST(m AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS x,
                   CAST(floor(ln({_HU_VAR})
                        * 1000000000000.0 + 0.5) AS BIGINT) AS y,
                   CAST(floor(ln(CAST(m AS DOUBLE))
                        * ln(CAST(m AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS x2,
                   CAST(floor(ln(CAST(m AS DOUBLE)) * ln({_HU_VAR})
                        * 1000000000000.0 + 0.5) AS BIGINT) AS xy
            FROM scales
        ),
        fit AS (
            SELECT CAST(count(*) AS BIGINT) AS np,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x2) AS BIGINT) AS sx2,
                   CAST(sum(xy) AS BIGINT) AS sxy
            FROM pts
        )
        SELECT CAST(m AS BIGINT) AS m, nb AS n_blocks, var_unit,
               CAST(floor({_HU_SLOPE} * 1000000.0 + 0.5) AS BIGINT)
                   AS slope_micro,
               CAST(floor((1.0 + {_HU_SLOPE} / 2.0) * 1000000.0 + 0.5)
                    AS BIGINT) AS hurst_micro
        FROM pts, fit
        ORDER BY m
    """,
    phase="P3",
    tags=("timeseries", "long-memory"),
)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily revenue series via the variance-
    plot (aggregated-variance) method: block the series at scales
    m = 1,2,4,8,16, regress ln Var(block mean) on ln m — slope
    -1 means iid (H = 0.5), flatter decay means long memory
    (H > 0.5). The long-memory probe a capacity-planning pipeline
    runs before trusting short-window forecasts.

    Exactness: block sums are exact BIGINTs over whole-dollar daily
    revenue; each scale's variance folds from (nb, sum, sum-of-
    squares) in ONE shared IEEE formula; every ln-crossing regression
    term pico-quantizes at SCALE grain (the zipf-fit discipline —
    never raw-summed); the 5-point OLS slope reads exact integer
    sums. Block sums CENTER on c*m (c = truncated global daily mean,
    exact integer division) before squaring — variance is
    translation-invariant, and the centering shrinks sb2 from
    (block total)^2 to (block deviation)^2 scale, int64-safe at any
    realistic daily-dollar magnitude.

    Plan: the only data-sized stage is the combinable daily rollup
    (time-span cardinality, not rows); the 5 scales ride UNION ALL
    re-aggregations of that tiny series (incomplete tail blocks
    dropped — cnt = m); the 1-row fit broadcast-cross-joins back to
    5-row scale grain. The numbered daily series is a LAZY
    localCheckpoint because six branches read it (the 5 UNION legs and
    the global-mean aggregate): Catalyst does no CSE across branches, so
    without the cut each one re-derives the orders scan, the day rollup
    AND the single-partition row-number window — 12 orders scans and 6
    global sorts in the compiled tree."""
    daily = (
        daily_revenue(spark, sf_dir)
        .select(
            "rev",
            (F.row_number().over(Window.orderBy("day")) - F.lit(1)).alias("rn"),
        )
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.expr("CAST(sum(rev) DIV count(*) AS BIGINT)").alias("c")
    )
    blocks = None
    for m in _HU_SCALES:
        b = (
            daily.groupBy(
                F.floor(F.col("rn") / F.lit(float(m)))
                .cast("bigint")
                .alias("bid")
            )
            .agg(
                F.sum("rev").cast("bigint").alias("bsum"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .select(F.lit(m).alias("m"), "bid", "bsum", "cnt")
        )
        blocks = b if blocks is None else blocks.unionAll(b)
    cb = F.col("bsum") - F.col("c") * F.col("m")
    scales = (
        blocks.filter(F.col("cnt") == F.col("m"))
        .crossJoin(F.broadcast(tot))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nb"),
            F.sum(cb).cast("bigint").alias("sb"),
            F.sum(cb * cb).cast("bigint").alias("sb2"),
        )
    )
    lnm = F.log(F.col("m").cast("double"))
    lnv = F.log(F.expr(_HU_VAR))
    pts = scales.select(
        "m",
        "nb",
        F.floor(F.expr(_HU_VAR) / F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("var_unit"),
        F.floor(lnm * F.lit(1e12) + F.lit(0.5)).cast("bigint").alias("x"),
        F.floor(lnv * F.lit(1e12) + F.lit(0.5)).cast("bigint").alias("y"),
        F.floor(lnm * lnm * F.lit(1e12) + F.lit(0.5))
        .cast("bigint")
        .alias("x2"),
        F.floor(lnm * lnv * F.lit(1e12) + F.lit(0.5))
        .cast("bigint")
        .alias("xy"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("xy").cast("bigint").alias("sxy"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("m").cast("bigint").alias("m"),
            F.col("nb").alias("n_blocks"),
            "var_unit",
            micro(F.expr(_HU_SLOPE)).alias("slope_micro"),
            micro(F.lit(1.0) + F.expr(_HU_SLOPE) / F.lit(2.0))
            .alias("hurst_micro"),
        )
        .orderBy("m")
    )


# Conversion-latency bucket ladder: pure integer threshold compares
# (never a float/log bucket — engine-identical by construction).
_TTC_BUCKETS = (
    (60, "0-1m"),
    (300, "1-5m"),
    (900, "5-15m"),
    (3600, "15m-1h"),
    (21600, "1-6h"),
    (86400, "6-24h"),
)
_TTC_CASE = (
    "CASE "
    + " ".join(
        f"WHEN d < {s} THEN {i}" for i, (s, _) in enumerate(_TTC_BUCKETS)
    )
    + f" ELSE {len(_TTC_BUCKETS)} END"
)
_TTC_LABEL = (
    "CASE "
    + " ".join(
        f"WHEN d < {s} THEN '{lbl}'"
        for (s, lbl) in _TTC_BUCKETS
    )
    + " ELSE '1d+' END"
)


@query(
    "seq_time_to_convert",
    oracle=f"""
        WITH v AS (
            SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS fv
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), p AS (
            SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS fp
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'purchase'
              AND CAST(e.ts AS TIMESTAMP) > v.fv
            GROUP BY e.user_id
        ), lat AS (
            SELECT v.user_id,
                   CAST(date_diff('second', v.fv, p.fp) AS BIGINT) AS d
            FROM v LEFT JOIN p ON p.user_id = v.user_id
        )
        SELECT CAST(CASE WHEN d IS NULL THEN 99
                    ELSE {_TTC_CASE} END AS BIGINT) AS bucket_id,
               CASE WHEN d IS NULL THEN 'never'
                    ELSE {_TTC_LABEL} END AS bucket,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(d) // count(*) AS BIGINT) AS avg_sec,
               CAST(min(d) AS BIGINT) AS min_sec,
               CAST(max(d) AS BIGINT) AS max_sec
        FROM lat
        GROUP BY 1, 2
        ORDER BY bucket_id
    """,
    phase="P3",
    tags=("stream", "sequence", "funnel"),
)
def seq_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from FIRST
    view to the first purchase strictly after it, bucketed on a pure
    integer threshold ladder (1m/5m/15m/1h/6h/24h/1d+/never) — the
    conversion-latency histogram behind funnel_conversion's rate
    (rate says HOW MANY convert; this says HOW FAST, which prices
    retargeting windows).

    Exactness: latencies are exact integer seconds (the
    seq_inter_arrival-proven second-truncation convention); buckets
    are integer compares (never a float/log edge that could round
    differently); the per-bucket average is exact integer DIV.
    Non-converters keep their own bucket with NULL latency stats.

    Plan: two combinable per-user aggregates (first view; first
    later purchase via one join that prunes to purchase rows before
    shuffling) + a left join back — all keyed on user_id so the
    shuffles share one partitioning; the bucket rollup is a
    bounded-key (8-row) combinable agg."""
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
        # user-grain first-view, referenced by the purchase join AND
        # the latency left join — lazy checkpoint so the events
        # scan + rollup compiles once, not once per branch
        .localCheckpoint(eager=False)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    lat = v.join(p, "user_id", "left").select(
        "user_id",
        (F.col("fp").cast("long") - F.col("fv").cast("long"))
        .cast("bigint")
        .alias("d"),
    )
    bucket_id = F.when(F.col("d").isNull(), F.lit(99)).otherwise(
        F.expr(_TTC_CASE)
    )
    bucket = F.when(F.col("d").isNull(), F.lit("never")).otherwise(
        F.expr(_TTC_LABEL)
    )
    return (
        lat.select(
            bucket_id.cast("bigint").alias("bucket_id"),
            bucket.alias("bucket"),
            "d",
        )
        .groupBy("bucket_id", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.expr("CAST(sum(d) DIV count(*) AS BIGINT)").alias("avg_sec"),
            F.min("d").cast("bigint").alias("min_sec"),
            F.max("d").cast("bigint").alias("max_sec"),
        )
        .orderBy("bucket_id")
    )


# Component-variance pieces for seasonal/trend strength, spelled once.
_SS_VR = "((CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n) / (n - 1))"
_SS_VD = "((CAST(qd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n) / (n - 1))"
_SS_VT = "((CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) / (n - 1))"
_SS_FS = f"greatest(0.0, 1.0 - {_SS_VR} / {_SS_VD})"
_SS_FT = f"greatest(0.0, 1.0 - {_SS_VR} / {_SS_VT})"


@query(
    "ts_seasonal_strength",
    oracle=f"""
        WITH daily AS ({_DAILY_REVENUE_SQL}
        ),
        trended AS (
            SELECT day, CAST(dayofweek(day) AS BIGINT) AS dow, rev,
                   CAST(sum(rev) OVER w AS BIGINT) AS s7,
                   count(*) OVER w AS n7
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                            AND 3 FOLLOWING)
        ),
        detrended AS (
            SELECT day, dow, rev,
                   rev * 1000000
                     - CAST(floor(s7 / 7.0 * 1000000.0 + 0.5) AS BIGINT)
                       AS det_micro
            FROM trended WHERE n7 = 7
        ),
        seasonal AS (
            SELECT dow,
                   CAST(floor(CAST(sum(det_micro) AS DOUBLE) / count(*)
                              + 0.5) AS BIGINT) AS seasonal_micro
            FROM detrended GROUP BY dow
        ),
        units AS (
            SELECT CAST(floor((d.det_micro - s.seasonal_micro)
                        / 1000000.0 + 0.5) AS BIGINT) AS r,
                   CAST(floor(d.det_micro / 1000000.0 + 0.5) AS BIGINT)
                       AS dt,
                   d.rev - CAST(floor(s.seasonal_micro / 1000000.0
                        + 0.5) AS BIGINT) AS tr
            FROM detrended d JOIN seasonal s USING (dow)
        ),
        ctr AS (
            SELECT CAST(sum(tr) // count(*) AS BIGINT) AS c FROM units
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(r) AS BIGINT) AS sr,
                   CAST(sum(r * r) AS BIGINT) AS qr,
                   CAST(sum(dt) AS BIGINT) AS sd,
                   CAST(sum(dt * dt) AS BIGINT) AS qd,
                   CAST(sum(tr - c) AS BIGINT) AS st,
                   CAST(sum((tr - c) * (tr - c)) AS BIGINT) AS qt
            FROM units, ctr
        )
        SELECT n AS n_days,
               CAST(floor({_SS_VR} / 1000000.0 + 0.5) AS BIGINT)
                   AS var_resid_unit,
               CAST(floor({_SS_VD} / 1000000.0 + 0.5) AS BIGINT)
                   AS var_detrended_unit,
               CAST(floor({_SS_VT} / 1000000.0 + 0.5) AS BIGINT)
                   AS var_trendres_unit,
               CAST(floor({_SS_FS} * 1000000.0 + 0.5) AS BIGINT)
                   AS seasonal_strength_micro,
               CAST(floor({_SS_FT} * 1000000.0 + 0.5) AS BIGINT)
                   AS trend_strength_micro
        FROM m
    """,
    phase="P3",
    tags=("timeseries", "decomposition"),
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style strength summary of the daily revenue decomposition:
    F_seasonal = max(0, 1 - Var(resid)/Var(seasonal + resid)) and
    F_trend = max(0, 1 - Var(resid)/Var(trend + resid)) — the two
    numbers (Hyndman's convention) that tell a forecasting pipeline
    whether ts_seasonal_decompose's components carry real signal
    before a seasonal model is fit.

    Exactness: rides the EXACT decompose chain (7-day centered MA,
    dow seasonal means, micro-quantized at each step); component
    values round back to whole units at DAY grain before squaring
    (micro^2 would overflow int64); the trend+resid component CENTERS
    on its truncated integer mean (the hurst discipline) so its
    second moment stays int64-safe at any daily magnitude; strengths
    are shared IEEE formulas over exact moments.

    Plan: combinable daily rollup -> one ROWS window over the tiny
    series -> 7-row seasonal means join back -> ONE moments reduce.
    Nothing past the first agg scales with input rows."""
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily_revenue(spark, sf_dir).select(
        "day",
        F.dayofweek("day").cast("bigint").alias("dow"),
        "rev",
        F.sum("rev").over(w).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    detrended = trended.filter(F.col("n7") == 7).select(
        "day",
        "dow",
        "rev",
        (
            F.col("rev") * F.lit(1000000) - micro(F.col("s7") / F.lit(7.0))
        ).alias("det_micro"),
    ).localCheckpoint(eager=False)
    seasonal = detrended.groupBy("dow").agg(
        F.floor(
            F.sum("det_micro").cast("double") / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("seasonal_micro")
    )
    units = detrended.join(F.broadcast(seasonal), "dow").select(
        F.floor(
            (F.col("det_micro") - F.col("seasonal_micro"))
            / F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("r"),
        F.floor(F.col("det_micro") / F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("dt"),
        (
            F.col("rev")
            - F.floor(
                F.col("seasonal_micro") / F.lit(1000000.0) + F.lit(0.5)
            ).cast("bigint")
        ).alias("tr"),
    ).localCheckpoint(eager=False)
    ctr = units.agg(
        F.expr("CAST(sum(tr) DIV count(*) AS BIGINT)").alias("c")
    )
    trc = F.col("tr") - F.col("c")
    m = units.crossJoin(F.broadcast(ctr)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("qr"),
        F.sum("dt").cast("bigint").alias("sd"),
        F.sum(F.col("dt") * F.col("dt")).cast("bigint").alias("qd"),
        F.sum(trc).cast("bigint").alias("st"),
        F.sum(trc * trc).cast("bigint").alias("qt"),
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.floor(F.expr(_SS_VR) / F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("var_resid_unit"),
        F.floor(F.expr(_SS_VD) / F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("var_detrended_unit"),
        F.floor(F.expr(_SS_VT) / F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("var_trendres_unit"),
        micro(F.expr(_SS_FS)).alias("seasonal_strength_micro"),
        micro(F.expr(_SS_FT)).alias("trend_strength_micro"),
    )


@query(
    "ts_anomaly_residual",
    oracle=f"""
        WITH daily AS ({_DAILY_REVENUE_SQL}
        ),
        trended AS (
            SELECT day, CAST(dayofweek(day) AS BIGINT) AS dow, rev,
                   CAST(sum(rev) OVER w AS BIGINT) AS s7,
                   count(*) OVER w AS n7
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                            AND 3 FOLLOWING)
        ),
        detrended AS (
            SELECT day, dow, rev,
                   rev * 1000000
                     - CAST(floor(s7 / 7.0 * 1000000.0 + 0.5) AS BIGINT)
                       AS det_micro
            FROM trended WHERE n7 = 7
        ),
        seasonal AS (
            SELECT dow,
                   CAST(floor(CAST(sum(det_micro) AS DOUBLE) / count(*)
                              + 0.5) AS BIGINT) AS seasonal_micro
            FROM detrended GROUP BY dow
        ),
        resid AS (
            SELECT d.day, d.rev,
                   CAST(d.det_micro - s.seasonal_micro AS BIGINT)
                       AS r_micro
            FROM detrended d JOIN seasonal s USING (dow)
        ),
        med AS (
            SELECT CAST(quantile_disc(r_micro, 0.5) AS BIGINT) AS med
            FROM resid
        ),
        madr AS (
            SELECT CAST(quantile_disc(abs(r_micro - med), 0.5)
                        AS BIGINT) AS mad
            FROM resid, med
        )
        SELECT CAST(r.day AS DATE) AS day, r.rev, r.r_micro,
               m.med AS median_resid_micro, x.mad AS mad_resid_micro,
               CAST(abs(r.r_micro - m.med) > 3 * x.mad AS BOOLEAN)
                   AS is_anomaly
        FROM resid r, med m, madr x
        WHERE abs(r.r_micro - m.med) > 3 * x.mad
        ORDER BY r.day
    """,
    phase="P3",
    tags=("timeseries", "anomaly", "decomposition"),
)
def ts_anomaly_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition-residual anomaly days: days whose revenue residual
    (net of the 7-day trend AND the day-of-week seasonal) deviates
    from the residual median by more than 3 MAD — the STL-residual
    anomaly detector that catches what raw-level detectors
    (anomaly_zscore/mad on values, dq_volume_anomaly on counts)
    structurally can't: a normal-LOOKING Monday that's anomalous FOR
    a Monday after a soft week. Emits only the flagged days.

    Exactness: rides the exact decompose chain (integer daily sums,
    micro-quantized trend/seasonal); residuals are exact BIGINT
    micros; DISCRETE median/MAD (actual stored residuals) and the
    3x fence compare stay all-integer — no IEEE anywhere past the
    quantized trend division.

    Plan: combinable daily rollup -> one ROWS window over the tiny
    series -> 7-row seasonal join-back -> two discrete quantiles over
    the series-length relation with 1-row broadcast-backs. Output is
    anomaly-sized. detrended and resid are LAZY localCheckpoints
    because each is read from several branches (seasonal + the resid
    join, then med/madr/final over resid) and Catalyst does no CSE
    across branches: without the cuts the compiled tree re-derives the
    orders scan, daily rollup and trend window at every reference — 8
    orders scans and as many global window sorts."""
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily_revenue(spark, sf_dir).select(
        "day",
        F.dayofweek("day").cast("bigint").alias("dow"),
        "rev",
        F.sum("rev").over(w).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    detrended = trended.filter(F.col("n7") == 7).select(
        "day",
        "dow",
        "rev",
        (
            F.col("rev") * F.lit(1000000) - micro(F.col("s7") / F.lit(7.0))
        ).alias("det_micro"),
    ).localCheckpoint(eager=False)
    seasonal = detrended.groupBy("dow").agg(
        F.floor(
            F.sum("det_micro").cast("double") / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("seasonal_micro")
    )
    resid = detrended.join(F.broadcast(seasonal), "dow").select(
        "day",
        "rev",
        (F.col("det_micro") - F.col("seasonal_micro"))
        .cast("bigint")
        .alias("r_micro"),
    ).localCheckpoint(eager=False)
    med = resid.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r_micro)")
        .cast("bigint")
        .alias("med")
    )
    madr = (
        resid.crossJoin(F.broadcast(med))
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP "
                "(ORDER BY abs(r_micro - med))"
            )
            .cast("bigint")
            .alias("mad")
        )
    )
    return (
        resid.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(madr))
        .filter(
            F.abs(F.col("r_micro") - F.col("med"))
            > F.lit(3) * F.col("mad")
        )
        .select(
            F.col("day").cast("date").alias("day"),
            "rev",
            "r_micro",
            F.col("med").alias("median_resid_micro"),
            F.col("mad").alias("mad_resid_micro"),
            (
                F.abs(F.col("r_micro") - F.col("med"))
                > F.lit(3) * F.col("mad")
            ).alias("is_anomaly"),
        )
        .orderBy("day")
    )


# Fano factor (index of dispersion) from exact daily-count moments.
_FANO_MEAN = "(CAST(s AS DOUBLE) / nd)"
_FANO_VAR = (
    "((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / nd) / (nd - 1))"
)
_FANO = f"({_FANO_VAR} / {_FANO_MEAN})"


@query(
    "agg_fano_dispersion",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), m AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS nd,
                   CAST(sum(c) AS BIGINT) AS s,
                   CAST(sum(c * c) AS BIGINT) AS q
            FROM daily GROUP BY event_type
        )
        SELECT event_type, nd AS n_days, s AS n_events,
               CAST(floor({_FANO_MEAN} * 1000000.0 + 0.5) AS BIGINT)
                   AS mean_micro,
               CAST(floor({_FANO_VAR} * 1000000.0 + 0.5) AS BIGINT)
                   AS var_micro,
               CAST(floor({_FANO} * 1000000.0 + 0.5) AS BIGINT)
                   AS fano_micro,
               CAST({_FANO} > 1.5 AS BOOLEAN) AS bursty
        FROM m
        ORDER BY event_type
    """,
    phase="P3",
    tags=("timeseries", "point-process", "anomaly"),
)
def agg_fano_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, Var/Mean of daily counts)
    per event type — the point-process diagnostic: ~1 means
    Poisson-like arrivals (capacity planning can use M/M/c math), >1
    means bursty (provision for bursts, and windowed anomaly
    detectors need wider bands), <1 means regular/throttled. The
    arrival-process companion to seq_inter_arrival's gap view.

    Exactness: daily counts and both moments are exact integers; the
    mean/variance/ratio chain is ONE shared IEEE formula; the bursty
    flag compares the same spelled double on both engines (a
    deterministic compare of identical IEEE values — the cosine-
    ordering convention).

    Plan: ONE combinable count to (type, day) grain (time-span x
    type cardinality), a second combinable moments fold to type
    grain — nothing past the first agg scales with rows."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    return m.select(
        "event_type",
        F.col("nd").alias("n_days"),
        F.col("s").alias("n_events"),
        micro(F.expr(_FANO_MEAN)).alias("mean_micro"),
        micro(F.expr(_FANO_VAR)).alias("var_micro"),
        micro(F.expr(_FANO)).alias("fano_micro"),
        (F.expr(_FANO) > F.lit(1.5)).alias("bursty"),
    ).orderBy("event_type")


@query(
    "ts_periodogram",
    oracle=f"""
        WITH hourly AS ({_event_counts_sql(_HOUR_US)}
        ),
        powered AS ({_pgram_powers_sql()}
        )
        SELECT period, sum_cos_nano, sum_sin_nano, power_unit,
               power_unit = max(power_unit) OVER () AS is_dominant
        FROM powered
        ORDER BY period
    """,
    phase="P4",
    tags=("timeseries", "spectral", "seasonality"),
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram over the hourly event-count series: DFT power at
    seven candidate periods (2–24 h) via the Goertzel projection
    P(p) = (Σ x_t·cos(2πt/p))² + (Σ x_t·sin(2πt/p))² — the spectral
    sibling of ts_seasonal_strength's folded-mean test, answering
    "WHICH cycle dominates" rather than "how strong is the 24 h one".
    The dominant-period flag drives downstream window sizing
    (stream_tumbling's width, feed-gap expectations).

    Exactness and plan: ``pgram_powers`` over ``event_counts`` at hour
    grain (Python-minted trig literals, nano-quantized hour-grain
    terms, one 1-row aggregate stacked to 7 rows); the dominant flag
    is a window over those 7."""
    powered = pgram_powers(event_counts(spark, sf_dir, _HOUR_US))
    w = Window.partitionBy()
    return powered.select(
        "period",
        "sum_cos_nano",
        "sum_sin_nano",
        "power_unit",
        (F.col("power_unit") == F.max("power_unit").over(w)).alias(
            "is_dominant"
        ),
    ).orderBy("period")


# Mann-Kendall trend test: S = Σ_{i<j} sign(x_j − x_i) over the daily
# series, tie-corrected Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)] / 18.
# Everything stays integer until the single spelled Z division (the
# continuity-corrected (S∓1)/sqrt(var)).
_MK_Z = (
    "(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
    " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
    " ELSE 0.0 END"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0))"
)


@query(
    "ts_mann_kendall",
    oracle=f"""
        WITH daily AS ({_event_counts_sql(_DAY_US)}
        ),
        s AS (
            SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                                 WHEN b.x < a.x THEN -1
                                 ELSE 0 END) AS BIGINT) AS s_stat
            FROM daily a JOIN daily b ON a.t < b.t
        ),
        ties AS (
            SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                        AS BIGINT) AS tie_term
            FROM (SELECT CAST(count(*) AS BIGINT) AS t
                  FROM daily GROUP BY x) WHERE t > 1
        ),
        m AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n,
                   s.s_stat, ties.tie_term
            FROM s, ties
        ),
        v AS (
            SELECT n, s_stat, tie_term,
                   n * (n - 1) * (2 * n + 5) - tie_term AS var18
            FROM m
        )
        SELECT n AS n_days, s_stat, tie_term, CAST(var18 AS BIGINT)
                   AS var18,
               CASE WHEN var18 > 0 THEN
                   CAST(floor({_MK_Z} * 1000000.0 + 0.5) AS BIGINT)
               END AS z_micro,
               CASE WHEN var18 <= 0 THEN 'degenerate'
                    WHEN {_MK_Z} > 1.959964 THEN 'increasing'
                    WHEN {_MK_Z} < -1.959964 THEN 'decreasing'
                    ELSE 'no_trend' END AS verdict
        FROM v
    """,
    phase="P4",
    tags=("timeseries", "trend", "statistics"),
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event-count series — the
    nonparametric 'is volume drifting' gate next to ts_theil_sen's
    slope estimate (theil_sen says HOW FAST; this says whether the
    monotone trend is significant at 95%, robust to outliers and any
    monotone transform).

    Exactness: S is an exact integer pair-sign sum over day grain;
    the tie correction and 18·Var(S) stay integer; only the final
    continuity-corrected Z crosses one spelled sqrt/division, and
    the 1.959964 fence compares the SAME spelled expression in both
    engines.

    Plan: ONE combinable day-grain aggregate (eagerly checkpointed —
    FOUR consumers: both pair legs, the tie tally, and the n count;
    without the cut each re-scans the corpus, no cross-branch CSE),
    then a ≤(days)² broadcast self-join and 1-row folds — at a year
    of daily grain that is 365² = 133k integer compares, constant
    regardless of corpus size."""
    daily = event_counts(spark, sf_dir, _DAY_US).localCheckpoint(eager=True)
    a = daily.alias("a")
    b = F.broadcast(daily.alias("b"))  # day-grain side; ckpt size opaque
    s = a.join(b, F.col("a.t") < F.col("b.t")).agg(
        F.sum(
            F.when(F.col("b.x") > F.col("a.x"), F.lit(1))
            .when(F.col("b.x") < F.col("a.x"), F.lit(-1))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (F.lit(2) * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    v = (
        F.broadcast(n)
        .crossJoin(s)
        .crossJoin(F.broadcast(ties))
        .select(
            "*",
            (
                F.col("n")
                * (F.col("n") - 1)
                * (F.lit(2) * F.col("n") + 5)
                - F.col("tie_term")
            ).alias("var18"),
        )
    )
    z = F.expr(_MK_Z)
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "tie_term",
        F.col("var18").cast("bigint").alias("var18"),
        F.when(
            F.col("var18") > 0,
            micro(z),
        ).alias("z_micro"),
        F.when(F.col("var18") <= 0, "degenerate")
        .when(z > 1.959964, "increasing")
        .when(z < -1.959964, "decreasing")
        .otherwise("no_trend")
        .alias("verdict"),
    )


_WM_CANDIDATES = (10, 30, 60, 120)  # candidate watermark delays (sec)


@query(
    "stream_watermark_audit",
    oracle=f"""
        WITH arr AS (
            SELECT event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ev_us,
                   epoch_us(CAST(ts AS TIMESTAMP))
                     + CAST(regexp_extract(props, '([0-9]+)', 1)
                            AS BIGINT) * 1000000 AS arr_us,
                   event_id
            FROM events
        ),
        wm AS (
            SELECT event_type, ev_us,
                   max(ev_us) OVER (
                       PARTITION BY event_type
                       ORDER BY arr_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS seen_max
            FROM arr
        ),
        wide AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   {", ".join(
                       f"CAST(count(*) FILTER (WHERE seen_max IS NOT NULL"
                       f" AND ev_us < seen_max - {w} * 1000000)"
                       f" AS BIGINT) AS d{w}"
                       for w in _WM_CANDIDATES
                   )}
            FROM wm GROUP BY event_type
        )
        SELECT event_type, w_sec, n_events, n_dropped,
               CAST(floor(CAST(n_dropped AS DOUBLE) / n_events
                    * 1000000.0 + 0.5) AS BIGINT) AS drop_micro
        FROM (
            {" UNION ALL ".join(
                f"SELECT event_type, CAST({w} AS BIGINT) AS w_sec,"
                f" n_events, d{w} AS n_dropped FROM wide"
                for w in _WM_CANDIDATES
            )}
        )
        ORDER BY event_type, w_sec
    """,
    phase="P4",
    tags=("streaming", "watermark", "planner"),
)
def stream_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay planner: replay each event-type stream in
    ARRIVAL order (arrival = event time + the per-event network delay
    carried in props) and count, for candidate withWatermark delays
    of 10/30/60/120 s, how many events a streaming job would DROP as
    too-late (event time older than the running max seen so far minus
    the delay — exactly Spark's watermark rule). This is the replay a
    team runs BEFORE picking the delay: the smallest candidate whose
    drop rate is acceptable bounds both state size and loss (the
    round-6 lesson — production-tight watermarks silently drop late
    events — turned into a measurement instead of a footgun).

    Exactness: event/arrival times are integer microseconds (the
    delay parses from props with the same regexp on both engines);
    the running max is over a deterministic (arrival, event_id)
    order; drop tests are integer compares; all four candidates fold
    as conditional counts in ONE pass.

    Plan: one window PARTITIONED BY EVENT TYPE (keyed streams — never
    a global single-partition order), one type-grain conditional
    aggregate, then a 4-way unpivot of the 1-row-per-type relation."""
    e = load(spark, sf_dir, "events")
    arr = e.select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("ev_us"),
        (
            F.unix_micros(F.col("ts"))
            + F.regexp_extract(F.col("props"), r"([0-9]+)", 1).cast(
                "bigint"
            )
            * F.lit(1000000)
        ).alias("arr_us"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = arr.select(
        "event_type",
        "ev_us",
        F.max("ev_us").over(w).alias("seen_max"),
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_events")]
    for wsec in _WM_CANDIDATES:
        aggs.append(
            F.count(
                F.when(
                    F.col("seen_max").isNotNull()
                    & (
                        F.col("ev_us")
                        < F.col("seen_max") - F.lit(wsec * 1000000)
                    ),
                    F.lit(1),
                )
            )
            .cast("bigint")
            .alias(f"d{wsec}")
        )
    wide = wm.groupBy("event_type").agg(*aggs)
    stack_args = []
    for wsec in _WM_CANDIDATES:
        stack_args += [F.lit(wsec).cast("bigint"), F.col(f"d{wsec}")]
    rows = wide.select(
        "event_type",
        "n_events",
        F.stack(F.lit(len(_WM_CANDIDATES)), *stack_args).alias(
            "w_sec", "n_dropped"
        ),
    )
    return rows.select(
        "event_type",
        "w_sec",
        "n_events",
        "n_dropped",
        micro(F.col("n_dropped").cast("double") / F.col("n_events"))
        .alias("drop_micro"),
    ).orderBy("event_type", "w_sec")


@query(
    "ts_downsample_m4",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
                   event_id
            FROM events
        ),
        rn AS (
            SELECT event_type, bucket, v,
                   row_number() OVER (PARTITION BY event_type, bucket
                       ORDER BY t_us, event_id) AS r_first,
                   row_number() OVER (PARTITION BY event_type, bucket
                       ORDER BY t_us DESC, event_id DESC) AS r_last
            FROM b
        )
        SELECT event_type, bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(v) AS BIGINT) AS v_min_micro,
               CAST(max(v) AS BIGINT) AS v_max_micro,
               CAST(max(CASE WHEN r_first = 1 THEN v END) AS BIGINT)
                   AS v_first_micro,
               CAST(max(CASE WHEN r_last = 1 THEN v END) AS BIGINT)
                   AS v_last_micro
        FROM rn
        GROUP BY event_type, bucket
        ORDER BY event_type, bucket
    """,
    phase="P4",
    tags=("timeseries", "downsample", "viz"),
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (min/max/first/last per bucket) — the canonical
    error-free time-series viz reduction: a width-w chart rendered
    from M4 buckets is PIXEL-identical to rendering every raw point,
    so dashboards over 100 TB of telemetry ship four values per
    (series, pixel-column) instead of the corpus. Hourly buckets per
    event type; first/last use deterministic (ts, event_id)
    tiebreaks. (The popular alternative, LTTB, is sequential — each
    pick depends on the previous — and cannot parallelize; M4 is
    embarrassingly combinable, which is why it's the one a
    distributed engine ships.)

    Exactness: values micro-quantize at row grain; min/max are exact
    integer aggregates; first/last resolve through row_number with
    full tiebreaks (never engine-native first()/last(), whose order
    is undefined).

    Plan: both row_numbers share ONE (event_type, bucket) sort
    exchange (same partition keys, opposite order — Catalyst reuses
    the partitioning), then a combinable bucket-grain roll-up."""
    e = load(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        micro(F.col("value")).alias("v"),
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_id",
    )
    w_first = Window.partitionBy("event_type", "bucket").orderBy(
        "t_us", "event_id"
    )
    w_last = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("t_us"), F.desc("event_id")
    )
    rn = b.select(
        "event_type",
        "bucket",
        "v",
        F.row_number().over(w_first).alias("r_first"),
        F.row_number().over(w_last).alias("r_last"),
    )
    return (
        rn.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("v").cast("bigint").alias("v_min_micro"),
            F.max("v").cast("bigint").alias("v_max_micro"),
            F.max(F.when(F.col("r_first") == 1, F.col("v")))
            .cast("bigint")
            .alias("v_first_micro"),
            F.max(F.when(F.col("r_last") == 1, F.col("v")))
            .cast("bigint")
            .alias("v_last_micro"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "events_dau_mau",
    oracle="""
        WITH day_u AS (
            SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) AS mth,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM events GROUP BY 1, 2
        ),
        mon_u AS (
            SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) AS mth,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS mau
            FROM events GROUP BY 1
        ),
        d AS (
            SELECT mth, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(dau) AS BIGINT) AS sum_dau
            FROM day_u GROUP BY mth
        )
        SELECT d.mth, d.n_days, d.sum_dau, m.mau,
               CAST(floor(CAST(d.sum_dau AS DOUBLE) / d.n_days
                    / m.mau * 1000000.0 + 0.5) AS BIGINT)
                   AS stickiness_micro
        FROM d JOIN mon_u m ON m.mth = d.mth
        ORDER BY d.mth
    """,
    phase="P3",
    tags=("analytics", "engagement", "streaming"),
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio every
    product dashboard leads with: average daily active users divided
    by monthly actives (1.0 = everyone active daily; ~0.2 = weekly-ish
    habits). Ships the ingredients (day count, DAU sum, MAU) beside
    the ratio so downstream can re-weight partial months.

    Exactness: both actives are exact COUNT(DISTINCT) at their own
    grain; the stickiness is one spelled division chain over exact
    integers.

    Plan: two distinct aggregates at different grains — (month, day)
    and (month) — each shuffling only (grain, user) pairs, joined at
    month grain. At 100 TB both distincts partial-aggregate map-side
    on (bucket, user); nothing re-reads the corpus for the ratio."""
    e = load(spark, sf_dir, "events")
    day_u = (
        e.select(
            F.date_trunc("month", F.col("ts")).alias("mth"),
            F.date_trunc("day", F.col("ts")).alias("day"),
            "user_id",
        )
        .groupBy("mth", "day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("dau"))
    )
    mon_u = (
        e.select(F.date_trunc("month", F.col("ts")).alias("mth"), "user_id")
        .groupBy("mth")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    d = day_u.groupBy("mth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("sum_dau"),
    )
    return (
        d.join(mon_u, "mth")
        .select(
            "mth",
            "n_days",
            "sum_dau",
            "mau",
            micro(
                F.col("sum_dau").cast("double")
                / F.col("n_days")
                / F.col("mau")
            ).alias("stickiness_micro"),
        )
        .orderBy("mth")
    )


@query(
    "seq_perplexity",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
            FROM events
        ),
        steps AS (
            SELECT user_id, prev, event_type AS cur
            FROM seq WHERE prev IS NOT NULL
        ),
        trans AS (
            SELECT prev, cur, CAST(count(*) AS BIGINT) AS c_ab
            FROM steps GROUP BY prev, cur
        ),
        from_tot AS (
            SELECT prev, CAST(sum(c_ab) AS BIGINT) AS c_a
            FROM trans GROUP BY prev
        ),
        scored AS (
            SELECT s.user_id,
                   CAST(floor(-ln(CAST(t.c_ab AS DOUBLE) / f.c_a)
                        * 1000000000000.0 + 0.5) AS BIGINT) AS nll_pico
            FROM steps s
            JOIN trans t ON t.prev = s.prev AND t.cur = s.cur
            JOIN from_tot f ON f.prev = s.prev
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_steps,
               CAST(sum(nll_pico) AS BIGINT) AS nll_pico,
               CAST(floor(exp(CAST(sum(nll_pico) AS DOUBLE)
                    / 1000000000000.0 / count(*)) * 1000000.0 + 0.5)
                    AS BIGINT) AS perplexity_micro
        FROM scored
        GROUP BY user_id
        ORDER BY user_id
    """,
    phase="P4",
    tags=("sequence", "language-model", "anomaly"),
)
def seq_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral perplexity under the corpus bigram
    transition model (seq_transition_matrix's model turned into a
    scorer): each user's event sequence accumulates −ln P(cur|prev)
    per step, and perplexity = exp(mean NLL). Users far BELOW corpus
    perplexity are suspiciously mechanical (bots replaying one
    transition); far above are broken instrumentation emitting
    transitions the population never makes — the behavioral sibling
    of text_bigram_lm's document scoring.

    Exactness: transition probabilities are exact integer-count
    ratios; each step's −ln quantizes to pico at STEP grain
    (order-free per-user integer sums — the seq_survival_km pico-ln
    pattern); the single exp is spelled once over the exact sum. No
    smoothing is needed: every scored step exists in the counts by
    construction, so P > 0 always.

    Plan: one user-keyed lag window derives steps; the 25-row
    transition model aggregates from it (eagerly checkpointed — the
    scoring pass joins it back broadcast, and without the cut the
    model rebuild would re-run the window); scoring is map-side; the
    final roll-up is user-grain combinable."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    )
    steps = seq.filter(F.col("prev").isNotNull())
    trans = (
        steps.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .localCheckpoint(eager=True)
    )
    from_tot = trans.groupBy("prev").agg(
        F.sum("c_ab").cast("bigint").alias("c_a")
    )
    nll = F.floor(
        -F.log(F.col("c_ab").cast("double") / F.col("c_a"))
        * F.lit(1000000000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        steps.join(F.broadcast(trans), ["prev", "cur"])
        .join(F.broadcast(from_tot), "prev")
        .select("user_id", nll.alias("nll_pico"))
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_steps"),
            F.sum("nll_pico").cast("bigint").alias("nll_pico"),
            micro(
                F.exp(
                    F.sum("nll_pico").cast("double")
                    / F.lit(1000000000000.0)
                    / F.count(F.lit(1))
                )
            ).alias("perplexity_micro"),
        )
        .orderBy("user_id")
    )


# --- circadian (circular) activity profile --------------------------------

# hour-of-day unit circle, minted ONCE in Python and embedded as double
# literals in BOTH engines (libm cos/sin ULPs differ across engines, as
# for the periodogram basis; repr() round-trips the exact double)
_CIRC_COS = [_math.cos(2.0 * _math.pi * h / 24.0) for h in range(24)]
_CIRC_SIN = [_math.sin(2.0 * _math.pi * h / 24.0) for h in range(24)]
_CIRC_COS_SQL = "[" + ", ".join(repr(c) for c in _CIRC_COS) + "]"
_CIRC_SIN_SQL = "[" + ", ".join(repr(s) for s in _CIRC_SIN) + "]"


@query(
    "ts_circadian_profile",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(extract(hour FROM ts) AS BIGINT) AS hr,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY event_type, hr
        ),
        terms AS (
            SELECT event_type, hr, cnt,
                   CAST(floor(cnt * ({_CIRC_COS_SQL}[hr + 1])
                        * 1000000.0 + 0.5) AS BIGINT) AS tc,
                   CAST(floor(cnt * ({_CIRC_SIN_SQL}[hr + 1])
                        * 1000000.0 + 0.5) AS BIGINT) AS ts_
            FROM hourly
        ),
        g AS (
            SELECT event_type,
                   CAST(sum(cnt) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS n_active_hours,
                   CAST(-(max(struct_pack(c := cnt, nh := -hr)).nh)
                        AS BIGINT) AS peak_hour,
                   CAST(max(struct_pack(c := cnt, nh := -hr)).c
                        AS BIGINT) AS peak_cnt,
                   CAST(sum(tc) AS BIGINT) AS sc_micro,
                   CAST(sum(ts_) AS BIGINT) AS ss_micro
            FROM terms GROUP BY event_type
        )
        SELECT event_type, n_events, n_active_hours, peak_hour, peak_cnt,
               sc_micro, ss_micro,
               CAST(floor(sqrt((CAST(sc_micro AS DOUBLE) / 1000000.0)
                               * (CAST(sc_micro AS DOUBLE) / 1000000.0)
                             + (CAST(ss_micro AS DOUBLE) / 1000000.0)
                               * (CAST(ss_micro AS DOUBLE) / 1000000.0))
                    / n_events * 1000000.0 + 0.5) AS BIGINT)
                   AS resultant_micro
        FROM g
        ORDER BY event_type
    """,
    phase="P3",
    tags=("timeseries", "events", "statistics"),
)
def ts_circadian_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circadian activity profile per event type: circular statistics
    of the hour-of-day distribution — the mean resultant length R
    (R→1: activity concentrated at one time of day; R→0: uniform
    around the clock) plus the peak hour — the seasonality-of-the-DAY
    companion to seasonal_index's month profile, and the feature an
    anomaly pipeline uses to tell batch jobs (spiky, R high) from
    organic traffic.

    Exactness: the 24 unit-circle cos/sin values are minted once in
    Python and embedded as repr() double literals in BOTH engines
    (libm ULPs differ cross-engine — the ts_periodogram lesson); each
    hour's term (count × literal) micro-quantizes at (type, hour)
    grain so the reduction is an order-free integer sum; peak hour is
    the house argmax-struct with ties to the earlier hour; the
    resultant needs only sqrt (IEEE correctly-rounded in both
    engines, unlike atan2 — which is WHY the mean direction ships as
    the (sc, ss) integer pair rather than an angle).

    Plan: one scan → (type, hour) combinable agg (≤ 24·k rows) →
    k-row reduce. Nothing data-scale shuffles twice."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    cos_arr = F.array(*[F.lit(c) for c in _CIRC_COS])
    sin_arr = F.array(*[F.lit(s) for s in _CIRC_SIN])
    terms = hourly.select(
        "event_type",
        "hr",
        "cnt",
        micro(
            F.col("cnt") * F.element_at(cos_arr, (F.col("hr") + 1).cast("int"))
        ).alias("tc"),
        micro(
            F.col("cnt") * F.element_at(sin_arr, (F.col("hr") + 1).cast("int"))
        ).alias("ts_"),
    )
    peak = F.max(
        F.struct(F.col("cnt").alias("c"), (-F.col("hr")).alias("nh"))
    )
    g = terms.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_hours"),
        (-peak.getField("nh")).cast("bigint").alias("peak_hour"),
        peak.getField("c").cast("bigint").alias("peak_cnt"),
        F.sum("tc").cast("bigint").alias("sc_micro"),
        F.sum("ts_").cast("bigint").alias("ss_micro"),
    )
    sc_d = F.col("sc_micro").cast("double") / F.lit(1000000.0)
    ss_d = F.col("ss_micro").cast("double") / F.lit(1000000.0)
    return g.select(
        "event_type",
        "n_events",
        "n_active_hours",
        "peak_hour",
        "peak_cnt",
        "sc_micro",
        "ss_micro",
        micro(F.sqrt(sc_d * sc_d + ss_d * ss_d) / F.col("n_events"))
        .alias("resultant_micro"),
    ).orderBy("event_type")


# --- spectral entropy of the periodogram -----------------------------------

_SPECENT_LN_K = repr(_math.log(float(len(_PGRAM_PERIODS))))


@query(
    "ts_spectral_entropy",
    oracle=f"""
        WITH hourly AS ({_event_counts_sql(_HOUR_US)}
        ),
        powered AS (
            SELECT power_unit AS pw FROM ({_pgram_powers_sql()})
        ),
        tot AS (SELECT CAST(sum(pw) AS BIGINT) AS total FROM powered),
        terms AS (
            SELECT CASE WHEN pw > 0 THEN
                       CAST(floor(-(CAST(pw AS DOUBLE) / total)
                            * ln(CAST(pw AS DOUBLE) / total)
                            * 1000000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END AS term,
                   CAST(floor(CAST(pw AS DOUBLE) / total * 1000000.0
                        + 0.5) AS BIGINT) AS share_micro
            FROM powered CROSS JOIN tot
        )
        SELECT CAST({len(_PGRAM_PERIODS)} AS BIGINT) AS n_periods,
               (SELECT total FROM tot) AS total_power_unit,
               CAST(sum(term) AS BIGINT) AS entropy_nano,
               CAST(floor(CAST(sum(term) AS DOUBLE) / 1000000000.0
                    / {_SPECENT_LN_K} * 1000000.0 + 0.5) AS BIGINT)
                   AS entropy_norm_micro,
               CAST(max(share_micro) AS BIGINT) AS peak_share_micro
        FROM terms
    """,
    phase="P4",
    tags=("timeseries", "spectral", "seasonality"),
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy of the candidate-period power distribution —
    ONE number summarizing ts_periodogram's seven: entropy near 0
    means the hourly series is dominated by a single cycle (schedule
    it), near ln(7) means the spectrum is flat (no exploitable
    seasonality; alerting should use level rules, not seasonal
    baselines). Ships the normalized entropy, total power, and the
    dominant period's power share.

    Exactness: powers are ts_periodogram's exact integer power_units
    (Python-minted trig literals, nano-quantized hour-grain terms);
    each −p·ln(p) term quantizes to nano at PERIOD grain (the
    seq_survival_km per-step-ln recipe) so the 7-term reduction is an
    order-free integer sum; the normalizing ln(7) is a Python-minted
    repr literal, never engine libm at a bare double.

    Plan: ts_periodogram's single-pass ``pgram_powers`` with a 7-row
    entropy reduce on top — the spectrum costs one scan regardless of
    corpus size."""
    powered = pgram_powers(event_counts(spark, sf_dir, _HOUR_US)).select(
        F.col("power_unit").alias("pw")
    )
    w_tot = Window.partitionBy()
    terms = powered.select(
        F.sum("pw").over(w_tot).cast("bigint").alias("total"),
        F.when(
            F.col("pw") > 0,
            F.floor(
                -(F.col("pw").cast("double") / F.sum("pw").over(w_tot))
                * F.log(
                    F.col("pw").cast("double") / F.sum("pw").over(w_tot)
                )
                * F.lit(1000000000.0)
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("term"),
        micro(F.col("pw").cast("double") / F.sum("pw").over(w_tot))
        .alias("share_micro"),
    )
    return terms.agg(
        F.lit(len(_PGRAM_PERIODS)).cast("bigint").alias("n_periods"),
        F.min("total").cast("bigint").alias("total_power_unit"),
        F.sum("term").cast("bigint").alias("entropy_nano"),
        micro(
            F.sum("term").cast("double")
            / F.lit(1000000000.0)
            / F.lit(float(_SPECENT_LN_K))
        ).alias("entropy_norm_micro"),
        F.max("share_micro").cast("bigint").alias("peak_share_micro"),
    )


# --- dynamic time warping between event-type series ------------------------

_DTW_DAYS = 32  # fixed window: first 32 days from the corpus min day


def _dtw_oracle() -> str:
    """Unrolled anti-diagonal DTW DP: cells on diagonal d = i + j
    derive from diagonals d-1 (left/up) and d-2 (diag step), so the
    2·K−1 diagonals unroll into MATERIALIZED CTEs (the graph_kcore
    recipe — DuckDB re-expands non-materialized references and a
    63-deep chain would exhaust handles). All-integer costs: exact."""
    k = _DTW_DAYS
    ctes = [
        f"""days AS MATERIALIZED (
            SELECT event_type,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS day
            FROM events
        ),
        rel AS MATERIALIZED (
            SELECT event_type,
                   day - (SELECT min(day) FROM days) AS rd
            FROM days
            WHERE day - (SELECT min(day) FROM days) < {k}
        ),
        types AS (SELECT DISTINCT event_type FROM days),
        grid0 AS (
            SELECT t.event_type, u.rd
            FROM types t
            CROSS JOIN (SELECT unnest(range({k})) AS rd) u
        ),
        series AS MATERIALIZED (
            SELECT g.event_type, g.rd,
                   CAST(coalesce(c.cnt, 0) AS BIGINT) AS x
            FROM grid0 g
            LEFT JOIN (SELECT event_type, rd,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM rel GROUP BY event_type, rd) c
              ON c.event_type = g.event_type AND c.rd = g.rd
        ),
        grid AS MATERIALIZED (
            SELECT a.event_type AS ta, b.event_type AS tb,
                   a.rd AS i, b.rd AS j, a.rd + b.rd AS diag,
                   abs(a.x - b.x) AS ad
            FROM series a JOIN series b
              ON a.event_type < b.event_type
        ),
        dp0 AS MATERIALIZED (
            SELECT ta, tb, i, j, ad AS cost
            FROM grid WHERE diag = 0
        ),
        dp1 AS MATERIALIZED (
            SELECT g.ta, g.tb, g.i, g.j, g.ad + min(p.cost) AS cost
            FROM grid g JOIN dp0 p
              ON p.ta = g.ta AND p.tb = g.tb
             AND ((p.i = g.i - 1 AND p.j = g.j)
                  OR (p.i = g.i AND p.j = g.j - 1))
            WHERE g.diag = 1
            GROUP BY g.ta, g.tb, g.i, g.j, g.ad
        )"""
    ]
    for d in range(2, 2 * k - 1):
        ctes.append(f"""dp{d} AS MATERIALIZED (
            SELECT g.ta, g.tb, g.i, g.j, g.ad + min(p.cost) AS cost
            FROM grid g JOIN (
                SELECT ta, tb, i, j, cost FROM dp{d - 1}
                UNION ALL
                SELECT ta, tb, i, j, cost FROM dp{d - 2}
            ) p ON p.ta = g.ta AND p.tb = g.tb
               AND ((p.i = g.i - 1 AND p.j = g.j)
                    OR (p.i = g.i AND p.j = g.j - 1)
                    OR (p.i = g.i - 1 AND p.j = g.j - 1))
            WHERE g.diag = {d}
            GROUP BY g.ta, g.tb, g.i, g.j, g.ad
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT d.ta AS type_a, d.tb AS type_b,
               CAST({k} AS BIGINT) AS n_days,
               CAST(d.cost AS BIGINT) AS dtw_dist,
               CAST(l.l1 AS BIGINT) AS l1_dist
        FROM dp{2 * k - 2} d
        JOIN (SELECT ta, tb, sum(ad) AS l1 FROM grid
              WHERE i = j GROUP BY ta, tb) l
          ON l.ta = d.ta AND l.tb = d.tb
        WHERE d.i = {k - 1} AND d.j = {k - 1}
        ORDER BY type_a, type_b
    """
    )


@query(
    "ts_dtw_distance",
    oracle=_dtw_oracle(),
    phase="P4",
    tags=("timeseries", "similarity", "kernel"),
)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between every pair of event-type
    daily-count series (first 32 days, zero-filled) — the alignment-
    tolerant series similarity Spark has no operator for: L1 punishes
    a one-day phase shift as hard as a real shape change, DTW aligns
    first (classic for matching usage curves, release rollouts,
    anomaly propagation across services). Ships DTW next to the rigid
    L1 so the gap itself is the phase-shift signal.

    Semantics: classic DP over the |x_i − y_j| cost grid,
    dp[i][j] = cost + min(left, up, diag) — all integers, so the
    kernel and the oracle agree bit-for-bit. The oracle unrolls the
    DP by ANTI-DIAGONALS (63 MATERIALIZED CTEs: diagonal d needs only
    d−1 and d−2), the same unrolled-iteration posture as graph_kcore.

    Plan: per-pair Arrow kernel (applyInPandas) over the k(k−1)/2
    type pairs — each group carries two 32-long integer series, the
    DP is a numpy int64 loop inside one kernel call, and pairs
    parallelize across executors (at 100 TB: thousands of series
    pairs = thousands of independent tasks; the day-grain series
    build is the only data-scale stage, one combinable agg)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    e = load(spark, sf_dir, "events")
    days = e.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    )
    w_min = Window.partitionBy()
    rel = days.select(
        "event_type", (F.col("day") - F.min("day").over(w_min)).alias("rd")
    ).filter(F.col("rd") < _DTW_DAYS)
    counts = rel.groupBy("event_type", "rd").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    types = days.select("event_type").distinct()
    grid0 = types.crossJoin(
        F.broadcast(
            types.sparkSession.range(_DTW_DAYS).select(
                F.col("id").cast("bigint").alias("rd")
            )
        )
    )
    series = (
        grid0.join(counts, ["event_type", "rd"], "left")
        .select(
            "event_type",
            "rd",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    a = series.select(
        F.col("event_type").alias("type_a"),
        F.col("rd").alias("rd"),
        F.col("x").alias("xa"),
    )
    b = series.select(
        F.col("event_type").alias("type_b"),
        F.col("rd").alias("rd"),
        F.col("x").alias("xb"),
    )
    paired = a.join(b, "rd").filter(F.col("type_a") < F.col("type_b"))
    out_schema = StructType(
        [
            StructField("type_a", StringType()),
            StructField("type_b", StringType()),
            StructField("n_days", LongType()),
            StructField("dtw_dist", LongType()),
            StructField("l1_dist", LongType()),
        ]
    )

    def dtw_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rd")
        x = pdf["xa"].to_numpy(dtype=np.int64)
        y = pdf["xb"].to_numpy(dtype=np.int64)
        k = len(x)
        ad = np.abs(x[:, None] - y[None, :])
        BIG = np.int64(1) << 60
        dp = np.full((k, k), BIG, dtype=np.int64)
        dp[0, 0] = ad[0, 0]
        for i in range(k):
            for j in range(k):
                if i == 0 and j == 0:
                    continue
                best = BIG
                if i > 0:
                    best = min(best, dp[i - 1, j])
                if j > 0:
                    best = min(best, dp[i, j - 1])
                if i > 0 and j > 0:
                    best = min(best, dp[i - 1, j - 1])
                dp[i, j] = ad[i, j] + best
        return pd.DataFrame(
            {
                "type_a": [pdf["type_a"].iloc[0]],
                "type_b": [pdf["type_b"].iloc[0]],
                "n_days": [k],
                "dtw_dist": [int(dp[k - 1, k - 1])],
                "l1_dist": [int(np.abs(x - y).sum())],
            }
        )

    return (
        paired.groupBy("type_a", "type_b")
        .applyInPandas(dtw_fn, out_schema)
        .orderBy("type_a", "type_b")
    )


# ln(6) as a Python-minted repr literal (house rule: no engine libm at
# a bare double for normalizing constants).
_PERMENT_LN6 = repr(_math.log(6.0))


@query(
    "ts_permutation_entropy",
    oracle=f"""
        WITH hourly AS ({_event_counts_sql(_HOUR_US)}
        ),
        trip AS (
            SELECT x AS a,
                   lead(x, 1) OVER (ORDER BY t) AS b,
                   lead(x, 2) OVER (ORDER BY t) AS c
            FROM hourly
        ),
        pats AS (
            SELECT CAST(4 * CASE WHEN b < a THEN 1 ELSE 0 END
                      + 2 * CASE WHEN c < a THEN 1 ELSE 0 END
                      +     CASE WHEN c < b THEN 1 ELSE 0 END AS BIGINT)
                       AS pattern_id
            FROM trip WHERE b IS NOT NULL AND c IS NOT NULL
        ),
        cnts AS (
            SELECT pattern_id, CAST(count(*) AS BIGINT) AS n_windows
            FROM pats GROUP BY pattern_id
        ),
        tot AS (SELECT CAST(sum(n_windows) AS BIGINT) AS total FROM cnts),
        terms AS (
            SELECT pattern_id, n_windows,
                   CAST(floor(CAST(n_windows AS DOUBLE) / total
                        * 1000000.0 + 0.5) AS BIGINT) AS share_micro,
                   CAST(floor(-(CAST(n_windows AS DOUBLE) / total)
                        * ln(CAST(n_windows AS DOUBLE) / total)
                        * 1000000000.0 + 0.5) AS BIGINT) AS term_nano
            FROM cnts CROSS JOIN tot
        )
        SELECT pattern_id, n_windows, share_micro, term_nano,
               CAST(sum(term_nano) OVER () AS BIGINT) AS entropy_nano,
               CAST(floor(CAST(sum(term_nano) OVER () AS DOUBLE)
                    / 1000000000.0 / {_PERMENT_LN6} * 1000000.0 + 0.5)
                    AS BIGINT) AS entropy_norm_micro
        FROM terms
        ORDER BY pattern_id
    """,
    phase="P4",
    tags=("timeseries", "entropy", "complexity"),
)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (order 3) of the hourly event-count series —
    the model-free complexity score: near 0 means the series' local
    up/down shapes are few and repetitive (predictable, compressible),
    near ln 6 means all six ordinal patterns of three consecutive
    hours occur equally (noise-like). Unlike ts_spectral_entropy it is
    amplitude-blind — a regime where LEVELS drift but SHAPES repeat
    still scores low. Ships the per-pattern census beside the entropy.

    Ordinal encoding: each consecutive hour triple (a,b,c) maps to
    4·[b<a] + 2·[c<a] + [c<b] — strict comparisons, so ties resolve to
    time order (the stable convention); exactly six of the eight codes
    are logically reachable. Each −p·ln p term nano-quantizes at
    PATTERN grain (the ts_spectral_entropy recipe) so the reduction is
    an order-free integer sum, and the normalizing ln 6 is a
    Python-minted repr literal.

    Plan: one combinable hour-grain aggregate (the series is ~10³ rows
    at any corpus size — hours, not events), one lead window over that
    reduced grain, a 6-row pattern census. The corpus is scanned
    once; everything after the first aggregate is fixed-size."""
    hourly = event_counts(spark, sf_dir, _HOUR_US)
    w_t = Window.orderBy("t")
    trip = hourly.select(
        F.col("x").alias("a"),
        F.lead("x", 1).over(w_t).alias("b"),
        F.lead("x", 2).over(w_t).alias("c"),
    )
    pats = trip.filter(
        F.col("b").isNotNull() & F.col("c").isNotNull()
    ).select(
        (
            4 * (F.col("b") < F.col("a")).cast("int")
            + 2 * (F.col("c") < F.col("a")).cast("int")
            + (F.col("c") < F.col("b")).cast("int")
        )
        .cast("bigint")
        .alias("pattern_id")
    )
    cnts = pats.groupBy("pattern_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows")
    )
    w_all = Window.partitionBy()
    total = F.sum("n_windows").over(w_all)
    p = F.col("n_windows").cast("double") / total
    terms = cnts.select(
        "pattern_id",
        "n_windows",
        micro(p).alias("share_micro"),
        F.floor(-p * F.log(p) * F.lit(1000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("term_nano"),
    )
    return terms.select(
        "pattern_id",
        "n_windows",
        "share_micro",
        "term_nano",
        F.sum("term_nano").over(w_all).cast("bigint").alias("entropy_nano"),
        micro(
            F.sum("term_nano").over(w_all).cast("double")
            / F.lit(1000000000.0)
            / F.lit(float(_PERMENT_LN6))
        ).alias("entropy_norm_micro"),
    ).orderBy("pattern_id")


@query(
    "seq_bigram_novelty",
    oracle="""
        WITH seq AS (
            SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS prev_type
            FROM events
        ),
        bg AS (
            SELECT day, prev_type || '>' || event_type AS bigram
            FROM seq WHERE prev_type IS NOT NULL
        ),
        firsts AS (
            SELECT bigram, min(day) AS first_day FROM bg GROUP BY bigram
        )
        SELECT b.day,
               CAST(count(*) AS BIGINT) AS n_instances,
               CAST(sum(CASE WHEN b.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(count(DISTINCT CASE WHEN b.day = f.first_day
                                        THEN b.bigram END) AS BIGINT)
                   AS n_new_bigrams,
               CAST(floor(CAST(sum(CASE WHEN b.day = f.first_day
                                        THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*) * 1000000.0 + 0.5) AS BIGINT)
                   AS novelty_micro
        FROM bg b JOIN firsts f USING (bigram)
        GROUP BY b.day
        ORDER BY b.day
    """,
    phase="P4",
    tags=("sequence", "novelty", "events"),
)
def seq_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-novelty discovery curve: per day, the fraction of
    event-type BIGRAM instances (prev→next within a user's stream)
    whose bigram had never occurred on any earlier day. Early days run
    hot (everything is new); the decay rate tells you when the
    product's observed behavior space saturates — the same curve a
    training-data pipeline draws over n-grams to decide when more
    crawl stops adding information (text_novelty's corpus-level
    question, asked of the event stream).

    An instance is novel iff its day equals the bigram's global first
    day — so all instances on the first day count novel, later days
    don't, and the per-day rate is exact integer division, micro-
    quantized once. Lag ordering ties break on event_id (house
    determinism rule).

    Plan: one lag window keyed by user (the sessionization shuffle),
    one bigram-grain first-day aggregate joined back at instance
    grain, one day-grain reduce. Bigram cardinality is tiny (event
    types squared), so the firsts relation broadcasts at any scale;
    the only data-sized shuffles are the per-user window and the
    day reduce — both linear, no pair blowup anywhere."""
    e = load(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        F.lag("event_type").over(w_u).alias("prev_type"),
    )
    bg = seq.filter(F.col("prev_type").isNotNull()).select(
        "day",
        F.concat_ws(">", "prev_type", "event_type").alias("bigram"),
    )
    firsts = bg.groupBy("bigram").agg(F.min("day").alias("first_day"))
    novel = F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
    return (
        bg.join(F.broadcast(firsts), "bigram")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_instances"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.countDistinct(
                F.when(F.col("day") == F.col("first_day"), F.col("bigram"))
            )
            .cast("bigint")
            .alias("n_new_bigrams"),
            micro(F.sum(novel).cast("double") / F.count(F.lit(1)))
            .alias("novelty_micro"),
        )
        .orderBy("day")
    )


_VR_LAGS = (2, 4, 8)


def _vr_oracle() -> str:
    lag_sums = []
    for q in (1,) + _VR_LAGS:
        lag_sums.append(
            f"CAST(count(d{q}) AS BIGINT) AS n{q}, "
            f"CAST(sum(d{q}) AS BIGINT) AS s{q}, "
            f"CAST(sum(d{q} * d{q}) AS BIGINT) AS ss{q}"
        )
    var = (
        "((CAST(ss{q} AS DOUBLE) - CAST(s{q} AS DOUBLE) * s{q} / n{q})"
        " / (n{q} - 1))"
    )
    branches = " UNION ALL ".join(
        f"SELECT {q} AS q, n{q} AS n_diffs, "
        f"{var.format(q=q)} AS s2q, {var.format(q=1)} AS s21, n1 FROM wide"
        for q in _VR_LAGS
    )
    return f"""
        WITH hourly AS ({_event_counts_sql(_HOUR_US)}
        ),
        diffs AS (
            SELECT {", ".join(
                f"lead(x, {q}) OVER (ORDER BY t) - x AS d{q}"
                for q in (1,) + _VR_LAGS)}
            FROM hourly
        ),
        wide AS (
            SELECT {", ".join(lag_sums)} FROM diffs
        ),
        cfg AS ({branches})
        SELECT CAST(q AS BIGINT) AS q, n_diffs,
               CAST(floor(s2q / (q * s21) * 1000000.0 + 0.5) AS BIGINT)
                   AS vr_micro,
               CAST(floor((s2q / (q * s21) - 1.0)
                    / sqrt(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q * n1))
                    * 1000000.0 + 0.5) AS BIGINT) AS z_micro
        FROM cfg
        ORDER BY q
    """


@query(
    "ts_variance_ratio",
    oracle=_vr_oracle(),
    phase="P4",
    tags=("timeseries", "stationarity"),
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on the hourly event-count
    series at horizons q ∈ {2,4,8}: VR(q) = Var(q-step change) /
    (q · Var(1-step change)). A random walk holds VR ≈ 1; VR < 1 means
    mean-reversion (hourly shocks cancel — capacity can ride the
    average), VR > 1 means trending/momentum (shocks compound — the
    alerting baseline must adapt). The homoskedastic z-statistic ships
    beside each ratio, so "VR = 1.3" comes with "is that just noise".

    Exactness: hourly counts and their lagged differences are exact
    BIGINTs, so each lag's (n, Σd, Σd²) moments are order-free integer
    sums; the variance/ratio/z chain is ONE spelled IEEE expression
    over those integers (the ts_hurst_exponent discipline) with the
    final values micro-quantized once.

    Plan: one combinable hour-grain aggregate (~10³ rows at any
    corpus size), ONE lead window at that reduced grain computing all
    four lags, one 1-row wide moments aggregate, a 3-row stack — the
    corpus is scanned once and everything downstream is fixed-size."""
    hourly = event_counts(spark, sf_dir, _HOUR_US)
    w_t = Window.orderBy("t")
    lags = (1,) + _VR_LAGS
    diffs = hourly.select(
        *[
            (F.lead("x", q).over(w_t) - F.col("x")).alias(f"d{q}")
            for q in lags
        ]
    )
    aggs = []
    for q in lags:
        aggs += [
            F.count(f"d{q}").cast("bigint").alias(f"n{q}"),
            F.sum(f"d{q}").cast("bigint").alias(f"s{q}"),
            F.sum(F.col(f"d{q}") * F.col(f"d{q}"))
            .cast("bigint")
            .alias(f"ss{q}"),
        ]
    wide = diffs.agg(*aggs)

    def var_of(q: int):
        n = F.col(f"n{q}")
        s = F.col(f"s{q}")
        ss = F.col(f"ss{q}")
        return (ss.cast("double") - s.cast("double") * s / n) / (n - 1)

    stack_args = []
    for q in _VR_LAGS:
        stack_args += [F.lit(q).cast("bigint"), F.col(f"n{q}")]
    stacked = wide.select(
        "n1",
        "s1",
        "ss1",
        *[F.col(c) for q in _VR_LAGS for c in (f"s{q}", f"ss{q}")],
        F.stack(F.lit(len(_VR_LAGS)), *stack_args).alias("q", "n_diffs"),
    )
    s2q = (
        F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(q) for q in _VR_LAGS]),
                F.array(
                    *[
                        (
                            F.col(f"ss{q}").cast("double")
                            - F.col(f"s{q}").cast("double")
                            * F.col(f"s{q}")
                            / F.col("n_diffs")
                        )
                        for q in _VR_LAGS
                    ]
                ),
            ),
            F.col("q").cast("int"),
        )
        / (F.col("n_diffs") - 1)
    )
    s21 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    vr = s2q / (F.col("q") * s21)
    z_den = F.sqrt(
        F.lit(2.0)
        * (2 * F.col("q") - 1)
        * (F.col("q") - 1)
        / (F.lit(3.0) * F.col("q") * F.col("n1"))
    )
    return stacked.select(
        "q",
        "n_diffs",
        micro(vr).alias("vr_micro"),
        micro((vr - F.lit(1.0)) / z_den).alias("z_micro"),
    ).orderBy("q")


@query(
    "ts_forecast_baselines",
    oracle="""
        WITH daily AS (
            SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        seq AS (
            SELECT y,
                   lag(y, 1) OVER (ORDER BY day) AS y1,
                   lag(y, 7) OVER (ORDER BY day) AS y7,
                   first_value(y) OVER (ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS yf,
                   row_number() OVER (ORDER BY day) AS rn
            FROM daily
        ),
        errs AS (
            SELECT
                CASE WHEN y1 IS NOT NULL THEN
                    CAST(abs(y - y1) AS BIGINT) * 1000000 END AS ae_naive,
                CASE WHEN y1 IS NOT NULL THEN
                    CAST(y - y1 AS BIGINT) * (y - y1) END AS se_naive,
                CASE WHEN y7 IS NOT NULL THEN
                    CAST(abs(y - y7) AS BIGINT) * 1000000 END AS ae_snaive,
                CASE WHEN y7 IS NOT NULL THEN
                    CAST(y - y7 AS BIGINT) * (y - y7) END AS se_snaive,
                CASE WHEN rn >= 3 THEN
                    CAST(floor(abs(CAST(y AS DOUBLE) - (y1
                         + (CAST(y1 AS DOUBLE) - yf) / (rn - 2)))
                         * 1000000.0 + 0.5) AS BIGINT) END AS ae_drift,
                CASE WHEN rn >= 3 THEN
                    CAST(floor((CAST(y AS DOUBLE) - (y1
                         + (CAST(y1 AS DOUBLE) - yf) / (rn - 2)))
                       * (CAST(y AS DOUBLE) - (y1
                         + (CAST(y1 AS DOUBLE) - yf) / (rn - 2)))
                         * 1000000.0 + 0.5) AS BIGINT) END AS se_drift
            FROM seq
        ),
        wide AS (
            SELECT
                CAST(count(ae_naive) AS BIGINT) AS n_naive,
                CAST(sum(ae_naive) AS BIGINT) AS sae_naive,
                CAST(sum(se_naive) AS BIGINT) * 1000000 AS sse_naive,
                CAST(count(ae_snaive) AS BIGINT) AS n_snaive,
                CAST(sum(ae_snaive) AS BIGINT) AS sae_snaive,
                CAST(sum(se_snaive) AS BIGINT) * 1000000 AS sse_snaive,
                CAST(count(ae_drift) AS BIGINT) AS n_drift,
                CAST(sum(ae_drift) AS BIGINT) AS sae_drift,
                CAST(sum(se_drift) AS BIGINT) AS sse_drift
            FROM errs
        ),
        cfg AS (
            SELECT 'naive' AS method, n_naive AS n_evals,
                   sae_naive AS sae, sse_naive AS sse,
                   n_naive AS nn, sae_naive AS saen FROM wide
            UNION ALL
            SELECT 'snaive7', n_snaive, sae_snaive, sse_snaive,
                   n_naive, sae_naive FROM wide
            UNION ALL
            SELECT 'drift', n_drift, sae_drift, sse_drift,
                   n_naive, sae_naive FROM wide
        )
        SELECT method, n_evals,
               CAST(floor(CAST(sae AS DOUBLE) / n_evals + 0.5) AS BIGINT)
                   AS mae_micro,
               CAST(floor(sqrt(CAST(sse AS DOUBLE) / 1000000.0 / n_evals)
                    * 1000000.0 + 0.5) AS BIGINT) AS rmse_micro,
               CAST(floor((CAST(sae AS DOUBLE) / n_evals)
                    / (CAST(saen AS DOUBLE) / nn) * 1000000.0 + 0.5)
                    AS BIGINT) AS mase_micro
        FROM cfg
        ORDER BY method
    """,
    phase="P4",
    tags=("timeseries", "forecasting"),
)
def ts_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three forecast sanity baselines every model must beat,
    scored one-step-ahead in-sample over the daily event-count
    series: naive (yesterday), seasonal-naive (same weekday last
    week), and drift (yesterday + average historical slope). Ships
    MAE, RMSE, and MASE (MAE relative to naive — the scale-free
    skill score); a "real" forecaster whose MASE ≥ these is burning
    compute to lose to persistence.

    Exactness: naive/seasonal errors are exact integer differences
    (micro-scaled by a constant); drift predictions cross a division
    so |e| and e² micro-quantize at DAY grain before the order-free
    integer sums; the MAE/RMSE/MASE chain is spelled once at method
    grain over exact integers.

    Plan: one combinable day-grain aggregate (the series is ~10²–10³
    rows at any corpus size), ONE window pass computing both lags,
    the running first value and the row index together, one 1-row
    wide aggregate, a 3-row method stack."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.select(F.col("ts").cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    w = Window.orderBy("day")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 7).over(w).alias("y7"),
        F.first("y").over(w_run).alias("yf"),
        F.row_number().over(w).alias("rn"),
    )
    drift_err = F.col("y").cast("double") - (
        F.col("y1")
        + (F.col("y1").cast("double") - F.col("yf")) / (F.col("rn") - 2)
    )
    errs = seq.select(
        F.when(
            F.col("y1").isNotNull(),
            F.abs(F.col("y") - F.col("y1")).cast("bigint") * 1000000,
        ).alias("ae_naive"),
        F.when(
            F.col("y1").isNotNull(),
            (F.col("y") - F.col("y1")).cast("bigint")
            * (F.col("y") - F.col("y1")),
        ).alias("se_naive"),
        F.when(
            F.col("y7").isNotNull(),
            F.abs(F.col("y") - F.col("y7")).cast("bigint") * 1000000,
        ).alias("ae_snaive"),
        F.when(
            F.col("y7").isNotNull(),
            (F.col("y") - F.col("y7")).cast("bigint")
            * (F.col("y") - F.col("y7")),
        ).alias("se_snaive"),
        F.when(
            F.col("rn") >= 3,
            micro(F.abs(drift_err)),
        ).alias("ae_drift"),
        F.when(
            F.col("rn") >= 3,
            micro(drift_err * drift_err),
        ).alias("se_drift"),
    )
    wide = errs.agg(
        F.count("ae_naive").cast("bigint").alias("n_naive"),
        F.sum("ae_naive").cast("bigint").alias("sae_naive"),
        (F.sum("se_naive").cast("bigint") * 1000000).alias("sse_naive"),
        F.count("ae_snaive").cast("bigint").alias("n_snaive"),
        F.sum("ae_snaive").cast("bigint").alias("sae_snaive"),
        (F.sum("se_snaive").cast("bigint") * 1000000).alias("sse_snaive"),
        F.count("ae_drift").cast("bigint").alias("n_drift"),
        F.sum("ae_drift").cast("bigint").alias("sae_drift"),
        F.sum("se_drift").cast("bigint").alias("sse_drift"),
    )
    stack_args = []
    for m in ("naive", "snaive7", "drift"):
        key = {"naive": "naive", "snaive7": "snaive", "drift": "drift"}[m]
        stack_args += [
            F.lit(m),
            F.col(f"n_{key}"),
            F.col(f"sae_{key}"),
            F.col(f"sse_{key}"),
        ]
    cfg = wide.select(
        F.col("n_naive").alias("nn"),
        F.col("sae_naive").alias("saen"),
        F.stack(F.lit(3), *stack_args).alias(
            "method", "n_evals", "sae", "sse"
        ),
    )
    mae = F.col("sae").cast("double") / F.col("n_evals")
    return cfg.select(
        "method",
        "n_evals",
        F.floor(mae + F.lit(0.5)).cast("bigint").alias("mae_micro"),
        micro(
            F.sqrt(
                F.col("sse").cast("double")
                / F.lit(1000000.0)
                / F.col("n_evals")
            )
        ).alias("rmse_micro"),
        micro(mae / (F.col("saen").cast("double") / F.col("nn")))
        .alias("mase_micro"),
    ).orderBy("method")


@query(
    "events_growth_accounting",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id,
                   datediff('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7
                       AS wk
            FROM events
        ),
        firsts AS (
            SELECT user_id, min(wk) AS first_wk FROM act GROUP BY user_id
        ),
        cur AS (
            SELECT a.user_id, a.wk, f.first_wk,
                   CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
                       AS was_prev
            FROM act a
            JOIN firsts f USING (user_id)
            LEFT JOIN act p
              ON p.user_id = a.user_id AND p.wk = a.wk - 1
        ),
        gains AS (
            SELECT wk,
                   CAST(count(*) AS BIGINT) AS n_active,
                   CAST(sum(CASE WHEN first_wk = wk THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new,
                   CAST(sum(CASE WHEN was_prev = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_retained,
                   CAST(sum(CASE WHEN first_wk < wk AND was_prev = 0
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_resurrected
            FROM cur GROUP BY wk
        ),
        churn AS (
            SELECT a.wk + 1 AS wk,
                   CAST(count(*) AS BIGINT) AS n_churned
            FROM act a
            LEFT JOIN act nx
              ON nx.user_id = a.user_id AND nx.wk = a.wk + 1
            WHERE nx.user_id IS NULL
              AND a.wk < (SELECT max(wk) FROM act)
            GROUP BY a.wk + 1
        )
        SELECT g.wk,
               g.n_active, g.n_new, g.n_retained, g.n_resurrected,
               CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned,
               CASE WHEN coalesce(c.n_churned, 0) > 0 THEN
                   CAST(floor(CAST(g.n_new + g.n_resurrected AS DOUBLE)
                        / c.n_churned * 1000000.0 + 0.5) AS BIGINT)
               END AS quick_ratio_micro
        FROM gains g LEFT JOIN churn c USING (wk)
        ORDER BY g.wk
    """,
    phase="P4",
    tags=("events", "retention", "growth"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the new/retained/resurrected/churned
    decomposition (and Social Capital's quick ratio
    (new+resurrected)/churned) that turns a DAU curve into WHY it
    moved: growth from acquisition is bought, growth from
    resurrection is won back, and a quick ratio < 1 means the product
    leaks faster than it fills. Weeks are epoch-day // 7 (calendar
    convention pinned identically in both engines); a user churns
    INTO the first week they go missing.

    Identity (pytest-pinned): n_active(w) = n_new + n_retained +
    n_resurrected, and n_active(w) − n_active(w−1) = n_new +
    n_resurrected − n_churned.

    Exactness: pure integer counts; the quick ratio is the only
    division, spelled once, NULL when nothing churned.

    Plan: ONE distinct to (user, week) grain is the only corpus-sized
    shuffle; first-week, previous-week and next-week relations are
    all self-joins AT THAT REDUCED GRAIN on (user, week) keys —
    linear, co-partitioned, no window over the full corpus; the final
    aggregate is week-grain."""
    e = load(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    act = (
        e.select("user_id", F.floor(day / 7).cast("bigint").alias("wk"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    firsts = act.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    p = act.select(
        F.col("user_id").alias("p_uid"), (F.col("wk") + 1).alias("p_wk")
    )
    cur = (
        act.join(firsts, "user_id")
        .join(
            p,
            (F.col("user_id") == F.col("p_uid"))
            & (F.col("wk") == F.col("p_wk")),
            "left",
        )
        .select(
            "user_id",
            "wk",
            "first_wk",
            F.when(F.col("p_uid").isNotNull(), 1).otherwise(0).alias(
                "was_prev"
            ),
        )
    )
    gains = cur.groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("first_wk") == F.col("wk"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum("was_prev").cast("bigint").alias("n_retained"),
        F.sum(
            F.when(
                (F.col("first_wk") < F.col("wk"))
                & (F.col("was_prev") == 0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    mx = F.broadcast(act.agg(F.max("wk").alias("max_wk")))
    nx = act.select(
        F.col("user_id").alias("n_uid"), (F.col("wk") - 1).alias("n_wk")
    )
    churn = (
        act.join(
            nx,
            (F.col("user_id") == F.col("n_uid"))
            & (F.col("wk") == F.col("n_wk")),
            "left",
        )
        .crossJoin(mx)
        .filter(F.col("n_uid").isNull() & (F.col("wk") < F.col("max_wk")))
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return (
        gains.join(churn, "wk", "left")
        .select(
            "wk",
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0))
            .cast("bigint")
            .alias("n_churned"),
            F.when(
                F.coalesce(F.col("n_churned"), F.lit(0)) > 0,
                micro(
                    (F.col("n_new") + F.col("n_resurrected")).cast("double")
                    / F.col("n_churned")
                ),
            ).alias("quick_ratio_micro"),
        )
        .orderBy("wk")
    )


@query(
    "seq_activity_islands",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id,
                   datediff('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
            FROM events
        ),
        grp AS (
            SELECT user_id, day,
                   day - row_number() OVER (
                       PARTITION BY user_id ORDER BY day) AS island_key
            FROM ud
        )
        SELECT user_id,
               CAST(min(day) AS BIGINT) AS start_day,
               CAST(max(day) AS BIGINT) AS end_day,
               CAST(count(*) AS BIGINT) AS n_days
        FROM grp
        GROUP BY user_id, island_key
        ORDER BY user_id, start_day
    """,
    phase="P4",
    tags=("sequence", "events", "sessionization"),
)
def seq_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over daily user activity: maximal runs of
    CONSECUTIVE active days per user (start, end, length) — the
    streak-shaped retention signal stream_session's timestamp-gap
    windows can't express (a user active at 23:59 and 00:01 is one
    session but two calendar days; habit metrics count days). The
    classic row_number-difference idiom: within a user, day − rank is
    constant exactly along a consecutive run.

    Exactness: pure integer day arithmetic end to end — no floats
    anywhere.

    Plan: ONE distinct to (user, day) grain (the only corpus-sized
    shuffle — events collapse to at most users × days rows), one
    row_number window and one group-by both keyed by user at that
    reduced grain, reusing its exchange. Island output is bounded by
    the user-day relation, never by raw event volume."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = ud.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island_key"),
    )
    return (
        grp.groupBy("user_id", "island_key")
        .agg(
            F.min("day").cast("bigint").alias("start_day"),
            F.max("day").cast("bigint").alias("end_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .drop("island_key")
        .orderBy("user_id", "start_day")
    )
