"""Window-function operators (SURVEY.md §2.5).

Every window carries a unique tiebreaker in its ORDER BY (event_id /
o_orderkey) so results are deterministic and hash-comparable across
engines. A window's partitionBy is its shuffle key: all windows here
partition on real entity keys (customer/user), never on constants —
an empty partitionBy pulls the whole table into one task and cannot
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import MICRO_SQL, cents, micro
from ..io import load
from ..registry import query


@query(
    "win_rank",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank()       OVER w AS price_rank,
               dense_rank() OVER w AS price_dense_rank,
               row_number() OVER w AS price_row_number
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    phase="P2",
    tags=("window", "rank"),
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/row_number of orders by price per customer."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.row_number().over(w).alias("price_row_number"),
    )


@query(
    "win_topk_pergroup",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    phase="P2",
    tags=("window", "topk"),
)
def win_topk_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number filter.

    Scale note: Spark pushes a per-partition rank limit down into the
    sort (WindowGroupLimit in Spark ≥3.5), so each task keeps only 3
    rows per key before the shuffle.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "win_lag_lead",
    oracle="""
        SELECT event_id, user_id, ts, value,
               lag(value)  OVER w AS prev_value,
               lead(value) OVER w AS next_value,
               value - lag(value) OVER w AS delta
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    phase="P2",
    tags=("window", "lag"),
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event value per user in event-time order."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "win_running",
    oracle="""
        SELECT event_id, user_id, ts, value,
               sum(value)   OVER w AS running_sum,
               count(*)     OVER w AS running_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    phase="P2",
    tags=("window", "running"),
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum/count of value per user."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum("value").over(w).alias("running_sum"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@query(
    "win_sliding_rows",
    oracle="""
        SELECT event_id, user_id, ts,
               avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_avg5
        FROM events
    """,
    phase="P3",
    tags=("window", "sliding"),
)
def win_sliding_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over the last 5 rows per user."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.avg("value").over(w).alias("moving_avg5"),
    )


@query(
    "win_range_frame",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice,
               count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                              RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_similar_cheaper
        FROM orders
    """,
    phase="P3",
    tags=("window", "range"),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame: orders within $50k below each order's price.

    count(*) over a RANGE frame is tie-stable (all peers share a frame),
    so no tiebreaker is needed — unlike row-framed windows.
    """
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-50000, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_similar_cheaper"),
    )


@query(
    "win_ntile_cume",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               ntile(4)       OVER w AS quartile,
               cume_dist()    OVER w AS cume,
               percent_rank() OVER w AS pct_rank
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    phase="P3",
    tags=("window", "ntile"),
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles + cumulative distribution per order status."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cume"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@query(
    "win_first_last",
    oracle="""
        SELECT event_id, user_id, ts, value,
               first_value(value) OVER w AS first_val,
               last_value(value)  OVER w AS last_val_so_far
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    phase="P3",
    tags=("window", "firstlast"),
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last value in a growing frame per user."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val_so_far"),
    )


@query(
    "win_share",
    oracle="""
        SELECT n.n_name,
               sum(o.o_totalprice) AS nation_revenue,
               sum(o.o_totalprice) / sum(sum(o.o_totalprice)) OVER () AS revenue_share,
               rank() OVER (ORDER BY sum(o.o_totalprice) DESC, n.n_name) AS revenue_rank
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    phase="P3",
    tags=("window", "share"),
)
def win_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share per nation (ratio_to_report): a windowed aggregate
    OVER () on top of a grouped aggregate. The unpartitioned window
    runs on the 25-row post-aggregation result — a single-partition
    sort of dim-cardinality data, fine at any input scale because the
    heavy reduction already happened in the grouped agg below it."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("nation_revenue"))
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("nation_revenue"), F.asc("n_name"))
    return per_nation.select(
        "n_name",
        "nation_revenue",
        (F.col("nation_revenue") / F.sum("nation_revenue").over(w_all)).alias(
            "revenue_share"
        ),
        F.rank().over(w_rank).alias("revenue_rank"),
    )


@query(
    "win_nth_value",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice,
               nth_value(o_totalprice, 2) OVER w AS second_price,
               first_value(o_orderkey)   OVER w AS first_key
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    """,
    phase="P2",
    tags=("window", "nth"),
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over a whole-partition frame: each order sees its
    customer's 2nd-highest price (NULL for single-order customers) and
    top orderkey. Deterministic via the unique orderkey tiebreaker in
    the window order."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.first("o_orderkey").over(w).alias("first_key"),
    )


@query(
    "win_rolling_time",
    oracle="""
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               count(*) OVER w AS n_24h,
               sum(value) OVER w AS sum_24h
        FROM events
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP)
            RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW
        )
    """,
    phase="P3",
    tags=("window", "range", "timeseries"),
)
def win_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-HOUR window per user — a TIME-range frame, not a row
    frame: each row aggregates whatever happened in the trailing day,
    however many events that is. Spark expresses it as rangeBetween
    over the epoch-MICROSECOND ordering (identical semantics to the SQL
    INTERVAL frame, including ties: all rows at the same instant join
    the frame). Epoch seconds would truncate the fraction, so an event
    a fraction of a second more than 24 h back would join the frame.
    One shuffle on user_id; the frame scan is linear per partition."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-24 * 3600 * 1_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.sum("value").over(w).alias("sum_24h"),
    )


@query(
    "win_interpolate",
    oracle="""
        WITH h AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                   count(*) AS n
            FROM events WHERE event_type = 'error' GROUP BY 1
        ),
        s AS (
            SELECT unnest(generate_series(
                (SELECT min(bucket) FROM h),
                (SELECT max(bucket) FROM h), INTERVAL 1 HOUR)) AS bucket
        ),
        g AS (
            SELECT s.bucket,
                   CAST(epoch(s.bucket) AS BIGINT) / 3600 AS idx,
                   h.n
            FROM s LEFT JOIN h ON s.bucket = h.bucket
        ),
        nb AS (
            SELECT bucket, idx, n,
                   last_value(n IGNORE NULLS) OVER w_prev AS prev_v,
                   last_value(CASE WHEN n IS NOT NULL THEN idx END
                              IGNORE NULLS) OVER w_prev AS prev_i,
                   first_value(n IGNORE NULLS) OVER w_next AS next_v,
                   first_value(CASE WHEN n IS NOT NULL THEN idx END
                               IGNORE NULLS) OVER w_next AS next_i
            FROM g
            WINDOW w_prev AS (ORDER BY idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_next AS (ORDER BY idx
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT bucket, n,
               CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                    WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
                    WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
                    ELSE CAST(prev_v AS DOUBLE)
                         + (CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
                           * (CAST(idx - prev_i AS DOUBLE)
                              / CAST(next_i - prev_i AS DOUBLE))
               END AS n_interp
        FROM nb
    """,
    phase="P3",
    tags=("window", "timeseries", "interpolate"),
)
def win_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing time-series buckets — the
    standard sensor/metrics repair step, distinct from zero-fill
    (``stream_gapfill``): gaps get the line between the neighboring
    known points, boundary gaps clamp to the nearest known value.

    Mechanics: dense hour spine left-joined to the sparse hourly counts
    (42 of 720 hours are empty in the fixture's 'error' series), then
    two IGNORE-NULLS window passes (running last known / next known
    value+index) and a pure-arithmetic blend. Hash-portable by
    construction: the series values are integer COUNTS and the index is
    epoch-hours, so every float comes from the same int-derived
    expression tree in both engines. The single unpartitioned window is
    series-sized (hours in span — thousands at any data scale);
    production partitions the same window by series key."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = e.groupBy(hour.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = hourly.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    series = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    g = series.join(hourly, "bucket", "left").select(
        "bucket",
        (F.unix_timestamp("bucket") / F.lit(3600)).cast("bigint").alias("idx"),
        "n",
    )
    w_prev = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("idx").rowsBetween(0, Window.unboundedFollowing)
    known_idx = F.when(F.col("n").isNotNull(), F.col("idx"))
    nb = g.select(
        "bucket",
        "idx",
        "n",
        F.last("n", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(known_idx, ignorenulls=True).over(w_prev).alias("prev_i"),
        F.first("n", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(known_idx, ignorenulls=True).over(w_next).alias("next_i"),
    )
    pv = F.col("prev_v").cast("double")
    nv = F.col("next_v").cast("double")
    frac = (F.col("idx") - F.col("prev_i")).cast("double") / (
        F.col("next_i") - F.col("prev_i")
    ).cast("double")
    return nb.select(
        "bucket",
        "n",
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(F.col("prev_v").isNull(), nv)
        .when(F.col("next_v").isNull(), pv)
        .otherwise(pv + (nv - pv) * frac)
        .alias("n_interp"),
    )


@query(
    "win_rolling_median",
    oracle=f"""
        SELECT event_id, user_id,
               {MICRO_SQL.format(
                   x="median(value) OVER ("
                     "PARTITION BY user_id ORDER BY ts, event_id "
                     "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)")}
                   AS med7_micro
        FROM events
        ORDER BY user_id, event_id
    """,
    phase="P3",
    tags=("window", "median", "robust"),
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of the trailing 7 events per user — the
    robust-smoothing twin of the rolling mean (win_sliding_rows), the
    one aggregate Spark's window engine has no built-in for (DuckDB
    runs median as a native window aggregate — the oracle's form).

    Composition: collect_list over the bounded ROWS frame + array_sort
    + closed-form middle pick ((n+1)/2 and n/2+1 averaged — equal
    indices when n is odd). The frame is bounded (7 rows), so the
    per-row state is O(7) regardless of scale and the whole thing
    stays in the JVM window codegen path — no pandas, no shuffle
    beyond the user_id partition. An UNBOUNDED frame would be the
    anti-pattern here (O(history) arrays per row); bounded frames are
    exactly what sorted-array medians are safe for. Median of two
    middles is (a+b)/2 in both engines (same double op); output is
    micro-quantized per the house rule."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    # Materialize the sorted frame ONCE: referencing the window
    # expression four times inline would plan four identical
    # collect_list window aggregates + four array_sorts (verified via
    # .explain) — withColumn names it so downstream refs share it.
    framed = e.withColumn(
        "arr", F.array_sort(F.collect_list("value").over(w))
    )
    n = F.size("arr")
    lo = F.element_at("arr", ((n + 1) / 2).cast("int"))
    hi = F.element_at("arr", (n / 2).cast("int") + 1)
    med = (lo + hi) / 2.0
    return (
        framed.select(
            "event_id",
            "user_id",
            micro(med).alias("med7_micro"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "win_drawdown",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', CAST(o_orderdate AS TIMESTAMP))
                        AS TIMESTAMP) AS day,
                   CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS daily_cents
            FROM orders GROUP BY 1
        ),
        curve AS (
            SELECT day, daily_cents,
                   CAST(sum(daily_cents) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
            FROM daily
        )
        SELECT day, daily_cents, cum_cents,
               CAST(max(cum_cents) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak_cents,
               CAST(max(cum_cents) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) - cum_cents AS BIGINT)
                 AS drawdown_cents
        FROM curve
    """,
    phase="P3",
    tags=("window", "timeseries", "drawdown"),
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown over the cumulative daily order-value
    curve — the risk metric every monitoring/trading stack computes
    (how far below the high-water mark is the series right now). Two
    stacked unbounded-preceding windows over the SAME ordering: running
    sum builds the curve, running max tracks the peak; drawdown is
    their gap.

    Scale shape: the data-sized stage is the combinable per-day agg;
    both windows then run at DAY grain (one row per day — thousands of
    rows for decades), sharing one sort. Integer cents throughout. The
    monotone-peak identity (peak never decreases) is pytest-pinned."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("daily_cents"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = daily.select(
        "day",
        "daily_cents",
        F.sum("daily_cents").over(w).alias("cum_cents"),
    )
    return curve.select(
        "day",
        "daily_cents",
        "cum_cents",
        F.max("cum_cents").over(w).alias("peak_cents"),
        (F.max("cum_cents").over(w) - F.col("cum_cents")).alias(
            "drawdown_cents"
        ),
    )


@query(
    "win_reset_running_total",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP))
                                - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                                > 1800000000
                        THEN 1 ELSE 0 END AS is_reset
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
        ), grouped AS (
            SELECT user_id, event_id, ts, value, is_reset,
                   sum(is_reset) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS grp
            FROM flagged
        )
        SELECT user_id, event_id,
               CAST(grp AS BIGINT) AS session_no,
               CAST(floor(sum(value) OVER (
                        PARTITION BY user_id, grp
                        ORDER BY CAST(ts AS TIMESTAMP), event_id)
                    * 1000000.0 + 0.5) AS BIGINT) AS running_micro
        FROM grouped
        ORDER BY user_id, event_id
    """,
    phase="P2",
    tags=("window", "sessionization", "islands"),
)
def win_reset_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total WITH CONDITIONAL RESET — the accumulator that
    starts over whenever the user pauses >30 min (per-session spend /
    usage meters). A plain window frame cannot express "reset on
    condition"; the gaps-and-islands composition can, in three stacked
    windows over ONE partitioning: lag() marks resets, a running sum of
    the marks numbers the islands, and the running value total
    restarts automatically because the island id joins the partition
    key. All three windows share the per-user sort, so Spark plans ONE
    exchange + ONE sort for the whole thing (same trick as
    win_running's frame family).

    The running float sum is order-pinned by (ts, event_id), making
    the micro-quantized cumulative values hash-exact cross-engine
    (sum-then-quantize is safe HERE because the window order, and
    therefore the accumulation order, is total and identical on both
    engines — unlike grouped sums, where quantize-then-sum is the
    rule)."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap on BOTH engines (unix_micros / epoch_us) —
    # second-truncating casts could disagree on sub-second boundaries
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = e.withColumn(
        "is_reset",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
    )
    grouped = flagged.withColumn("grp", F.sum("is_reset").over(w))
    w_run = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    return (
        grouped.select(
            "user_id",
            "event_id",
            F.col("grp").cast("bigint").alias("session_no"),
            micro(F.sum("value").over(w_run)).alias("running_micro"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "win_moving_regression",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id,
                   CAST(row_number() OVER (
                        PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1
                        AS BIGINT) AS x,
                   {MICRO_SQL.format(x='value')} AS y
            FROM events
        )
        SELECT user_id, event_id,
               CAST(count(*) OVER f AS BIGINT)            AS n_obs,
               CAST(count(*) OVER f * sum(x * y) OVER f
                    - sum(x) OVER f * sum(y) OVER f
                    AS BIGINT)                            AS slope_num,
               CAST(count(*) OVER f * sum(x * x) OVER f
                    - sum(x) OVER f * sum(x) OVER f
                    AS BIGINT)                            AS slope_den
        FROM seq
        WINDOW f AS (PARTITION BY user_id ORDER BY x
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id
    """,
    phase="P2",
    tags=("window", "regression", "rolling"),
)
def win_moving_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ordinary-least-squares slope per user over the last 8
    events — the windowed trend detector (is this meter accelerating?)
    that pandas users write as ``rolling().apply(linregress)`` and then
    cannot scale. Here it is FOUR built-in frame sums over one shared
    (partition, sort): with x = the per-user event index and y the
    micro-quantized value, slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).
    Both numerator and denominator are EXACT BIGINT arithmetic — no
    float accumulation anywhere — so the result is hash-identical
    cross-engine and the caller divides (or compares num·den' vs
    num'·den) without ever losing the exactness.

    Scale shape: one exchange on user_id, one sort, and every frame
    aggregate runs in the same window pass; no Python, no self-join,
    JVM codegen end-to-end. Int64 headroom: |num| ≤ n²·max(x)·max(y)
    ≈ 64·L·1e8 for per-user history length L and |value| ≤ 100 —
    safe to L ≈ 1e9 rows per user, far past any real per-key history."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        (F.row_number().over(w_seq) - F.lit(1)).cast("bigint").alias("x"),
        micro(F.col("value")).alias("y"),
    )
    f = Window.partitionBy("user_id").orderBy("x").rowsBetween(-7, 0)
    n = F.count(F.lit(1)).over(f)
    sx = F.sum("x").over(f)
    sy = F.sum("y").over(f)
    sxy = F.sum(F.col("x") * F.col("y")).over(f)
    sxx = F.sum(F.col("x") * F.col("x")).over(f)
    return seq.select(
        "user_id",
        "event_id",
        n.cast("bigint").alias("n_obs"),
        (n * sxy - sx * sy).cast("bigint").alias("slope_num"),
        (n * sxx - sx * sx).cast("bigint").alias("slope_den"),
    ).orderBy("user_id", "event_id")


# Rolling Pearson over integer-exact frame sums, spelled out manually
# so BOTH engines run the identical IEEE double expression over
# identical BIGINT operands (the ts_autocorr rule) — engine-native
# corr() is avoided because the two engines' single-pass covariance
# updates round differently.
_RCORR_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_RCORR_DEN = (
    "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)


@query(
    "win_rolling_corr",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id,
                   {MICRO_SQL.format(x='value')} AS x,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS y,
                   CAST(ts AS TIMESTAMP) AS tts
            FROM events
        ), sums AS (
            SELECT user_id, event_id,
                   CAST(count(*) OVER f AS BIGINT)      AS n,
                   CAST(sum(x) OVER f AS BIGINT)        AS sx,
                   CAST(sum(y) OVER f AS BIGINT)        AS sy,
                   CAST(sum(x * y) OVER f AS BIGINT)    AS sxy,
                   CAST(sum(x * x) OVER f AS BIGINT)    AS sxx,
                   CAST(sum(y * y) OVER f AS BIGINT)    AS syy
            FROM seq
            WINDOW f AS (PARTITION BY user_id ORDER BY tts, event_id
                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, event_id, n,
               CASE WHEN n >= 2 AND {_RCORR_DEN} > 0
                    THEN CAST(floor({_RCORR_NUM} / {_RCORR_DEN}
                              * 1000000.0 + 0.5) AS BIGINT)
               END AS corr_micro
        FROM sums
        ORDER BY user_id, event_id
    """,
    phase="P2",
    tags=("window", "correlation", "rolling"),
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between a user's event value and
    its payload counter over the trailing 8 events — the pairs/
    cointegration-style windowed dependence monitor. Six exact-BIGINT
    frame sums (n, Σx, Σy, Σxy, Σx², Σy²) share ONE (user, sort)
    window pass; the correlation itself is ONE manually-spelled IEEE
    expression over those exact operands, identical on both engines
    (the ts_autocorr discipline — native corr() is banned because the
    engines' streaming covariance updates round differently), then
    micro-quantized. NULL where the frame is degenerate (n<2 or zero
    variance), identically on both sides.

    Scale shape: one exchange on user_id, one sort, every frame sum
    in the same Window operator, JVM codegen end to end. Int64
    headroom: Σx² ≤ 8·(1e8)² = 8e16 ≪ 2^63."""
    e = load(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        micro(F.col("value")).alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").alias("y"),
    )
    f = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -7, 0
    )
    sums = seq.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(f).cast("bigint").alias("n"),
        F.sum("x").over(f).cast("bigint").alias("sx"),
        F.sum("y").over(f).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(f).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(f).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(f).cast("bigint").alias("syy"),
    )
    num = F.expr(_RCORR_NUM)
    den = F.expr(_RCORR_DEN)
    return sums.select(
        "user_id",
        "event_id",
        "n",
        F.when(
            (F.col("n") >= 2) & (den > 0),
            micro(num / den),
        ).alias("corr_micro"),
    ).orderBy("user_id", "event_id")


@query(
    "win_concurrency_sweep",
    oracle="""
        WITH deltas AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS delta
            FROM orders GROUP BY 1
            UNION ALL
            SELECT CAST(o_orderdate AS DATE) + INTERVAL 7 DAY,
                   CAST(-count(*) AS BIGINT)
            FROM orders GROUP BY 1
        ), timeline AS (
            SELECT day, CAST(sum(delta) AS BIGINT) AS delta
            FROM deltas GROUP BY day
        ), swept AS (
            SELECT day,
                   CAST(sum(delta) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_now,
                   CAST(count(*) OVER () AS BIGINT) AS n_days
            FROM timeline
        )
        SELECT CAST(day AS DATE) AS peak_day, open_now AS peak_open,
               n_days,
               CAST((SELECT sum(CASE WHEN open_now = 0 THEN 1 ELSE 0
                     END) FROM swept) AS BIGINT) AS n_idle_days
        FROM swept
        ORDER BY open_now DESC, day
        LIMIT 1
    """,
    phase="P2",
    tags=("window", "sweep-line", "concurrency"),
)
def win_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by sweep line: how many orders are OPEN at
    once (each order open for 7 days from its order date), answered
    without ever materializing an interval join — the capacity-
    planning primitive (max concurrent sessions / jobs / loans) that
    naive per-day interval-containment joins get quadratically wrong.
    Emits the earliest peak day, the peak count, the timeline span,
    and the idle-day count from the same sweep.

    Sweep line: every interval contributes +1 at open and −1 at
    close; the running sum of per-day deltas IS the concurrency.
    All-integer, so the argmax on (open_now, day) is tie-exact
    cross-engine.

    Plan: TWO combinable (day) counts (open and close sides — each a
    map-side-combined aggregate of calendar cardinality), a UNION at
    day grain, ONE running window over the tiny timeline, and a
    TakeOrdered(1).  The corpus is touched exactly twice at scan
    stage; the window input is bounded by the calendar, never by
    rows — the interval-join formulation this replaces grows with
    rows × average open length."""
    o = load(spark, sf_dir, "orders")
    opens = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("delta")
    )
    closes = o.groupBy(
        F.date_add(F.col("o_orderdate").cast("date"), 7).alias("day")
    ).agg((-F.count(F.lit(1))).cast("bigint").alias("delta"))
    timeline = (
        opens.unionAll(closes)
        .groupBy("day")
        .agg(F.sum("delta").cast("bigint").alias("delta"))
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    swept = timeline.select(
        "day",
        F.sum("delta").over(w_cum).cast("bigint").alias("open_now"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_days"),
    ).localCheckpoint(eager=False)
    # day-grain sweep, referenced by idle + the peak TakeOrdered —
    # the lazy checkpoint keeps the two corpus counts and the running
    # window single in the compiled plan (r13 re-derivation sweep)
    idle = swept.agg(
        F.sum(F.when(F.col("open_now") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_idle_days")
    )
    return (
        swept.crossJoin(F.broadcast(idle))
        .select(
            F.col("day").alias("peak_day"),
            F.col("open_now").alias("peak_open"),
            "n_days",
            "n_idle_days",
        )
        .orderBy(F.col("peak_open").desc(), "peak_day")
        .limit(1)
    )
