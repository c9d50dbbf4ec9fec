"""Join operators (SURVEY.md §2.3).

Strategy notes for scale:
- Equi-joins on TPC-H keys shuffle both sides on the key; AQE converts
  to broadcast when one side is small at runtime. Dimension tables
  (region/nation/supplier) are explicitly broadcast — at 100 TB a
  fact-side shuffle for a 25-row dim is pure waste.
- Semi/anti joins ship only the join keys of the small side — always
  prefer them to ``IN (subquery)``-style materialization.
- The as-of and interval joins bound the probe range BEFORE the window
  dedup so the intermediate never blows up to O(events × orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import cents, micro
from ..io import load
from ..registry import query
from ..session import scoped_conf


@query(
    "join_inner",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    phase="P1",
    tags=("join",),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders ⋈ customer."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_multiway",
    oracle="""
        SELECT r.r_name, n.n_name,
               count(*) AS n_orders,
               sum(o.o_totalprice) AS revenue
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        GROUP BY r.r_name, n.n_name
    """,
    phase="P2",
    tags=("join", "multiway"),
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join region→nation→customer→orders, dims broadcast.

    Join order is smallest-first so each intermediate stays dim-sized
    until the fact table joins last against an already-broadcast map.
    """
    r = F.broadcast(load(spark, sf_dir, "region"))
    n = F.broadcast(load(spark, sf_dir, "nation"))
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "join_left",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    """,
    phase="P2",
    tags=("join", "outer"),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a join-side predicate (kept in the ON clause
    so non-matching customers survive with nulls)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cond = (o.o_custkey == c.c_custkey) & (o.o_totalprice > 400000)
    return c.join(o, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name
        FROM orders o RIGHT JOIN customer c
          ON o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    """,
    phase="P2",
    tags=("join", "outer"),
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of join_left with the preserved side on
    the right — planner-wise Spark canonicalizes it to a left join with
    swapped inputs, which the oracle's RIGHT JOIN matches exactly)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cond = (o.o_custkey == c.c_custkey) & (o.o_totalprice > 400000)
    return o.join(c, cond, "right").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


@query(
    "join_full",
    oracle="""
        SELECT s.s_suppkey, s.s_name, q.l_suppkey, q.big_qty
        FROM supplier s
        FULL OUTER JOIN (
            SELECT l_suppkey, sum(l_quantity) AS big_qty
            FROM lineitem GROUP BY l_suppkey HAVING sum(l_quantity) > 100000
        ) q ON q.l_suppkey = s.s_suppkey
    """,
    phase="P2",
    tags=("join", "outer"),
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join supplier vs an aggregated lineitem slice."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    q = (
        li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("big_qty"))
        .filter(F.col("big_qty") > 100000)
    )
    return s.join(q, q.l_suppkey == s.s_suppkey, "full").select(
        "s_suppkey", "s_name", "l_suppkey", "big_qty"
    )


@query(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    phase="P2",
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one big order.

    Semi join ships only o_custkey of the filtered side — no payload
    columns cross the shuffle, and duplicates never multiply rows.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
    """,
    phase="P2",
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent orders (every customer
    has SOME order in the fixtures, so the filtered variant keeps the
    result non-trivial)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_broadcast",
    oracle="""
        SELECT n.n_name, count(*) AS n_customers, sum(c.c_acctbal) AS total_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    phase="P2",
    tags=("join", "broadcast"),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join against the 25-row nation dim —
    zero shuffle on the fact side (the groupBy shuffles 25 rows/task)."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_acctbal").alias("total_bal"),
        )
    )


@query(
    "join_theta",
    oracle="""
        SELECT s.s_suppkey, s.s_name, p.p_partkey, p.p_retailprice
        FROM supplier s JOIN part p
          ON p.p_retailprice BETWEEN s.s_acctbal / 10 AND s.s_acctbal / 10 + 50
    """,
    phase="P3",
    tags=("join", "theta"),
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join. Spark plans BroadcastNestedLoopJoin with
    the small supplier side broadcast — O(|part| × |supplier|) compare,
    acceptable only because supplier is dim-sized; a fact×fact theta
    join would need banding (see join_asof) instead."""
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part")
    cond = (p.p_retailprice >= s.s_acctbal / 10) & (
        p.p_retailprice <= s.s_acctbal / 10 + 50
    )
    return F.broadcast(s).join(p, cond).select(
        "s_suppkey", "s_name", "p_partkey", "p_retailprice"
    )


@query(
    "join_cross",
    oracle="""
        SELECT a.r_name AS from_region, b.r_name AS to_region
        FROM region a CROSS JOIN region b
        WHERE a.r_regionkey <> b.r_regionkey
    """,
    phase="P3",
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the 5-row region table with itself."""
    r = load(spark, sf_dir, "region")
    a = r.alias("a")
    b = r.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.r_regionkey") != F.col("b.r_regionkey"))
        .select(
            F.col("a.r_name").alias("from_region"),
            F.col("b.r_name").alias("to_region"),
        )
    )


@query(
    "join_asof",
    oracle="""
        SELECT o_orderkey, o_custkey, event_id AS last_event_id, ts AS last_event_ts
        FROM (
            SELECT o.o_orderkey, o.o_custkey, e.event_id, e.ts,
                   row_number() OVER (PARTITION BY o.o_orderkey
                                      ORDER BY e.ts DESC, e.event_id DESC) AS rn
            FROM orders o
            JOIN events e
              ON e.user_id = o.o_custkey % 150
             AND e.ts <= TIMESTAMP '2024-01-15 00:00:00' + INTERVAL (o.o_orderkey % 14) DAY
        ) WHERE rn = 1
    """,
    phase="P3",
    tags=("join", "asof"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest event at-or-before each order's cutoff, per key.

    Spark has no native as-of operator; the naive composition (range
    join + row_number dedup) materializes orders × their-earlier-events
    — ~75M intermediate rows at sf0.1, and unbounded at 100 TB. Since
    every cutoff lies on a day boundary, the scalable shape pre-reduces
    the event side to ONE row per (key, day bucket):

      1. bucket each event at the smallest midnight ≥ ts
         (ts - 1µs truncated to day, +1 day — so a ts exactly at
         midnight D belongs to cutoff D, anything later to D+1);
      2. per (user, bucket) keep max(struct(ts, event_id)) — map-side
         combinable, the shuffle carries one row per bucket;
      3. running max over each user's buckets (dense grid of observed
         event buckets ∪ cutoff days, so the running value is defined
         at every cutoff even for quiet days) — the window sorts the
         tiny per-user bucket list, never raw events;
      4. equi-join orders on (user, cutoff) — one row each.

    The intermediate is O(keys × days) instead of O(orders × events).
    Cutoff is derived deterministically from o_orderkey since orders
    (1995-2001) and events (2024) don't overlap in time.
    """
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp") + (
        F.col("o_orderkey") % 14
    ).cast("int") * F.expr("INTERVAL 1 DAY")
    ords = o.select("o_orderkey", "o_custkey", cutoff.alias("cutoff"))

    bucket = F.date_trunc(
        "day", F.col("ts") - F.expr("INTERVAL 1 MICROSECOND")
    ) + F.expr("INTERVAL 1 DAY")
    per_bucket = (
        e.select("user_id", bucket.alias("bucket"), "ts", "event_id")
        .groupBy("user_id", "bucket")
        .agg(F.max(F.struct("ts", "event_id")).alias("top"))
    ).localCheckpoint(eager=False)
    # bucket-grain event rollup, referenced by the day grid AND the
    # dense left join — lazy checkpoint so the event scan + rollup
    # compiles once (r13 re-derivation sweep)
    days = (
        per_bucket.select("bucket")
        .union(ords.select(F.col("cutoff").alias("bucket")))
        .distinct()
    )
    users = e.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dense = grid.join(per_bucket, ["user_id", "bucket"], "left").select(
        "user_id", "bucket", F.max("top").over(w).alias("best")
    )
    return (
        ords.join(
            dense,
            (ords.o_custkey % 150 == dense.user_id)
            & (ords.cutoff == dense.bucket),
        )
        .filter(F.col("best").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("best.event_id").alias("last_event_id"),
            F.col("best.ts").alias("last_event_ts"),
        )
    )


@query(
    "join_interval",
    oracle="""
        SELECT e1.event_id AS click_id, e2.event_id AS purchase_id,
               e1.user_id, e1.ts AS click_ts, e2.ts AS purchase_ts
        FROM events e1
        JOIN events e2
          ON e1.user_id = e2.user_id
         AND e1.event_type = 'click' AND e2.event_type = 'purchase'
         AND e2.ts > e1.ts
         AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    """,
    phase="P3",
    tags=("join", "interval"),
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 1 hour after a click, same user.

    Equi-join on user_id carries the shuffle; the time-band predicate
    is evaluated post-shuffle per key group. At stream scale, bucketing
    by (user_id, hour(ts)) and joining adjacent buckets bounds the
    candidate set.
    """
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (clicks.user_id == buys.p_user_id)
        & (buys.purchase_ts > clicks.click_ts)
        & (buys.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return clicks.join(buys, cond).select(
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts"
    )


@query(
    "join_lateral",
    oracle="""
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_custkey <= 100
    """,
    phase="P3",
    tags=("join", "lateral"),
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders via a correlated LATERAL subquery —
    the join shape a plain equi-join cannot express (the LIMIT applies
    per outer row). Spark 4's DataFrame lateralJoin plans this as a
    correlated subquery the optimizer decorrelates into a partitioned
    window under the hood; the oracle runs DuckDB's native LATERAL."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    o = load(spark, sf_dir, "orders")
    top2 = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(top2).select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


N_SALT = 8  # salt fan-out for the skew-mitigation patterns


@query(
    "join_skew_salted",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, l.l_linenumber, l.l_quantity
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_totalprice > 400000
    """,
    phase="P3",
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted equi-join — the skew-mitigation pattern written
    out as a verifiable operator. The build side (filtered orders)
    replicates each row N_SALT times with salt 0..N-1; the probe side
    (lineitem) derives a DETERMINISTIC salt from a non-join column
    (xxhash64 of linenumber), so every probe row meets exactly one
    replica and the result is provably identical to the plain join —
    the oracle IS the plain join. One hot orderkey now spreads over
    N_SALT shuffle partitions instead of one straggler task.

    At 100 TB: you'd gate this on observed key skew (or let AQE's
    skewJoin do it adaptively — enabled in session.py); this operator
    exists so the manual pattern is exercised and hash-verified, not
    guessed at during an incident.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = load(spark, sf_dir, "lineitem")
    o_salted = o.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)]))
    )
    li_salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_linenumber"), F.lit(N_SALT)).cast("int")
    )
    return (
        o_salted.join(
            li_salted,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (o_salted["_salt"] == li_salted["_salt"]),
        )
        .select("o_orderkey", "o_custkey", "l_linenumber", "l_quantity")
    )


@query(
    "agg_skew_twophase",
    oracle="""
        SELECT l_returnflag,
               sum(l_quantity)      AS sum_qty,
               count(*)             AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    phase="P3",
    tags=("agg", "skew"),
)
def agg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation written out: phase 1 groups by
    (key, salt) so one hot key spreads over N_SALT reducers, phase 2
    re-aggregates the per-salt partials to the final key grain. The
    oracle is the plain GROUP BY — the decomposition must be invisible
    in the result (sum of sums, sum of counts).

    Spark's hash aggregate already does map-side partials, so at this
    scale the pattern is redundant — it exists for the 3-distinct-key
    case like this one (l_returnflag), where partial aggregation alone
    still funnels each key through ONE final reducer and a hot key can
    dominate; the salt bounds that reducer's input at |partials| =
    N_SALT regardless of row skew.
    """
    li = load(spark, sf_dir, "lineitem")
    phase1 = (
        li.withColumn(
            "_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(N_SALT)).cast("int")
        )
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.sum("l_quantity").alias("_sum_qty"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("_sum_qty").alias("sum_qty"),
        F.sum("_n").alias("n_rows"),
    )


@query(
    "join_null_safe",
    oracle="""
        WITH a AS (
            SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
            FROM customer WHERE c_custkey < 100
        ),
        b AS (
            SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
            FROM customer WHERE c_custkey >= 100 AND c_custkey < 200
        )
        SELECT a.seg, count(*) AS n_pairs
        FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
        GROUP BY a.seg
        ORDER BY a.seg NULLS FIRST
    """,
    phase="P3",
    tags=("join", "null-safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of disappearing — the semantics a CDC
    merge on nullable business keys needs. The nullif() derivation
    plants NULLs in both inputs; pair counts per segment prove the
    NULL bucket joins. Spark plans <=> as a hash join on the
    null-safe-wrapped key, same shuffle shape as a plain equi-join."""
    c = load(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    a = c.filter(F.col("c_custkey") < 100).select(
        "c_custkey", seg.alias("seg")
    )
    b = c.filter(
        (F.col("c_custkey") >= 100) & (F.col("c_custkey") < 200)
    ).select(F.col("c_custkey").alias("b_custkey"), seg.alias("b_seg"))
    return (
        a.join(b, a.seg.eqNullSafe(b.b_seg))
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.asc_nulls_first("seg"))
    )


@query(
    "join_range_grid",
    oracle="""
        WITH p AS (
            SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
            FROM events WHERE event_type = 'purchase'
        ), c AS (
            SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS c_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT p.purchase_id,
               CAST(count(c.click_id) AS BIGINT) AS n_clicks_30m
        FROM p LEFT JOIN c
          ON c.c_ts >  p.p_ts - INTERVAL 30 MINUTE
         AND c.c_ts <= p.p_ts
        GROUP BY p.purchase_id
        ORDER BY p.purchase_id
    """,
    phase="P3",
    tags=("join", "range", "grid"),
)
def join_range_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi key — global click traffic in the 30
    minutes before each purchase (market-context attribution). The
    oracle keeps the textbook form: a pure inequality LEFT JOIN, which
    every engine executes as O(|P|·|C|) nested loops — THE classic
    scale-killer (Spark: BroadcastNestedLoopJoin, unrunnable at 100 TB).

    This plan is the standard GRID decomposition: bucket time into
    cells exactly as wide as the band (30 min), explode each purchase
    to the (at most 2) cells its window touches, and equi-join clicks
    on the cell — Catalyst gets a real shuffle key, the candidate set
    per pair is bounded by cell population, and the exact band
    predicate filters residents. A (purchase, click) pair can meet in
    only ONE cell (the click's), so no post-join dedup is needed —
    counts are exact. Purchases with zero context clicks survive via
    the final left join against the aggregated counts. At 100 TB this
    is two linear shuffles on the cell/purchase keys; the naive form is
    a quadratic cross product."""
    e = load(spark, sf_dir, "events")
    band = 1800  # seconds; cell width == band width → ≤2 cells/window
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.floor(F.col("ts").cast("long") / band).alias("cell"),
    )
    pc = p.select(
        "purchase_id",
        "p_ts",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("p_ts").cast("long") - band) / band),
                    F.floor(F.col("p_ts").cast("long") / band),
                )
            )
        ).alias("cell"),
    )
    cand = pc.join(c, "cell").filter(
        (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 30 MINUTE"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    counts = cand.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks_30m")
    )
    return (
        p.join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("n_clicks_30m", F.lit(0)).cast("bigint").alias(
                "n_clicks_30m"
            ),
        )
        .orderBy("purchase_id")
    )


# Bloom prefilter geometry for join_bloom_prefilter: k=2 hash positions
# per key drawn from one md5 (hex chars 1-8 and 9-16), each mod 2^16.
# Build-side keys set ~20% of the 65536 positions at sf0.1, so the
# prefilter passes ~4% of non-matching probe rows (0.2^2) while
# guaranteeing zero false NEGATIVES — the oracle is therefore the PLAIN
# join: the bloom stage must be result-invariant.
_BLOOM_BITS = 65536


@query(
    "join_bloom_prefilter",
    oracle="""
        SELECT date_trunc('month', CAST(o.o_orderdate AS TIMESTAMP))
                 AS order_month,
               count(*) AS n_lines,
               CAST(sum(CAST(floor(l.l_extendedprice
                                   * (1 - l.l_discount) * 1000000.0
                                   + 0.5) AS BIGINT)) AS BIGINT)
                 AS revenue_micro
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY 1
    """,
    phase="P3",
    tags=("join", "bloom", "runtime-filter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual bloom-filter runtime prefilter — the engine-level version
    of Spark's runtime bloom-filter join (spark.sql.optimizer.runtime.
    bloomFilter) / Trino's dynamic filtering: build a k=2 bloom over the
    selective side's join keys (urgent orders), broadcast it, and drop
    probe rows (lineitem) MAP-SIDE before the shuffle join. Bloom
    membership admits false positives, never false negatives, so the
    final exact join makes the whole pipeline result-identical to the
    plain join — which is exactly what the oracle asserts.

    Scale shape: the bloom bit set is bounded by _BLOOM_BITS rows
    (65536) regardless of build cardinality — broadcastable at any
    scale, unlike the key set itself. The probe side is filtered by two
    broadcast-hash semi-joins (zero shuffle), so only ~p^2-surviving
    rows enter the one real exchange. At 100 TB with a 1%-selective
    build side this cuts shuffle volume ~100x; that IS the reason
    engines grow runtime filters."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load(spark, sf_dir, "lineitem")

    def positions(key: F.Column) -> tuple[F.Column, F.Column]:
        h = F.md5(key.cast("string").cast("binary"))
        p1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BLOOM_BITS
        p2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint") % _BLOOM_BITS
        return p1, p2

    bp1, bp2 = positions(F.col("o_orderkey"))
    bits = (
        o.select(F.explode(F.array(bp1, bp2)).alias("bit")).distinct()
    )
    pp1, pp2 = positions(F.col("l_orderkey"))
    probe = li.withColumn("p1", pp1).withColumn("p2", pp2)
    survivors = (
        probe.join(
            F.broadcast(bits.withColumnRenamed("bit", "p1")), "p1", "semi"
        ).join(
            F.broadcast(bits.withColumnRenamed("bit", "p2")), "p2", "semi"
        )
    )
    return (
        survivors.join(o, survivors.l_orderkey == o.o_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                micro(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_micro"),
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
        WITH anchors AS (
            SELECT DISTINCT o_custkey % 150 AS k,
                   TIMESTAMP '2024-01-15 00:00:00'
                     + INTERVAL (o_orderkey % 14) DAY AS anchor
            FROM orders
        ),
        nearest AS (
            SELECT k, anchor, event_id, ts FROM (
                SELECT a.k, a.anchor, e.event_id, e.ts,
                       row_number() OVER (
                           PARTITION BY a.k, a.anchor
                           ORDER BY abs(epoch_us(CAST(e.ts AS TIMESTAMP))
                                        - epoch_us(a.anchor)),
                                    e.event_id
                       ) AS rn
                FROM anchors a JOIN events e ON e.user_id = a.k
            ) WHERE rn = 1
        )
        SELECT o.o_orderkey, o.o_custkey,
               n.event_id AS nearest_event_id,
               CAST(n.ts AS TIMESTAMP) AS nearest_event_ts,
               CAST(abs(epoch_us(CAST(n.ts AS TIMESTAMP))
                        - epoch_us(n.anchor)) AS BIGINT) AS gap_us
        FROM orders o
        JOIN nearest n
          ON n.k = o.o_custkey % 150
         AND n.anchor = TIMESTAMP '2024-01-15 00:00:00'
                          + INTERVAL (o_orderkey % 14) DAY
    """,
    phase="P3",
    tags=("join", "asof", "nearest"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-asof join: the event CLOSEST in time to each order's
    anchor, either direction — the sensor/trade alignment semantics
    (pandas merge_asof direction='nearest') that backward-only
    ``join_asof`` can't express.

    Scalable shape: the probe side first DEDUPLICATES to its distinct
    (key, anchor) pairs — here ≤ keys x 14 anchor days, and in any real
    workload a tiny fraction of probe rows — so the expensive
    event-side work runs once per distinct anchor, then equi-joins back
    to the full probe. The per-anchor candidate scan is a bounded
    window (rank by |Δt|), and at 100 TB you'd band events into ±1-day
    cells first (the join_range_grid trick) so each anchor reads two
    cells instead of its key's full history. Integer µs gaps:
    hash-exact."""
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    anchor = F.lit("2024-01-15 00:00:00").cast("timestamp") + (
        F.col("o_orderkey") % 14
    ).cast("int") * F.expr("INTERVAL 1 DAY")
    ords = o.select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_custkey") % 150).alias("k"),
        anchor.alias("anchor"),
    )
    anchors = ords.select("k", "anchor").distinct()
    cand = anchors.join(e, anchors.k == e.user_id).select(
        "k",
        "anchor",
        "event_id",
        "ts",
        F.abs(
            F.unix_micros("ts") - F.unix_micros("anchor")
        ).alias("gap_us"),
    )
    w = Window.partitionBy("k", "anchor").orderBy("gap_us", "event_id")
    nearest = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("nk"),
            F.col("anchor").alias("nanchor"),
            F.col("event_id").alias("nearest_event_id"),
            F.col("ts").alias("nearest_event_ts"),
            "gap_us",
        )
    )
    return ords.join(
        nearest,
        (ords.k == nearest.nk) & (ords.anchor == nearest.nanchor),
    ).select(
        "o_orderkey",
        "o_custkey",
        "nearest_event_id",
        "nearest_event_ts",
        F.col("gap_us").cast("bigint").alias("gap_us"),
    )


@query(
    "join_scd2_pit",
    oracle="""
        WITH changes AS (
            SELECT o_custkey AS custkey, o_orderkey AS change_id,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                       AS attr_cents,
                   o_orderdate AS valid_from
            FROM orders WHERE o_custkey < 300
        ),
        probes AS (
            SELECT event_id, user_id,
                   CAST(DATE '1995-01-01'
                        + CAST(event_id % 2400 AS INTEGER) AS TIMESTAMP)
                       AS probe_ts
            FROM events
        ),
        matched AS (
            SELECT p.event_id, p.user_id, p.probe_ts,
                   c.change_id, c.attr_cents,
                   row_number() OVER (
                       PARTITION BY p.event_id
                       ORDER BY c.valid_from DESC, c.change_id DESC
                   ) AS rn
            FROM probes p
            JOIN changes c
              ON c.custkey = p.user_id AND c.valid_from <= p.probe_ts
        )
        SELECT event_id, user_id, probe_ts, change_id, attr_cents
        FROM matched WHERE rn = 1
        ORDER BY event_id
    """,
    phase="P2",
    tags=("join", "scd2", "point-in-time"),
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) dimension lookup against an SCD2 change
    log — the warehouse join that answers "what was this customer's
    attribute WHEN the event happened". Probes are events with
    deterministic synthetic timestamps inside the dimension's era
    (event eras and order eras are disjoint in the fixture); the
    dimension is the same change log ``etl_scd2_intervals`` derives
    intervals from.

    Scale shape — the reason this is NOT an interval join: because
    SCD2 intervals per key are non-overlapping and contiguous,
    "valid_from <= ts < valid_to" is equivalent to "the LATEST change
    with valid_from <= ts". That re-expression turns a range predicate
    (nested-loop / O(n·m) without a specialized interval operator)
    into an EQUI-join on the key plus a per-probe argmax — here a
    row_number window, at 100 TB a combinable max(struct(valid_from,
    change)) — so both sides hash-partition on the key once and
    everything else is map-side. Same decomposition as ``join_asof``,
    applied to the SCD2 consumption side.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    changes = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("change_id"),
        cents(F.col("o_totalprice")).alias("attr_cents"),
        F.col("o_orderdate").alias("valid_from"),
    )
    e = load(spark, sf_dir, "events")
    probes = e.select(
        "event_id",
        "user_id",
        F.expr(
            "CAST(date_add(DATE '1995-01-01',"
            " CAST(event_id % 2400 AS INT)) AS TIMESTAMP)"
        ).alias("probe_ts"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("event_id").orderBy(
        F.desc("valid_from"), F.desc("change_id")
    )
    return (
        probes.join(
            changes,
            (F.col("custkey") == F.col("user_id"))
            & (F.col("valid_from") <= F.col("probe_ts")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "probe_ts", "change_id", "attr_cents")
        .orderBy("event_id")
    )


@query(
    "join_fuzzy_blocked",
    oracle="""
        WITH clean AS (
            SELECT p_partkey AS ckey, p_name AS cname,
                   substring(p_name, 1, 4) AS blk
            FROM part
        ),
        dirty AS (
            SELECT p_partkey AS dkey,
                   CASE p_partkey % 3
                       WHEN 0 THEN p_name || 'x'
                       WHEN 1 THEN substring(p_name, 1, length(p_name) - 1)
                       ELSE substring(p_name, 1, length(p_name) - 2)
                            || substring(p_name, length(p_name), 1)
                            || substring(p_name, length(p_name) - 1, 1)
                   END AS dname,
                   substring(p_name, 1, 4) AS blk
            FROM part WHERE p_partkey % 5 = 0
        ),
        cand AS (
            SELECT d.dkey, c.ckey,
                   CAST(levenshtein(d.dname, c.cname) AS BIGINT) AS dist,
                   count(*) OVER (PARTITION BY d.dkey) AS n_cand,
                   row_number() OVER (
                       PARTITION BY d.dkey
                       ORDER BY levenshtein(d.dname, c.cname), c.ckey
                   ) AS rn
            FROM dirty d JOIN clean c ON d.blk = c.blk
            WHERE levenshtein(d.dname, c.cname) <= 2
        )
        SELECT dkey, ckey AS matched_ckey, dist,
               CAST(n_cand AS BIGINT) AS n_candidates
        FROM cand WHERE rn = 1
        ORDER BY dkey
    """,
    phase="P2",
    tags=("join", "fuzzy", "entity-resolution"),
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join — the entity-resolution merge every
    data-integration tool ships: a "dirty" feed (part names corrupted
    deterministically by one of three typo modes: appended char,
    dropped char, transposed tail) matches back to the clean catalog
    by edit distance ≤ 2, best match per dirty row (distance, then key
    tiebreak), with the candidate count exposed for match-quality
    audit.

    TWO scale decisions. (1) BLOCKING: Levenshtein across all pairs
    is O(n·m) and unshippable, so candidates are generated by an
    EQUI-join on a cheap blocking key (4-char name prefix — unchanged
    by all three corruption modes) and the quadratic distance only
    runs within blocks; multi-key blocking (prefix + length band,
    phonetic keys) drops in by unioning candidate generators.
    (2) NAME DEDUP: the distance kernel runs over DISTINCT name pairs
    — vocabulary scale, not row scale — and attribution returns via
    equi-joins (see the inline note; 12× faster at sf0.1). At 100 TB
    both sides hash-partition on the block key once and a skewed
    block is AQE's skew-split problem, not a plan rewrite.
    """
    p = load(spark, sf_dir, "part")
    # Edit distance depends only on the NAME, and real catalogs have
    # far fewer distinct names than rows (64 vs 20k in the fixture) —
    # so the quadratic Levenshtein kernel runs over DISTINCT name
    # pairs (name-vocabulary scale), and row-level attribution comes
    # back via cheap equi-joins. Before this dedup the block join
    # evaluated ~4M distances and was the slowest query in the bench
    # (10.9 s at sf0.1 → ~0.9 s after); the argmin is unchanged
    # because per clean NAME the winning row is its min key.
    clean_names = (
        p.groupBy(F.col("p_name").alias("cname"))
        .agg(
            F.min("p_partkey").alias("ckey_rep"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .withColumn("blk", F.substring("cname", 1, 4))
    )
    dirty = p.filter(F.col("p_partkey") % 5 == 0).select(
        F.col("p_partkey").alias("dkey"),
        F.when(F.col("p_partkey") % 3 == 0, F.concat(F.col("p_name"), F.lit("x")))
        .when(F.col("p_partkey") % 3 == 1, F.expr("substring(p_name, 1, length(p_name) - 1)"))
        .otherwise(
            F.expr(
                "concat(substring(p_name, 1, length(p_name) - 2),"
                " substring(p_name, length(p_name), 1),"
                " substring(p_name, length(p_name) - 1, 1))"
            )
        )
        .alias("dname"),
        F.substring("p_name", 1, 4).alias("blk"),
    )
    dirty_names = dirty.select("dname", "blk").distinct()
    from pyspark.sql import Window as W

    dist = F.levenshtein("dname", "cname")
    name_cand = (
        dirty_names.join(F.broadcast(clean_names), "blk")
        .filter(dist <= 2)
        .select("dname", "ckey_rep", "cnt", dist.cast("bigint").alias("dist"))
    )
    w = W.partitionBy("dname")
    wo = w.orderBy(F.asc("dist"), F.asc("ckey_rep"))
    name_match = (
        name_cand.select(
            "dname",
            "ckey_rep",
            "dist",
            F.sum("cnt").over(w).cast("bigint").alias("n_candidates"),
            F.row_number().over(wo).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("dname", F.col("ckey_rep").alias("matched_ckey"), "dist", "n_candidates")
    )
    return (
        dirty.join(name_match, "dname")
        .select("dkey", "matched_ckey", "dist", "n_candidates")
        .orderBy("dkey")
    )


@query(
    "join_bucketed",
    # The grouped aggregate is fully value-oracled; the three plan
    # flags are engine-level invariants (SMJ chosen, ZERO exchanges,
    # bucketed scan) that ship as constant-1 columns — if the bucketed
    # layout ever stops eliminating the shuffle, the Spark side emits
    # 0s and the driver hash goes red loudly.
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(qty) AS BIGINT) AS qty_sum,
               CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
               CAST(1 AS BIGINT) AS smj,
               CAST(1 AS BIGINT) AS zero_exchange,
               CAST(1 AS BIGINT) AS bucketed_scan
        FROM orders
        JOIN (
            SELECT l_orderkey,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                   CAST(sum(CAST(floor(
                       l_extendedprice * (1 - l_discount) * 100.0 + 0.5
                   ) AS BIGINT)) AS BIGINT) AS rev_cents
            FROM lineitem GROUP BY l_orderkey
        ) ls ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    phase="P3",
    tags=("join", "bucketed", "io"),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-partitioned (bucketed) join — the 100 TB layout lever
    for repeated fact⋈fact joins: both sides are written bucketed on
    the join key with the SAME bucket count, so the join plans with
    ZERO shuffle exchanges (bucket layout IS the partitioning) and the
    per-bucket sort order feeds SortMergeJoin directly. Promoted from
    a pytest-only proof (tests/test_bucketing.py) to a driver-visible
    query per the r6 review.

    Flow: write orders and the per-order lineitem rollup as 8-bucket
    tables into a temp location, join on the bucket key with broadcast
    disabled (the small test tables would otherwise sidestep the SMJ
    path AQE picks at real scale), aggregate revenue per priority, and
    attach three plan-derived flags: smj (SortMergeJoin chosen),
    zero_exchange (no Exchange anywhere in the join plan), and
    bucketed_scan (the file scan reports the bucket layout). Money is
    quantized to cents per LINE before any sum (quantize-then-sum —
    order-independent), quantities cast to BIGINT per line, so every
    aggregate is integer-exact cross-engine.

    The broadcast-threshold toggle mutates session conf around plan
    construction only and is restored in ``finally`` — safe under the
    registry's serial-execution contract (one query at a time per
    session; same note as sources/pysource.py).

    At 100 TB: bucketed layout amortizes ONE shuffle at write time
    across every future join/aggregation on that key — the biggest
    single lever for star-schema fact joins after partition pruning.
    """
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    linesum = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("rev_cents"),
        )
    )
    work = tempfile.mkdtemp(prefix="join_bucketed_")
    try:
        spark.sql("DROP TABLE IF EXISTS jb_orders")
        spark.sql("DROP TABLE IF EXISTS jb_linesum")
        (
            o.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", work + "/orders")
            .mode("overwrite")
            .saveAsTable("jb_orders")
        )
        (
            linesum.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", work + "/linesum")
            .mode("overwrite")
            .saveAsTable("jb_linesum")
        )
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            j = spark.table("jb_orders").join(
                spark.table("jb_linesum"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            smj = "SortMergeJoin" in plan
            zero_exchange = "Exchange" not in plan
            bucketed_scan = (
                "SelectedBucketsCount" in plan or "Bucketed: true" in plan
            )
            out = (
                j.groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum("qty").alias("qty_sum"),
                    F.sum("rev_cents").alias("rev_cents"),
                )
                .select(
                    "o_orderpriority",
                    "n_orders",
                    "qty_sum",
                    "rev_cents",
                    F.lit(int(smj)).cast("bigint").alias("smj"),
                    F.lit(int(zero_exchange)).cast("bigint").alias(
                        "zero_exchange"
                    ),
                    F.lit(int(bucketed_scan)).cast("bigint").alias(
                        "bucketed_scan"
                    ),
                )
                .orderBy("o_orderpriority")
                # materialize before the temp tables vanish
                .localCheckpoint(eager=True)
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS jb_orders")
        spark.sql("DROP TABLE IF EXISTS jb_linesum")
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "join_spatial_grid",
    oracle="""
        WITH cpts AS (
            SELECT c_custkey,
                   (c_custkey * 2654435761) % 1000000 AS xa,
                   (c_custkey * 3266489917) % 1000000 AS ya
            FROM customer
        ), spts AS (
            SELECT s_suppkey,
                   (s_suppkey * 2246822519) % 1000000 AS xb,
                   (s_suppkey * 668265263) % 1000000 AS yb
            FROM supplier
        )
        SELECT c.c_custkey, s.s_suppkey,
               CAST((c.xa - s.xb) * (c.xa - s.xb)
                    + (c.ya - s.yb) * (c.ya - s.yb) AS BIGINT)
                   AS dist2_milli
        FROM cpts c, spts s
        WHERE (c.xa - s.xb) * (c.xa - s.xb)
              + (c.ya - s.yb) * (c.ya - s.yb) <= 25000000
        ORDER BY c_custkey, s_suppkey
    """,
    phase="P2",
    tags=("join", "spatial", "grid-blocked"),
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial within-radius join via GRID BLOCKING — the standard
    re-expression of "all pairs closer than r" that never evaluates
    the quadratic pair space. Coordinates are derived deterministically
    from the keys (Knuth/xxhash multiplicative mixes mod 1e6, i.e.
    integer MILLI-coordinates on a 1000×1000 plane) so the whole
    query — cells, candidate pairs, squared distances — is exact
    BIGINT arithmetic with zero float anywhere, and the oracle can
    verify it value-exactly from a plain cross-join + filter.

    Plan: each side buckets into r-sized grid cells (cell = coord/r);
    the supplier side explodes to its 3×3 cell neighborhood (9×, still
    the small side), the join runs on the (cell_x, cell_y) pair, and
    the exact distance filter keeps true hits. Candidates per point ≈
    points within a 3r×3r box — constant under uniform density —
    versus |A|·|B| for the naive theta-join.

    Scale shape: at sf0.1 the exploded supplier side broadcasts; at
    100 TB both sides hash-shuffle on the SAME cell key, so the join
    is co-located with ~9× replication of one side only, and skewed
    cells (dense cities) are ordinary AQE skew-join work. This is the
    map-grid sibling of join_range_grid's 1-D tiling (joins.py:570)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * F.lit(2654435761)) % 1000000).alias("xa"),
        ((F.col("c_custkey") * F.lit(3266489917)) % 1000000).alias("ya"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * F.lit(2246822519)) % 1000000).alias("xb"),
        ((F.col("s_suppkey") * F.lit(668265263)) % 1000000).alias("yb"),
    )
    r = 5000  # 5.0 units in milli-coordinates
    off = F.explode(
        F.array(*[F.lit(i) for i in (-1, 0, 1)])
    )
    supp_cells = (
        supp.withColumn("dx", off)
        .withColumn(
            "dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)]))
        )
        .select(
            "s_suppkey",
            "xb",
            "yb",
            (F.floor(F.col("xb") / r) + F.col("dx")).alias("cell_x"),
            (F.floor(F.col("yb") / r) + F.col("dy")).alias("cell_y"),
        )
    )
    cust_cells = cust.select(
        "c_custkey",
        "xa",
        "ya",
        F.floor(F.col("xa") / r).alias("cell_x"),
        F.floor(F.col("ya") / r).alias("cell_y"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        cust_cells.join(supp_cells, ["cell_x", "cell_y"])
        .filter(d2 <= F.lit(r * r))
        .select(
            "c_custkey",
            "s_suppkey",
            d2.cast("bigint").alias("dist2_milli"),
        )
        .orderBy("c_custkey", "s_suppkey")
    )


@query(
    "join_skew_aqe",
    # Aggregate fully value-oracled; skew_split / smj are engine-level
    # plan invariants shipped as constant-1 columns (join_bucketed's
    # pattern): if AQE ever stops splitting the hot partition, the
    # Spark side emits 0 and the driver hash goes red loudly.
    oracle="""
        WITH fact AS (
            SELECT CASE WHEN l_orderkey % 10 < 8
                        THEN 1 ELSE l_orderkey END AS k,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS rev
            FROM lineitem
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT)  AS n_lines,
               CAST(sum(rev) AS BIGINT)  AS rev_cents,
               CAST(1 AS BIGINT)         AS skew_split,
               CAST(1 AS BIGINT)         AS smj
        FROM fact
        JOIN orders ON k = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    phase="P3",
    tags=("join", "skew", "aqe"),
)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join mitigation, driver-visible: a fact side
    with a deterministic hot key (80% of lineitem collapses onto
    key 1) sort-merge-joins the orders dim, and ADAPTIVE execution —
    not any hand-rolled salt — splits the hot partition from runtime
    map-output statistics (`SortMergeJoin(skew=true)` +
    `AQEShuffleRead ... skewed` in the final plan). The manual
    counterpart is join_skew_salted (joins.py:442): same data shape,
    explicit salting; THIS query proves the engine-native path the
    100 TB posture docs lean on ("hot keys are ordinary AQE work").

    Scoped session confs (restored in ``finally``; serial-execution
    contract, registry rule 4): the skew threshold/advisory sizes
    scale DOWN to the fixture's ~100 KB hot partition (defaults are
    256 MB — at production scale the DEFAULTS fire on genuinely large
    hot partitions with no force flag), plus forceOptimizeSkewedJoin
    because the demo's extra-shuffle guard would otherwise veto the
    split, and broadcast disabled so the tiny dim doesn't sidestep
    the SMJ path under test. AQE itself is scoped on, and the join
    to 8 shuffle partitions: a partition is skewed only against the
    median of its siblings, so at one partition the hot key is never
    split and ``skew_split`` would read 0. The fact side spreads to 16
    map tasks first so the hot partition spans multiple map outputs — AQE
    splits along map boundaries (single-file inputs at small SF
    would otherwise leave nothing to split). The spread keys on
    pmod(xxhash64(raw orderkey), 320) rather than round-robin (r13):
    a keyless repartition(n) pays a per-task sort of its input
    (spark.sql.execution.sortBeforeRepartition, guide §2.5) so
    retried tasks reproduce their row-to-partition assignment; a
    deterministic hash key needs no sort, spreads the hot rows
    identically (their RAW orderkeys are distinct), and is
    retry-safe by construction. 20x partition count on the synthetic
    key avoids the few-distinct-values collision skew (guide §2.5).

    The 5-group aggregate is collected once to finalize the adaptive
    plan and read the flags; re-emission via createDataFrame keeps
    one execution per call. Money quantized to cents per line before
    the sum (quantize-then-sum)."""
    f = load(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 8, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        cents(F.col("l_extendedprice")).alias("rev"),
        F.pmod(F.xxhash64(F.col("l_orderkey")), F.lit(320)).alias(
            "spread"
        ),
    )
    dim = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    scoped = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": (
            "4k"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "8",
    }
    with scoped_conf(spark, scoped):
        agg = (
            f.repartition(16, "spread")
            .drop("spread")
            .join(dim, "k")
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                F.sum("rev").cast("bigint").alias("rev_cents"),
            )
        )
        rows = agg.collect()  # driver-scalar: 5 priority groups + flags
        plan = agg._jdf.queryExecution().executedPlan().toString()
        skew_split = "skew=true" in plan
        smj = "SortMergeJoin" in plan
    out = spark.createDataFrame(
        rows, "o_orderpriority string, n_lines long, rev_cents long"
    )
    return out.select(
        "o_orderpriority",
        "n_lines",
        "rev_cents",
        F.lit(int(skew_split)).cast("bigint").alias("skew_split"),
        F.lit(int(smj)).cast("bigint").alias("smj"),
    ).orderBy("o_orderpriority")


ASOF_TOLERANCE_DAYS = 3  # max staleness an as-of match may carry


@query(
    "join_asof_tolerance",
    oracle=f"""
        WITH matched AS (
            SELECT o_orderkey, o_custkey, cutoff, event_id, ts
            FROM (
                SELECT o.o_orderkey, o.o_custkey,
                       TIMESTAMP '2024-01-15 00:00:00'
                         + INTERVAL (o.o_orderkey % 14) DAY AS cutoff,
                       e.event_id, e.ts,
                       row_number() OVER (
                           PARTITION BY o.o_orderkey
                           ORDER BY e.ts DESC, e.event_id DESC) AS rn
                FROM orders o
                LEFT JOIN events e
                  ON e.user_id = o.o_custkey % 150
                 AND e.ts <= TIMESTAMP '2024-01-15 00:00:00'
                       + INTERVAL (o.o_orderkey % 14) DAY
            ) WHERE rn = 1
        )
        SELECT o_orderkey, o_custkey,
               CASE WHEN ts IS NULL THEN 'no_history'
                    WHEN epoch_us(cutoff) - epoch_us(CAST(ts AS
                         TIMESTAMP)) > {ASOF_TOLERANCE_DAYS}
                         * 86400000000 THEN 'stale_dropped'
                    ELSE 'matched' END AS status,
               CASE WHEN ts IS NOT NULL AND epoch_us(cutoff)
                         - epoch_us(CAST(ts AS TIMESTAMP))
                         <= {ASOF_TOLERANCE_DAYS} * 86400000000
                    THEN event_id END AS last_event_id,
               CASE WHEN ts IS NOT NULL AND epoch_us(cutoff)
                         - epoch_us(CAST(ts AS TIMESTAMP))
                         <= {ASOF_TOLERANCE_DAYS} * 86400000000
                    THEN CAST((epoch_us(cutoff) - epoch_us(CAST(ts AS
                         TIMESTAMP))) // 1000000 AS BIGINT)
               END AS staleness_sec
        FROM matched
        ORDER BY o_orderkey
    """,
    phase="P3",
    tags=("join", "asof", "tolerance"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas merge_asof's
    ``tolerance=`` semantics, which join_asof lacks): the latest event
    at-or-before each order's cutoff COUNTS only if it is at most 3
    days old — older state is worse than no state in feature
    pipelines (a point-in-time feature built from a week-old snapshot
    silently trains on a different regime). Every order ships with a
    disposition: 'matched' (+ event id and its staleness), or
    'stale_dropped' / 'no_history' with NULL features — the explicit
    null-feature accounting a training pipeline audits.

    Exactness: the staleness test is integer microsecond arithmetic;
    cutoffs derive deterministically from o_orderkey (same convention
    as join_asof); the tie-broken latest pick matches the oracle's
    window ordering.

    Plan: reuses join_asof's scalable shape — the event side
    pre-reduces to ONE row per (key, day bucket) (map-side
    combinable), a running max over each key's tiny bucket list, and
    an equi-join on (key, cutoff); the tolerance is a POST-match
    filter on the single surviving row, so it adds zero data-sized
    work. Orders with no key history LEFT-survive (the naive inner
    range join silently drops them)."""
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp") + (
        F.col("o_orderkey") % 14
    ).cast("int") * F.expr("INTERVAL 1 DAY")
    ords = o.select("o_orderkey", "o_custkey", cutoff.alias("cutoff"))

    bucket = F.date_trunc(
        "day", F.col("ts") - F.expr("INTERVAL 1 MICROSECOND")
    ) + F.expr("INTERVAL 1 DAY")
    per_bucket = (
        e.select("user_id", bucket.alias("bucket"), "ts", "event_id")
        .groupBy("user_id", "bucket")
        .agg(F.max(F.struct("ts", "event_id")).alias("top"))
    ).localCheckpoint(eager=False)
    # bucket-grain event rollup, referenced by the day grid AND the
    # dense left join — lazy checkpoint so the event scan + rollup
    # compiles once (r13 re-derivation sweep)
    days = (
        per_bucket.select("bucket")
        .union(ords.select(F.col("cutoff").alias("bucket")))
        .distinct()
    )
    users = e.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dense = grid.join(per_bucket, ["user_id", "bucket"], "left").select(
        "user_id", "bucket", F.max("top").over(w).alias("best")
    )
    joined = ords.join(
        dense,
        (ords.o_custkey % 150 == dense.user_id)
        & (ords.cutoff == dense.bucket),
        "left",
    )
    stale_us = F.unix_micros(F.col("cutoff")) - F.unix_micros(
        F.col("best.ts")
    )
    fence = F.lit(ASOF_TOLERANCE_DAYS * 86400000000)
    fresh = F.col("best").isNotNull() & (stale_us <= fence)
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("best").isNull(), "no_history")
        .when(stale_us > fence, "stale_dropped")
        .otherwise("matched")
        .alias("status"),
        F.when(fresh, F.col("best.event_id")).alias("last_event_id"),
        F.when(fresh, (stale_us / F.lit(1000000)).cast("bigint")).alias(
            "staleness_sec"
        ),
    ).orderBy("o_orderkey")
