"""Aggregation operators (SURVEY.md §2.4).

Every grouped aggregation here compiles to partial (map-side)
HashAggregate → shuffle on the group keys → final HashAggregate, which is
the shape that scales: the shuffle moves one row per (partition, group),
not one per input row. Group-by keys are low-cardinality fixture columns,
so at 100 TB the exchange is tiny regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import MICRO_SQL, cents, micro
from ..io import load
from ..registry import query


@query(
    "agg_group",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               avg(l_quantity) AS avg_qty,
               avg(l_extendedprice) AS avg_price,
               avg(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    phase="P1",
    tags=("agg", "flagship"),
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship query (entry())."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_global",
    oracle="""
        SELECT sum(l_quantity) AS total_qty,
               avg(l_extendedprice) AS avg_price,
               min(l_shipdate) AS first_ship,
               max(l_shipdate) AS last_ship,
               count(*) AS n_rows
        FROM lineitem
    """,
    phase="P1",
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate — single-row result, fully map-side partial."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum("l_quantity").alias("total_qty"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_distinct",
    oracle="""
        SELECT o_orderstatus,
               count(DISTINCT o_custkey) AS n_customers,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
    phase="P2",
    tags=("agg", "distinct"),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-stage aggregate."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_having",
    oracle="""
        SELECT o_custkey, sum(o_totalprice) AS spend, count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 5
    """,
    phase="P2",
    tags=("agg", "having"),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum("o_totalprice").alias("spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 5)
    )


@query(
    "agg_stats",
    oracle="""
        SELECT l_returnflag,
               stddev_samp(l_extendedprice) AS sd_price,
               var_samp(l_discount) AS var_disc,
               corr(l_extendedprice, l_quantity) AS corr_price_qty,
               covar_samp(l_extendedprice, l_discount) AS cov_price_disc
        FROM lineitem
        GROUP BY l_returnflag
    """,
    phase="P2",
    tags=("agg", "stats"),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — stddev/variance/corr/covar."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.stddev_samp("l_extendedprice").alias("sd_price"),
        F.var_samp("l_discount").alias("var_disc"),
        F.corr("l_extendedprice", "l_quantity").alias("corr_price_qty"),
        F.covar_samp("l_extendedprice", "l_discount").alias("cov_price_disc"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts_exact,
               TRUE                      AS within_tolerance
        FROM lineitem
        GROUP BY l_returnflag
    """,
    phase="P3",
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality estimate of l_partkey per returnflag.

    At 100 TB this replaces exact COUNT(DISTINCT) (whose shuffle carries
    every distinct key) with a constant-size sketch merged map-side.

    Verification surface: HLL estimates are engine-specific, so the raw
    estimate can never hash-match DuckDB. Instead the query emits the
    EXACT distinct count (both engines agree) plus a boolean asserting
    the sketch landed within 3×rsd of it — Spark's HLL is deterministic
    for fixed input (hash + max-merge), so the boolean is a stable TRUE
    and the whole row is hash-verifiable. The exact count alongside the
    sketch exists only for this check; production callers use the
    sketch alone.
    """
    li = load(spark, sf_dir, "lineitem")
    # Dedup to (flag, partkey) FIRST (plain rows, map-side combinable),
    # then count + sketch over the deduped keys: HLL is insensitive to
    # duplicates so the estimate is identical, while the naive
    # `agg(approx, count_distinct)` plan drags one ~4 KB sketch per
    # distinct KEY PAIR through the distinct-rewrite shuffle (measured
    # 1.5 s vs 0.4 s at sf0.1 — and sketch-per-key is exactly what HLL
    # exists to avoid).
    pairs = li.select("l_returnflag", "l_partkey").distinct()
    approx = F.approx_count_distinct("l_partkey", rsd=0.02)
    exact = F.count(F.lit(1))
    return pairs.groupBy("l_returnflag").agg(
        exact.alias("n_parts_exact"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(0.06) * exact.cast("double")
        ).alias("within_tolerance"),
    )


@query(
    "agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               count(*)        AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    phase="P3",
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (flag, status), (flag), () — null-filled
    grouping columns mark subtotal rows, matching ANSI ROLLUP."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_extendedprice) AS sum_price,
               count(*)             AS n_rows
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    phase="P3",
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations of (flag, status)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               grouping(l_returnflag)  AS g_flag,
               grouping(l_linestatus)  AS g_status
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    phase="P3",
    tags=("agg", "groupingsets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets with grouping() indicator columns
    (disambiguates 'null because subtotal' from 'null in data')."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
    )


@query(
    "agg_percentile",
    oracle="""
        SELECT o_orderstatus,
               quantile_cont(o_totalprice, 0.5) AS median_price,
               quantile_cont(o_totalprice, 0.9) AS p90_price,
               quantile_cont(o_totalprice, 0.99) AS p99_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    phase="P3",
    tags=("agg", "percentile"),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont: both linear interpolation).

    Scale note: exact percentile shuffles all values per group; at
    100 TB swap in approx_percentile (t-digest) — kept exact here
    because the oracle must hash-match.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99_price"),
    )


@query(
    "agg_collect",
    oracle="""
        SELECT o_custkey,
               array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
    """,
    phase="P3",
    tags=("agg", "collect"),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group array of order keys, numerically sorted then joined to one
    string. The array itself is the semantics (collect_list + sort_array);
    the string join exists because the driver's pandas canonicalizer can't
    hash list-typed cells (round-1 ``unhashable type: 'list'`` error) —
    a scalar column carries the same information for the compare."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"), ","
        ).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot",
    oracle=f"""
        SELECT user_id,
               {", ".join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in _EVENT_TYPES)}
        FROM events
        GROUP BY user_id
    """,
    phase="P3",
    tags=("agg", "pivot"),
)
def pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_type → columns of per-user counts.

    The pivot value list is explicit: Spark otherwise runs a distinct
    scan to discover values (an extra job), and stable output columns
    are required for the oracle compare anyway. Missing combinations
    are 0-filled to match SQL count(CASE ...).
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .fillna(0, subset=list(_EVENT_TYPES))
    )


@query(
    "agg_arg_max",
    oracle="""
        SELECT o_orderstatus,
               (max(struct_pack(p := o_totalprice, k := o_orderkey))).p
                   AS top_price,
               (max(struct_pack(p := o_totalprice, k := o_orderkey))).k
                   AS top_orderkey,
               (min(struct_pack(p := o_totalprice, k := o_orderkey))).k
                   AS bottom_orderkey
        FROM orders
        GROUP BY o_orderstatus
    """,
    phase="P2",
    tags=("agg", "argmax"),
)
def agg_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group arg-max/arg-min via struct ordering: max(struct(price,
    key)) compares lexicographically in both engines, so the key acts
    as a deterministic tiebreaker — plain max_by/arg_max is
    NONDETERMINISTIC under price ties (the fixtures do contain them)."""
    o = load(spark, sf_dir, "orders")
    s = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    return o.groupBy("o_orderstatus").agg(
        F.max(s)["p"].alias("top_price"),
        F.max(s)["k"].alias("top_orderkey"),
        F.min(s)["k"].alias("bottom_orderkey"),
    )


@query(
    "agg_string_agg",
    oracle="""
        SELECT c_nationkey,
               string_agg(c_name, ',' ORDER BY c_name) AS names
        FROM customer
        WHERE c_custkey <= 200
        GROUP BY c_nationkey
    """,
    phase="P2",
    tags=("agg", "listagg"),
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): collect_list carries NO
    ordering guarantee in a distributed shuffle, so the list is
    explicitly sorted before joining — the only hash-stable form."""
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") <= 200)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("c_name"))).alias("names")
        )
    )


@query(
    "agg_histogram",
    oracle="""
        SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
               count(*) AS n_orders,
               avg(o_totalprice) AS avg_price
        FROM orders
        GROUP BY 1
    """,
    phase="P2",
    tags=("agg", "histogram"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (width_bucket shape): bucketing is a
    scan-side expression, so the shuffle carries one row per bucket —
    the cheapest possible distribution profile of a 100 TB column."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg("o_totalprice").alias("avg_price"),
        )
    )


@query(
    "agg_approx_percentile",
    oracle="""
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, 0.5)  AS exact_p50,
               quantile_disc(l_extendedprice, 0.9)  AS exact_p90,
               quantile_disc(l_extendedprice, 0.99) AS exact_p99,
               CAST(1 AS BIGINT) AS sketch_ok
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    phase="P3",
    tags=("agg", "approx", "sketch"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch, accuracy
    10000): per-returnflag p50/p90/p99 of extended price. The sketch is
    map-side mergeable — at 100 TB each partition builds one bounded
    sketch and the shuffle carries sketches, not rows, unlike exact
    percentile which must see all values per group.

    Verification surface (the agg_approx_distinct pattern, upgraded
    from rows-only in r6): sketch values are engine-specific and can
    never hash-match DuckDB, so the query emits the EXACT discrete
    percentiles (data values — hash-exact cross-engine) plus one
    boolean asserting every sketch estimate landed within 2% of its
    exact twin. Spark's GK sketch is deterministic for fixed input, so
    sketch_ok is a stable 1 and the whole row value-hashes; the
    tighter rank-error bound stays pinned in pytest.

    Plan (reworked TWICE in r7 — was the slowest warm bench query at
    3.4 s): the three exact twins previously ran as three independent
    ``percentile_disc`` aggregates, each buffering the full per-group
    value set; an intermediate rework shared one row_number window,
    but a window partitioned by a 3-value group key runs THREE tasks
    no matter the cluster — a genuine 100 TB defect. The final shape
    is two-phase distributed selection (the textbook algorithm):
    (1) ONE combinable histogram aggregate counts rows per (group,
    price-bucket) — fully parallel, output is buckets not rows;
    (2) cumulative counts over the TINY bucket relation locate, for
    each target rank ceil(q*n), the bucket containing it and the rank
    within it; (3) a broadcast semi-filter re-scans only the ~9
    candidate buckets' rows (a few dozen each) and a row_number over
    that sliver picks the exact value. Selecting the k-th smallest by
    rank returns percentile_disc's pick even under ties (tied rows
    share the selected VALUE), and equal prices always share a bucket
    (floor(price/W) is monotonic). 1.5 s → 0.8 s under bench
    conditions, every stage parallel at any scale; oracle unchanged.
    """
    li = load(spark, sf_dir, "lineitem")
    qs = [(50, 0.5), (90, 0.9), (99, 0.99)]
    bucket_w = 32.0  # ~3.4k buckets over the price domain
    vals = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.floor(F.col("l_extendedprice") / F.lit(bucket_w))
        .cast("bigint")
        .alias("bkt"),
    )
    hist = vals.groupBy("l_returnflag", "bkt").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy("bkt")
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "bkt",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    selectors = None
    for p, q in qs:
        r = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        s = cum.where(
            (F.col("cum") >= r) & (F.col("cum") - F.col("c") < r)
        ).select(
            "l_returnflag",
            "bkt",
            (r - (F.col("cum") - F.col("c"))).alias("within_rank"),
            F.lit(p).alias("pq"),
        )
        selectors = s if selectors is None else selectors.unionAll(s)
    cand = vals.join(F.broadcast(selectors), ["l_returnflag", "bkt"])
    w_pick = Window.partitionBy("l_returnflag", "pq").orderBy(
        "l_extendedprice"
    )
    picked = cand.withColumn("rn", F.row_number().over(w_pick)).where(
        F.col("rn") == F.col("within_rank")
    )
    exact = picked.groupBy("l_returnflag").agg(
        *[
            F.min(
                F.when(F.col("pq") == p, F.col("l_extendedprice"))
            ).alias(f"exact_p{p}")
            for p, _ in qs
        ]
    )
    sketch = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [q for _, q in qs], 10000)
        .alias("pcts")
    )
    both = exact.join(F.broadcast(sketch), "l_returnflag")
    ok = None
    for i, (p, _) in enumerate(qs, 1):
        cond = (
            F.abs(F.element_at("pcts", i) - F.col(f"exact_p{p}"))
            <= F.lit(0.02) * F.col(f"exact_p{p}")
        )
        ok = cond if ok is None else (ok & cond)
    return both.select(
        "l_returnflag",
        "exact_p50",
        "exact_p90",
        "exact_p99",
        ok.cast("bigint").alias("sketch_ok"),
    ).orderBy("l_returnflag")


@query(
    "agg_mode",
    oracle="""
        WITH counts AS (
            SELECT c_mktsegment, o_orderpriority, count(*) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority
        )
        SELECT c_mktsegment,
               max(struct_pack(n := n, neg := 0 - ord(o_orderpriority),
                               v := o_orderpriority)).v AS mode_priority,
               max(n) AS mode_count
        FROM counts
        GROUP BY c_mktsegment
    """,
    phase="P3",
    tags=("agg", "mode"),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment modal order priority with a DETERMINISTIC tie-break
    (lexicographically smallest value wins among equal counts — encoded
    as max over (count, -ord(first char), value) on both engines,
    because neither engine's native mode() defines tie order). Two
    map-side-combinable aggregates; no window, no sort."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pick = F.struct(
        F.col("n").alias("n"),
        (F.lit(0) - F.ascii("o_orderpriority")).alias("neg"),
        F.col("o_orderpriority").alias("v"),
    )
    return counts.groupBy("c_mktsegment").agg(
        F.max(pick).getField("v").alias("mode_priority"),
        F.max("n").alias("mode_count"),
    )


@query(
    "agg_percentile_disc",
    oracle="""
        SELECT o_orderpriority,
               quantile_disc(o_totalprice, 0.5)  AS p50_disc,
               quantile_disc(o_totalprice, 0.9)  AS p90_disc,
               quantile_disc(o_totalprice, 0.99) AS p99_disc
        FROM orders
        GROUP BY o_orderpriority
    """,
    phase="P3",
    tags=("agg", "percentile"),
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles per group: the returned value is an actual
    data point, never interpolated — no float synthesis, so the oracle
    compare is exact by construction (unlike continuous percentile,
    where both engines must share interpolation semantics)."""
    li = load(spark, sf_dir, "orders")
    return li.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p50_disc"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p90_disc"),
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p99_disc"),
    )


@query(
    "agg_regression",
    oracle="""
        SELECT l_returnflag,
               regr_slope(l_extendedprice, l_quantity)     AS price_per_qty,
               regr_intercept(l_extendedprice, l_quantity) AS base_price,
               regr_r2(l_extendedprice, l_quantity)        AS fit_r2,
               regr_count(l_extendedprice, l_quantity)     AS n_pairs
        FROM lineitem
        GROUP BY l_returnflag
    """,
    phase="P3",
    tags=("agg", "stats", "regression"),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares aggregates (slope / intercept /
    R² / pair count) — in-database model fitting without leaving the
    aggregate: all four are single-pass combinable moments, so the
    shuffle carries one moment tuple per group at any scale."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("regr_slope(l_extendedprice, l_quantity)").alias("price_per_qty"),
        F.expr("regr_intercept(l_extendedprice, l_quantity)").alias("base_price"),
        F.expr("regr_r2(l_extendedprice, l_quantity)").alias("fit_r2"),
        F.expr("regr_count(l_extendedprice, l_quantity)").alias("n_pairs"),
    )


@query(
    "hist_equidepth",
    oracle="""
        WITH ranked AS (
            SELECT o_totalprice,
                   ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                       AS decile
            FROM orders
        )
        SELECT decile,
               count(*) AS n,
               min(o_totalprice) AS lo,
               max(o_totalprice) AS hi,
               avg(o_totalprice) AS mean_price
        FROM ranked
        GROUP BY decile
        ORDER BY decile
    """,
    phase="P3",
    tags=("agg", "histogram"),
)
def hist_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order values: ntile over a
    deterministic total order (orderkey tiebreak makes boundary
    assignment identical across engines), then per-bucket stats.
    The global ntile sorts once; at 100 TB compute the 9 boundaries
    with approxQuantile and bucket by range comparison instead —
    same output schema, no total sort (noted, not needed at bench SF)."""
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.avg("o_totalprice").alias("mean_price"),
        )
        .orderBy("decile")
    )


@query(
    "pivot_dynamic",
    oracle="""
        SELECT c_mktsegment,
               count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
                   AS "1-URGENT",
               count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END)
                   AS "2-HIGH",
               count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END)
                   AS "3-MEDIUM",
               count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END)
                   AS "4-NOT SPECIFIED",
               count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END)
                   AS "5-LOW"
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    phase="P3",
    tags=("agg", "pivot"),
)
def pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot — the value list is discovered at plan time, not
    hard-coded: ``pivot(col)`` without a value list makes Spark run a
    bounded distinct job on the pivot column first (capped by
    spark.sql.pivotMaxValues, default 10k), then compile the same
    conditional-count plan the static form gets. This is the correct
    at-scale pattern when the category set isn't known upfront; the
    companion static `pivot` query documents the explicit-list form.
    Output columns sort lexicographically either way, so the contract
    is stable as long as the data's category set is."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority")
        .count()
        .fillna(0)
        .orderBy("c_mktsegment")
    )


@query(
    "agg_weighted_avg",
    oracle="""
        SELECT l_returnflag,
               sum(l_extendedprice * l_quantity) / sum(l_quantity)
                   AS wavg_price,
               sum(l_quantity) AS total_weight
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    phase="P3",
    tags=("agg", "weighted"),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per returnflag — the weighted
    mean as two combinable sums (never avg-of-avgs), one map-side
    partial aggregate regardless of scale."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity")
            ).alias("wavg_price"),
            F.sum("l_quantity").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_heavy_hitters",
    oracle="""
        WITH n AS (SELECT count(*) AS total FROM lineitem),
        cnt AS (
            SELECT l_suppkey, count(*) AS hits
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT l_suppkey,
               CAST(hits AS BIGINT) AS hits,
               CAST(floor(CAST(hits AS DOUBLE) / n.total * 1000000.0 + 0.5)
                    AS BIGINT) AS share_micro
        FROM cnt CROSS JOIN n
        WHERE hits * 200 >= n.total
        ORDER BY hits DESC, l_suppkey
    """,
    phase="P3",
    tags=("agg", "heavy-hitters"),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: keys holding >= 0.5% of all lineitem rows, with
    their global share. The frequency-threshold form (not top-k): the
    output is defined by the data, the way a skew detector or a
    hot-key-mitigation pass consumes it.

    Plan: one partial->final count per key (the map-side combine means
    the exchange carries one row per (partition, key), so at 100 TB
    the shuffle is bounded by cardinality x partitions, not input
    rows); the total is a single-row broadcast; the share threshold is
    integer arithmetic (hits * 200 >= total) — no float compare at the
    cut, so the result set is bit-deterministic on both engines. The
    share itself ships micro-quantized. This exact plan doubles as the
    skew-prep pass: its output is the hot-key list join_skew_salted
    would salt."""
    li = load(spark, sf_dir, "lineitem")
    total = li.agg(F.count(F.lit(1)).alias("total"))
    cnt = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("hits"))
    return (
        cnt.crossJoin(F.broadcast(total))
        .filter(F.col("hits") * 200 >= F.col("total"))
        .select(
            "l_suppkey",
            F.col("hits").cast("bigint").alias("hits"),
            micro(F.col("hits").cast("double") / F.col("total"))
            .alias("share_micro"),
        )
        .orderBy(F.desc("hits"), F.asc("l_suppkey"))
    )


# Count-Min sketch geometry for agg_count_min: d=4 hash rows x w=256
# buckets (1024 cells total). Error bound: est - true <= 2N/w with
# probability 1 - (1/2)^4 over the md5-derived hashes; the query SHIPS
# the overcount per key so the bound is directly visible against the
# exact twin. Both constants are spelled in the oracle verbatim.
_CMS_ROWS = 4
_CMS_WIDTH = 256


@query(
    "agg_count_min",
    oracle="""
        WITH digests AS (
            SELECT o_custkey AS custkey,
                   md5(CAST(o_custkey AS VARCHAR)) AS h
            FROM orders
        ),
        hashed AS (
            SELECT custkey, j.j,
                   CAST('0x' || substr(h, 1 + 8 * j.j, 8)
                     AS BIGINT) % 256 AS bucket
            FROM digests, (SELECT unnest(range(4)) AS j) j
        ),
        cells AS (
            SELECT j, bucket, count(*) AS cell_cnt
            FROM hashed GROUP BY j, bucket
        ),
        exact AS (
            SELECT o_custkey AS custkey, count(*) AS exact_cnt
            FROM orders GROUP BY o_custkey
        ),
        est AS (
            SELECT h.custkey, min(c.cell_cnt) AS cms_cnt
            FROM (SELECT DISTINCT custkey, j, bucket FROM hashed) h
            JOIN cells c ON h.j = c.j AND h.bucket = c.bucket
            GROUP BY h.custkey
        )
        SELECT e.custkey, e.exact_cnt, s.cms_cnt,
               s.cms_cnt - e.exact_cnt AS overcount
        FROM exact e JOIN est s ON e.custkey = s.custkey
    """,
    phase="P3",
    tags=("agg", "sketch", "count-min"),
)
def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation over order counts per
    customer, reported per key NEXT TO the exact count so the sketch's
    one-sided error (cms_cnt >= exact_cnt, within 2N/w w.h.p.) is
    hash-verified — the mergeable-sketch pattern behind heavy-hitter
    monitoring when the key space no longer fits an exact groupBy.

    Scale shape: the sketch build is a map-side expression fan-out
    (d=4 rows per input) into a groupBy with AT MOST d*w = 1024 output
    cells — combinable partials, so at 100 TB each executor ships 1024
    integers regardless of input size; sketches merge by cell-wise sum,
    which IS what Spark's partial aggregation does here. The estimate
    probe joins the (tiny, broadcast) cell table. The exact twin keyed
    on custkey is the expensive path the sketch replaces — kept in the
    query so the oracle can check both together; in production you'd
    ship only the 1024 cells."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )

    # ONE md5 per input row: the 32-hex digest supplies all four hash
    # functions as disjoint 8-char windows (the Poisson-bootstrap
    # "four uniforms per digest" trick) — hashing is the map-side cost
    # that scales with data, and this quarters it vs md5(j || key).
    digest = F.md5(F.col("custkey").cast("string").cast("binary"))

    def bucket() -> F.Column:
        return (
            F.conv(F.expr("substring(h, 1 + 8 * j, 8)"), 16, 10).cast(
                "bigint"
            )
            % _CMS_WIDTH
        ).alias("bucket")

    fan_j = F.explode(
        F.sequence(F.lit(0), F.lit(_CMS_ROWS - 1))
    ).alias("j")
    cells = (
        o.select("custkey", digest.alias("h"))
        .select("custkey", "h", fan_j)
        .select("custkey", "j", bucket())
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_cnt"))
    )
    exact = o.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    ).localCheckpoint(eager=False)
    # key-grain exact counts are referenced by the output AND the probe
    # fan-out below — lazy checkpoint so the distinct-key aggregation
    # compiles once (r13 re-derivation sweep)
    # Probe positions fan out from the ALREADY-DISTINCT key relation
    # (cardinality = keys, not rows): hashing every input row twice and
    # distinct-ing d*rows pairs would add a full-size shuffle for the
    # same result.
    est = (
        exact.select("custkey", digest.alias("h"))
        .select("custkey", "h", fan_j)
        .select("custkey", "j", bucket())
        .join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("custkey")
        .agg(F.min("cell_cnt").alias("cms_cnt"))
    )
    return exact.join(est, "custkey").select(
        "custkey",
        "exact_cnt",
        "cms_cnt",
        (F.col("cms_cnt") - F.col("exact_cnt")).alias("overcount"),
    )


# Manual HyperLogLog geometry for agg_hll_manual: m=64 registers
# (bucket = first md5 hex pair mod 64), rank = leading-zero bits of the
# next 13 hex chars (52 bits) + 1, capped at 53. The register sum
# Sigma 2^-rank ships as the INTEGER Sigma 2^(53-rank) (exact BIGINT —
# a float sum of wildly different power-of-two magnitudes would round
# order-dependently), and the bias constant folds from the same literal
# expression 0.7213/(1 + 1.079/64) on both engines.
_HLL_M = 64
_HLL_RANK_SQL = """
    CASE WHEN length(regexp_extract(rest, '^(0*)', 1)) >= 13 THEN 53
         ELSE 4 * length(regexp_extract(rest, '^(0*)', 1))
              + CASE substr(rest,
                            length(regexp_extract(rest, '^(0*)', 1)) + 1, 1)
                    WHEN '1' THEN 3
                    WHEN '2' THEN 2 WHEN '3' THEN 2
                    WHEN '4' THEN 1 WHEN '5' THEN 1
                    WHEN '6' THEN 1 WHEN '7' THEN 1
                    ELSE 0 END
              + 1 END
"""


@query(
    "agg_hll_manual",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT l_returnflag AS flag, l_partkey AS key
            FROM lineitem
        ),
        hashed AS (
            SELECT flag,
                   CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 2)
                        AS BIGINT) % 64 AS bucket,
                   substr(md5(CAST(key AS VARCHAR)), 3, 13) AS rest
            FROM pairs
        ),
        ranked AS (
            SELECT flag, bucket, ({_HLL_RANK_SQL}) AS rank FROM hashed
        ),
        registers AS (
            SELECT flag, bucket, max(rank) AS reg
            FROM ranked GROUP BY flag, bucket
        ),
        sums AS (
            SELECT flag,
                   CAST(sum(CAST(power(2.0, 53 - reg) AS BIGINT))
                        AS BIGINT)
                     + (64 - count(*)) * 9007199254740992 AS z_scaled
            FROM registers GROUP BY flag
        ),
        exact AS (
            SELECT flag, count(*) AS exact_distinct
            FROM pairs GROUP BY flag
        )
        SELECT e.flag, e.exact_distinct,
               CAST(floor(0.7213 / (1.0 + 1.079 / 64.0) * 4096.0
                          * 9007199254740992.0 / s.z_scaled * 1000000.0
                          + 0.5) AS BIGINT) AS hll_est_micro
        FROM exact e JOIN sums s ON e.flag = s.flag
    """,
    phase="P3",
    tags=("agg", "sketch", "hll"),
)
def agg_hll_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog (m=64) distinct-part estimate per return
    flag, hash-verified against DuckDB REGISTER BY REGISTER — the thing
    `agg_approx_distinct` (Spark's opaque HLL, rows-only) cannot be.
    Emitting exact and estimate together makes the ~13% rsd of 64
    registers visible in the driver record.

    Scale shape: identical to any HLL implementation worth having —
    a (flag, bucket) groupBy whose output is AT MOST groups x 64 rows
    with combinable max partials (registers merge by max: executors
    ship 64 small ints per group regardless of input), then a
    groups-sized final agg. Register max depends only on the KEY, so
    md5 + rank run over the DISTINCT (flag, key) pairs, not every row
    (the agg_hll_merge lesson — ~30× less hash work, identical
    registers), and the SAME deduped relation yields the exact
    distinct count as a plain count(*) — the separate
    count(DISTINCT) branch disappears."""
    li = load(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_returnflag").alias("flag"), F.col("l_partkey").alias("key")
    ).distinct()
    h = F.md5(F.col("key").cast("string").cast("binary"))
    hashed = pairs.select(
        "flag",
        (F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint") % _HLL_M).alias(
            "bucket"
        ),
        F.substring(h, 3, 13).alias("rest"),
    )
    ranked = hashed.select(
        "flag", "bucket", F.expr(_HLL_RANK_SQL).alias("rank")
    )
    registers = ranked.groupBy("flag", "bucket").agg(
        F.max("rank").alias("reg")
    )
    sums = registers.groupBy("flag").agg(
        (
            F.sum(F.pow(F.lit(2.0), 53 - F.col("reg")).cast("bigint"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(9007199254740992)
        ).alias("z_scaled")
    )
    exact = pairs.groupBy("flag").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    est = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(64.0))
        * F.lit(4096.0)
        * F.lit(9007199254740992.0)
        / F.col("z_scaled")
    )
    return exact.join(sums, "flag").select(
        "flag",
        "exact_distinct",
        micro(est).alias("hll_est_micro"),
    )


@query(
    "agg_bitmap_presence",
    oracle="""
        SELECT o_custkey,
               CAST(bit_or(CAST(1 AS BIGINT)
                           << ((year(o_orderdate) - 1992) * 12
                               + month(o_orderdate) - 1))
                    AS BIGINT) AS months_bitmap,
               CAST(bit_count(bit_or(CAST(1 AS BIGINT)
                           << ((year(o_orderdate) - 1992) * 12
                               + month(o_orderdate) - 1)))
                    AS BIGINT) AS n_active_months,
               count(*) AS n_orders
        FROM orders
        WHERE year(o_orderdate) BETWEEN 1992 AND 1996
        GROUP BY o_custkey
    """,
    phase="P3",
    tags=("agg", "bitmap", "presence"),
)
def agg_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap presence aggregation: each customer's active months over
    1992-1996 packed into ONE 60-bit bitmask via bit_or(1 << month_idx),
    with popcount distinct-months — the bitmap-index/presence-mask
    technique warehouses use to turn "which periods was X active in"
    from a (key, period) pair explosion into a single integer per key.

    Scale shape: bit_or is a combinable partial aggregate, so each
    executor ships ONE int64 per key — the cheapest possible distinct-
    period representation (compare count(DISTINCT month): a two-stage
    expanded aggregate). Set algebra downstream (AND/OR of user
    cohorts' masks) stays integer-only. Both engines compute identical
    two's-complement BIGINT shifts; the window is capped at 60 bits so
    the sign bit never participates."""
    o = load(spark, sf_dir, "orders").filter(
        (F.year("o_orderdate") >= 1992) & (F.year("o_orderdate") <= 1996)
    )
    # F.shiftleft only takes a literal shift count — the SQL form
    # accepts a column expression
    mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), "
        "CAST((year(o_orderdate) - 1992) * 12 "
        "+ month(o_orderdate) - 1 AS INT))"
    )
    return o.groupBy("o_custkey").agg(
        F.bit_or(mask).alias("months_bitmap"),
        F.bit_count(F.bit_or(mask)).cast("bigint").alias("n_active_months"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- pairwise correlation matrix -----------------------------------------

# (name, integer-quantized expression) per measure. Quantization makes
# every first/second moment an exact BIGINT so the final Pearson ratio
# is the same IEEE double expression over identical operands on both
# engines (the ts_autocorr house pattern) — engine-native corr() uses
# different one-pass update rules and is NOT cross-engine stable.
# Bounds: price ≤ 105_000 units → Σx² ≤ 1.1e10·rows, inside int64 up to
# ~10^8 rows; beyond that, re-scale the quantization grid. The bound is
# ENFORCED at runtime (assert_true on n inside the plan — review-
# flagged): past it Spark's BIGINT sums would wrap silently while
# DuckDB promotes to HUGEINT, surfacing as an undiagnosable cross-
# engine hash divergence instead of an error.
_CORR_MAX_ROWS = 100_000_000
_CORR_MEASURES = (
    ("quantity", "CAST(l_quantity AS BIGINT)"),
    ("extendedprice", "CAST(floor(l_extendedprice + 0.5) AS BIGINT)"),
    ("discount", "CAST(floor(l_discount * 1000000.0 + 0.5) AS BIGINT)"),
    ("tax", "CAST(floor(l_tax * 1000000.0 + 0.5) AS BIGINT)"),
)
_CORR_PAIRS = [
    (_CORR_MEASURES[i][0], _CORR_MEASURES[j][0])
    for i in range(len(_CORR_MEASURES))
    for j in range(i + 1, len(_CORR_MEASURES))
]


def _pearson_sql(a: str, b: str) -> str:
    """Pearson corr from integer moment columns s_{a}, s2_{a}, sxy_…"""
    sxy = f"sxy_{a}_{b}"
    return (
        f"(CAST(n AS DOUBLE) * CAST({sxy} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        f" / (sqrt(CAST(n AS DOUBLE) * CAST(s2_{a} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        f" * sqrt(CAST(n AS DOUBLE) * CAST(s2_{b} AS DOUBLE)"
        f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
    )


_CORR_MOMENTS_SQL = ", ".join(
    [
        "CAST(count(*) AS BIGINT) AS n",
        *[
            f"CAST(sum({expr}) AS BIGINT) AS s_{nm}"
            for nm, expr in _CORR_MEASURES
        ],
        *[
            f"CAST(sum(({expr}) * ({expr})) AS BIGINT) AS s2_{nm}"
            for nm, expr in _CORR_MEASURES
        ],
        *[
            f"CAST(sum(({ea}) * ({eb})) AS BIGINT) AS sxy_{na}_{nb}"
            for i, (na, ea) in enumerate(_CORR_MEASURES)
            for nb, eb in [m for m in _CORR_MEASURES[i + 1 :]]
        ],
    ]
)


@query(
    "agg_corr_matrix",
    oracle=f"""
        WITH moments AS (SELECT {_CORR_MOMENTS_SQL} FROM lineitem)
        {" UNION ALL ".join(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n AS n_rows, "
            f"CAST(floor(({_pearson_sql(a, b)}) * 1000000.0 + 0.5) "
            f"AS BIGINT) AS corr_micro FROM moments"
            for a, b in _CORR_PAIRS
        )}
        ORDER BY col_a, col_b
    """,
    phase="P2",
    tags=("aggregate", "statistics", "correlation"),
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the four lineitem
    measures (quantity, extendedprice, discount, tax), long-form — the
    feature-redundancy screen run before model training or before
    choosing compression/sort columns.

    Scale shape: ONE full-table aggregate computes all 15 integer
    moments in a single map-side-combinable pass (count + 4 sums +
    4 sums of squares + 6 cross sums) — a 6-pair corr matrix costs
    exactly one scan and one single-row exchange, never 6 corr()
    passes. The 6-row long-form output is exploded from that single
    moment row, so post-agg work is O(1). Inputs are quantized to
    integer grids (units / micro) making every moment exact; see
    _CORR_MEASURES for the int64 headroom bound.
    """
    li = load(spark, sf_dir, "lineitem")
    moments = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(F.expr(expr)).cast("bigint").alias(f"s_{nm}")
            for nm, expr in _CORR_MEASURES
        ],
        *[
            F.sum(F.expr(f"({expr}) * ({expr})")).cast("bigint").alias(f"s2_{nm}")
            for nm, expr in _CORR_MEASURES
        ],
        *[
            F.sum(F.expr(f"({ea}) * ({eb})")).cast("bigint").alias(f"sxy_{na}_{nb}")
            for i, (na, ea) in enumerate(_CORR_MEASURES)
            for nb, eb in [m for m in _CORR_MEASURES[i + 1 :]]
        ],
    )
    return (
        moments.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(a).alias("col_a"),
                            F.lit(b).alias("col_b"),
                            # loud headroom guard: raise_error fires
                            # (instead of the moments wrapping silently)
                            # once n exceeds the int64 bound documented
                            # at _CORR_MEASURES. NOTE: the branches must
                            # DIFFER — if(cond, n, n) around assert_true
                            # gets SimplifyConditionals-folded to n and
                            # the check vanishes (caught by the paired
                            # unit test).
                            F.expr(
                                f"CASE WHEN n <= {_CORR_MAX_ROWS} THEN n"
                                " ELSE CAST(raise_error("
                                "'agg_corr_matrix: row count exceeds"
                                " the int64 moment headroom — re-scale"
                                " the quantization grid') AS BIGINT)"
                                " END"
                            ).alias("n_rows"),
                            micro(F.expr(_pearson_sql(a, b)))
                            .alias("corr_micro"),
                        )
                        for a, b in _CORR_PAIRS
                    ]
                )
            ).alias("p")
        )
        .select("p.col_a", "p.col_b", "p.n_rows", "p.corr_micro")
        .orderBy("col_a", "col_b")
    )


@query(
    "agg_hll_merge",
    oracle=f"""
        WITH shard_keys AS (
            SELECT DISTINCT l_linestatus AS shard, l_partkey AS key
            FROM lineitem
        ),
        hashed AS (
            SELECT shard,
                   CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 2)
                        AS BIGINT) % {_HLL_M} AS bucket,
                   substr(md5(CAST(key AS VARCHAR)), 3, 13) AS rest
            FROM shard_keys
        ),
        ranked AS (
            SELECT shard, bucket, ({_HLL_RANK_SQL}) AS rank FROM hashed
        ),
        shard_regs AS (
            SELECT shard, bucket, max(rank) AS reg
            FROM ranked GROUP BY shard, bucket
        ),
        merged AS (
            SELECT bucket, max(reg) AS reg FROM shard_regs GROUP BY bucket
        ),
        direct AS (
            SELECT bucket, max(rank) AS reg FROM ranked GROUP BY bucket
        ),
        agree AS (
            SELECT CAST(count(*) AS BIGINT) AS n_equal
            FROM merged m JOIN direct d
              ON m.bucket = d.bucket AND m.reg = d.reg
        ),
        est AS (
            SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(CAST(power(2.0, 53 - reg) AS BIGINT))
                        AS BIGINT)
                     + ({_HLL_M} - count(*)) * 9007199254740992 AS z_scaled
            FROM merged
        )
        SELECT e.n_buckets, a.n_equal,
               CAST(a.n_equal = e.n_buckets AS BIGINT) AS merge_lossless,
               CAST(floor(0.7213 / (1.0 + 1.079 / 64.0) * 4096.0
                          * 9007199254740992.0 / e.z_scaled * 1000000.0
                          + 0.5) AS BIGINT) AS hll_est_micro
        FROM est e CROSS JOIN agree a
    """,
    phase="P3",
    tags=("agg", "sketch", "hll", "merge"),
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog MERGEABILITY, proven register by register: build one
    64-register sketch per shard (l_linestatus partitions stand in for
    executor partials), merge shards by per-bucket max, and show the
    merged registers equal the registers a direct single pass produces
    — ``merge_lossless`` must be 1. This is THE property that makes a
    sketch usable at 100 TB: each executor ships 64 small ints, any
    union of partial sketches is exact sketch algebra (max is
    associative/commutative/idempotent), and pre-computed per-partition
    sketches can answer distinct-count queries without rescanning.

    Both lineages rank only the DISTINCT (shard, key) relation (see
    the inline note); the shard/direct registers are KB-sized
    aggregates of it, and the final comparison is a join of two 64-row
    relations. The merged estimate rides along so the driver record
    pins the full merge→estimate path, not just register equality.
    """
    li = load(spark, sf_dir, "lineitem")
    # Register max depends only on the KEY, so hash/rank the distinct
    # (shard, key) pairs, not every row: the expensive md5+rank runs
    # ~ndv times instead of ~row-count times (30× less at sf0.1 — this
    # was the slowest bench query before the rewrite), and the distinct
    # itself is a map-side-combinable shuffle of two narrow ints. The
    # direct branch's max over ranked (keys duplicated across shards)
    # equals the max over globally distinct keys — max is idempotent.
    shard_keys = li.select(
        F.col("l_linestatus").alias("shard"), F.col("l_partkey").alias("key")
    ).distinct()
    h = F.md5(F.col("key").cast("string").cast("binary"))
    ranked = (
        shard_keys.select(
            "shard",
            (
                F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint") % _HLL_M
            ).alias("bucket"),
            F.substring(h, 3, 13).alias("rest"),
        )
        .select("shard", "bucket", F.expr(_HLL_RANK_SQL).alias("rank"))
        # THREE subtrees read this relation in the final job (direct,
        # and merged twice via agree + est) — left lazy, the distinct +
        # md5 + rank pipeline re-executes 3x (r11 measurement: 1.8-2.4 s
        # -> 0.6-0.7 s warm at sf0.1 with the eager checkpoint)
        .localCheckpoint(eager=True)
    )
    shard_regs = ranked.groupBy("shard", "bucket").agg(
        F.max("rank").alias("reg")
    )
    merged = shard_regs.groupBy("bucket").agg(F.max("reg").alias("reg"))
    direct = ranked.groupBy("bucket").agg(F.max("rank").alias("reg"))
    agree = (
        merged.alias("m")
        .join(
            direct.alias("d"),
            (F.col("m.bucket") == F.col("d.bucket"))
            & (F.col("m.reg") == F.col("d.reg")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_equal"))
    )
    est = merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        (
            F.sum(F.pow(F.lit(2.0), 53 - F.col("reg")).cast("bigint"))
            + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(9007199254740992)
        ).alias("z_scaled"),
    )
    est_expr = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(64.0))
        * F.lit(4096.0)
        * F.lit(9007199254740992.0)
        / F.col("z_scaled")
    )
    return est.crossJoin(agree).select(
        "n_buckets",
        "n_equal",
        (F.col("n_equal") == F.col("n_buckets")).cast("bigint").alias(
            "merge_lossless"
        ),
        micro(est_expr).alias("hll_est_micro"),
    )


@query(
    "agg_gini",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents, o_custkey) AS i
            FROM per_cust
        ),
        moments AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS total,
                   CAST(sum(i * cents) AS BIGINT) AS weighted
            FROM ranked
        )
        SELECT n AS n_customers, total AS total_cents,
               CAST(floor(
                   (2.0 * CAST(weighted AS DOUBLE)
                    - (CAST(n AS DOUBLE) + 1.0) * CAST(total AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                   * 1000000.0 + 0.5) AS BIGINT) AS gini_micro
        FROM moments
    """,
    phase="P3",
    tags=("agg", "statistics", "inequality"),
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the single-number
    inequality metric behind `win_pareto_share`'s decile view (0 =
    every customer spends the same, →1 = one whale). Computed from the
    sorted-rank identity G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over
    integer cents, so both moments are exact BIGINTs and the one final
    ratio is the identical IEEE expression on both engines.

    Scale shape: the data-scale stage is the combinable per-customer
    agg (map-side partial sums); the rank runs over the REDUCED
    per-customer relation (one row per customer — at 100 TB of orders
    that is ~10⁶-10⁸ rows, a single sort Spark distributes with range
    partitioning; the Σi·x moment is order-dependent only through the
    rank, which the sort fixes deterministically with the custkey
    tiebreak). Σi·x stays in int64 up to ~10⁷ customers at fixture
    spend levels; beyond that re-scale cents to whole units.
    """
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("cents")
    )
    ranked = per_cust.select(
        "cents",
        F.row_number()
        .over(Window.orderBy(F.asc("cents"), F.asc("o_custkey")))
        .alias("i"),
    )
    moments = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("weighted"),
    )
    gini = (
        2.0 * F.col("weighted").cast("double")
        - (F.col("n").cast("double") + 1.0) * F.col("total").cast("double")
    ) / (F.col("n").cast("double") * F.col("total").cast("double"))
    return moments.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        micro(gini).alias("gini_micro"),
    )


_QGRID_FRACTIONS = (0.25, 0.5, 0.75, 0.9, 0.99)


@query(
    "agg_quantile_grid",
    oracle=f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               {", ".join(
                   f"quantile_disc(value, {q}) AS p{int(q * 100)}"
                   for q in _QGRID_FRACTIONS
               )}
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    phase="P2",
    tags=("agg", "quantile"),
)
def agg_quantile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full quantile grid (p25/p50/p75/p90/p99) per event type in ONE
    aggregation pass — the latency/SLA report shape, where computing
    each percentile as a separate query would re-sort the same data
    five times. DISCRETE percentiles return actual stored doubles (the
    anomaly_mad house rule), so every cell is hash-exact with no
    quantization.

    Scale: one sort-based agg per group; all five grid points share
    that single per-group sort. At 100 TB swap percentile_disc for
    approx_percentile(value, array(...)) — same single-pass shape, a
    mergeable KLL/GK sketch instead of the exact sort, which is the
    documented rows-only path of ``agg_approx_percentile``.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.expr(
                    f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)"
                ).alias(f"p{int(q * 100)}")
                for q in _QGRID_FRACTIONS
            ],
        )
        .orderBy("event_type")
    )


@query(
    "agg_filtered",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE l_discount > 0.05)
                    AS BIGINT) AS n_discounted,
               CAST(sum(CAST(l_quantity AS BIGINT))
                        FILTER (WHERE l_linestatus = 'F')
                    AS BIGINT) AS qty_finished,
               CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                             AS BIGINT))
                        FILTER (WHERE l_tax = 0)
                    AS BIGINT) AS taxfree_cents,
               CAST(count(DISTINCT l_suppkey)
                        FILTER (WHERE l_quantity >= 40)
                    AS BIGINT) AS bulk_suppliers
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    phase="P2",
    tags=("agg", "filter-clause"),
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI FILTER-clause aggregation — several differently-predicated
    aggregates computed in ONE grouped pass (the reporting shape that
    otherwise spawns N self-joined subqueries or a pivot): overall
    count, discounted count, finished-line quantity, tax-free revenue,
    and bulk-order supplier reach, each with its own WHERE.

    Spark has supported the FILTER clause in SQL expressions since 3.0,
    so the builder uses it verbatim via F.expr — one HashAggregate,
    map-side combinable, every conditional evaluated in the same scan
    (the distinct-count branch adds the usual expand, still one pass
    over the data). Money is quantized to cents per line BEFORE the
    sum (quantize-then-sum house rule)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("count(*)").alias("n_all"),
            F.expr(
                "count(*) FILTER (WHERE l_discount > 0.05)"
            ).alias("n_discounted"),
            F.expr(
                "sum(CAST(l_quantity AS BIGINT))"
                " FILTER (WHERE l_linestatus = 'F')"
            ).alias("qty_finished"),
            F.expr(
                "sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))"
                " FILTER (WHERE l_tax = 0)"
            ).alias("taxfree_cents"),
            F.expr(
                "count(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 40)"
            ).alias("bulk_suppliers"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_entropy_categorical",
    oracle=f"""
        WITH counts AS (
            SELECT c_mktsegment, o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority
        ), seg AS (
            SELECT c_mktsegment,
                   CAST(sum(n) AS BIGINT) AS n_orders,
                   CAST(count(*) AS BIGINT) AS n_categories,
                   sum(CAST(n AS DOUBLE)
                       * ln(CAST(n AS DOUBLE))) AS s_nlnn
            FROM counts GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, n_orders, n_categories,
               {MICRO_SQL.format(
                   x="(ln(CAST(n_orders AS DOUBLE))"
                     " - s_nlnn / CAST(n_orders AS DOUBLE))")}
                   AS entropy_micro,
               {MICRO_SQL.format(
                   x="ln(CAST(n_categories AS DOUBLE))")}
                   AS max_entropy_micro
        FROM seg
        ORDER BY c_mktsegment
    """,
    phase="P2",
    tags=("agg", "entropy", "profiling"),
)
def agg_entropy_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of a categorical distribution per group — the
    diversity/balance profile (is this segment's order-priority mix
    uniform or collapsed onto one value?) that complements
    text_entropy's char-level form at relational grain, with the
    uniform-mix ceiling ln(k) alongside for normalization.

    Algebra keeps it combinable: H = ln N − (Σ n·ln n)/N needs only
    per-category counts, so the plan is two stacked combinable
    aggregates (category grain → group grain) — no window, no second
    scan. The inner ln() terms sum per group (≤ 5 categories; double
    addition error ~1e-15 against the 1e-6 quantization grain — the
    text.py ln-sum rule)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    seg = counts.groupBy("c_mktsegment").agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum(
            F.col("n").cast("double") * F.log(F.col("n").cast("double"))
        ).alias("s_nlnn"),
    )
    h = F.log(F.col("n_orders").cast("double")) - F.col("s_nlnn") / F.col(
        "n_orders"
    ).cast("double")
    return seg.select(
        "c_mktsegment",
        "n_orders",
        "n_categories",
        micro(h).alias("entropy_micro"),
        micro(F.log(F.col("n_categories").cast("double"))).alias(
            "max_entropy_micro"
        ),
    ).orderBy("c_mktsegment")


# Welch t from exact integer moments, spelled manually so both engines
# run the identical IEEE expression (the ts_autocorr discipline).
_TT_M1 = "(CAST(s1 AS DOUBLE) / n1)"
_TT_M2 = "(CAST(s2 AS DOUBLE) / n2)"
_TT_V1 = (
    "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / n1) / (n1 - 1))"
)
_TT_V2 = (
    "((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / n2) / (n2 - 1))"
)
_TT_SE2 = f"({_TT_V1} / n1 + {_TT_V2} / n2)"
_TT_T = f"(({_TT_M1} - {_TT_M2}) / sqrt({_TT_SE2}))"
_TT_DF = (
    f"({_TT_SE2} * {_TT_SE2} / "
    f"({_TT_V1} * {_TT_V1} / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))"
    f" + {_TT_V2} * {_TT_V2} / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))))"
)


@query(
    "agg_welch_ttest",
    oracle=f"""
        WITH vals AS (
            SELECT o_orderpriority,
                   CAST(floor(o_totalprice + 0.5) AS BIGINT) AS v
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ), m AS (
            SELECT
                CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                     AS BIGINT) AS n1,
                CAST(sum(v) FILTER (WHERE o_orderpriority = '1-URGENT')
                     AS BIGINT) AS s1,
                CAST(sum(v * v) FILTER (
                     WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                     AS q1,
                CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW')
                     AS BIGINT) AS n2,
                CAST(sum(v) FILTER (WHERE o_orderpriority = '5-LOW')
                     AS BIGINT) AS s2,
                CAST(sum(v * v) FILTER (
                     WHERE o_orderpriority = '5-LOW') AS BIGINT) AS q2
            FROM vals
        )
        SELECT n1, s1, q1, n2, s2, q2,
               CAST(floor({_TT_T} * 1000000.0 + 0.5) AS BIGINT)
                   AS t_micro,
               CAST(floor({_TT_DF} * 1000000.0 + 0.5) AS BIGINT)
                   AS df_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "hypothesis-test"),
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (A/B-testing
    workhorse) between urgent and low-priority order values: the t
    statistic and Welch–Satterthwaite degrees of freedom, both
    derived from SIX exact integer moments (n, Σv, Σv² per arm) that
    ship alongside so any consumer can recompute at full precision.

    ONE combinable FILTER-clause aggregate produces all six moments
    in a single pass (no per-arm scans); t and df are manually-
    spelled IEEE expressions over those exact BIGINTs — identical
    operand order on both engines (ts_autocorr's rule; engine-native
    var/stddev is banned because single-pass update rounding
    differs). Dollar-grade quantization bounds Σv² ≤ n·(6e5)²: int64-
    safe to ~2.5e7 rows per arm at this value range; rescale the
    quantization grain for bigger arms (documented, the
    agg_corr_matrix convention)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    v = F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("bigint")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    low = F.col("o_orderpriority") == "5-LOW"
    m = o.select(v.alias("v"), urgent.alias("u"), low.alias("l")).agg(
        F.count(F.when(F.col("u"), 1)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("u"), F.col("v"))).cast("bigint").alias("s1"),
        F.sum(F.when(F.col("u"), F.col("v") * F.col("v")))
        .cast("bigint")
        .alias("q1"),
        F.count(F.when(F.col("l"), 1)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("l"), F.col("v"))).cast("bigint").alias("s2"),
        F.sum(F.when(F.col("l"), F.col("v") * F.col("v")))
        .cast("bigint")
        .alias("q2"),
    )
    return m.select(
        "n1",
        "s1",
        "q1",
        "n2",
        "s2",
        "q2",
        micro(F.expr(_TT_T)).alias("t_micro"),
        micro(F.expr(_TT_DF)).alias("df_micro"),
    )


@query(
    "agg_chi2_independence",
    oracle="""
        WITH obs AS (
            SELECT c_mktsegment AS seg, o_orderpriority AS pri,
                   CAST(count(*) AS BIGINT) AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        ), tot AS (
            SELECT seg, pri, o,
                   CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT)
                       AS row_tot,
                   CAST(sum(o) OVER (PARTITION BY pri) AS BIGINT)
                       AS col_tot,
                   CAST(sum(o) OVER () AS BIGINT) AS n
            FROM obs
        ), cells AS (
            SELECT (CAST(o AS DOUBLE)
                    - CAST(row_tot AS DOUBLE) * col_tot / n)
                   * (CAST(o AS DOUBLE)
                      - CAST(row_tot AS DOUBLE) * col_tot / n)
                   / (CAST(row_tot AS DOUBLE) * col_tot / n)
                       AS contrib,
                   seg, pri
            FROM tot
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST((count(DISTINCT seg) - 1)
                    * (count(DISTINCT pri) - 1) AS BIGINT) AS dof,
               CAST(floor(sum(contrib) * 1000000.0 + 0.5) AS BIGINT)
                   AS chi2_micro
        FROM cells
    """,
    phase="P2",
    tags=("agg", "statistics", "hypothesis-test"),
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer segment and
    order priority — the categorical-association member of the
    statistics family (Welch t: means; KS: distributions; PSI: drift;
    Benford: digit law). Observed counts are exact integers; expected
    counts and cell contributions are identical IEEE expressions on
    both engines (row_tot·col_tot/n from exact BIGINTs), and the
    statistic sums 25 cell contributions — micro-quantized, with the
    cell count and degrees of freedom alongside.

    Plan: one joined combinable count to contingency grain (25
    rows), margins as window sums over that TINY relation (three
    partitionings of 25 rows — metadata scale), one final reduce.
    The data-sized stage is only the first aggregate; contingency
    grain is bounded by category-product, never rows."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    tot = obs.select(
        "seg",
        "pri",
        "o",
        F.sum("o").over(Window.partitionBy("seg")).cast("bigint").alias(
            "row_tot"
        ),
        F.sum("o").over(Window.partitionBy("pri")).cast("bigint").alias(
            "col_tot"
        ),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    exp = (
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    )
    contrib = (F.col("o").cast("double") - exp) * (
        F.col("o").cast("double") - exp
    ) / exp
    return tot.select("seg", "pri", contrib.alias("contrib")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (
            (F.countDistinct("seg") - 1) * (F.countDistinct("pri") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        micro(F.sum("contrib")).alias("chi2_micro"),
    )


# One-way ANOVA, spelled once over the exact integer moments
# (k, n_tot, s_tot, q_tot, cm_sum) — cm_sum is the quantize-then-summed
# Σ floor(s_g²/n_g·1e6+0.5), which makes the cross-group reduction
# order-free (the house rule; a float Σ s_g²/n_g would depend on which
# group combines first).
_ANOVA_G = "(CAST(s_tot AS DOUBLE) * s_tot / n_tot)"
_ANOVA_SSB = f"(CAST(cm_sum AS DOUBLE) / 1000000.0 - {_ANOVA_G})"
_ANOVA_SSW = "(CAST(q_tot AS DOUBLE) - CAST(cm_sum AS DOUBLE) / 1000000.0)"
_ANOVA_F = f"(({_ANOVA_SSB} / (k - 1)) / ({_ANOVA_SSW} / (n_tot - k)))"


@query(
    "agg_anova_oneway",
    oracle=f"""
        WITH vals AS (
            SELECT event_type,
                   CAST(floor(value + 0.5) AS BIGINT) AS v
            FROM events
        ), g AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT)   AS n_g,
                   CAST(sum(v) AS BIGINT)     AS s_g,
                   CAST(sum(v * v) AS BIGINT) AS q_g
            FROM vals GROUP BY event_type
        ), m AS (
            SELECT CAST(count(*) AS BIGINT)  AS k,
                   CAST(sum(n_g) AS BIGINT)  AS n_tot,
                   CAST(sum(s_g) AS BIGINT)  AS s_tot,
                   CAST(sum(q_g) AS BIGINT)  AS q_tot,
                   CAST(sum(CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g
                        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS cm_sum
            FROM g
        )
        SELECT k, n_tot, s_tot, q_tot, cm_sum,
               CAST(floor({_ANOVA_SSB} * 1000000.0 + 0.5) AS BIGINT)
                   AS ssb_micro,
               CAST(floor({_ANOVA_SSW} * 1000000.0 + 0.5) AS BIGINT)
                   AS ssw_micro,
               CAST(floor({_ANOVA_F} * 1000000.0 + 0.5) AS BIGINT)
                   AS f_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "hypothesis-test"),
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test across the five event-type arms — the
    k-group generalization of agg_welch_ttest ("do ANY of the arms
    differ?", the gate before pairwise testing).  F = (SSB/(k−1)) /
    (SSW/(N−k)) with SSB/SSW derived from per-group integer moments
    (n, Σv, Σv² at unit grain, the Welch quantization).

    Cross-engine exactness: each group's s²/n lands in the reduction
    micro-quantized (cm_sum is an integer sum — order-free), and the
    grand term S²/N plus the F ratio are ONE shared spelled IEEE
    expression over the five exact integers shipped in the output.
    Engine-native var/covar aggregates stay banned (streaming-update
    rounding differs).

    Plan: one combinable (event_type) aggregate, then a k-row reduce
    to a single row — two map-side-combined exchanges totalling k
    rows of traffic at any corpus size.  Int64 headroom: Σv² ≤
    n·(6e5)² safe to ~2.5e7 rows/arm at this value range, ssw_micro
    to ~1e9 total rows; re-scale the quantization grain past that
    (the agg_corr_matrix convention)."""
    e = load(spark, sf_dir, "events")
    vals = e.select(
        "event_type",
        F.floor(F.col("value") + F.lit(0.5)).cast("bigint").alias("v"),
    )
    g = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("v").cast("bigint").alias("s_g"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q_g"),
    )
    cm = micro(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"))
    m = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n_tot"),
        F.sum("s_g").cast("bigint").alias("s_tot"),
        F.sum("q_g").cast("bigint").alias("q_tot"),
        F.sum(cm).cast("bigint").alias("cm_sum"),
    )
    return m.select(
        "k",
        "n_tot",
        "s_tot",
        "q_tot",
        "cm_sum",
        micro(F.expr(_ANOVA_SSB)).alias("ssb_micro"),
        micro(F.expr(_ANOVA_SSW)).alias("ssw_micro"),
        micro(F.expr(_ANOVA_F)).alias("f_micro"),
    )


# Spearman rho = Pearson over tie-aware DOUBLED average ranks (ax =
# 2·cum − cnt + 1 at distinct-value grain keeps every rank an exact
# integer; doubling cancels in the correlation).  Shared spelling over
# the six exact BIGINT moments.
_SPEAR_RHO = (
    "((CAST(n AS DOUBLE) * sxy - CAST(sax AS DOUBLE) * say)"
    " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sax AS DOUBLE) * sax)"
    " * sqrt(CAST(n AS DOUBLE) * syy - CAST(say AS DOUBLE) * say)))"
)

# 4n³ must stay under 2^63 (Σ(2r)² ≤ n·(2n)²) → n ≤ ~1.31e6 rows.
_SPEAR_MAX_ROWS = 1_300_000


@query(
    "agg_spearman_corr",
    oracle=f"""
        WITH vals AS (
            SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM lineitem
        ), dx AS (
            SELECT x, CAST(2 * sum(count(*)) OVER (ORDER BY x
                        ROWS UNBOUNDED PRECEDING)
                        - count(*) + 1 AS BIGINT) AS ax
            FROM vals GROUP BY x
        ), dy AS (
            SELECT y, CAST(2 * sum(count(*)) OVER (ORDER BY y
                        ROWS UNBOUNDED PRECEDING)
                        - count(*) + 1 AS BIGINT) AS ay
            FROM vals GROUP BY y
        ), ranked AS (
            SELECT dx.ax AS ax, dy.ay AS ay
            FROM vals JOIN dx USING (x) JOIN dy USING (y)
        ), m AS (
            SELECT CAST(count(*) AS BIGINT)      AS n,
                   CAST(sum(ax) AS BIGINT)       AS sax,
                   CAST(sum(ay) AS BIGINT)       AS say,
                   CAST(sum(ax * ay) AS BIGINT)  AS sxy,
                   CAST(sum(ax * ax) AS BIGINT)  AS sxx,
                   CAST(sum(ay * ay) AS BIGINT)  AS syy
            FROM ranked
        )
        SELECT CASE WHEN n <= {_SPEAR_MAX_ROWS} THEN n
                    ELSE CAST(error('agg_spearman_corr: row count'
                         ' exceeds the int64 rank-moment headroom')
                         AS BIGINT) END AS n_rows,
               sax, say, sxy, sxx, syy,
               CAST(floor({_SPEAR_RHO} * 1000000.0 + 0.5) AS BIGINT)
                   AS rho_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "correlation"),
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order quantity and extended
    price — the monotone-association member of the statistics family
    (Pearson in agg_corr_matrix assumes linearity; Spearman survives
    any monotone transform and price outliers).  Tie-aware average
    ranks come from the eval_auc_rank doubling identity: at
    distinct-value grain, 2·avg_rank = 2·cum − cnt + 1 is an exact
    integer, and the ×2 scaling cancels inside the correlation.

    Plan: per variable, ONE combinable distinct-value aggregate plus
    one running window at that reduced grain (quantity has ~50
    distinct values — its rank table broadcasts; price ranks join
    back on the value key).  The six rank moments reduce in a single
    combinable pass; rho is one shared spelled IEEE expression over
    those exact BIGINTs, and the loud raise_error headroom guard
    fires past n = 1.3e6 rows (4n³ int64 bound) instead of letting
    moments wrap — at larger corpora, bucket the ranks (the
    score-bucketing swap in eval_auc_rank) before correlating."""
    li = load(spark, sf_dir, "lineitem")
    vals = li.select(
        F.floor(F.col("l_quantity") + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        cents(F.col("l_extendedprice")).alias("y"),
    )

    def doubled_ranks(col: str, alias: str) -> DataFrame:
        grp = vals.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return grp.select(
            col,
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1)
            .cast("bigint")
            .alias(alias),
        )

    ranked = vals.join(doubled_ranks("x", "ax"), "x").join(
        doubled_ranks("y", "ay"), "y"
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ax").cast("bigint").alias("sax"),
        F.sum("ay").cast("bigint").alias("say"),
        F.sum(F.col("ax") * F.col("ay")).cast("bigint").alias("sxy"),
        F.sum(F.col("ax") * F.col("ax")).cast("bigint").alias("sxx"),
        F.sum(F.col("ay") * F.col("ay")).cast("bigint").alias("syy"),
    )
    return m.select(
        # loud headroom guard (branches differ — see agg_corr_matrix)
        F.expr(
            f"CASE WHEN n <= {_SPEAR_MAX_ROWS} THEN n"
            " ELSE CAST(raise_error('agg_spearman_corr: row count"
            " exceeds the int64 rank-moment headroom') AS BIGINT)"
            " END"
        ).alias("n_rows"),
        "sax",
        "say",
        "sxy",
        "sxx",
        "syy",
        micro(F.expr(_SPEAR_RHO)).alias("rho_micro"),
    )


# Mutual-information cell/margin terms, each pico-quantized (1e12) the
# moment it is computed so every cross-cell reduction is an order-free
# integer sum (ln crosses libm: identical rational inputs differ by
# ≤1 ulp ~1e-16 relative, far inside the 1e-12 grain).
_MI_CELL = (
    "CAST(floor((CAST(o AS DOUBLE) / n)"
    " * ln(CAST(o AS DOUBLE) * n / (CAST(row_tot AS DOUBLE) * col_tot))"
    " * 1000000000000.0 + 0.5) AS BIGINT)"
)
_MI_HX = (
    "CAST(floor(-(CAST(row_tot AS DOUBLE) / n)"
    " * ln(CAST(row_tot AS DOUBLE) / n)"
    " * 1000000000000.0 + 0.5) AS BIGINT)"
)
_MI_HY = (
    "CAST(floor(-(CAST(col_tot AS DOUBLE) / n)"
    " * ln(CAST(col_tot AS DOUBLE) / n)"
    " * 1000000000000.0 + 0.5) AS BIGINT)"
)


@query(
    "agg_mutual_info",
    oracle=f"""
        WITH obs AS (
            SELECT event_type AS x,
                   CAST(extract(hour FROM CAST(ts AS TIMESTAMP))
                        AS BIGINT) AS y,
                   CAST(count(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT x, y, o,
                   CAST(sum(o) OVER (PARTITION BY x) AS BIGINT)
                       AS row_tot,
                   CAST(sum(o) OVER (PARTITION BY y) AS BIGINT)
                       AS col_tot,
                   CAST(sum(o) OVER () AS BIGINT) AS n
            FROM obs
        ), terms AS (
            SELECT n, x, y, o, row_tot, col_tot,
                   {_MI_CELL} AS mi_t,
                   CASE WHEN row_number() OVER (PARTITION BY x
                        ORDER BY y) = 1 THEN {_MI_HX} END AS hx_t,
                   CASE WHEN row_number() OVER (PARTITION BY y
                        ORDER BY x) = 1 THEN {_MI_HY} END AS hy_t
            FROM tot
        ), m AS (
            SELECT CAST(max(n) AS BIGINT)         AS n_total,
                   CAST(count(*) AS BIGINT)       AS n_cells,
                   CAST(sum(mi_t) AS BIGINT)      AS mi_pico,
                   CAST(sum(hx_t) AS BIGINT)      AS hx_pico,
                   CAST(sum(hy_t) AS BIGINT)      AS hy_pico
            FROM terms
        )
        SELECT n_total, n_cells, mi_pico, hx_pico, hy_pico,
               CAST(floor(CAST(mi_pico AS DOUBLE) / 1000000.0 + 0.5)
                    AS BIGINT) AS mi_micro,
               CAST(floor(CAST(mi_pico AS DOUBLE)
                          / sqrt(CAST(hx_pico AS DOUBLE) * hy_pico)
                          * 1000000.0 + 0.5) AS BIGINT) AS nmi_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "information"),
)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between event type and hour-of-day,
    with sqrt-normalized NMI — the information-theoretic association
    member of the statistics family (chi2: significance of
    dependence; MI: STRENGTH of dependence in nats, the feature-
    selection screen).  I = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over the
    contingency cells; NMI = I/√(H(X)·H(Y)) rescales to [0,1].

    Exactness: counts are exact BIGINTs; every ln-crossing term
    (cell MI, margin entropies) quantizes to PICO units the moment
    it is computed, so all reductions are order-free integer sums —
    and the margin entropy terms attach to exactly ONE cell per
    margin (row_number = 1) so they are summed once without a
    separate margin scan.

    Plan: the agg_chi2_independence shape — one combinable joined
    count to contingency grain (≤ |types|·24 rows), margin window
    sums over that TINY relation, a single-row reduce.  Bounded by
    the category product, never by rows."""
    e = load(spark, sf_dir, "events")
    obs = e.groupBy(
        F.col("event_type").alias("x"),
        F.hour("ts").cast("bigint").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    tot = obs.select(
        "x",
        "y",
        "o",
        F.sum("o").over(Window.partitionBy("x")).cast("bigint").alias("row_tot"),
        F.sum("o").over(Window.partitionBy("y")).cast("bigint").alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    rx = F.row_number().over(Window.partitionBy("x").orderBy("y"))
    ry = F.row_number().over(Window.partitionBy("y").orderBy("x"))
    terms = tot.select(
        "n",
        "o",
        "row_tot",
        "col_tot",
        F.expr(_MI_CELL).alias("mi_t"),
        F.when(rx == 1, F.expr(_MI_HX)).alias("hx_t"),
        F.when(ry == 1, F.expr(_MI_HY)).alias("hy_t"),
    )
    m = terms.agg(
        F.max("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("mi_t").cast("bigint").alias("mi_pico"),
        F.sum("hx_t").cast("bigint").alias("hx_pico"),
        F.sum("hy_t").cast("bigint").alias("hy_pico"),
    )
    return m.select(
        "n_total",
        "n_cells",
        "mi_pico",
        "hx_pico",
        "hy_pico",
        F.floor(
            F.col("mi_pico").cast("double") / F.lit(1000000.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mi_micro"),
        micro(
            F.col("mi_pico").cast("double")
            / F.sqrt(F.col("hx_pico").cast("double") * F.col("hy_pico"))
        ).alias("nmi_micro"),
    )


@query(
    "agg_weighted_median",
    oracle="""
        WITH vals AS (
            SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS v,
                   CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
            FROM lineitem
        ), grp AS (
            SELECT v, CAST(sum(w) AS BIGINT) AS w_v
            FROM vals GROUP BY v
        ), cum AS (
            SELECT v, w_v,
                   CAST(sum(w_v) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                   CAST(sum(w_v) OVER () AS BIGINT) AS w_tot
            FROM grp
        )
        SELECT CAST(max(w_tot) AS BIGINT) AS w_total,
               CAST(count(*) AS BIGINT)   AS n_values,
               CAST(min(CASE WHEN 4 * cw >= w_tot THEN v END)
                    AS BIGINT) AS p25_cents,
               CAST(min(CASE WHEN 2 * cw >= w_tot THEN v END)
                    AS BIGINT) AS p50_cents,
               CAST(min(CASE WHEN 4 * cw >= 3 * w_tot THEN v END)
                    AS BIGINT) AS p75_cents
        FROM cum
    """,
    phase="P2",
    tags=("agg", "percentile", "weighted"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED quartiles (p25/median/p75 of price, weighted by
    quantity — "the price of the median UNIT SHIPPED", not the median
    order line): the inventory/revenue-weighted location statistics
    that plain percentiles get wrong whenever weight and value
    correlate.  The p-quantile is the smallest value whose cumulative
    weight reaches p·W — selected by the ALL-INTEGER predicate
    4·cw ≥ p·4·W, so no float crosses the selection boundary at all.

    Plan: the two-phase histogram selection shape
    (agg_approx_percentile's exact path): one combinable
    distinct-value weight aggregate collapses the corpus, one running
    window at that reduced grain, and a single-row conditional-min
    reduce — never a per-group sort of raw rows, and the weight
    grain (not the row count) bounds the window input."""
    li = load(spark, sf_dir, "lineitem")
    vals = li.select(
        cents(F.col("l_extendedprice")).alias("v"),
        F.floor(F.col("l_quantity") + F.lit(0.5))
        .cast("bigint")
        .alias("w"),
    )
    grp = vals.groupBy("v").agg(F.sum("w").cast("bigint").alias("w_v"))
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "v",
        F.sum("w_v").over(w_cum).cast("bigint").alias("cw"),
        F.sum("w_v").over(Window.partitionBy()).cast("bigint").alias("w_tot"),
    )
    return cum.agg(
        F.max("w_tot").cast("bigint").alias("w_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.min(F.when(4 * F.col("cw") >= F.col("w_tot"), F.col("v")))
        .cast("bigint")
        .alias("p25_cents"),
        F.min(F.when(2 * F.col("cw") >= F.col("w_tot"), F.col("v")))
        .cast("bigint")
        .alias("p50_cents"),
        F.min(F.when(4 * F.col("cw") >= 3 * F.col("w_tot"), F.col("v")))
        .cast("bigint")
        .alias("p75_cents"),
    )


@query(
    "agg_kmv_jaccard",
    oracle="""
        WITH halves AS (
            SELECT user_id,
                   CAST(max(CASE WHEN extract(day FROM
                        CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END)
                        AS BIGINT) AS in_a,
                   CAST(max(CASE WHEN extract(day FROM
                        CAST(ts AS TIMESTAMP)) > 15 THEN 1 ELSE 0 END)
                        AS BIGINT) AS in_b,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events GROUP BY user_id
        ), ranked AS (
            SELECT in_a, in_b, h,
                   row_number() OVER (ORDER BY h) AS rk
            FROM halves
        ), sk AS (
            SELECT CAST(count(*) AS BIGINT) AS k_eff,
                   CAST(sum(in_a * in_b) AS BIGINT) AS inter_kmv,
                   max(CAST('0x' || substr(h, 1, 8) AS BIGINT)) AS u_k
            FROM ranked WHERE rk <= 64
        ), ex AS (
            SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
                   CAST(sum(in_b) AS BIGINT) AS n_b,
                   CAST(sum(in_a * in_b) AS BIGINT) AS n_inter
            FROM halves
        )
        SELECT k_eff, inter_kmv, n_a, n_b, n_inter,
               CAST(floor(CAST(inter_kmv AS DOUBLE) / k_eff
                          * 1000000.0 + 0.5) AS BIGINT)
                   AS jaccard_est_micro,
               CAST(floor(CAST(n_inter AS DOUBLE)
                          / (n_a + n_b - n_inter) * 1000000.0 + 0.5)
                    AS BIGINT) AS jaccard_true_micro,
               CAST(floor((k_eff - 1.0)
                          / (CAST(u_k AS DOUBLE) / 4294967296.0) + 0.5)
                    AS BIGINT) AS union_card_est
        FROM sk, ex
    """,
    phase="P2",
    tags=("agg", "sketch", "set-similarity"),
)
def agg_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) set-similarity sketch between the
    first-half and second-half monthly active user sets: the k=64
    smallest user digests of the UNION form the sketch, the fraction
    of them present in BOTH sets estimates Jaccard, and the k-th
    smallest normalized hash estimates union cardinality
    ((k−1)/u_k) — the mergeable sketch behind audience-overlap and
    cross-corpus-similarity dashboards, where the exact intersection
    is a shuffle too far.  The exact Jaccard ships alongside (cheap
    at membership grain) so the sketch error is VISIBLE in the
    output — the agg_approx_distinct reporting convention.

    Determinism: md5 replaces the usual random hash (byte-identical
    on both engines — the sample_hash_consistent rule), so the
    sketch, not just its accuracy class, is oracle-exact; ranks
    order by the full digest with no ties possible.

    Plan: ONE combinable per-user membership aggregate collapses
    events to user grain; the row_number window and both reduces run
    at that reduced grain.  At true 100 TB user cardinality the
    global window swaps for the standard per-partition top-k +
    merge (TakeOrdered k over partial k-mins) — same sketch, no
    global sort; sketches for different sets/epochs merge by
    re-ranking the union of their k-mins."""
    e = load(spark, sf_dir, "events")
    halves = e.groupBy("user_id").agg(
        F.max(F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0))
        .cast("bigint")
        .alias("in_a"),
        F.max(F.when(F.dayofmonth("ts") > 15, 1).otherwise(0))
        .cast("bigint")
        .alias("in_b"),
    )
    halves = halves.select(
        "in_a",
        "in_b",
        F.md5(F.col("user_id").cast("string").cast("binary")).alias("h"),
    )
    ranked = halves.select(
        "in_a",
        "in_b",
        "h",
        F.row_number().over(Window.orderBy("h")).alias("rk"),
    )
    sk = ranked.filter(F.col("rk") <= 64).agg(
        F.count(F.lit(1)).cast("bigint").alias("k_eff"),
        F.sum(F.col("in_a") * F.col("in_b"))
        .cast("bigint")
        .alias("inter_kmv"),
        F.max(
            F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("bigint")
        ).alias("u_k"),
    )
    ex = halves.agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        F.sum("in_b").cast("bigint").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b"))
        .cast("bigint")
        .alias("n_inter"),
    )
    return sk.crossJoin(F.broadcast(ex)).select(
        "k_eff",
        "inter_kmv",
        "n_a",
        "n_b",
        "n_inter",
        micro(F.col("inter_kmv").cast("double") / F.col("k_eff"))
        .alias("jaccard_est_micro"),
        micro(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard_true_micro"),
        F.floor(
            (F.col("k_eff") - F.lit(1.0))
            / (F.col("u_k").cast("double") / F.lit(4294967296.0))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("union_card_est"),
    )


# Cramér's V and its Bergsma-corrected variant, spelled once over the
# exact integers (chi2 pico-quantized — it crosses float division).
_CV_PHI2 = "(CAST(chi2_pico AS DOUBLE) / 1000000000000.0 / n)"
_CV_V = f"sqrt({_CV_PHI2} / least(r - 1, c - 1))"


@query(
    "agg_cramers_v",
    oracle=f"""
        WITH obs AS (
            SELECT c_mktsegment AS seg, o_orderpriority AS pri,
                   CAST(count(*) AS BIGINT) AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        ), tot AS (
            SELECT seg, pri, o,
                   CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT)
                       AS row_tot,
                   CAST(sum(o) OVER (PARTITION BY pri) AS BIGINT)
                       AS col_tot,
                   CAST(sum(o) OVER () AS BIGINT) AS nn
            FROM obs
        ), cells AS (
            SELECT nn, seg, pri,
                   CAST(floor((CAST(o AS DOUBLE)
                        - CAST(row_tot AS DOUBLE) * col_tot / nn)
                        * (CAST(o AS DOUBLE)
                           - CAST(row_tot AS DOUBLE) * col_tot / nn)
                        / (CAST(row_tot AS DOUBLE) * col_tot / nn)
                        * 1000000000000.0 + 0.5) AS BIGINT) AS cp
            FROM tot
        ), m AS (
            SELECT CAST(max(nn) AS BIGINT) AS n,
                   CAST(count(DISTINCT seg) AS BIGINT) AS r,
                   CAST(count(DISTINCT pri) AS BIGINT) AS c,
                   CAST(sum(cp) AS BIGINT) AS chi2_pico
            FROM cells
        )
        SELECT n, r, c, chi2_pico,
               CAST(floor({_CV_V} * 1000000.0 + 0.5) AS BIGINT)
                   AS v_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "effect-size"),
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the EFFECT SIZE companion to
    agg_chi2_independence's significance test (a p-value only says
    dependence exists; V = √(χ²/n / min(r−1, c−1)) says how strong,
    on a [0,1] scale comparable across tables): segment × priority
    association strength, closing the categorical trio with
    agg_mutual_info's information view.

    Exactness: unlike the chi2 sibling (which float-sums 25 cell
    contributions — acceptable at fixed contingency grain), every
    cell contribution here PICO-quantizes at compute, so χ² reduces
    as an order-free integer sum and V is one shared spelled IEEE
    expression over four exact integers.

    Plan: the contingency shape — one joined combinable count to
    cell grain, margin windows over that tiny relation, single-row
    reduce.  Bounded by the category product."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    tot = obs.select(
        "seg",
        "pri",
        "o",
        F.sum("o").over(Window.partitionBy("seg")).cast("bigint").alias("row_tot"),
        F.sum("o").over(Window.partitionBy("pri")).cast("bigint").alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    exp = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("nn")
    cp = F.floor(
        (F.col("o").cast("double") - exp)
        * (F.col("o").cast("double") - exp)
        / exp
        * F.lit(1000000000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    m = tot.select("nn", "seg", "pri", cp.alias("cp")).agg(
        F.max("nn").cast("bigint").alias("n"),
        F.countDistinct("seg").cast("bigint").alias("r"),
        F.countDistinct("pri").cast("bigint").alias("c"),
        F.sum("cp").cast("bigint").alias("chi2_pico"),
    )
    return m.select(
        "n",
        "r",
        "c",
        "chi2_pico",
        micro(F.expr(_CV_V)).alias("v_micro"),
    )


# Mann-Whitney U ingredients, shared verbatim between engines: u2 is
# 2·U1 (average ranks over ties make 2·R1 integer, so u2 = 2·R1 −
# n1(n1+1) stays exact), ties is Σ(t³−t), and the normal-approximation
# variance/z are ONE spelled IEEE chain over those exact BIGINTs.
_MW_VAR = (
    "(CAST(n1 AS DOUBLE) * n2 / 12.0"
    " * ((n1 + n2 + 1) - CAST(ties AS DOUBLE)"
    "    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))"
)
_MW_Z = f"(CAST(u2 - n1 * n2 AS DOUBLE) / 2.0 / sqrt({_MW_VAR}))"


@query(
    "agg_mann_whitney",
    oracle=f"""
        WITH vals AS (
            SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS v,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1
            FROM lineitem
            WHERE l_returnflag IN ('R', 'A')
        ), per_v AS (
            SELECT v,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(g1) AS BIGINT) AS c1
            FROM vals GROUP BY v
        ), ranked AS (
            SELECT cnt, c1,
                   CAST(sum(cnt) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT)
                       AS cum_before
            FROM per_v
        ), m AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(cnt - c1) AS BIGINT) AS n2,
                   CAST(sum(c1 * (2 * cum_before + cnt + 1))
                        - sum(c1) * (sum(c1) + 1) AS BIGINT) AS u2,
                   CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
            FROM ranked
        )
        SELECT n1, n2, u2, ties,
               CAST(floor({_MW_Z} * 1000000.0 + 0.5) AS BIGINT)
                   AS z_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "hypothesis-test", "rank"),
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between returned ('R')
    and available ('A') line-item prices — the nonparametric A/B
    workhorse when t-test normality can't be assumed. Emits the exact
    integer ingredients (n1, n2, 2·U1, tie term) plus the
    tie-corrected normal-approximation z, micro-quantized.

    Exactness: ranking happens at VALUE grain (integer cents — a
    monotone transform preserving ranks and ties), where average
    ranks over a tie group of size t make 2·avgrank = 2·cum_before +
    t + 1 an integer, so 2·R1 and therefore u2 are exact BIGINTs on
    both engines; z is one shared-spelling IEEE chain over them.

    Scale shape: the data-sized pass is ONE combinable groupBy(v)
    (value grain — cents vocabulary, orders of magnitude below row
    count); the rank window runs at that reduced grain (the
    hist_equidepth precedent), and the final fold is a single row."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    vals = li.select(
        cents(F.col("l_extendedprice")).alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g1"),
    )
    per_v = vals.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("g1").cast("bigint").alias("c1"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_v.select(
        "cnt",
        "c1",
        (F.sum("cnt").over(w) - F.col("cnt"))
        .cast("bigint")
        .alias("cum_before"),
    )
    m = ranked.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("c1")).cast("bigint").alias("n2"),
        (
            F.sum(
                F.col("c1")
                * (2 * F.col("cum_before") + F.col("cnt") + 1)
            )
            - F.sum("c1") * (F.sum("c1") + 1)
        )
        .cast("bigint")
        .alias("u2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("bigint")
        .alias("ties"),
    )
    return m.select(
        "n1",
        "n2",
        "u2",
        "ties",
        micro(F.expr(_MW_Z)).alias("z_micro"),
    )


# Kruskal-Wallis ingredients: per-group 2·R_i stays an exact BIGINT at
# value grain, but R_i² overflows int64 at fixture row counts, so H
# and its tie correction are ONE shared-spelling IEEE chain with the
# squares taken in double.
_KW_H = (
    "(12.0 / (CAST(n AS DOUBLE) * (n + 1))"
    " * (CAST(r2r AS DOUBLE) * r2r / (4.0 * nr)"
    "    + CAST(r2a AS DOUBLE) * r2a / (4.0 * na)"
    "    + CAST(r2n AS DOUBLE) * r2n / (4.0 * nn))"
    " - 3.0 * (n + 1))"
)
_KW_HC = f"({_KW_H} / (1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)))"


@query(
    "agg_kruskal_wallis",
    oracle=f"""
        WITH vals AS (
            SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS v,
                   l_returnflag AS g
            FROM lineitem
        ), per_v AS (
            SELECT v,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(count(*) FILTER (WHERE g = 'R') AS BIGINT) AS cr,
                   CAST(count(*) FILTER (WHERE g = 'A') AS BIGINT) AS ca,
                   CAST(count(*) FILTER (WHERE g = 'N') AS BIGINT) AS cn
            FROM vals GROUP BY v
        ), ranked AS (
            SELECT cnt, cr, ca, cn,
                   CAST(sum(cnt) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT)
                       AS cum_before
            FROM per_v
        ), m AS (
            SELECT CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cn) AS BIGINT) AS nn,
                   CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(cr * (2 * cum_before + cnt + 1)) AS BIGINT)
                       AS r2r,
                   CAST(sum(ca * (2 * cum_before + cnt + 1)) AS BIGINT)
                       AS r2a,
                   CAST(sum(cn * (2 * cum_before + cnt + 1)) AS BIGINT)
                       AS r2n,
                   CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
            FROM ranked
        )
        SELECT nr, na, nn, ties,
               CAST(floor({_KW_H} * 1000000.0 + 0.5) AS BIGINT)
                   AS h_micro,
               CAST(floor({_KW_HC} * 1000000.0 + 0.5) AS BIGINT)
                   AS hc_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "hypothesis-test", "rank"),
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across the three return-flag populations
    of line-item prices — the k-group generalization of
    agg_mann_whitney (one-way ANOVA on ranks, no normality
    assumption). Emits per-group sizes, the tie term, and both the
    raw and tie-corrected H, micro-quantized.

    Exactness: value-grain average ranks keep every 2·R_i an exact
    BIGINT; squares of R_i would overflow int64 at fixture scale so
    H is one shared-spelling double chain over the exact integers
    (the agg_welch_ttest rule). Scale shape identical to
    agg_mann_whitney: one combinable value-grain groupBy, a
    vocabulary-sized rank window, a single-row fold."""
    li = load(spark, sf_dir, "lineitem")
    vals = li.select(
        cents(F.col("l_extendedprice")).alias("v"),
        F.col("l_returnflag").alias("g"),
    )
    per_v = vals.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.count(F.when(F.col("g") == "R", 1)).cast("bigint").alias("cr"),
        F.count(F.when(F.col("g") == "A", 1)).cast("bigint").alias("ca"),
        F.count(F.when(F.col("g") == "N", 1)).cast("bigint").alias("cn"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_v.select(
        "cnt",
        "cr",
        "ca",
        "cn",
        (F.sum("cnt").over(w) - F.col("cnt"))
        .cast("bigint")
        .alias("cum_before"),
    )
    avg2 = 2 * F.col("cum_before") + F.col("cnt") + 1
    m = ranked.agg(
        F.sum("cr").cast("bigint").alias("nr"),
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cn").cast("bigint").alias("nn"),
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cr") * avg2).cast("bigint").alias("r2r"),
        F.sum(F.col("ca") * avg2).cast("bigint").alias("r2a"),
        F.sum(F.col("cn") * avg2).cast("bigint").alias("r2n"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("bigint")
        .alias("ties"),
    )
    return m.select(
        "nr",
        "na",
        "nn",
        "ties",
        micro(F.expr(_KW_H)).alias("h_micro"),
        micro(F.expr(_KW_HC)).alias("hc_micro"),
    )


# Cohen's kappa from a 2x2 confusion of exact integer counts: both the
# numerator n·(n00+n11) − (r0·c0 + r1·c1) and the denominator
# n² − (r0·c0 + r1·c1) are exact BIGINTs (≤ ~4e11 at fixture scale),
# so kappa is ONE integer-ratio division.
_KAPPA = (
    "(CAST(n * (n00 + n11) - ((n00 + n01) * (n00 + n10)"
    " + (n10 + n11) * (n01 + n11)) AS DOUBLE)"
    " / CAST(n * n - ((n00 + n01) * (n00 + n10)"
    " + (n10 + n11) * (n01 + n11)) AS DOUBLE))"
)


@query(
    "agg_cohens_kappa",
    oracle=f"""
        WITH lab AS (
            SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS a,
                   CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS b
            FROM events
        ), m AS (
            SELECT
                CAST(count(*) FILTER (WHERE a = 0 AND b = 0) AS BIGINT)
                    AS n00,
                CAST(count(*) FILTER (WHERE a = 0 AND b = 1) AS BIGINT)
                    AS n01,
                CAST(count(*) FILTER (WHERE a = 1 AND b = 0) AS BIGINT)
                    AS n10,
                CAST(count(*) FILTER (WHERE a = 1 AND b = 1) AS BIGINT)
                    AS n11,
                CAST(count(*) AS BIGINT) AS n
            FROM lab
        )
        SELECT n00, n01, n10, n11,
               CAST(floor(CAST(n00 + n11 AS DOUBLE) / n
                          * 1000000.0 + 0.5) AS BIGINT) AS po_micro,
               CAST(floor(CAST((n00 + n01) * (n00 + n10)
                               + (n10 + n11) * (n01 + n11) AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n)
                          * 1000000.0 + 0.5) AS BIGINT) AS pe_micro,
               CAST(floor({_KAPPA} * 1000000.0 + 0.5) AS BIGINT)
                   AS kappa_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "agreement"),
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two binary
    labelers, the standard metric for LLM-judge vs human (or
    heuristic vs model) label audits. The two raters here are derived
    deterministically from events: A = is-purchase, B = value ≥ 50.
    Emits the full 2×2 confusion plus observed/expected agreement and
    kappa, micro-quantized.

    Exactness: everything up to the final divisions is exact integer
    counting from ONE combinable FILTER-clause aggregate pass
    (agg_welch_ttest's shape); kappa itself is a single integer-ratio
    IEEE division with shared spelling. At 100 TB this is a map-side
    combine down to four counters — no shuffle wider than one row."""
    e = load(spark, sf_dir, "events")
    lab = e.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("a"),
        F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("b"),
    )
    m = lab.agg(
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 0), 1))
        .cast("bigint")
        .alias("n00"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 1), 1))
        .cast("bigint")
        .alias("n01"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 0), 1))
        .cast("bigint")
        .alias("n10"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 1), 1))
        .cast("bigint")
        .alias("n11"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return m.select(
        "n00",
        "n01",
        "n10",
        "n11",
        micro((F.col("n00") + F.col("n11")).cast("double") / F.col("n"))
        .alias("po_micro"),
        micro(
            (
                (F.col("n00") + F.col("n01"))
                * (F.col("n00") + F.col("n10"))
                + (F.col("n10") + F.col("n11"))
                * (F.col("n01") + F.col("n11"))
            ).cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("pe_micro"),
        micro(F.expr(_KAPPA)).alias("kappa_micro"),
    )


@query(
    "agg_trimmed_mean",
    oracle="""
        WITH vals AS (
            SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
            FROM orders
        ), per_v AS (
            SELECT v, CAST(count(*) AS BIGINT) AS cnt
            FROM vals GROUP BY v
        ), tot AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(floor(sum(cnt) / 20.0) AS BIGINT) AS k
            FROM per_v
        ), ranked AS (
            SELECT v, cnt, n, k,
                   CAST(sum(cnt) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT) AS cb
            FROM per_v CROSS JOIN tot
        ), kept AS (
            SELECT n, k,
                   greatest(CAST(0 AS BIGINT),
                            least(cb + cnt, n - k)
                            - greatest(cb, k)) AS kc,
                   v
            FROM ranked
        )
        SELECT max(n) AS n, max(k) AS k_trim,
               CAST(max(n) - 2 * max(k) AS BIGINT) AS n_kept,
               CAST(sum(kc * v) AS BIGINT) AS trimmed_sum_cents,
               CAST(floor(CAST(sum(kc * v) AS DOUBLE)
                          / (max(n) - 2 * max(k))
                          * 10000.0 + 0.5) AS BIGINT) AS mean_micro
        FROM kept
    """,
    phase="P2",
    tags=("agg", "statistics", "robust"),
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value — the robust location estimate
    that survives fat tails and data-entry outliers where the plain
    mean doesn't. The trim is EXACT order-statistics arithmetic, not
    an approximation: at value grain (integer cents), each distinct
    value contributes kept = clamp(min(cb+cnt, n−k) − max(cb, k), ≥0)
    rows to the middle 90%, handling tie groups that straddle a trim
    boundary partially — so trimmed_sum is an exact BIGINT and the
    single final division is the only IEEE op.

    Scale shape: one combinable value-grain groupBy, the cents-
    vocabulary rank window (agg_mann_whitney's cost class), one-row
    fold. No sort of the data itself, no percentile sketch."""
    o = load(spark, sf_dir, "orders")
    vals = o.select(cents(F.col("o_totalprice")).alias("v"))
    per_v = vals.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = per_v.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.floor(F.sum("cnt") / 20.0).cast("bigint").alias("k"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_v.crossJoin(F.broadcast(tot)).select(
        "v",
        "cnt",
        "n",
        "k",
        (F.sum("cnt").over(w) - F.col("cnt")).cast("bigint").alias("cb"),
    )
    kc = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cb") + F.col("cnt"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cb"), F.col("k")),
    )
    kept = ranked.select("n", "k", kc.alias("kc"), "v")
    return kept.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k_trim"),
        (F.max("n") - 2 * F.max("k")).cast("bigint").alias("n_kept"),
        F.sum(F.col("kc") * F.col("v"))
        .cast("bigint")
        .alias("trimmed_sum_cents"),
        F.floor(
            F.sum(F.col("kc") * F.col("v")).cast("double")
            / (F.max("n") - 2 * F.max("k"))
            * F.lit(10000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mean_micro"),
    )


@query(
    "agg_approx_audit",
    oracle="""
        WITH m AS (
            SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_ck,
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT)
                       AS nd_pr,
                   CAST(floor(quantile_disc(o_totalprice, 0.5) * 100.0
                        + 0.5) AS BIGINT) AS med_cents
            FROM orders
        )
        SELECT 'distinct_custkey' AS metric, nd_ck AS exact_value,
               TRUE AS within_tol FROM m
        UNION ALL
        SELECT 'distinct_priority', nd_pr, TRUE FROM m
        UNION ALL
        SELECT 'median_totalprice_cents', med_cents, TRUE FROM m
        ORDER BY metric
    """,
    phase="P2",
    tags=("agg", "sketch", "audit"),
)
def agg_approx_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: runs the engine's approximate aggregates
    (HyperLogLog++ distinct counts, GK approximate median) SIDE BY
    SIDE with their exact twins in one pass and asserts the error
    bound the sketch contracts promise — the check a 100 TB pipeline
    runs before trusting sketches for capacity planning or cardinality
    stats. The sketch values themselves are engine-specific (never
    driver-visible); what ships is the EXACT value plus a bounded
    boolean, so the oracle can assert the whole row (the
    stream_foreach_batch multi_batch pattern): HLL at rsd=0.05 must
    land within 15%, the GK median at accuracy 10000 within 5% of the
    true median. A sketch regression (or a wrong rsd wiring) goes
    driver hash-RED.

    Plan (r11 rework — the repo's own never-multi-distinct rule, found
    violated here after the etl_analyze_table_stats lesson was written):
    TWO exact NDVs plus a percentile in one aggregate planned through
    Expand, replicating every orders row ~3× before the distinct hash
    agg. Split into three COLUMN-PRUNED single-row aggregates (one per
    audited column, each pairing the exact figure with its sketch so
    the comparison stays one-pass per column) crossJoined into the
    audit row — independent subtrees of one job, 1.3-1.5 → 0.7-0.9 s
    warm at sf0.1, value-identical. At scale each pass scans one
    column; the sketches stay constant memory, which is the point
    being audited."""
    o = load(spark, sf_dir, "orders")
    ck = o.select("o_custkey").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("nd_ck"),
        F.approx_count_distinct("o_custkey", 0.05).alias("ack"),
    )
    pr = o.select("o_orderpriority").agg(
        F.countDistinct("o_orderpriority").cast("bigint").alias("nd_pr"),
        F.approx_count_distinct("o_orderpriority", 0.05).alias("apr"),
    )
    md = o.select("o_totalprice").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("med_exact"),
        F.expr(
            "approx_percentile(o_totalprice, 0.5, 10000)"
        ).alias("med_approx"),
    )
    m = ck.crossJoin(pr).crossJoin(md)
    flagged = m.select(
        "nd_ck",
        "nd_pr",
        cents(F.col("med_exact")).alias("med_cents"),
        (
            F.abs(F.col("ack") - F.col("nd_ck"))
            <= F.col("nd_ck") * F.lit(0.15)
        ).alias("ok_ck"),
        (
            F.abs(F.col("apr") - F.col("nd_pr"))
            <= F.col("nd_pr") * F.lit(0.15)
        ).alias("ok_pr"),
        (
            F.abs(F.col("med_approx") - F.col("med_exact"))
            <= F.col("med_exact") * F.lit(0.05)
        ).alias("ok_med"),
    )
    return flagged.selectExpr(
        "stack(3,"
        " 'distinct_custkey', nd_ck, ok_ck,"
        " 'distinct_priority', nd_pr, ok_pr,"
        " 'median_totalprice_cents', med_cents, ok_med"
        ") AS (metric, exact_value, within_tol)"
    ).orderBy("metric")


# Delta-method ratio variance from exact integer moments, spelled once
# so both engines run the identical IEEE expression (Welch-t discipline).
_RD_R = "(CAST(sy AS DOUBLE) / sx)"
_RD_XBAR = "(CAST(sx AS DOUBLE) / n)"
_RD_VX = (
    "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / n) / (n - 1))"
)
_RD_VY = (
    "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / n) / (n - 1))"
)
_RD_CXY = (
    "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / n) / (n - 1))"
)
_RD_SE = (
    f"(sqrt(({_RD_VY} - 2.0 * {_RD_R} * {_RD_CXY}"
    f" + {_RD_R} * {_RD_R} * {_RD_VX}) / n) / {_RD_XBAR})"
)
_RD_LO = f"({_RD_R} - 1.959963985 * {_RD_SE})"
_RD_HI = f"({_RD_R} + 1.959963985 * {_RD_SE})"


@query(
    "agg_ratio_delta_ci",
    oracle=f"""
        WITH m AS (
            SELECT l_returnflag AS flag, l_linestatus AS status,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
                        AS BIGINT) AS sx,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        AS BIGINT) AS sy,
                   CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)
                            * CAST(floor(l_quantity + 0.5) AS BIGINT))
                        AS BIGINT) AS sxx,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT)
                            * CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        AS BIGINT) AS syy,
                   CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)
                            * CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        AS BIGINT) AS sxy
            FROM lineitem
            GROUP BY 1, 2
        )
        SELECT flag, status, n, sx, sy,
               CAST(floor({_RD_R} * 1000000.0 + 0.5) AS BIGINT)
                   AS ratio_micro,
               CAST(floor({_RD_SE} * 1000000.0 + 0.5) AS BIGINT)
                   AS se_micro,
               CAST(floor({_RD_LO} * 1000000.0 + 0.5) AS BIGINT)
                   AS lo_micro,
               CAST(floor({_RD_HI} * 1000000.0 + 0.5) AS BIGINT)
                   AS hi_micro
        FROM m
        ORDER BY flag, status
    """,
    phase="P2",
    tags=("agg", "statistics", "ab-testing"),
)
def agg_ratio_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method 95% confidence interval for a RATIO metric —
    revenue per unit shipped, by (returnflag, linestatus). The A/B-
    testing staple that Welch's t can't cover: ratio-of-sums metrics
    (revenue/order, clicks/session) violate the iid-mean assumption,
    so the variance needs the full delta expansion
    Var(R) ~ (Vy - 2R*Cxy + R^2*Vx) / (n * xbar^2).

    Exactness: numerator and denominator quantize ONCE at row grain
    (revenue to whole dollars, quantity integral by fixture), so the
    six moments (n, sx, sy, sxx, syy, sxy) are order-free exact
    BIGINTs; ratio/se/bounds are ONE shared IEEE formula string
    (_RD_*) F.expr'd on Spark and formatted into the oracle —
    identical operand order, micro-quantized on output. int64 bound:
    syy <= n * (1.1e5)^2 ~ 1.2e10*n — safe to ~7.6e8 rows/group;
    rescale the revenue grain for bigger groups (agg_welch_ttest
    convention).

    Plan: ONE combinable map-side-partial aggregate to (flag, status)
    grain — the shuffle moves 4 rows of moments per partition; every
    downstream expression runs on the 4-row relation."""
    li = load(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint")
    y = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        + F.lit(0.5)
    ).cast("bigint")
    m = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_linestatus").alias("status"),
            x.alias("x"),
            y.alias("y"),
        )
        .groupBy("flag", "status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )
    )
    return m.select(
        "flag",
        "status",
        "n",
        "sx",
        "sy",
        micro(F.expr(_RD_R)).alias("ratio_micro"),
        micro(F.expr(_RD_SE)).alias("se_micro"),
        micro(F.expr(_RD_LO)).alias("lo_micro"),
        micro(F.expr(_RD_HI)).alias("hi_micro"),
    ).orderBy("flag", "status")


# Theil-T shares and between-group term, spelled once for both engines.
_TH_ISH = "(CAST(s AS DOUBLE) / stot)"
_TH_PSH = "(CAST(n AS DOUBLE) / ntot)"
_TH_BETWEEN = f"({_TH_ISH} * ln({_TH_ISH} / {_TH_PSH}))"
_TH_WITHIN = "(CAST(tsum AS DOUBLE) / n / 1000.0)"


@query(
    "agg_theil_index",
    oracle=f"""
        WITH base AS (
            SELECT c_mktsegment AS seg,
                   CAST(floor(o_totalprice + 0.5) AS BIGINT) AS x
            FROM orders JOIN customer ON o_custkey = c_custkey
        ), grp AS (
            SELECT seg, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s
            FROM base GROUP BY seg
        ), terms AS (
            SELECT b.seg,
                   CAST(sum(CAST(floor(
                       (CAST(b.x AS DOUBLE) * g.n / g.s)
                       * ln(CAST(b.x AS DOUBLE) * g.n / g.s)
                       * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS tsum
            FROM base b JOIN grp g ON g.seg = b.seg
            GROUP BY b.seg
        ), tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS ntot,
                   CAST(sum(s) AS BIGINT) AS stot
            FROM grp
        )
        SELECT g.seg, g.n, g.s AS sum_dollars,
               CAST(floor({_TH_WITHIN} + 0.5) AS BIGINT)
                   AS theil_within_micro,
               CAST(floor({_TH_PSH} * 1000000.0 + 0.5) AS BIGINT)
                   AS pop_share_micro,
               CAST(floor({_TH_ISH} * 1000000.0 + 0.5) AS BIGINT)
                   AS income_share_micro,
               CAST(floor({_TH_BETWEEN} * 1000000.0 + 0.5) AS BIGINT)
                   AS between_term_micro
        FROM grp g JOIN terms t ON t.seg = g.seg, tot
        ORDER BY g.seg
    """,
    phase="P2",
    tags=("agg", "statistics", "inequality"),
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of order value by market
    segment — the decomposable companion to agg_gini: total
    inequality splits EXACTLY into sum(within_g * income_share_g) +
    sum(between_g), which Gini cannot do, and the between/within
    split is what a curation pipeline reads to decide whether value
    skew is a segment-mix artifact or intra-segment.

    Exactness: x quantizes ONCE at row grain (whole dollars); each
    per-row term (x/mu_g)*ln(x/mu_g) is nano-quantized the moment
    it's computed (the ln class — never raw-summed), so the per-group
    sum is an order-free BIGINT; within/shares/between are shared
    formula strings over exact group moments, micro on output. int64
    bound: term <= ~6*1e9 per row -> safe past 1e9 rows/group.

    Plan: the data-sized stages are ONE join (orders->customer,
    AQE-broadcastable) and TWO combinable aggregates over it (moments
    + terms); mu_g broadcasts back into the row scan via the 5-row
    group relation; everything downstream runs at 5-row grain with a
    1-row cross-joined total."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice") + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
    )
    grp = base.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    ).localCheckpoint(eager=False)
    # 5-row segment moments, referenced by terms/tot/final — the lazy
    # checkpoint cuts the compiled orders⋈customer derivations from 4
    # to 2 (one under grp, one under terms; r13 re-derivation sweep)
    ratio = F.col("x").cast("double") * F.col("n") / F.col("s")
    terms = (
        base.join(F.broadcast(grp), "seg")
        .select(
            "seg",
            F.floor(ratio * F.log(ratio) * F.lit(1000000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("t"),
        )
        .groupBy("seg")
        .agg(F.sum("t").cast("bigint").alias("tsum"))
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("ntot"),
        F.sum("s").cast("bigint").alias("stot"),
    )
    return (
        grp.join(terms, "seg")
        .crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "n",
            F.col("s").alias("sum_dollars"),
            F.floor(F.expr(_TH_WITHIN) + F.lit(0.5))
            .cast("bigint")
            .alias("theil_within_micro"),
            micro(F.expr(_TH_PSH)).alias("pop_share_micro"),
            micro(F.expr(_TH_ISH)).alias("income_share_micro"),
            micro(F.expr(_TH_BETWEEN)).alias("between_term_micro"),
        )
        .orderBy("seg")
    )


# Concentration-index pieces over exact supplier/total moments.
_HH_SHARE = "(CAST(s AS DOUBLE) / stot)"
_HH_TERM = f"({_HH_SHARE} * {_HH_SHARE})"
_HH_ENF = "(1000000000000000000.0 / CAST(hhisum AS DOUBLE))"


@query(
    "agg_concentration_hhi",
    oracle=f"""
        WITH sup AS (
            SELECT l_suppkey,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        AS BIGINT) AS s
            FROM lineitem GROUP BY l_suppkey
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_sup,
                   CAST(sum(s) AS BIGINT) AS stot
            FROM sup
        ), hhi AS (
            SELECT CAST(sum(CAST(floor({_HH_TERM} * 1000000000000.0
                        + 0.5) AS BIGINT)) AS BIGINT) AS hhisum
            FROM sup, tot
        ), top4 AS (
            SELECT CAST(sum(s) AS BIGINT) AS s4 FROM (
                SELECT s FROM sup
                ORDER BY s DESC, l_suppkey
                LIMIT 4
            )
        )
        SELECT n_sup AS n_suppliers, stot AS total_dollars,
               CAST(floor(CAST(hhisum AS DOUBLE) / 1000000.0 + 0.5)
                    AS BIGINT) AS hhi_micro,
               CAST(floor(CAST(s4 AS DOUBLE) / stot * 1000000.0 + 0.5)
                    AS BIGINT) AS cr4_micro,
               CAST(floor({_HH_ENF} + 0.5) AS BIGINT) AS effective_n
        FROM tot, hhi, top4
    """,
    phase="P2",
    tags=("agg", "statistics", "concentration"),
)
def agg_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of revenue across suppliers
    — HHI = sum(share_i^2), the top-4 concentration ratio CR4, and
    the effective number of equal-size suppliers 1/HHI: the market-
    structure scorecard (and, in a data pipeline, the skew probe that
    says whether a supplier-keyed shuffle has a hot key problem —
    effective_n near n_suppliers means uniform, near 1 means one key
    dominates).

    Exactness: per-supplier revenue quantizes ONCE at row grain
    (whole dollars) into exact BIGINT sums; each squared share
    pico-quantizes at SUPPLIER grain so the HHI sum is an order-free
    integer; CR4's top-4 picks by (s DESC, suppkey) on exact BIGINTs
    so ties can't flip membership; final ratios are shared IEEE
    formula strings.

    Plan: ONE combinable aggregate to supplier grain is the only
    data-sized stage; the 1-row total broadcast-cross-joins back into
    the supplier relation (dim-bounded, never data-bounded) for the
    share terms; top-4 is a TakeOrdered, not a global window."""
    li = load(spark, sf_dir, "lineitem")
    sup = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("s")
    ).localCheckpoint(eager=False)
    # supplier-grain revenue, referenced by tot/hhi/top4 — the lazy
    # checkpoint keeps the corpus aggregate single in the compiled
    # plan (r13 re-derivation sweep)
    tot = sup.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sup"),
        F.sum("s").cast("bigint").alias("stot"),
    )
    hhi = (
        sup.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(F.expr(_HH_TERM) * F.lit(1e12) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("hhisum")
        )
    )
    top4 = (
        sup.orderBy(F.desc("s"), "l_suppkey")
        .limit(4)
        .agg(F.sum("s").cast("bigint").alias("s4"))
    )
    return (
        tot.crossJoin(F.broadcast(hhi))
        .crossJoin(F.broadcast(top4))
        .select(
            F.col("n_sup").alias("n_suppliers"),
            F.col("stot").alias("total_dollars"),
            F.floor(
                F.col("hhisum").cast("double") / F.lit(1000000.0) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("hhi_micro"),
            micro(F.col("s4").cast("double") / F.col("stot"))
            .alias("cr4_micro"),
            F.floor(F.expr(_HH_ENF) + F.lit(0.5))
            .cast("bigint")
            .alias("effective_n"),
        )
    )


@query(
    "agg_top_movers",
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        FILTER (WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                            AND l_shipdate < TIMESTAMP '1998-01-01')
                        AS BIGINT) AS rev_a,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01')
                        AS BIGINT) AS rev_b
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            GROUP BY l_partkey
        )
        SELECT l_partkey,
               CAST(coalesce(rev_a, 0) AS BIGINT) AS rev_1997,
               CAST(coalesce(rev_b, 0) AS BIGINT) AS rev_1998,
               CAST(coalesce(rev_b, 0) - coalesce(rev_a, 0) AS BIGINT)
                   AS delta,
               CAST(abs(coalesce(rev_b, 0) - coalesce(rev_a, 0))
                    AS BIGINT) AS abs_delta
        FROM per_part
        ORDER BY abs_delta DESC, l_partkey
        LIMIT 20
    """,
    phase="P2",
    tags=("agg", "reporting", "drift"),
)
def agg_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part-level revenue movers between 1997 and 1998 — the
    'what changed' report behind every period-over-period dashboard:
    rank by |delta| so both surges and collapses surface (a
    pct-change ranking would drown real movers under tiny bases).

    All-integer: revenue quantizes once at row grain to whole
    dollars; both period sums come from ONE combinable FILTER-clause
    aggregate (no per-period scans, no self-join); the delta ranking
    sorts exact BIGINTs with a partkey tiebreak.

    Plan: predicate pushes the two-year slice into the scan; one
    map-side-partial agg to part grain; TakeOrdered keeps 20 — no
    global sort materializes."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        + F.lit(0.5)
    ).cast("bigint")
    in_b = F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    per_part = li.select(
        "l_partkey", rev.alias("rev"), in_b.alias("in_b")
    ).groupBy("l_partkey").agg(
        F.sum(F.when(~F.col("in_b"), F.col("rev")))
        .cast("bigint")
        .alias("rev_a"),
        F.sum(F.when(F.col("in_b"), F.col("rev")))
        .cast("bigint")
        .alias("rev_b"),
    )
    ra = F.coalesce(F.col("rev_a"), F.lit(0))
    rb = F.coalesce(F.col("rev_b"), F.lit(0))
    return (
        per_part.select(
            "l_partkey",
            ra.cast("bigint").alias("rev_1997"),
            rb.cast("bigint").alias("rev_1998"),
            (rb - ra).cast("bigint").alias("delta"),
            F.abs(rb - ra).cast("bigint").alias("abs_delta"),
        )
        .orderBy(F.desc("abs_delta"), "l_partkey")
        .limit(20)
    )


# Neyman-allocation pieces from exact per-stratum moments.
_NY_SD = (
    "sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))"
)
_NY_ALLOC = "(1000.0 * wq / wsum)"
_NY_PROP = "(1000.0 * n / ntot)"


@query(
    "sample_neyman_allocation",
    oracle=f"""
        WITH strata AS (
            SELECT c_mktsegment AS seg,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS s,
                   CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5)
                        AS BIGINT) * CAST(floor(c_acctbal * 100.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS q
            FROM customer GROUP BY c_mktsegment
        ), weighted AS (
            SELECT seg, n, s, q,
                   CAST(floor(n * {_NY_SD} + 0.5) AS BIGINT) AS wq
            FROM strata
        ), tot AS (
            SELECT CAST(sum(wq) AS BIGINT) AS wsum,
                   CAST(sum(n) AS BIGINT) AS ntot
            FROM weighted
        )
        SELECT seg, n AS n_pop,
               CAST(floor({_NY_SD} * 100.0 + 0.5) AS BIGINT)
                   AS sd_cents,
               CAST(floor({_NY_ALLOC} + 0.5) AS BIGINT) AS neyman_n,
               CAST(floor({_NY_PROP} + 0.5) AS BIGINT) AS proportional_n
        FROM weighted, tot
        ORDER BY seg
    """,
    phase="P2",
    tags=("sample", "statistics", "survey-design"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation for a budget of
    1000 across market segments, sized by account-balance variance —
    n_h proportional to N_h*S_h, the design that minimizes the
    estimator variance for a fixed budget, with the naive
    proportional allocation alongside for the efficiency contrast.
    This is the PLAN (deterministic sizing); the draw itself is
    sample_stratified's hash-consistent machinery.

    Exactness: balances quantize once at row grain (cents) so the
    per-stratum moments are exact BIGINTs; S_h is a shared IEEE
    formula; the stratum weight N_h*S_h quantizes to an integer at
    STRATUM grain so the allocation denominator is an order-free
    BIGINT sum; allocations are one spelled division each. int64
    bound on q: n*(1.1e6)^2 — safe to ~7.5e6 rows/stratum at cents
    grain, rescale documented (welch convention).

    Plan: ONE combinable aggregate to the 5-stratum grain is the
    only data-sized stage; the 1-row total broadcast-cross-joins
    back."""
    c = load(spark, sf_dir, "customer")
    cb = cents(F.col("c_acctbal"))
    strata = c.select(
        F.col("c_mktsegment").alias("seg"), cb.alias("b")
    ).groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("s"),
        F.sum(F.col("b") * F.col("b")).cast("bigint").alias("q"),
    )
    weighted = strata.select(
        "seg",
        "n",
        "s",
        "q",
        F.floor(F.col("n") * F.expr(_NY_SD) + F.lit(0.5))
        .cast("bigint")
        .alias("wq"),
    )
    tot = weighted.agg(
        F.sum("wq").cast("bigint").alias("wsum"),
        F.sum("n").cast("bigint").alias("ntot"),
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            F.col("n").alias("n_pop"),
            cents(F.expr(_NY_SD)).alias("sd_cents"),
            F.floor(F.expr(_NY_ALLOC) + F.lit(0.5))
            .cast("bigint")
            .alias("neyman_n"),
            F.floor(F.expr(_NY_PROP) + F.lit(0.5))
            .cast("bigint")
            .alias("proportional_n"),
        )
        .orderBy("seg")
    )


# Wilcoxon signed-rank z with tie correction, spelled once. w2 is
# TWICE the positive-rank sum (integer by the 2*avgrank identity).
_WX_Z = (
    "((CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2.0)"
    " / (2.0 * sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0"
    " - CAST(ties AS DOUBLE) / 48.0)))"
)


@query(
    "agg_wilcoxon_signed_rank",
    oracle=f"""
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        FILTER (WHERE l_shipdate < TIMESTAMP
                            '1998-01-01') AS BIGINT) AS a,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        FILTER (WHERE l_shipdate >= TIMESTAMP
                            '1998-01-01') AS BIGINT) AS b
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            GROUP BY l_partkey
        ), diffs AS (
            SELECT b - a AS d, abs(b - a) AS ad
            FROM per_part
            WHERE a IS NOT NULL AND b IS NOT NULL AND b <> a
        ), per_v AS (
            SELECT ad,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS cpos
            FROM diffs GROUP BY ad
        ), ranked AS (
            SELECT cnt, cpos,
                   CAST(sum(cnt) OVER (ORDER BY ad
                        ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT)
                       AS cum_before
            FROM per_v
        ), m AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(cpos) AS BIGINT) AS n_pos,
                   CAST(sum(cpos * (2 * cum_before + cnt + 1))
                        AS BIGINT) AS w2,
                   CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
            FROM ranked
        )
        SELECT n AS n_pairs, n_pos,
               CAST(n - n_pos AS BIGINT) AS n_neg, w2 AS w2_pos, ties,
               CAST(floor({_WX_Z} * 1000000.0 + 0.5) AS BIGINT)
                   AS z_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "hypothesis-test", "rank"),
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-part revenue (1997 vs
    1998, parts active in both periods) — the matched-pairs
    nonparametric companion to agg_mann_whitney's unpaired rank-sum:
    'did the same parts shift?' rather than 'do two groups differ?'.
    Emits exact integers (pair count, sign counts, 2x positive-rank
    sum, tie term) plus the tie-corrected normal z.

    Exactness: the pair deltas are exact BIGINT dollars; ranking
    happens at |delta| VALUE grain where 2*avgrank = 2*cum_before +
    t + 1 is an integer, so w2 = 2*W+ is an exact BIGINT; zero
    deltas drop (the textbook convention); z is one shared IEEE
    chain.

    Scale shape: ONE combinable FILTER-clause agg to part grain (the
    agg_top_movers pass), a second combinable agg to |delta| value
    grain, the rank window at that reduced grain (hist_equidepth
    precedent), single-row fold."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        + F.lit(0.5)
    ).cast("bigint")
    in_b = F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    per_part = li.select(
        "l_partkey", rev.alias("rev"), in_b.alias("in_b")
    ).groupBy("l_partkey").agg(
        F.sum(F.when(~F.col("in_b"), F.col("rev")))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("in_b"), F.col("rev")))
        .cast("bigint")
        .alias("b"),
    )
    diffs = per_part.filter(
        F.col("a").isNotNull()
        & F.col("b").isNotNull()
        & (F.col("b") != F.col("a"))
    ).select(
        (F.col("b") - F.col("a")).alias("d"),
        F.abs(F.col("b") - F.col("a")).alias("ad"),
    )
    per_v = diffs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("cpos"),
    )
    w = Window.orderBy("ad").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_v.select(
        "cnt",
        "cpos",
        (F.sum("cnt").over(w) - F.col("cnt"))
        .cast("bigint")
        .alias("cum_before"),
    )
    m = ranked.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("cpos").cast("bigint").alias("n_pos"),
        F.sum(
            F.col("cpos")
            * (F.lit(2) * F.col("cum_before") + F.col("cnt") + F.lit(1))
        )
        .cast("bigint")
        .alias("w2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("bigint")
        .alias("ties"),
    )
    return m.select(
        F.col("n").alias("n_pairs"),
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        F.col("w2").alias("w2_pos"),
        "ties",
        micro(F.expr(_WX_Z)).alias("z_micro"),
    )


# Jackknife pieces: leave-one-group-out ratio (exact BIGINT moments),
# deviation terms, and the final SE — spelled once for both engines.
_JK_THETA = "(CAST(syt AS DOUBLE) / sxt)"
_JK_TG = (
    "((CAST(syt AS DOUBLE) - sy) / (CAST(sxt AS DOUBLE) - sx))"
)
_JK_DEV = "((CAST(tg AS DOUBLE) - CAST(tsum AS DOUBLE) / ng) / 1000000000000.0)"
_JK_SE = (
    "sqrt((CAST(ng AS DOUBLE) - 1.0) / ng"
    " * (CAST(qsum AS DOUBLE) / 1000000000000.0))"
)


@query(
    "agg_jackknife_ratio",
    oracle=f"""
        WITH grp AS (
            SELECT s_nationkey AS nation,
                   CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
                        AS BIGINT) AS sx,
                   CAST(sum(CAST(floor(l_extendedprice
                            * (1.0 - l_discount) + 0.5) AS BIGINT))
                        AS BIGINT) AS sy
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS ng,
                   CAST(sum(sx) AS BIGINT) AS sxt,
                   CAST(sum(sy) AS BIGINT) AS syt
            FROM grp
        ), pseudo AS (
            SELECT nation, sx, sy, ng, sxt, syt,
                   CAST(floor({_JK_TG} * 1000000000000.0 + 0.5)
                        AS BIGINT) AS tg
            FROM grp, tot
        ), dsum AS (
            SELECT CAST(sum(tg) AS BIGINT) AS tsum FROM pseudo
        ), qterm AS (
            SELECT CAST(sum(CAST(floor({_JK_DEV} * {_JK_DEV}
                        * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS qsum
            FROM pseudo, dsum
        )
        SELECT nation, sx AS sum_qty, sy AS sum_rev,
               CAST(floor({_JK_TG} * 1000000.0 + 0.5) AS BIGINT)
                   AS theta_loo_micro,
               CAST(floor({_JK_THETA} * 1000000.0 + 0.5) AS BIGINT)
                   AS theta_micro,
               CAST(floor({_JK_SE} * 1000000.0 + 0.5) AS BIGINT)
                   AS jk_se_micro
        FROM pseudo, dsum, qterm
        ORDER BY nation
    """,
    phase="P2",
    tags=("agg", "statistics", "resampling"),
)
def agg_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for the revenue-per-
    unit ratio, grouped by supplier nation — the resampling
    complement to agg_ratio_delta_ci's analytic CI (the jackknife
    needs no variance formula, just G leave-one-out replays) and the
    deterministic cousin of sample_poisson_bootstrap (no RNG: the
    'resamples' are the 25 group deletions). Per nation, the
    leave-that-nation-out ratio ships so a consumer sees which group
    moves the estimate.

    Exactness: leave-one-out ratios come from exact BIGINT total-
    minus-group moments; each theta_(g) pico-quantizes at GROUP grain
    so the mean and the squared-deviation sum are order-free integer
    folds; the SE is one shared IEEE chain. No float ever crosses an
    aggregation boundary raw.

    Plan: ONE join + combinable agg to nation grain (25 rows) is the
    only data-sized stage; totals, pseudo-values, deviations, and
    the final SE all run on that 25-row relation with 1-row
    broadcast cross-joins. The nation-grain relation is a LAZY
    localCheckpoint (r13): without it the compiled tree re-derived
    the lineitem⋈supplier aggregate at every reference — tot, pseudo,
    dsum, qterm and the final select each carried their own copy,
    8 lineitem scans in the compiled plan."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    x = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint")
    y = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        + F.lit(0.5)
    ).cast("bigint")
    grp = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_nationkey").alias("nation"),
            x.alias("x"),
            y.alias("y"),
        )
        .groupBy("nation")
        .agg(
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
        )
        .localCheckpoint(eager=False)
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("sx").cast("bigint").alias("sxt"),
        F.sum("sy").cast("bigint").alias("syt"),
    )
    pseudo = grp.crossJoin(F.broadcast(tot)).select(
        "nation",
        "sx",
        "sy",
        "ng",
        "sxt",
        "syt",
        F.floor(F.expr(_JK_TG) * F.lit(1e12) + F.lit(0.5))
        .cast("bigint")
        .alias("tg"),
    )
    dsum = pseudo.agg(F.sum("tg").cast("bigint").alias("tsum"))
    qterm = (
        pseudo.crossJoin(F.broadcast(dsum))
        .agg(
            F.sum(
                F.floor(
                    F.expr(_JK_DEV) * F.expr(_JK_DEV) * F.lit(1e12)
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("qsum")
        )
    )
    return (
        pseudo.crossJoin(F.broadcast(dsum))
        .crossJoin(F.broadcast(qterm))
        .select(
            "nation",
            F.col("sx").alias("sum_qty"),
            F.col("sy").alias("sum_rev"),
            micro(F.expr(_JK_TG)).alias("theta_loo_micro"),
            micro(F.expr(_JK_THETA)).alias("theta_micro"),
            micro(F.expr(_JK_SE)).alias("jk_se_micro"),
        )
        .orderBy("nation")
    )


# Power-analysis pieces: pooled variance from exact moments and the
# two-sample n-per-arm at alpha=.05 (two-sided) / power=.80, spelled
# once — z constants written inline so both engines fold identically.
_PW_VAR = "((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))"
_PW_MEAN = "(CAST(s AS DOUBLE) / n)"
_PW_DELTA = f"({_PW_MEAN} * mde / 100.0)"
_PW_N = (
    f"ceil(2.0 * (1.959963985 + 0.841621234)"
    f" * (1.959963985 + 0.841621234) * {_PW_VAR}"
    f" / ({_PW_DELTA} * {_PW_DELTA}))"
)


@query(
    "agg_power_sample_size",
    oracle=f"""
        WITH m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS s,
                   CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)
                            * CAST(floor(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS q
            FROM orders
        ), ladder AS (
            SELECT CAST(unnest([1, 2, 5, 10]) AS BIGINT) AS mde
        )
        SELECT mde AS mde_pct,
               n AS n_population,
               CAST(floor({_PW_MEAN} * 1000000.0 + 0.5) AS BIGINT)
                   AS mean_micro,
               CAST(floor({_PW_DELTA} * 1000000.0 + 0.5) AS BIGINT)
                   AS delta_micro,
               CAST({_PW_N} AS BIGINT) AS n_per_arm,
               CAST({_PW_N} <= n / 2 AS BOOLEAN) AS feasible
        FROM ladder, m
        ORDER BY mde
    """,
    phase="P2",
    tags=("agg", "statistics", "ab-testing"),
)
def agg_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test power analysis over order values: the required sample
    size PER ARM to detect a 1/2/5/10% lift in mean order value at
    alpha = 0.05 (two-sided) with 80% power — n = 2(z_a+z_b)^2 s^2 /
    delta^2 — plus a feasibility flag against the population actually
    available. The planning step that runs BEFORE agg_welch_ttest
    ever gets data: an underpowered experiment design is the most
    expensive statistics bug there is.

    Exactness: variance folds from the same exact dollar-grain
    integer moments as the Welch family; the z constants are written
    inline in ONE shared formula string so both engines fold the
    identical literal arithmetic; ceil on both engines.

    Plan: ONE combinable moments aggregate is the only data-sized
    stage; the 4-row MDE ladder cross-joins the 1-row moments
    relation at metadata scale."""
    o = load(spark, sf_dir, "orders")
    v = F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("bigint")
    m = o.select(v.alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q"),
    )
    ladder = spark.range(0, 4).select(
        F.element_at(
            F.array(F.lit(1), F.lit(2), F.lit(5), F.lit(10)),
            (F.col("id") + 1).cast("int"),
        )
        .cast("bigint")
        .alias("mde")
    )
    return (
        ladder.crossJoin(F.broadcast(m))
        .select(
            F.col("mde").alias("mde_pct"),
            F.col("n").alias("n_population"),
            micro(F.expr(_PW_MEAN)).alias("mean_micro"),
            micro(F.expr(_PW_DELTA)).alias("delta_micro"),
            F.expr(_PW_N).cast("bigint").alias("n_per_arm"),
            (F.expr(_PW_N) <= F.col("n") / F.lit(2)).alias("feasible"),
        )
        .orderBy("mde_pct")
    )


# Beta-Binomial posterior moments under a Beta(1,1) prior — exact
# rationals from integer counts, spelled once.
_BB_A = "(CAST(x AS DOUBLE) + 1.0)"
_BB_B = "(CAST(n AS DOUBLE) - x + 1.0)"
_BB_MEAN = f"({_BB_A} / (n + 2.0))"
_BB_VAR = (
    f"({_BB_A} * {_BB_B} / ((n + 2.0) * (n + 2.0) * (n + 3.0)))"
)


@query(
    "agg_bayes_beta_binomial",
    oracle=f"""
        WITH m AS (
            SELECT c_mktsegment AS seg,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        )
        SELECT seg, n, x,
               CAST(floor(CAST(x AS DOUBLE) / n * 1000000.0 + 0.5)
                    AS BIGINT) AS mle_micro,
               CAST(floor({_BB_MEAN} * 1000000.0 + 0.5) AS BIGINT)
                   AS post_mean_micro,
               CAST(floor(sqrt({_BB_VAR}) * 1000000.0 + 0.5) AS BIGINT)
                   AS post_sd_micro,
               CAST(floor(({_BB_MEAN} - 1.959963985 * sqrt({_BB_VAR}))
                    * 1000000.0 + 0.5) AS BIGINT) AS lo_micro,
               CAST(floor(({_BB_MEAN} + 1.959963985 * sqrt({_BB_VAR}))
                    * 1000000.0 + 0.5) AS BIGINT) AS hi_micro
        FROM m
        ORDER BY seg
    """,
    phase="P2",
    tags=("agg", "statistics", "bayesian"),
)
def agg_bayes_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Binomial posterior for the urgent-order rate per segment
    under a uniform Beta(1,1) prior: posterior mean (x+1)/(n+2) — the
    Laplace-smoothed rate every ranking-by-rate problem should use
    instead of the MLE (a 1/1 segment shouldn't outrank a 98/100) —
    with the posterior sd and a normal-approximation credible band.
    The Bayesian member of the rate family (welch/chi2 test;
    ratio_delta_ci estimates; this one regularizes).

    Exactness: n and x are exact integers from one combinable
    FILTER-style aggregate; every posterior moment is ONE shared IEEE
    formula over those integers (exact Beta moments, no sampling);
    micro on output.

    Plan: one join + combinable agg to the 5-segment grain — the
    data-sized stage ends there."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    return m.select(
        "seg",
        "n",
        "x",
        micro(F.col("x").cast("double") / F.col("n")).alias("mle_micro"),
        micro(F.expr(_BB_MEAN)).alias("post_mean_micro"),
        micro(F.sqrt(F.expr(_BB_VAR))).alias("post_sd_micro"),
        micro(F.expr(_BB_MEAN) - F.lit(1.959963985) * F.sqrt(F.expr(_BB_VAR)))
        .alias("lo_micro"),
        micro(F.expr(_BB_MEAN) + F.lit(1.959963985) * F.sqrt(F.expr(_BB_VAR)))
        .alias("hi_micro"),
    ).orderBy("seg")


@query(
    "agg_geometric_mean",
    oracle="""
        WITH terms AS (
            SELECT c_mktsegment AS seg,
                   CAST(floor(ln(CAST(floor(o_totalprice + 0.5)
                        AS BIGINT)) * 1000000000.0 + 0.5) AS BIGINT)
                       AS lnp_nano
            FROM orders JOIN customer ON o_custkey = c_custkey
        ), m AS (
            SELECT seg, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(lnp_nano) AS BIGINT) AS s
            FROM terms GROUP BY seg
        )
        SELECT seg, n,
               CAST(floor(CAST(s AS DOUBLE) / n / 1000.0 + 0.5)
                    AS BIGINT) AS mean_ln_micro,
               CAST(floor(exp(CAST(s AS DOUBLE) / n / 1000000000.0)
                    * 100.0 + 0.5) AS BIGINT) AS geomean_cents
        FROM m
        ORDER BY seg
    """,
    phase="P2",
    tags=("agg", "statistics"),
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean order value per segment — the multiplicative
    average that right-skewed money distributions actually need (the
    arithmetic mean of TPC-H order values sits far above the typical
    order; the geometric mean tracks the distribution's center): GM =
    exp(mean ln x), with the mean-log shipped so consumers can
    compose further (log-normal fits, ratios of GMs).

    Exactness: values quantize once at row grain (whole dollars,
    always >= 1 so ln > 0); each ln NANO-quantizes the moment it's
    computed (the ln house class — int64 bound: ln(5e5) ~ 13 ->
    1.3e10/row, safe past 7e8 rows/group), making the per-group sum
    an order-free BIGINT; the single exp runs on the exact-moment
    ratio, spelled once.

    Plan: one join + ONE combinable aggregate to segment grain —
    map-side partials carry (count, sum) only."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    lnp = F.floor(
        F.log(
            F.floor(F.col("o_totalprice") + F.lit(0.5))
            .cast("bigint")
            .cast("double")
        )
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("seg"), lnp.alias("lnp_nano"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("lnp_nano").cast("bigint").alias("s"),
        )
    )
    return m.select(
        "seg",
        "n",
        F.floor(
            F.col("s").cast("double") / F.col("n") / F.lit(1000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mean_ln_micro"),
        cents(
            F.exp(F.col("s").cast("double") / F.col("n") / F.lit(1000000000.0))
        ).alias("geomean_cents"),
    ).orderBy("seg")


@query(
    "agg_harmonic_mean",
    oracle="""
        WITH terms AS (
            SELECT c_mktsegment AS seg,
                   CAST(floor(1000000000000.0
                        / CAST(floor(o_totalprice + 0.5) AS BIGINT)
                        + 0.5) AS BIGINT) AS inv_pico
            FROM orders JOIN customer ON o_custkey = c_custkey
        ), m AS (
            SELECT seg, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(inv_pico) AS BIGINT) AS s
            FROM terms GROUP BY seg
        )
        SELECT seg, n,
               CAST(floor(CAST(n AS DOUBLE)
                    / (CAST(s AS DOUBLE) / 1000000000000.0) * 100.0
                    + 0.5) AS BIGINT) AS harmonic_mean_cents
        FROM m
        ORDER BY seg
    """,
    phase="P2",
    tags=("agg", "statistics"),
)
def agg_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic mean order value per segment — completes the
    Pythagorean-means family (arithmetic: agg_group; geometric:
    agg_geometric_mean): the rate-correct average (HM of
    dollars-per-order is what an equal-dollar-weighted consumer
    experiences) and always the lowest of the three, so the AM/GM/HM
    spread itself is a one-line skew diagnostic.

    Exactness: each reciprocal pico-quantizes at row grain the
    moment it's computed (values >= ~900 dollars so 1/x <= ~1.1e-3 ->
    pico term <= 1.1e9, int64-safe past 8e9 rows/group; relative
    quantization error <= 1e-12/1e-5 = 1e-7, a defined metric), so
    the per-group sum is an order-free BIGINT; the final n/sum is one
    spelled IEEE chain.

    Plan: one join + ONE combinable aggregate to segment grain."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    inv = F.floor(
        F.lit(1e12)
        / F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("bigint")
        + F.lit(0.5)
    ).cast("bigint")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("seg"), inv.alias("inv_pico"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("inv_pico").cast("bigint").alias("s"),
        )
    )
    return m.select(
        "seg",
        "n",
        cents(
            F.col("n").cast("double")
            / (F.col("s").cast("double") / F.lit(1e12))
        ).alias("harmonic_mean_cents"),
    ).orderBy("seg")


# Kendall tau-b shared formula: exact integer concordance counts at
# NATION grain (n=25 → 300 pairs), with the tie-corrected denominator
# sqrt((n0-n1)(n0-n2)) computed once from integer tie tallies.
_TAU_B = (
    "(CAST(n_conc - n_disc AS DOUBLE)"
    " / (sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE))))"
)


@query(
    "agg_kendall_tau",
    oracle=f"""
        WITH g AS (
            SELECT s.s_nationkey AS k,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS y
            FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY s.s_nationkey
        ),
        pairs AS (
            SELECT CAST(count(*) AS BIGINT) AS n0,
                   CAST(count(*) FILTER (WHERE (a.x - b.x) * (a.y - b.y)
                        > 0) AS BIGINT) AS n_conc,
                   CAST(count(*) FILTER (WHERE (a.x - b.x) * (a.y - b.y)
                        < 0) AS BIGINT) AS n_disc,
                   CAST(count(*) FILTER (WHERE a.x = b.x) AS BIGINT)
                       AS n1,
                   CAST(count(*) FILTER (WHERE a.y = b.y) AS BIGINT)
                       AS n2
            FROM g a JOIN g b ON a.k < b.k
        ),
        m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS n,
                     n0, n_conc, n_disc, n1, n2 FROM pairs)
        SELECT n, n_conc, n_disc, n1 AS n_ties_x, n2 AS n_ties_y,
               CASE WHEN n0 > n1 AND n0 > n2 THEN
                   CAST(floor({_TAU_B} * 1000000.0 + 0.5) AS BIGINT)
               END AS tau_b_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "correlation", "rank"),
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between supplier-nation shipment VOLUME (lineitem
    count) and REVENUE (summed cents) — the rank-concordance
    companion to agg_spearman_corr: spearman correlates the rank
    VALUES (sensitive to rank distances), tau counts pairwise order
    agreements (robust to any monotone distortion), and disagreement
    between the two flags influential outlier segments.

    Exactness: both metrics per nation are exact integers (count /
    summed cents), so concordant/discordant/tie classification is
    pure integer sign arithmetic over the 300 nation pairs; the
    tie-corrected tau-b denominator folds once through sqrt and the
    whole expression is spelled identically in both engines; a
    fully-tied axis yields NULL, not 0/0.

    Plan: ONE combinable nation-grain aggregate over the fact scan
    (the only data-sized stage — eagerly checkpointed because THREE
    consumers reference it in the final job: both self-join legs and
    the n count; without the cut each would re-scan the fact table,
    no cross-branch CSE), then a 25×25 broadcast self-join and a
    1-row reduce — concordance never touches row grain (the naive
    form is O(rows²); this is O(segments²) with segments ≤ 25)."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    g = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == s.s_suppkey,
        )
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum(cents(F.col("l_extendedprice"))).cast("bigint").alias("y"),
        )
    ).localCheckpoint(eager=True)
    a = g.alias("a")
    b = F.broadcast(g.alias("b"))  # 25-row side; ckpt size is opaque to CBO
    prod = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pairs = a.join(b, F.col("a.k") < F.col("b.k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.count(F.when(prod > 0, F.lit(1))).cast("bigint").alias("n_conc"),
        F.count(F.when(prod < 0, F.lit(1))).cast("bigint").alias("n_disc"),
        F.count(F.when(F.col("a.x") == F.col("b.x"), F.lit(1)))
        .cast("bigint")
        .alias("n1"),
        F.count(F.when(F.col("a.y") == F.col("b.y"), F.lit(1)))
        .cast("bigint")
        .alias("n2"),
    )
    n = g.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tau = F.expr(_TAU_B)
    return (
        F.broadcast(n)
        .crossJoin(pairs)
        .select(
            "n",
            "n_conc",
            "n_disc",
            F.col("n1").alias("n_ties_x"),
            F.col("n2").alias("n_ties_y"),
            F.when(
                (F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2")),
                micro(tau),
            ).alias("tau_b_micro"),
        )
    )


@query(
    "agg_tail_mean_cvar",
    oracle="""
        WITH g AS (
            SELECT l_returnflag AS seg,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS c,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1, 2
        ),
        cum AS (
            SELECT seg, c, cnt,
                   CAST(sum(cnt) OVER (PARTITION BY seg ORDER BY c
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                   CAST(sum(cnt) OVER (PARTITION BY seg) AS BIGINT) AS n
            FROM g
        )
        SELECT seg,
               CAST(min(n) AS BIGINT) AS n,
               CAST(min(c) FILTER (WHERE 20 * cw > 19 * n) AS BIGINT)
                   AS cutoff_cents,
               CAST(sum(cnt) FILTER (WHERE 20 * cw > 19 * n) AS BIGINT)
                   AS n_tail,
               CAST(floor(CAST(sum(c * cnt)
                        FILTER (WHERE 20 * cw > 19 * n) AS DOUBLE)
                    / sum(cnt) FILTER (WHERE 20 * cw > 19 * n) + 0.5)
                    AS BIGINT) AS tail_mean_cents
        FROM cum
        GROUP BY seg
        ORDER BY seg
    """,
    phase="P3",
    tags=("agg", "percentile", "risk", "tail"),
)
def agg_tail_mean_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail mean past the 95th percentile (CVaR / expected shortfall)
    per return-flag segment: the cutoff is the smallest price whose
    cumulative count clears 95% (all-integer fence 20·cum > 19·n — no
    float quantile semantics to reconcile), and the tail statistic is
    the mean of everything at-or-above it. The percentile family says
    where the threshold IS; this says how bad the exceedances ARE —
    the number an SLA/cost-guard actually bills.

    Exactness: prices quantize to exact cents at row grain; cutoff
    selection and tail membership are pure integer predicates over
    cumulative counts; the tail mean is one spelled division of two
    exact integers.

    Plan: the two-phase histogram-selection shape (the
    agg_approx_percentile rework pattern) — ONE combinable reduction
    to (segment, cents) grain, then windows and the tail fold run at
    VALUE grain only; no k-partition window ever sees row-grain
    data."""
    li = load(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("seg"),
            cents(F.col("l_extendedprice")).alias("c"),
        )
        .groupBy("seg", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("seg")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("seg")
    cum = g.select(
        "seg",
        "c",
        "cnt",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cw"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n"),
    )
    in_tail = F.lit(20) * F.col("cw") > F.lit(19) * F.col("n")
    return (
        cum.groupBy("seg")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.min(F.when(in_tail, F.col("c")))
            .cast("bigint")
            .alias("cutoff_cents"),
            F.sum(F.when(in_tail, F.col("cnt")))
            .cast("bigint")
            .alias("n_tail"),
            F.floor(
                F.sum(F.when(in_tail, F.col("c") * F.col("cnt"))).cast(
                    "double"
                )
                / F.sum(F.when(in_tail, F.col("cnt")))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("tail_mean_cents"),
        )
        .orderBy("seg")
    )


@query(
    "agg_hodges_lehmann",
    oracle="""
        WITH g AS (
            SELECT c_nationkey AS k,
                   CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS v
            FROM customer GROUP BY c_nationkey
        ),
        walsh AS (
            SELECT a.v + b.v AS s2
            FROM g a JOIN g b ON a.k <= b.k
        ),
        ranked AS (
            SELECT s2, row_number() OVER (ORDER BY s2) AS rn,
                   CAST(count(*) OVER () AS BIGINT) AS cnt
            FROM walsh
        )
        SELECT CAST(min(cnt) AS BIGINT) AS n_walsh,
               CAST(min(CASE WHEN 2 * rn = cnt + 1 OR 2 * rn = cnt
                        THEN s2 END) AS BIGINT) AS median_sum2_cents,
               CAST(floor(CAST(min(CASE WHEN 2 * rn = cnt + 1
                        OR 2 * rn = cnt THEN s2 END) AS DOUBLE) / 2.0
                    + 0.5) AS BIGINT) AS hl_estimate_cents
        FROM ranked
    """,
    phase="P2",
    tags=("agg", "statistics", "robust"),
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimate over the per-nation account
    balances: the median of all Walsh averages (pairwise means,
    i ≤ j) — the robust 'typical segment balance' that one whale
    nation cannot drag the way the mean can, and the location
    sibling of ts_theil_sen (which is HL applied to pairwise
    slopes).

    Exactness: segment totals are exact cents; Walsh pairs travel as
    UNHALVED sums (no fraction until the end); the median pick is
    the deterministic lower-median integer fence 2·rn ∈ {cnt, cnt+1}
    on a sorted row_number — the single halving happens once, both
    engines spelling it identically.

    Plan: ONE combinable segment aggregate over the scan (25 rows),
    then a 25×26/2 self-join and a tiny ranked pick — O(segments²),
    never O(rows²); the segment relation is checkpointed against its
    two self-join consumers."""
    c = load(spark, sf_dir, "customer")
    g = (
        c.groupBy(F.col("c_nationkey").alias("k"))
        .agg(
            F.sum(cents(F.col("c_acctbal"))).cast("bigint").alias("v")
        )
        .localCheckpoint(eager=True)
    )
    a = g.alias("a")
    b = F.broadcast(g.alias("b"))  # 25-row side; ckpt size is opaque to CBO
    walsh = a.join(b, F.col("a.k") <= F.col("b.k")).select(
        (F.col("a.v") + F.col("b.v")).alias("s2")
    )
    w_rn = Window.orderBy("s2")
    w_all = Window.partitionBy()
    ranked = walsh.select(
        "s2",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("cnt"),
    )
    is_med = (F.lit(2) * F.col("rn") == F.col("cnt") + 1) | (
        F.lit(2) * F.col("rn") == F.col("cnt")
    )
    return ranked.agg(
        F.min("cnt").cast("bigint").alias("n_walsh"),
        F.min(F.when(is_med, F.col("s2")))
        .cast("bigint")
        .alias("median_sum2_cents"),
        F.floor(
            F.min(F.when(is_med, F.col("s2"))).cast("double") / F.lit(2.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("hl_estimate_cents"),
    )


# --- Brown-Forsythe variance-homogeneity test (r10) -------------------------


@query(
    "agg_levene_test",
    oracle=f"""
        WITH vals AS (
            SELECT event_type,
                   CAST(floor(value + 0.5) AS BIGINT) AS v
            FROM events
        ), dv AS (
            SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
            FROM vals GROUP BY event_type, v
        ), cums AS (
            SELECT event_type, v,
                   CAST(sum(cnt) OVER (PARTITION BY event_type
                        ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum,
                   CAST(sum(cnt) OVER (PARTITION BY event_type)
                        AS BIGINT) AS tot
            FROM dv
        ), med AS (
            SELECT event_type, CAST(min(v) AS BIGINT) AS med_v
            FROM cums WHERE 2 * cum >= tot
            GROUP BY event_type
        ), z AS (
            SELECT vals.event_type, abs(v - med_v) AS zv
            FROM vals JOIN med USING (event_type)
        ), g AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT)     AS n_g,
                   CAST(sum(zv) AS BIGINT)      AS s_g,
                   CAST(sum(zv * zv) AS BIGINT) AS q_g
            FROM z GROUP BY event_type
        ), m AS (
            SELECT CAST(count(*) AS BIGINT)  AS k,
                   CAST(sum(n_g) AS BIGINT)  AS n_tot,
                   CAST(sum(s_g) AS BIGINT)  AS s_tot,
                   CAST(sum(q_g) AS BIGINT)  AS q_tot,
                   CAST(sum(CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g
                        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS cm_sum
            FROM g
        )
        SELECT k, n_tot, s_tot, q_tot, cm_sum,
               CAST(floor({_ANOVA_SSB} * 1000000.0 + 0.5) AS BIGINT)
                   AS ssb_micro,
               CAST(floor({_ANOVA_SSW} * 1000000.0 + 0.5) AS BIGINT)
                   AS ssw_micro,
               CAST(floor({_ANOVA_F} * 1000000.0 + 0.5) AS BIGINT)
                   AS w_micro
        FROM m
    """,
    phase="P2",
    tags=("agg", "statistics", "hypothesis-test"),
)
def agg_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) variance-homogeneity
    test across the five event-type arms — the gate BEFORE
    agg_anova_oneway: ANOVA's F assumes equal group variances, and
    this is the robust test of that assumption (median-centered, so
    heavy tails don't inflate it). W = one-way ANOVA's F computed on
    z = |v − median(group)|.

    Exactness: group medians are the house all-integer order-stat
    selection (smallest v with 2·cum ≥ n over distinct-value counts —
    no percentile interpolation), so every z is an exact integer and
    the entire ANOVA stage reuses agg_anova_oneway's proven integer-
    moment + micro-quantized s²/n machinery verbatim (same _ANOVA_*
    formula strings, shared Spark/SQL spelling).

    Plan: distinct-value grain for the median scan (bounded keys per
    arm), one combinable z-moment aggregate, k-row reduce. The
    median join-back is a broadcast of k rows; nothing data-scale
    shuffles twice."""
    e = load(spark, sf_dir, "events")
    vals = e.select(
        "event_type",
        F.floor(F.col("value") + F.lit(0.5)).cast("bigint").alias("v"),
    )
    dv = vals.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    cums = dv.select(
        "event_type",
        "v",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.sum("cnt").over(w_tot).cast("bigint").alias("tot"),
    )
    med = F.broadcast(
        cums.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("event_type")
        .agg(F.min("v").cast("bigint").alias("med_v"))
    )
    z = vals.join(med, "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med_v")).alias("zv")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("zv").cast("bigint").alias("s_g"),
        F.sum(F.col("zv") * F.col("zv")).cast("bigint").alias("q_g"),
    )
    cm = micro(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"))
    m = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n_tot"),
        F.sum("s_g").cast("bigint").alias("s_tot"),
        F.sum("q_g").cast("bigint").alias("q_tot"),
        F.sum(cm).cast("bigint").alias("cm_sum"),
    )
    return m.select(
        "k",
        "n_tot",
        "s_tot",
        "q_tot",
        "cm_sum",
        micro(F.expr(_ANOVA_SSB)).alias("ssb_micro"),
        micro(F.expr(_ANOVA_SSW)).alias("ssw_micro"),
        micro(F.expr(_ANOVA_F)).alias("w_micro"),
    )


@query(
    "agg_cuped",
    oracle="""
        WITH span AS (
            SELECT (min(datediff('day', DATE '1970-01-01',
                                 CAST(CAST(ts AS TIMESTAMP) AS DATE)))
                  + max(datediff('day', DATE '1970-01-01',
                                 CAST(CAST(ts AS TIMESTAMP) AS DATE)))) // 2
                       AS mid
            FROM events
        ),
        per_user AS (
            SELECT user_id % 2 AS variant,
                   CAST(sum(CASE WHEN datediff('day', DATE '1970-01-01',
                                      CAST(CAST(ts AS TIMESTAMP) AS DATE))
                                      < s.mid
                            THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                   CAST(sum(CASE WHEN datediff('day', DATE '1970-01-01',
                                      CAST(CAST(ts AS TIMESTAMP) AS DATE))
                                      >= s.mid
                            THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y
            FROM events CROSS JOIN span s
            GROUP BY user_id, s.mid
        ),
        pooled AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM per_user
        ),
        theta AS (
            SELECT n, sx, sy,
                   CASE WHEN n > 1 AND
                        (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                        > 0.0
                   THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   END AS th
            FROM pooled
        ),
        per_variant AS (
            SELECT variant,
                   CAST(count(*) AS BIGINT) AS nv,
                   CAST(sum(x) AS BIGINT) AS sxv,
                   CAST(sum(y) AS BIGINT) AS syv,
                   CAST(sum(x * y) AS BIGINT) AS sxyv,
                   CAST(sum(x * x) AS BIGINT) AS sxxv,
                   CAST(sum(y * y) AS BIGINT) AS syyv
            FROM per_user GROUP BY variant
        )
        SELECT CAST(v.variant AS BIGINT) AS variant,
               v.nv AS n_users,
               CAST(floor(CAST(v.syv AS DOUBLE) / v.nv / 100.0
                    * 1000000.0 + 0.5) AS BIGINT) AS mean_y_micro,
               CASE WHEN t.th IS NOT NULL THEN
                   CAST(floor((CAST(v.syv AS DOUBLE) / v.nv
                        - t.th * (CAST(v.sxv AS DOUBLE) / v.nv
                                  - CAST(t.sx AS DOUBLE) / t.n))
                        / 100.0 * 1000000.0 + 0.5) AS BIGINT)
               END AS mean_y_adj_micro,
               CASE WHEN t.th IS NOT NULL THEN
                   CAST(floor(t.th * 1000000.0 + 0.5) AS BIGINT)
               END AS theta_micro,
               CASE WHEN t.th IS NOT NULL AND v.nv > 1 AND
                    (CAST(v.syyv AS DOUBLE)
                     - CAST(v.syv AS DOUBLE) * v.syv / v.nv) > 0.0
               THEN
                   CAST(floor((1.0 -
                       ((CAST(v.syyv AS DOUBLE)
                         - CAST(v.syv AS DOUBLE) * v.syv / v.nv)
                        - 2.0 * t.th * (CAST(v.sxyv AS DOUBLE)
                          - CAST(v.sxv AS DOUBLE) * v.syv / v.nv)
                        + t.th * t.th * (CAST(v.sxxv AS DOUBLE)
                          - CAST(v.sxv AS DOUBLE) * v.sxv / v.nv))
                       / (CAST(v.syyv AS DOUBLE)
                          - CAST(v.syv AS DOUBLE) * v.syv / v.nv))
                       * 1000000.0 + 0.5) AS BIGINT)
               END AS var_reduction_micro
        FROM per_variant v CROSS JOIN theta t
        ORDER BY variant
    """,
    phase="P4",
    tags=("aggregate", "statistics", "experiment"),
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (variant = user_id
    parity): per-user pre-period covariate x and post-period metric y
    (cents-quantized value sums split at the corpus midpoint day),
    pooled θ = cov(x,y)/var(x), and per variant the raw vs
    CUPED-adjusted mean and the achieved variance-reduction fraction
    (≈ ρ² when θ transfers) — the standard experiment-platform trick
    that turns a week of extra traffic into an arithmetic identity.

    Exactness: x and y quantize to CENTS at USER grain (micro²
    would overflow int64 in Σxy), so all five pooled and six
    per-variant moments are exact BIGINT sums; θ, the adjusted means
    and the variance ratios are ONE spelled IEEE chain over those
    integers, micro-quantized at output. Degenerate pre-periods
    (var(x) = 0, e.g. a single-day corpus) yield NULL θ/adjusted
    columns, never 0/0.

    Plan: one tiny min/max-day aggregate broadcasts the split point;
    ONE combinable user-grain aggregate builds (x, y); pooled and
    per-variant moments are two more combinable aggs at user grain;
    everything after the user rollup is ≤3 rows. Two linear shuffles
    total at any corpus size."""
    e = load(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    span = F.broadcast(
        e.agg(
            ((F.min(day) + F.max(day)) / 2)
            .cast("bigint")
            .alias("mid")
        )
    )
    c = cents(F.col("value"))
    per_user = (
        e.crossJoin(span)
        .groupBy("user_id", "mid")
        .agg(
            F.sum(F.when(day < F.col("mid"), c).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(day >= F.col("mid"), c).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("y"),
        )
        .select((F.col("user_id") % 2).alias("variant"), "x", "y")
        # user-grain covariate relation, referenced by the pooled and
        # per-variant moment aggregates — lazy checkpoint so the events
        # scan + user rollup compiles once (r13 re-derivation sweep)
        .localCheckpoint(eager=False)
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    var_x = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / F.col("n")
    cov_xy = F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy") / F.col("n")
    theta = F.broadcast(
        pooled.select(
            "n",
            "sx",
            "sy",
            F.when((F.col("n") > 1) & (var_x > 0.0), cov_xy / var_x).alias(
                "th"
            ),
        )
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("nv"),
        F.sum("x").cast("bigint").alias("sxv"),
        F.sum("y").cast("bigint").alias("syv"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxyv"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxxv"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syyv"),
    )
    vy = F.col("syyv").cast("double") - F.col("syv").cast("double") * F.col(
        "syv"
    ) / F.col("nv")
    cvy = F.col("sxyv").cast("double") - F.col("sxv").cast(
        "double"
    ) * F.col("syv") / F.col("nv")
    vx = F.col("sxxv").cast("double") - F.col("sxv").cast("double") * F.col(
        "sxv"
    ) / F.col("nv")
    th = F.col("th")
    adj_var = vy - F.lit(2.0) * th * cvy + th * th * vx
    return (
        per_variant.crossJoin(theta)
        .select(
            F.col("variant").cast("bigint").alias("variant"),
            F.col("nv").alias("n_users"),
            micro(F.col("syv").cast("double") / F.col("nv") / F.lit(100.0))
            .alias("mean_y_micro"),
            F.when(
                th.isNotNull(),
                micro(
                    (
                        F.col("syv").cast("double") / F.col("nv")
                        - th
                        * (
                            F.col("sxv").cast("double") / F.col("nv")
                            - F.col("sx").cast("double") / F.col("n")
                        )
                    )
                    / F.lit(100.0)
                ),
            ).alias("mean_y_adj_micro"),
            F.when(
                th.isNotNull(),
                micro(th),
            ).alias("theta_micro"),
            F.when(
                th.isNotNull() & (F.col("nv") > 1) & (vy > 0.0),
                micro(F.lit(1.0) - adj_var / vy),
            ).alias("var_reduction_micro"),
        )
        .orderBy("variant")
    )


_HILL_KS = (50, 100, 200)


@query(
    "agg_tail_index_hill",
    oracle=f"""
        WITH ranked AS (
            SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                       AS cents,
                   CAST(floor(ln(CAST(floor(o_totalprice * 100.0 + 0.5)
                        AS BIGINT)) * 1000000.0 + 0.5) AS BIGINT)
                       AS lnm,
                   row_number() OVER (
                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders
        ),
        wide AS (
            SELECT
                {", ".join(
                    f"CAST(sum(CASE WHEN rnk <= {k} THEN lnm ELSE 0 END)"
                    f" AS BIGINT) AS s{k},"
                    f" CAST(max(CASE WHEN rnk = {k} + 1 THEN lnm END)"
                    f" AS BIGINT) AS t{k},"
                    f" CAST(max(CASE WHEN rnk = {k} + 1 THEN cents END)"
                    f" AS BIGINT) AS c{k}"
                    for k in _HILL_KS)}
            FROM ranked
        )
        SELECT CAST(k AS BIGINT) AS k, thresh_cents,
               CAST(floor((CAST(s AS DOUBLE) - k * t) / k + 0.5)
                    AS BIGINT) AS hill_h_micro,
               CASE WHEN (CAST(s AS DOUBLE) - k * t) / k > 0 THEN
                   CAST(floor(1000000.0
                        / ((CAST(s AS DOUBLE) - k * t) / k / 1000000.0)
                        * 1.0 + 0.5) AS BIGINT)
               END AS alpha_micro
        FROM (
            {" UNION ALL ".join(
                f"SELECT {k} AS k, s{k} AS s, t{k} AS t,"
                f" c{k} AS thresh_cents FROM wide"
                for k in _HILL_KS)}
        )
        ORDER BY k
    """,
    phase="P3",
    tags=("aggregate", "statistics", "tail"),
)
def agg_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator for order values at k ∈ {{50,100,200}}
    top order statistics: H(k) = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎), α = 1/H. A
    stable α across k certifies a genuine power-law tail (α < 2 ⇒
    infinite variance — capacity planning must stop using means;
    α > 3 ⇒ CLT-safe); α drifting with k means the "heavy tail" is
    just a mixture. Completes agg_tail_mean_cvar (tail mass) with the
    tail SHAPE, and prices the k-sensitivity the single-k textbook
    estimate hides.

    Exactness: values quantize to exact integer cents BEFORE the ln
    (so both engines take ln of identical integers); each ln
    micro-quantizes at ROW grain; H(k) = (Σlnm − k·lnm₍ₖ₊₁₎)/k is
    then pure integer arithmetic with one spelled division; ranking
    ties break on the unique order key.

    Plan: ONE row_number window — at scale the top-(k+1) selection
    runs as the TakeOrdered/WindowGroupLimit map-side pattern since
    only ranks ≤ 201 survive the conditional sums — one 1-row wide
    aggregate answers all three k, then a 3-row stack."""
    o = load(spark, sf_dir, "orders")
    cents_v = cents(F.col("o_totalprice"))
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    ranked = o.select(
        cents_v.alias("cents"),
        micro(F.log(cents_v)).alias("lnm"),
        F.row_number().over(w).alias("rnk"),
    ).filter(F.col("rnk") <= max(_HILL_KS) + 1)
    aggs = []
    for k in _HILL_KS:
        aggs += [
            F.sum(F.when(F.col("rnk") <= k, F.col("lnm")).otherwise(0))
            .cast("bigint")
            .alias(f"s{k}"),
            F.max(F.when(F.col("rnk") == k + 1, F.col("lnm")))
            .cast("bigint")
            .alias(f"t{k}"),
            F.max(F.when(F.col("rnk") == k + 1, F.col("cents")))
            .cast("bigint")
            .alias(f"c{k}"),
        ]
    wide = ranked.agg(*aggs)
    stack_args = []
    for k in _HILL_KS:
        stack_args += [
            F.lit(k).cast("bigint"),
            F.col(f"s{k}"),
            F.col(f"t{k}"),
            F.col(f"c{k}"),
        ]
    cfg = wide.select(
        F.stack(F.lit(len(_HILL_KS)), *stack_args).alias(
            "k", "s", "t", "thresh_cents"
        )
    )
    h = (
        F.col("s").cast("double") - F.col("k") * F.col("t")
    ) / F.col("k")
    return cfg.select(
        "k",
        "thresh_cents",
        F.floor(h + F.lit(0.5)).cast("bigint").alias("hill_h_micro"),
        # h = 0 is possible when the top k+1 order values are all equal
        # (degenerate tail at tiny scale factors): α = 1/h would be inf,
        # which Spark turns into NULL on the bigint cast while DuckDB
        # ERRORS on CAST(inf AS BIGINT) — guard with h > 0 on BOTH
        # engines (repo no-0/0 convention) so they agree by construction.
        F.when(
            h > 0,
            F.floor(
                F.lit(1000000.0) / (h / F.lit(1000000.0)) * F.lit(1.0)
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("alpha_micro"),
    ).orderBy("k")


_IPF_ITERS = 3


def _ipf_oracle() -> str:
    steps = []
    prev = "w0"
    idx = 0
    for _ in range(_IPF_ITERS):
        for axis, kcol in (("lang", "n_langs"), ("source", "n_sources")):
            idx += 1
            steps.append(
                f"""w{idx} AS (
            SELECT lang, source, n, n_total, n_langs, n_sources,
                   CAST(floor(CAST(w AS DOUBLE)
                        * (CAST(n_total AS DOUBLE) / {kcol})
                        / (CAST(sum(n * w) OVER (PARTITION BY {axis})
                           AS DOUBLE) / 1000000.0) + 0.5) AS BIGINT) AS w
            FROM {prev}
        )"""
            )
            prev = f"w{idx}"
    return f"""
        WITH cells AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        ),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS n_total,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM cells
        ),
        w0 AS (
            SELECT lang, source, n, n_total, n_langs, n_sources,
                   CAST(1000000 AS BIGINT) AS w
            FROM cells CROSS JOIN tot
        ),
        {", ".join(steps)},
        final AS (SELECT * FROM {prev}),
        errs AS (
            SELECT CAST(max(abs(lang_mass - CAST(floor(
                       CAST(n_total AS DOUBLE) / n_langs * 1000000.0 + 0.5)
                       AS BIGINT))) AS BIGINT) AS max_lang_err_micro
            FROM (
                SELECT n_total, n_langs,
                       CAST(sum(n * w) AS BIGINT) AS lang_mass
                FROM final GROUP BY lang, n_total, n_langs
            )
        )
        SELECT f.lang, f.source, f.n AS n_docs, f.w AS weight_micro,
               e.max_lang_err_micro
        FROM final f CROSS JOIN errs e
        ORDER BY f.lang, f.source
    """


@query(
    "agg_raking_ipf",
    oracle=_ipf_oracle(),
    phase="P4",
    tags=("aggregate", "statistics", "weighting"),
)
def agg_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / iterative proportional fitting of document weights to
    UNIFORM lang × source marginals (3 sweeps): the survey-statistics
    workhorse for matching a corpus to two target distributions AT
    ONCE — where sample_ess_reweight hits one marginal exactly,
    raking alternates row (lang) and column (source) rescales until
    both hold. Ships the final per-cell weight and the residual
    lang-marginal error after 3 sweeps (raking converges
    geometrically; the residual column is the "did 3 suffice"
    answer).

    Exactness: weights live as MICRO BIGINTs; each half-step is ONE
    spelled float rescale (target mass / achieved mass over exact
    integer sums) floor-quantized back to micro at CELL grain, so
    every iteration is deterministic and the unrolled 6-step chain is
    identical in both engines.

    Plan: ONE combinable (lang, source) aggregate collapses the
    corpus to marginal-cell grain (L×S rows — tiny at any corpus
    size); all six rescale steps are window sums AT THAT GRAIN; the
    output is cell-grain. One corpus-sized shuffle total.

    r13: the cell relation coalesces to ONE partition right after the
    corpus aggregate (narrow, no shuffle) — SinglePartition satisfies
    every partitionBy, so the six alternating half-step windows that
    previously each paid an Exchange+Sort (≈13 sequential cell-grain
    stage floors) now run exchange-free inside one task, as does the
    residual branch. Bounded grain makes the single task scale-safe
    (the eval_cluster_purity global-window argument). A/B 1.31/1.63 →
    1.09/1.23 s min/med (scratch/r13o_raking_ab.py, value-identical;
    oracle-exact 3 SFs)."""
    d = load(spark, sf_dir, "documents")
    cells = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .coalesce(1)
    )
    tot = F.broadcast(
        cells.agg(
            F.sum("n").cast("bigint").alias("n_total"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
    )
    cur = cells.crossJoin(tot).select(
        "*", F.lit(1000000).cast("bigint").alias("w")
    )
    for _ in range(_IPF_ITERS):
        for axis, kcol in (("lang", "n_langs"), ("source", "n_sources")):
            wp = Window.partitionBy(axis)
            cur = cur.select(
                "lang",
                "source",
                "n",
                "n_total",
                "n_langs",
                "n_sources",
                F.floor(
                    F.col("w").cast("double")
                    * (F.col("n_total").cast("double") / F.col(kcol))
                    / (
                        F.sum(F.col("n") * F.col("w"))
                        .over(wp)
                        .cast("double")
                        / F.lit(1000000.0)
                    )
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("w"),
            )
    lang_mass = cur.groupBy("lang", "n_total", "n_langs").agg(
        F.sum(F.col("n") * F.col("w")).cast("bigint").alias("lang_mass")
    )
    errs = F.broadcast(
        lang_mass.agg(
            F.max(
                F.abs(
                    F.col("lang_mass")
                    - micro(F.col("n_total").cast("double") / F.col("n_langs"))
                )
            )
            .cast("bigint")
            .alias("max_lang_err_micro")
        )
    )
    return (
        cur.crossJoin(errs)
        .select(
            "lang",
            "source",
            F.col("n").alias("n_docs"),
            F.col("w").alias("weight_micro"),
            "max_lang_err_micro",
        )
        .orderBy("lang", "source")
    )


@query(
    "agg_two_proportion_ztest",
    oracle="""
        WITH per_user AS (
            SELECT user_id % 2 AS variant,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END)
                           > sum(CASE WHEN event_type = 'error'
                                 THEN 1 ELSE 0 END)
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        v AS (
            SELECT
                CAST(count(*) FILTER (WHERE variant = 0) AS BIGINT) AS n_a,
                CAST(sum(converted) FILTER (WHERE variant = 0) AS BIGINT)
                    AS x_a,
                CAST(count(*) FILTER (WHERE variant = 1) AS BIGINT) AS n_b,
                CAST(sum(converted) FILTER (WHERE variant = 1) AS BIGINT)
                    AS x_b
            FROM per_user
        )
        SELECT n_a, x_a, n_b, x_b,
               CAST(floor(CAST(x_a AS DOUBLE) / n_a * 1000000.0 + 0.5)
                    AS BIGINT) AS rate_a_micro,
               CAST(floor(CAST(x_b AS DOUBLE) / n_b * 1000000.0 + 0.5)
                    AS BIGINT) AS rate_b_micro,
               CAST(floor((CAST(x_b AS DOUBLE) / n_b
                           - CAST(x_a AS DOUBLE) / n_a)
                    * 1000000.0 + 0.5) AS BIGINT) AS diff_micro,
               CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
               CAST(floor((CAST(x_b AS DOUBLE) / n_b
                           - CAST(x_a AS DOUBLE) / n_a)
                    / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                         * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b))
                    * 1000000.0 + 0.5) AS BIGINT) END AS z_micro,
               CAST(floor(sqrt(CAST(x_a AS DOUBLE) / n_a
                         * (1.0 - CAST(x_a AS DOUBLE) / n_a) / n_a
                         + CAST(x_b AS DOUBLE) / n_b
                         * (1.0 - CAST(x_b AS DOUBLE) / n_b) / n_b)
                    * 1000000.0 + 0.5) AS BIGINT) AS se_unpooled_micro
        FROM v
    """,
    phase="P4",
    tags=("aggregate", "statistics", "experiment"),
)
def agg_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for a conversion A/B readout (variant =
    user parity, success = the user fired more purchases than errors):
    per-variant user-grain conversion rates, the pooled-variance z
    statistic, and the unpooled standard error (diff ± 1.96·se is the
    CI) — the first-line experiment readout, and agg_cuped's binary
    sibling (CUPED adjusts continuous metrics; rates get THIS test).
    User grain, not event grain, because conversion is a per-user
    fact — event-grain rates double-count heavy users (the classic
    A/B analysis bug this op's shape forbids).

    Exactness: the four counts are exact BIGINTs from one user-grain
    aggregate; every rate/z/se is ONE spelled IEEE chain over those
    integers, micro-quantized at output.

    Plan: ONE combinable user-grain aggregate (max of a flag) is the
    only corpus-sized stage; the 2×2 table folds in a second tiny
    aggregate; output is a single row."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ),
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    v = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_b"),
    )
    ra = F.col("x_a").cast("double") / F.col("n_a")
    rb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return v.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        micro(ra).alias("rate_a_micro"),
        micro(rb).alias("rate_b_micro"),
        micro(rb - ra).alias("diff_micro"),
        F.when(
            (F.col("x_a") + F.col("x_b") > 0)
            & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")),
            micro(
                (rb - ra)
                / F.sqrt(
                    pp
                    * (F.lit(1.0) - pp)
                    * (
                        F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")
                    )
                )
            ),
        ).alias("z_micro"),
        micro(
            F.sqrt(
                ra * (F.lit(1.0) - ra) / F.col("n_a")
                + rb * (F.lit(1.0) - rb) / F.col("n_b")
            )
        ).alias("se_unpooled_micro"),
    )


@query(
    "agg_capture_recapture",
    oracle="""
        WITH marks AS (
            SELECT user_id,
                   max(CASE WHEN substr(md5(CAST(event_id AS VARCHAR)),
                                 1, 1) < '4' THEN 1 ELSE 0 END) AS s1,
                   max(CASE WHEN substr(md5(CAST(event_id AS VARCHAR)),
                                 2, 1) < '4' THEN 1 ELSE 0 END) AS s2
            FROM events GROUP BY user_id
        ),
        counts AS (
            SELECT CAST(count(*) AS BIGINT) AS n_true,
                   CAST(sum(s1) AS BIGINT) AS n1,
                   CAST(sum(s2) AS BIGINT) AS n2,
                   CAST(sum(s1 * s2) AS BIGINT) AS m
            FROM marks
        )
        SELECT n_true, n1, n2, m,
               CAST(floor((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1)
                    - 1.0 + 0.5) AS BIGINT) AS chapman_est,
               CAST(floor(((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1)
                    - 1.0) / n_true * 1000000.0 + 0.5) AS BIGINT)
                   AS est_over_true_micro,
               CAST(floor(sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)
                    * (n1 - m) * (n2 - m))
                    / ((m + 1) * (m + 1) * (m + 2))) + 0.5) AS BIGINT)
                   AS se_est
        FROM counts
    """,
    phase="P4",
    tags=("aggregate", "statistics", "estimation"),
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the distinct-user universe
    from two INDEPENDENT hash-band samples of events — the ecology
    estimator that answers "how many users exist" when you can only
    afford to scan samples: N̂ = (n₁+1)(n₂+1)/(m+1) − 1, with its
    standard error. Here the true count is cheap, so the query ships
    est/true as a calibration check — at 100 TB the two marks come
    from two cheap sampled scans and the exact leg is the one you
    skip. The two samples use DIFFERENT md5 hex positions of the
    event key, so membership is independent across samples but
    deterministic across engines (no rand()).

    Exactness: the four counts are exact BIGINTs from one user-grain
    aggregate; Chapman's estimate and Seber's SE are each ONE spelled
    IEEE chain, floor-quantized.

    Plan: ONE combinable user-grain aggregate (two max-flags), one
    1-row reduce."""
    e = load(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string").cast("binary"))
    marks = e.groupBy("user_id").agg(
        F.max(
            F.when(F.substring(h, 1, 1) < "4", 1).otherwise(0)
        ).alias("s1"),
        F.max(
            F.when(F.substring(h, 2, 1) < "4", 1).otherwise(0)
        ).alias("s2"),
    )
    counts = marks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum("s1").cast("bigint").alias("n1"),
        F.sum("s2").cast("bigint").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("bigint").alias("m"),
    )
    chap = (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (
        F.col("m") + 1
    ) - F.lit(1.0)
    return counts.select(
        "n_true",
        "n1",
        "n2",
        "m",
        F.floor(chap + F.lit(0.5)).cast("bigint").alias("chapman_est"),
        micro(chap / F.col("n_true")).alias("est_over_true_micro"),
        F.floor(
            F.sqrt(
                (
                    (F.col("n1") + 1).cast("double")
                    * (F.col("n2") + 1)
                    * (F.col("n1") - F.col("m"))
                    * (F.col("n2") - F.col("m"))
                )
                / (
                    (F.col("m") + 1)
                    * (F.col("m") + 1)
                    * (F.col("m") + 2)
                )
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("se_est"),
    )
