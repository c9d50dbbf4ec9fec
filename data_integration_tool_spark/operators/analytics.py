"""Composite analytics queries — TPC-H-shaped end-to-end workloads.

Single-operator queries prove coverage; these prove the operators
compose the way a real analyst uses them (multi-join + filter + agg +
top-k in one plan) and give the optimizer something worth optimizing:
each runs as one Catalyst plan with pushed filters, broadcast dims,
partial aggregation, and TakeOrderedAndProject at the top.

Date literals are fixed (the generated orders span 1995-2001 — see
FIXTURES.md) so results are deterministic at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import MICRO_SQL, cents, micro
from ..io import load
from ..registry import query


@query(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate  > TIMESTAMP '1998-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped orders of one market segment with the
    highest outstanding revenue. Filters reach both scans before the
    joins; the final top-10 plans as TakeOrderedAndProject (l_orderkey
    added to the sort as the deterministic tiebreaker)."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle="""
        SELECT n.n_name,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (two-year window): revenue where customer and supplier
    share a nation in one region. Six-table join — dims broadcast, the
    two fact tables meet on the shuffled orderkey, and the
    customer/supplier nation equality prunes cross-nation rows at the
    supplier join, not after."""
    r = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    n = F.broadcast(load(spark, sf_dir, "nation"))
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               c.c_acctbal, n.n_name
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (one-year window): customers who returned the most
    revenue. The returnflag filter lands in the lineitem scan; nation
    broadcasts; top-20 with c_custkey tiebreaker."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, q.total_qty
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250
        ) q ON q.l_orderkey = o.o_orderkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with very large orders. The HAVING
    aggregate reduces lineitem to qualifying orderkeys BEFORE any join
    (semi-join-like pre-reduction — the order/customer joins only see
    the few large orders), then top-100 by price."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    q = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        o.join(q, q.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
        SELECT o.o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (fixture adaptation: the schema has no commit/receipt
    dates, so "late" = a lineitem shipped >30 days after the order
    date): order counts per priority for orders with at least one late
    line. The EXISTS is a left-semi join — each order counted once no
    matter how many late lines — and the quarter filter reaches the
    orders scan before the join."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
        SELECT sum(l_extendedprice * l_discount) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-side aggregation — every predicate pushes to
    the parquet scan, no join, no wide shuffle (one-row global agg). At
    100 TB this is the query that proves filter pushdown works: the plan
    must show PushedFilters on shipdate/discount/quantity."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@query(
    "tpch_q7_volume_shipping",
    oracle="""
        SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l.l_shipdate) AS l_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume
            FROM supplier s
            JOIN lineitem l ON s.s_suppkey = l.l_suppkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.
    Both nation dims broadcast; the disjunctive nation-pair predicate is
    applied right after those broadcasts so non-qualifying rows die
    before the fact-fact shuffle join."""
    n1 = F.broadcast(
        load(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        load(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q8_market_share",
    oracle="""
        SELECT o_year,
               sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                   / sum(volume) AS mkt_share
        FROM (
            SELECT year(o.o_orderdate) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume,
                   n2.n_name AS nation
            FROM part p
            JOIN lineitem l ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
            JOIN region r   ON n1.n_regionkey = r.r_regionkey
            JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
            WHERE r.r_name = 'ASIA'
              AND p.p_type = 'ECONOMY'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        ) all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of regional volume in a part type,
    by order year. Eight-table join where every dimension broadcasts;
    part-type and region filters prune before the fact-fact shuffle —
    the only exchange left is lineitem⋈orders on orderkey."""
    p = F.broadcast(
        load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    )
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    r = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    n1 = F.broadcast(
        load(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"),
            F.col("n_regionkey").alias("n1_region"),
        )
    )
    n2 = F.broadcast(
        load(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
        )
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(r, F.col("n1_region") == F.col("r_regionkey"))
        .select(F.year("o_orderdate").alias("o_year"), volume.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume")).otherwise(0.0))
                / F.sum("volume")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q12_late_lines",
    oracle="""
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (fixture adaptation: no shipmode column, so the group
    dimension is returnflag and "late" = shipped >60 days after order
    date): high/low-priority line counts among late shipments. The
    year filter is scan-pushed; the lateness predicate rides the join."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
        SELECT 100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                THEN l.l_extendedprice * (1 - l.l_discount)
                                ELSE 0 END)
               / sum(l.l_extendedprice * (1 - l.l_discount)) AS promo_revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
          AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo-type share of one month's revenue. Part is
    broadcast (it joins the already-month-filtered lineitem), and the
    conditional sum folds into one partial-aggregated pass."""
    p = F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_type"))
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("promo_revenue")
        )
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
        SELECT sum(l.l_extendedprice) / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND p.p_size < 10
          AND l.l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (fixture adaptation: p_size < 10 replaces the absent
    container column): revenue lost to small-quantity orders of one
    brand's small parts. The correlated scalar avg is decorrelated into
    a per-part aggregate joined back — but computed ONLY over parts that
    survive the brand/size filter (semi-reduced before the avg), so the
    per-part aggregate never scans quantities for parts the outer query
    will drop."""
    p = F.broadcast(
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    filtered = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    avgq = filtered.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    ).withColumnRenamed("l_partkey", "avg_partkey")
    return (
        filtered.join(
            F.broadcast(avgq), F.col("l_partkey") == F.col("avg_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@query(
    "tpch_q19_disjunctive_revenue",
    oracle="""
        SELECT sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity >= 1 AND l.l_quantity <= 20)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity >= 10 AND l.l_quantity <= 30)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity predicates over a
    part⋈lineitem join. The per-table halves of the OR are derivable by
    Catalyst (constraint propagation pushes brand∈{...} to the part scan
    and quantity ranges to the lineitem scan); the residual disjunction
    evaluates on the broadcast-joined rows."""
    p = F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size"))
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    between = lambda c, lo, hi: (F.col(c) >= lo) & (F.col(c) <= hi)  # noqa: E731
    cond = (
        (F.col("p_brand") == "Brand#1") & between("p_size", 1, 15) & between("l_quantity", 1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2") & between("p_size", 10, 30) & between("l_quantity", 10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3") & between("p_size", 20, 50) & between("l_quantity", 20, 40)
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
        WITH avg_bal AS (
            SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_nationkey, count(*) AS numcust, sum(c.c_acctbal) AS totacctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.ab
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c.c_nationkey
        ORDER BY c.c_nationkey
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (fixture adaptations: nationkey replaces the absent
    phone country code, and "idle" means no order since 2000 — every
    fixture customer has SOME order, so the literal never-ordered form
    returns zero rows and proves nothing): above-average-balance
    customers gone idle. The global average is a one-row broadcast
    cross join; the NOT EXISTS is a left-anti join against the
    date-filtered orders keys (filter pushed to the orders scan)."""
    c = load(spark, sf_dir, "customer")
    avg_bal = F.broadcast(
        c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    )
    o_keys = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o_keys, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "sql_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity)                                       AS sum_qty,
               sum(l_extendedprice)                                  AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               avg(l_quantity)                                       AS avg_qty,
               avg(l_extendedprice)                                  AS avg_price,
               avg(l_discount)                                       AS avg_disc,
               count(*)                                              AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    phase="P2",
    tags=("analytics", "sql", "tpch"),
)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 via the ``spark.sql`` TEXT interface — proof that a
    user can hand this engine the SAME ANSI SQL the oracle runs (the
    string below is byte-identical to the DuckDB twin) over registered
    views, and Catalyst plans it like the DataFrame form (`agg_group`
    is the DataFrame twin of this query; both are driver-verified).
    ``register_views`` makes all ten fixture tables addressable by
    name, so any §2 query is also reachable through plain SQL."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity)                                       AS sum_qty,
               sum(l_extendedprice)                                  AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               avg(l_quantity)                                       AS avg_qty,
               avg(l_extendedprice)                                  AS avg_price,
               avg(l_discount)                                       AS avg_disc,
               count(*)                                              AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


@query(
    "basket_pairs",
    oracle="""
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS support
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 2
        ORDER BY support DESC, part_a, part_b
        LIMIT 100
    """,
    phase="P3",
    tags=("analytics", "basket"),
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in the
    same order, with support ≥ 2 (the oracle keeps the textbook
    self-join form; this plan is its algebraic rewrite).

    Plan (r6 rework, ~2× the self-join at sf0.1): lineitem shuffles
    ONCE — groupBy order collects the sorted part list, and the k(k-1)/2
    pairs per order are generated MAP-SIDE by a nested array transform
    over that list (strict part_a < part_b drops same-part duplicates,
    matching the join's strict inequality; repeated cross-part lines
    still pair per line combination, so counts are join-identical —
    verified value-equal at sf0.1). The old form shuffled lineitem twice
    (both self-join sides) before the pair aggregate; at 100 TB that
    doubled the dominant exchange. Pair fan-out stays bounded by order
    size (≤7 lines in TPC-H shape); the top-100 fuses to
    TakeOrderedAndProject with full tiebreakers."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )
    pairs = (
        parts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .filter(F.col("part_a") < F.col("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )


@query(
    "win_pareto_share",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey, sum(o_totalprice) AS cust_rev
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT cust_rev,
                   ntile(10) OVER (ORDER BY cust_rev DESC, o_custkey) AS decile
            FROM per_cust
        )
        SELECT decile,
               count(*)        AS n_customers,
               sum(cust_rev)   AS decile_revenue,
               sum(cust_rev) / (SELECT sum(cust_rev) FROM per_cust) AS revenue_share
        FROM ranked
        GROUP BY decile
        ORDER BY decile
    """,
    phase="P3",
    tags=("analytics", "window", "pareto"),
)
def win_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto): customers bucketed into revenue
    deciles, each decile's share of total. The heavy reduction (revenue
    per customer) happens first; ntile and the share ratio run over the
    customer-count relation. Deterministic via the custkey tiebreaker
    inside the ntile ordering."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("cust_rev"))
    w = Window.orderBy(F.desc("cust_rev"), F.asc("o_custkey"))
    ranked = per_cust.select("cust_rev", F.ntile(10).over(w).alias("decile"))
    total = per_cust.agg(F.sum("cust_rev").alias("total_rev"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cust_rev").alias("decile_revenue"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_revenue",
            (F.col("decile_revenue") / F.col("total_rev")).alias("revenue_share"),
        )
        .orderBy("decile")
    )


@query(
    "trend_yoy_growth",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   sum(o_totalprice) AS revenue
            FROM orders
            GROUP BY date_trunc('month', o_orderdate)
        )
        SELECT month, revenue,
               lag(revenue, 12) OVER (ORDER BY month) AS revenue_prior_year,
               (revenue - lag(revenue, 12) OVER (ORDER BY month))
                   / lag(revenue, 12) OVER (ORDER BY month) AS yoy_growth
        FROM monthly
        ORDER BY month
    """,
    phase="P3",
    tags=("analytics", "trend"),
)
def trend_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth — the dashboard
    trend query. The heavy aggregate reduces to ~80 month rows first;
    lag(12) then runs on that tiny relation (single-partition window is
    fine BECAUSE the reduction already happened — same pattern as
    win_share)."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    prior = F.lag("revenue", 12).over(w)
    return monthly.select(
        "month",
        "revenue",
        prior.alias("revenue_prior_year"),
        ((F.col("revenue") - prior) / prior).alias("yoy_growth"),
    ).orderBy("month")


@query(
    "agg_product",
    oracle="""
        SELECT l_returnflag,
               exp(sum(ln(1 + l_discount))) AS compound_discount_factor,
               count(*) AS n
        FROM lineitem
        WHERE l_discount > 0
        GROUP BY l_returnflag
    """,
    phase="P3",
    tags=("agg", "product"),
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product aggregate via exp(Σ ln) — the compound-growth /
    compound-discount shape SQL has no native PRODUCT() for. Stays a
    combinable sum under the hood; the positive-domain filter guards
    the log."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0)
    return li.groupBy("l_returnflag").agg(
        F.exp(F.sum(F.log(F.lit(1) + F.col("l_discount")))).alias(
            "compound_discount_factor"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "customer_rfm",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey,
                   date_diff('day', max(o_orderdate), TIMESTAMP '2001-09-01') AS recency_days,
                   count(*)          AS frequency,
                   sum(o_totalprice) AS monetary
            FROM orders
            GROUP BY o_custkey
        )
        SELECT o_custkey, recency_days, frequency, monetary,
               ntile(4) OVER (ORDER BY recency_days ASC,  o_custkey) AS r_quartile,
               ntile(4) OVER (ORDER BY frequency    DESC, o_custkey) AS f_quartile,
               ntile(4) OVER (ORDER BY monetary     DESC, o_custkey) AS m_quartile
        FROM rfm
        ORDER BY o_custkey
    """,
    phase="P3",
    tags=("analytics", "rfm"),
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order at a
    fixed anchor), frequency, monetary, each quartiled. One combinable
    aggregate per customer, then three ntile windows over the reduced
    customer relation (with custkey tiebreakers so quartile boundaries
    are deterministic)."""
    o = load(spark, sf_dir, "orders")
    anchor = F.lit("2001-09-01").cast("timestamp")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(anchor, F.max("o_orderdate")).cast("bigint").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    w_r = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    return rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(w_r).alias("r_quartile"),
        F.ntile(4).over(w_f).alias("f_quartile"),
        F.ntile(4).over(w_m).alias("m_quartile"),
    ).orderBy("o_custkey")


@query(
    "tpch_q9_profit_by_nation_year",
    oracle="""
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS o_year,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS amount
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY nation, o_year
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (fixture adaptation: no partsupp table, so "profit"
    is gross revenue without ps_supplycost): revenue from 'red'-named
    parts by supplier nation and order year. The p_name LIKE filter
    prunes part before its broadcast; part/supplier/nation broadcast;
    lineitem and orders meet on one orderkey shuffle."""
    p = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    s = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "amount"
            )
        )
    )


@query(
    "tpch_q11_important_parts",
    oracle="""
        WITH pv AS (
            SELECT l_partkey,
                   sum(l_extendedprice * (1 - l_discount)) AS part_value
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT l_partkey, part_value
        FROM pv
        WHERE part_value > (SELECT 1.5 * avg(part_value) FROM pv)
        ORDER BY part_value DESC, l_partkey
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (fixture adaptation: no partsupp, so "important
    stock" = parts whose traded value exceeds 1.5x the mean part
    value; the threshold is scale-adaptive like Q11's 0.0001/SF
    fraction). One groupBy builds the part-value relation; the scalar
    threshold is a broadcast single-row cross join, so the big side is
    scanned once and never recomputed. Boundary margin vs engine
    float rounding verified >=1.8e-4 relative at sf0.01."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "part_value"
        )
    )
    thr = pv.agg((F.avg("part_value") * 1.5).alias("thr"))
    return (
        pv.join(F.broadcast(thr))
        .filter(F.col("part_value") > F.col("thr"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o
                   ON c.c_custkey = o.o_custkey
                  AND o.o_orderpriority <> '5-LOW'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (fixture adaptation: the comment anti-filter becomes
    an order-priority exclusion): distribution of order counts per
    customer, zero-order customers included via the left join. The
    priority predicate lives in the JOIN condition (not WHERE) so
    customers whose only orders are excluded still count at zero.
    Second aggregate runs over one row per customer."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                             "o_orderpriority")
    counts = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey,
                   sum(l_extendedprice * (1 - l_discount)) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s.s_suppkey
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum revenue in one quarter.
    The revenue view is built once; the scalar max joins back as a
    broadcast single row (not a second scan of lineitem), and supplier
    broadcasts. Within-engine max comparison keeps the float-equality
    selection consistent on both engines."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q16_supplier_variety",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#2'
          AND p.p_type <> 'ECONOMY'
          AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (fixture adaptation: no partsupp, so the
    part-supplier relation is derived from lineitem; no s_comment, so
    the complaint anti-filter is dropped): how many distinct suppliers
    ship each surviving (brand, type, size) bucket. All three part
    predicates reach the part scan before its broadcast; the distinct
    lands on the (partkey, suppkey) pairs, not raw lineitem rows."""
    p = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#2")
            & (F.col("p_type") != "ECONOMY")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q21_waiting_supplier",
    oracle="""
        WITH f AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                            THEN 1 ELSE 0 END) AS is_late
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY l.l_orderkey, l.l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
            FROM f GROUP BY l_orderkey
        )
        SELECT s.s_name, count(*) AS numwait
        FROM f
        JOIN per_order po ON f.l_orderkey = po.l_orderkey
        JOIN supplier s   ON s.s_suppkey = f.l_suppkey
        WHERE f.is_late = 1 AND po.n_supp > 1 AND po.n_late = 1
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (fixture adaptation: no commit/receipt dates, so
    "late" = shipped >60 days after the order date): suppliers who
    were the SOLE late supplier on a multi-supplier finished order.
    The EXISTS / NOT-EXISTS pair of the original is rewritten as one
    aggregation to (order, supplier) grain plus per-order counts —
    two shuffles on l_orderkey total (co-partitioned, so the second
    is cheap) instead of two extra self-joins of lineitem."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
                    1,
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    per_order = f.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    s = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        f.filter(F.col("is_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


@query(
    "skyline_pareto",
    oracle="""
        SELECT p.p_partkey, p.p_size, p.p_retailprice
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part a
            WHERE a.p_size <= p.p_size
              AND a.p_retailprice <= p.p_retailprice
              AND (a.p_size < p.p_size OR a.p_retailprice < p.p_retailprice)
        )
        ORDER BY p.p_size, p.p_retailprice, p.p_partkey
    """,
    phase="P3",
    tags=("analytics", "skyline"),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D pareto frontier (skyline): parts where no other part is
    both smaller and cheaper. The quadratic NOT-EXISTS of the SQL form
    becomes two linear window minima: m1 = min price over strictly
    smaller sizes (RANGE frame), m2 = min price within the same size —
    dominated iff m1 <= price or m2 < price. One sort instead of an
    O(n^2) self-join; for a table that outgrows one sort, pre-filter
    with a coarse grid of per-bucket minima first (same two windows)."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    w1 = Window.orderBy("p_size").rangeBetween(Window.unboundedPreceding, -1)
    w2 = Window.partitionBy("p_size")
    return (
        p.select(
            "p_partkey",
            "p_size",
            "p_retailprice",
            F.min("p_retailprice").over(w1).alias("m1"),
            F.min("p_retailprice").over(w2).alias("m2"),
        )
        .filter(
            (F.col("m1").isNull() | (F.col("m1") > F.col("p_retailprice")))
            & (F.col("m2") >= F.col("p_retailprice"))
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_size", "p_retailprice", "p_partkey")
    )


@query(
    "seasonal_index",
    oracle="""
        WITH monthly AS (
            SELECT month(o_orderdate) AS month_no,
                   sum(o_totalprice) AS month_revenue
            FROM orders
            GROUP BY month(o_orderdate)
        )
        SELECT month_no, month_revenue,
               month_revenue / (avg(month_revenue) OVER ()) AS seasonal_idx
        FROM monthly
        ORDER BY month_no
    """,
    phase="P3",
    tags=("analytics", "timeseries"),
)
def seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: each calendar month's revenue relative to
    the all-month average. The window average runs over the 12-row
    reduced relation (not raw orders), so the 'global' window is free;
    the only real shuffle is the month groupBy with map-side partials."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(F.month("o_orderdate").alias("month_no")).agg(
        F.sum("o_totalprice").alias("month_revenue")
    )
    w = Window.partitionBy()
    return monthly.select(
        "month_no",
        "month_revenue",
        (F.col("month_revenue") / F.avg("month_revenue").over(w)).alias(
            "seasonal_idx"
        ),
    ).orderBy("month_no")


@query(
    "orders_backlog_aging",
    oracle="""
        SELECT CASE WHEN age_days <= 365 THEN '0-365'
                    WHEN age_days <= 730 THEN '366-730'
                    WHEN age_days <= 1460 THEN '731-1460'
                    ELSE '1460+' END AS age_bucket,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS backlog_value
        FROM (
            SELECT date_diff('day', o_orderdate,
                             TIMESTAMP '2001-12-01 00:00:00') AS age_days,
                   o_totalprice
            FROM orders
            WHERE o_orderstatus IN ('O', 'P')
        )
        GROUP BY age_bucket
        ORDER BY age_bucket
    """,
    phase="P3",
    tags=("analytics", "aging"),
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the receivables-aging report shape:
    unfinished orders bucketed by age at a fixed anchor, with count
    and value per bucket. Status filter reaches the scan; the CASE
    bucketing is a pure projection, so the whole report is one
    map-side-combinable aggregate over the filtered scan. backlog_value
    sums in DECIMAL(18,2) on both engines — double accumulation order
    differs between Spark and DuckDB and fails an exact value-hash;
    the decimal sum is exact, so the final DOUBLE cast is bit-stable."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "P")
    )
    age = F.datediff(
        F.lit("2001-12-01").cast("timestamp"), F.col("o_orderdate")
    )
    bucket = (
        F.when(age <= 365, "0-365")
        .when(age <= 730, "366-730")
        .when(age <= 1460, "731-1460")
        .otherwise("1460+")
    )
    return (
        o.select(bucket.alias("age_bucket"), "o_totalprice")
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("backlog_value"),
        )
        .orderBy("age_bucket")
    )


@query(
    "orders_cohort_ltv",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   min(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP))
                       AS cohort_mo
            FROM orders
            GROUP BY o_custkey
        ), rev AS (
            SELECT f.cohort_mo,
                   (year(o.o_orderdate) - year(f.cohort_mo)) * 12
                   + (month(o.o_orderdate) - month(f.cohort_mo)) AS month_idx,
                   sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                       AS cents
            FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
            GROUP BY 1, 2
        )
        SELECT cohort_mo, month_idx,
               -- DuckDB sum(BIGINT) → HUGEINT → float64 in fetchdf(),
               -- a driver-red dtype vs Spark int64 (CORRECTNESS_r05)
               CAST(sum(cents) OVER (
                   PARTITION BY cohort_mo ORDER BY month_idx
               ) AS BIGINT) AS cum_revenue_cents
        FROM rev
    """,
    phase="P3",
    tags=("analytics", "cohort", "ltv"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value by signup cohort — the standard
    subscription/commerce LTV curve: customers grouped by first-order
    month, revenue accumulated over months-since-signup.

    Plan shape: the cohort assignment is one keyed aggregate (min over
    each customer's orders); revenue joins back on the customer key
    (both sides shuffle-partition on o_custkey — at 100 TB the firsts
    side is one row per customer and co-partitions with the fact);
    month buckets reduce before the window, so the running sum runs
    over cohort×month rows (thousands), not orders. Month index is
    explicit year*12+month integer arithmetic — identical in both
    engines, unlike months_between (fractional) or date_diff
    (boundary-count) — and revenue accumulates as exact integer cents,
    so the running sum is order-insensitive and hash-stable."""
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window

    price_cents = cents(F.col("o_totalprice"))
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort_mo")
    )
    month_idx = (
        (F.year("o_orderdate") - F.year("cohort_mo")) * 12
        + (F.month("o_orderdate") - F.month("cohort_mo"))
    ).cast("bigint")
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(
            F.col("cohort_mo"),
            month_idx.alias("month_idx"),
        )
        .agg(F.sum(price_cents).alias("cents"))
    )
    w = Window.partitionBy("cohort_mo").orderBy("month_idx")
    return rev.select(
        "cohort_mo",
        "month_idx",
        F.sum("cents").over(w).alias("cum_revenue_cents"),
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
        WITH cost AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem
            GROUP BY l_partkey, l_suppkey
        ), best AS (
            SELECT l_partkey,
                   min(struct_pack(c := unit_cost, sk := l_suppkey)).c
                       AS best_unit_cost,
                   min(struct_pack(c := unit_cost, sk := l_suppkey)).sk
                       AS best_sk
            FROM cost
            GROUP BY l_partkey
        )
        SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
               b.best_unit_cost, s.s_acctbal
        FROM best b
        JOIN part p     ON p.p_partkey = b.l_partkey
        JOIN supplier s ON s.s_suppkey = b.best_sk
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_size % 5 = 0
        ORDER BY p.p_partkey
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (fixture adaptation: no partsupp, so lineitem is the
    part-supplier bridge and "supply cost" = the supplier's minimum
    observed unit price for the part; the size-bucket predicate stands
    in for Q2's p_size = 15). The classic min-cost-supplier-per-part
    correlated lookup, decorrelated into two keyed aggregates: per
    (part, supplier) min unit price, then per part a LEXICOGRAPHIC
    struct-min over (cost, suppkey) — one aggregate delivers both the
    best cost AND a deterministic tie-broken winner, replacing Q2's
    correlated MIN subquery with no re-scan and no window sort. Unit
    price is a per-line IEEE division (bit-identical across engines)
    and min is order-insensitive, so the doubles hash exactly. Dims
    broadcast; the only corpus-scale shuffles are the two keyed
    aggregates on the fact — and both run on the ~1/5th of the fact
    that survives the size-bucket prune: the qualifying part KEYS
    broadcast-semi-join onto the scan BEFORE any aggregation (Catalyst
    won't push a join below an agg on its own), and the part
    attributes re-join broadcast at dim grain afterwards."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    pk = p.filter(F.col("p_size") % 5 == 0).select("p_partkey")
    li = li.join(
        F.broadcast(pk), li.l_partkey == pk.p_partkey, "left_semi"
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    pick = F.struct(
        F.col("unit_cost").alias("c"), F.col("l_suppkey").alias("sk")
    )
    best = cost.groupBy("l_partkey").agg(F.min(pick).alias("best")).select(
        "l_partkey",
        F.col("best.c").alias("best_unit_cost"),
        F.col("best.sk").alias("best_sk"),
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("best_sk") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            "best_unit_cost", "s_acctbal",
        )
        .orderBy("p_partkey")
    )


@query(
    "tpch_q20_promotion_suppliers",
    oracle="""
        WITH shipped AS (
            SELECT l_suppkey, sum(l_quantity) AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_name, n.n_name, sh.qty AS shipped_qty
        FROM shipped sh
        JOIN supplier s ON s.s_suppkey = sh.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE sh.qty > (SELECT 1.5 * avg(qty) FROM shipped)
        ORDER BY s.s_name
    """,
    phase="P2",
    tags=("analytics", "tpch"),
)
def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (fixture adaptation: no partsupp availqty, so the
    "significant supplier of promoted parts" threshold is
    scale-adaptive — shipped quantity above 1.5x the mean across
    qualifying suppliers, same style as Q11's fraction). Plan: the
    part-name predicate broadcasts a pruned part dim into the fact
    scan; one keyed aggregate builds the shipped relation; the scalar
    threshold is a single-row broadcast cross join over that SAME
    relation (computed once, reused — no fact re-scan); the supplier/
    nation dims broadcast. l_quantity is integer-valued, so the sums
    are exact doubles regardless of accumulation order and the
    threshold margin is never a last-ULP coin flip."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(p.filter(F.col("p_name").like("red%"))),
            li.l_partkey == p.p_partkey,
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    threshold = shipped.agg((F.avg("qty") * 1.5).alias("thr"))
    return (
        shipped.crossJoin(F.broadcast(threshold))
        .filter(F.col("qty") > F.col("thr"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name", F.col("qty").alias("shipped_qty"))
        .orderBy("s_name")
    )


@query(
    "basket_rules",
    oracle=f"""
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), item AS (
            SELECT l_partkey, count(*) AS item_supp FROM op GROUP BY l_partkey
        ), n AS (
            SELECT count(DISTINCT l_orderkey) AS n_orders FROM op
        ), pair AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS pair_supp
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING count(*) >= 3
        ), rules AS (
            SELECT part_a AS antecedent, part_b AS consequent, pair_supp
            FROM pair
            UNION ALL
            SELECT part_b, part_a, pair_supp FROM pair
        )
        SELECT r.antecedent, r.consequent,
               CAST(r.pair_supp AS BIGINT) AS pair_supp,
               {MICRO_SQL.format(x="CAST(r.pair_supp AS DOUBLE) / ia.item_supp")}
                   AS conf_micro,
               {MICRO_SQL.format(
                   x="CAST(r.pair_supp AS DOUBLE) * n.n_orders"
                     " / (ia.item_supp * ic.item_supp)")} AS lift_micro
        FROM rules r
        JOIN item ia ON ia.l_partkey = r.antecedent
        JOIN item ic ON ic.l_partkey = r.consequent
        CROSS JOIN n
        ORDER BY lift_micro DESC, antecedent, consequent
        LIMIT 100
    """,
    phase="P3",
    tags=("analytics", "basket", "rules"),
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (A -> B confidence / lift) on top of the
    basket_pairs machinery — the step a recommender pipeline actually
    consumes. Supports are ORDER-level (distinct (order, part) first,
    so a part bought twice in one order counts once — the textbook
    definition; basket_pairs deliberately keeps line-combination
    counts, hence the separate op).

    Plan — everything rides ONE pass over the distinct (order, part)
    relation; there are NO item-support joins at all. Item supports are
    attached BEFORE pair generation as a count-over-partkey window, so
    the per-order collected structs already carry each part's global
    support and every generated pair carries both of its supports
    (first() inside the pair aggregate — all rows of a pair group hold
    the same global counts). A separate item aggregation would plan the
    distinct subtree again per join side (Catalyst does no cross-branch
    CSE — the decon_ngram lesson); the same reasoning makes the rule
    direction-expansion a map-side 2-struct explode rather than a
    unionAll of two pair.select()s. Order of exchanges: distinct →
    partkey window → per-order collect → pair agg; the order-count
    denominator is one single-row broadcast off a pruned scan
    (countDistinct needs no pre-distinct). pair_supp >= 3 prunes the
    long tail BEFORE the rule expansion doubles rows. Ratios ship
    micro-quantized (exact integer inputs, one double division —
    identical fp on both engines; the micro grid makes ties
    deterministic for the LIMIT, with antecedent/consequent as total
    tiebreak)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    wp = Window.partitionBy("l_partkey")
    parts = (
        op.withColumn("item_supp", F.count(F.lit(1)).over(wp))
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("l_partkey", "item_supp"))
            ).alias("ps")
        )
    )
    pair = (
        parts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x.l_partkey AS part_a,"
                    " y.l_partkey AS part_b,"
                    " x.item_supp AS supp_a, y.item_supp AS supp_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b", "p.supp_a", "p.supp_b")
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).alias("pair_supp"),
            F.first("supp_a").alias("supp_a"),
            F.first("supp_b").alias("supp_b"),
        )
        .filter(F.col("pair_supp") >= 3)
    )
    rules = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("part_a").alias("antecedent"),
                    F.col("part_b").alias("consequent"),
                    F.col("supp_a").alias("supp_ante"),
                    F.col("supp_b").alias("supp_cons"),
                ),
                F.struct(
                    F.col("part_b").alias("antecedent"),
                    F.col("part_a").alias("consequent"),
                    F.col("supp_b").alias("supp_ante"),
                    F.col("supp_a").alias("supp_cons"),
                ),
            )
        ).alias("r"),
        "pair_supp",
    ).select(
        "r.antecedent",
        "r.consequent",
        F.col("r.supp_ante").alias("supp_a"),
        F.col("r.supp_cons").alias("supp_c"),
        "pair_supp",
    )
    return (
        rules.crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("pair_supp").cast("bigint").alias("pair_supp"),
            micro(F.col("pair_supp").cast("double") / F.col("supp_a")).alias(
                "conf_micro"
            ),
            micro(
                F.col("pair_supp").cast("double")
                * F.col("n_orders")
                / (F.col("supp_a") * F.col("supp_c"))
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), F.asc("antecedent"), F.asc("consequent"))
        .limit(100)
    )


# Order-cycle bucket ladder: pure integer day-threshold compares.
_OC_EDGES = ((30, "<30d"), (60, "30-60d"), (90, "60-90d"), (120, "90-120d"))
_OC_CASE = (
    "CASE "
    + " ".join(
        f"WHEN d < {e} THEN {i}" for i, (e, _) in enumerate(_OC_EDGES)
    )
    + f" ELSE {len(_OC_EDGES)} END"
)
_OC_LABEL = (
    "CASE "
    + " ".join(f"WHEN d < {e} THEN '{lbl}'" for e, lbl in _OC_EDGES)
    + " ELSE '120d+' END"
)


@query(
    "orders_cycle_time",
    oracle=f"""
        WITH per_order AS (
            SELECT o.o_orderpriority AS priority,
                   CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(max(l.l_shipdate) AS DATE)) AS BIGINT)
                       AS d
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
        )
        SELECT priority,
               CAST({_OC_CASE} AS BIGINT) AS bucket_id,
               {_OC_LABEL} AS bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(d) // count(*) AS BIGINT) AS avg_days,
               CAST(min(d) AS BIGINT) AS min_days,
               CAST(max(d) AS BIGINT) AS max_days
        FROM per_order
        GROUP BY 1, 2, 3
        ORDER BY priority, bucket_id
    """,
    phase="P2",
    tags=("analytics", "operations", "funnel"),
)
def orders_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-complete-delivery cycle time by priority: days from
    order date to the LAST line shipment, on a pure integer day-bucket
    ladder — the operations SLA view (does URGENT actually ship
    faster?) that complements tpch_q4's late-count with the full
    latency distribution.

    Exactness: cycle days are exact integer date_diffs (midnight
    timestamps by fixture); buckets are integer threshold compares;
    per-cell average is exact integer DIV — nothing IEEE anywhere.

    Plan: the per-order completion date folds in ONE combinable agg
    keyed on the join key itself (orderkey — no extra shuffle beyond
    the join's), then a bounded (5 priorities x 5 buckets) combinable
    rollup."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("mx"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("mx").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
    )
    return (
        per_order.groupBy(
            "priority",
            F.expr(_OC_CASE).cast("bigint").alias("bucket_id"),
            F.expr(_OC_LABEL).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr("CAST(sum(d) DIV count(*) AS BIGINT)").alias("avg_days"),
            F.min("d").cast("bigint").alias("min_days"),
            F.max("d").cast("bigint").alias("max_days"),
        )
        .orderBy("priority", "bucket_id")
    )


@query(
    "win_time_weighted_avg",
    oracle="""
        WITH seq AS (
            SELECT l_partkey,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS price_cents,
                   CAST(date_diff('day', CAST(l_shipdate AS DATE),
                        CAST(lead(l_shipdate) OVER w AS DATE))
                        AS BIGINT) AS hold_days
            FROM lineitem
            WINDOW w AS (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber)
        ), weighted AS (
            SELECT p.p_brand AS brand,
                   CAST(sum(s.hold_days) AS BIGINT) AS total_days,
                   CAST(sum(s.hold_days * s.price_cents) AS BIGINT)
                       AS wsum,
                   CAST(count(*) AS BIGINT) AS n_intervals
            FROM seq s JOIN part p ON p.p_partkey = s.l_partkey
            WHERE s.hold_days IS NOT NULL AND s.hold_days > 0
            GROUP BY p.p_brand
        )
        SELECT brand, n_intervals, total_days, wsum,
               CAST(floor(CAST(wsum AS DOUBLE) / total_days + 0.5)
                    AS BIGINT) AS twap_cents
        FROM weighted
        ORDER BY brand
    """,
    phase="P3",
    tags=("window", "timeseries", "finance"),
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price (TWAP) per brand: each part's line
    price is weighted by the days it stood as the latest quote (the
    gap to that part's NEXT shipment), then rolled to brand — the
    metric that, unlike a plain average, doesn't let a burst of
    same-week shipments swamp a price that held for a quarter. The
    standard holdings/quote-weighted shape (TWAP/TVPI) every
    finance-ish pipeline needs.

    Exactness: prices quantize once at row grain (cents); holding
    days are exact integer date_diffs over a FULLY tiebroken window
    order (shipdate, orderkey, linenumber — same-day ties get
    deterministic zero-or-positive gaps, zero-gap rows drop on both
    engines identically); weighted sums are exact BIGINTs; the final
    TWAP is one spelled division.

    Plan: ONE lead window partitioned by partkey (co-partitioned
    with the data's natural key — at 100 TB this is the sort-within-
    partition shape, no global sort), a broadcastable part-dim join,
    and a 25-key combinable rollup."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    seq = li.select(
        "l_partkey",
        cents(F.col("l_extendedprice")).alias("price_cents"),
        F.datediff(
            F.lead("l_shipdate").over(w).cast("date"),
            F.col("l_shipdate").cast("date"),
        )
        .cast("bigint")
        .alias("hold_days"),
    )
    weighted = (
        seq.filter(F.col("hold_days").isNotNull() & (F.col("hold_days") > 0))
        .join(F.broadcast(p), seq.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum("hold_days").cast("bigint").alias("total_days"),
            F.sum(F.col("hold_days") * F.col("price_cents"))
            .cast("bigint")
            .alias("wsum"),
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        )
    )
    return weighted.select(
        "brand",
        "n_intervals",
        "total_days",
        "wsum",
        F.floor(
            F.col("wsum").cast("double") / F.col("total_days") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("twap_cents"),
    ).orderBy("brand")


@query(
    "orders_repeat_interval",
    oracle="""
        WITH gaps AS (
            SELECT c.c_mktsegment AS seg,
                   CAST(date_diff('day',
                        CAST(lag(o.o_orderdate) OVER w AS DATE),
                        CAST(o.o_orderdate AS DATE)) AS BIGINT) AS d
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            WINDOW w AS (PARTITION BY o.o_custkey
                         ORDER BY o.o_orderdate, o.o_orderkey)
        )
        SELECT seg,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(d) // count(*) AS BIGINT) AS avg_days,
               CAST(quantile_disc(d, 0.5) AS BIGINT) AS p50_days,
               CAST(quantile_disc(d, 0.9) AS BIGINT) AS p90_days,
               CAST(max(d) AS BIGINT) AS max_days
        FROM gaps
        WHERE d IS NOT NULL
        GROUP BY seg
        ORDER BY seg
    """,
    phase="P3",
    tags=("analytics", "retention", "sequence"),
)
def orders_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase interval distribution by segment: days between
    a customer's consecutive orders, summarized as count / exact-DIV
    mean / discrete p50 / p90 / max — the replenishment-cycle number
    behind churn windows ('inactive' should mean ~2x the segment's
    p90 gap, not a guessed 90 days). The TPC-H sibling of
    seq_inter_arrival's event-stream version.

    Exactness: gaps are exact integer date_diffs over a tiebroken
    (orderdate, orderkey) per-customer order; DISCRETE quantiles
    return actual stored gaps (the anomaly_mad rule); the mean is
    exact integer DIV — no IEEE anywhere.

    Plan: one lag window co-partitioned on the customer key (shares
    the join's shuffle), then a 5-key combinable rollup with
    percentile_disc's per-group sort running at segment grain."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag("o_orderdate").over(w).cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .filter(F.col("d").isNotNull())
    )
    return (
        gaps.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.expr("CAST(sum(d) DIV count(*) AS BIGINT)").alias("avg_days"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)")
            .cast("bigint")
            .alias("p50_days"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY d)")
            .cast("bigint")
            .alias("p90_days"),
            F.max("d").cast("bigint").alias("max_days"),
        )
        .orderBy("seg")
    )


DORMANCY_DAYS = 180


@query(
    "orders_reactivation",
    oracle=f"""
        WITH seq AS (
            SELECT o_custkey,
                   o_orderdate,
                   date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                       AS mth,
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS prev_date
            FROM orders
        ),
        tagged AS (
            SELECT mth,
                   CASE WHEN prev_date IS NULL THEN 1 ELSE 0 END
                       AS is_first,
                   CASE WHEN prev_date IS NOT NULL
                         AND date_diff('day', CAST(prev_date AS DATE),
                             CAST(o_orderdate AS DATE))
                             > {DORMANCY_DAYS}
                        THEN 1 ELSE 0 END AS is_react,
                   CASE WHEN prev_date IS NOT NULL THEN
                       CAST(date_diff('day', CAST(prev_date AS DATE),
                            CAST(o_orderdate AS DATE)) AS BIGINT)
                   END AS gap_days
            FROM seq
        )
        SELECT mth,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(is_first) AS BIGINT) AS n_first_orders,
               CAST(sum(is_react) AS BIGINT) AS n_reactivations,
               CAST(sum(gap_days) AS BIGINT) AS sum_gap_days,
               CASE WHEN count(gap_days) > 0 THEN
                   CAST(floor(CAST(sum(gap_days) AS DOUBLE)
                        / count(gap_days) + 0.5) AS BIGINT)
               END AS avg_gap_days
        FROM tagged
        GROUP BY mth
        ORDER BY mth
    """,
    phase="P3",
    tags=("analytics", "retention", "churn"),
)
def orders_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy-reactivation report: per order month, how many orders
    were a customer's FIRST, how many ended a dormancy longer than
    180 days (the win-back signal a lifecycle team budgets against),
    and the mean inter-order gap — the flow-rate companion to
    retention_cohort's stock view and orders_repeat_interval's
    distribution view.

    Exactness: gaps are exact integer day differences off a
    (date, orderkey)-tiebroken lag; flags are integer compares; the
    mean is one spelled division counting only rows WITH a gap.

    Plan: one lag window keyed on o_custkey (the natural partition
    key; per-customer sequences are short), then ONE combinable
    month-grain roll-up — no self-join, no second pass."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("mth"),
        F.col("o_orderdate").alias("d"),
        F.lag("o_orderdate").over(w).alias("prev_date"),
    )
    gap = F.datediff(F.col("d"), F.col("prev_date"))
    tagged = seq.select(
        "mth",
        F.when(F.col("prev_date").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_first"),
        F.when(
            F.col("prev_date").isNotNull() & (gap > DORMANCY_DAYS),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_react"),
        F.when(F.col("prev_date").isNotNull(), gap.cast("bigint")).alias(
            "gap_days"
        ),
    )
    return (
        tagged.groupBy("mth")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("is_first").cast("bigint").alias("n_first_orders"),
            F.sum("is_react").cast("bigint").alias("n_reactivations"),
            F.sum("gap_days").cast("bigint").alias("sum_gap_days"),
            F.when(
                F.count("gap_days") > 0,
                F.floor(
                    F.sum("gap_days").cast("double")
                    / F.count("gap_days")
                    + F.lit(0.5)
                ).cast("bigint"),
            ).alias("avg_gap_days"),
        )
        .orderBy("mth")
    )


@query(
    "orders_price_elasticity",
    oracle="""
        WITH pts AS (
            SELECT p.p_brand,
                   CAST(floor(ln(l.l_quantity) * 1000.0 + 0.5) AS BIGINT)
                       AS y,
                   CAST(floor(ln(l.l_extendedprice / l.l_quantity)
                        * 1000.0 + 0.5) AS BIGINT) AS x
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE l.l_quantity > 0
        ),
        m AS (
            SELECT p_brand,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM pts GROUP BY p_brand
        )
        SELECT p_brand, n,
               CASE WHEN n > 1 AND
                    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    > 0.0
               THEN CAST(floor(
                    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * 1000000.0 + 0.5) AS BIGINT)
               END AS elasticity_micro,
               CASE WHEN n > 1 AND
                    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    > 0.0 AND
                    (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                    > 0.0
               THEN CAST(floor(
                    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                    * 1000000.0 + 0.5) AS BIGINT)
               END AS r2_micro
        FROM m
        ORDER BY p_brand
    """,
    phase="P3",
    tags=("analytics", "regression", "pricing"),
)
def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand — the log-log OLS slope of
    quantity on unit price (β < −1 elastic: price cuts grow revenue;
    −1 < β < 0 inelastic: price raises grow revenue) with the fit R² —
    the pricing-analytics staple, and agg_regression's ln-ln sibling
    at category grain.

    Exactness: both ln values quantize to MILLI at ROW grain (micro²
    cross-products would overflow int64 at sf1 row counts — the
    documented precision/headroom trade; the slope itself is reported
    micro from exact milli moments), so all six per-brand moments are
    order-free BIGINT sums; the slope and R² are each ONE spelled IEEE
    chain over those integers; degenerate brands (constant price)
    yield NULL, never 0/0.

    Plan: one broadcast join (part is the dim side) onto the lineitem
    scan, one combinable brand-grain moments aggregate — a single
    linear shuffle at any scale."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.floor(F.log(F.col("l_quantity")) * F.lit(1000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
        F.floor(
            F.log(F.col("l_extendedprice") / F.col("l_quantity"))
            * F.lit(1000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("x"),
    )
    m = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return m.select(
        "p_brand",
        "n",
        F.when(
            (F.col("n") > 1) & (varx_n > 0.0),
            micro(cov_n / varx_n),
        ).alias("elasticity_micro"),
        F.when(
            (F.col("n") > 1) & (varx_n > 0.0) & (vary_n > 0.0),
            micro(cov_n * cov_n / (varx_n * vary_n)),
        ).alias("r2_micro"),
    ).orderBy("p_brand")


@query(
    "orders_abc_classes",
    oracle="""
        WITH rev AS (
            SELECT l_partkey,
                   CAST(sum(CAST(floor(l_extendedprice
                        * (1 - l_discount) * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents DESC, l_partkey)
                       AS rnk,
                   CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   CAST(sum(cents) OVER () AS BIGINT) AS total
            FROM rev
        ),
        classed AS (
            SELECT CASE WHEN cum <= 0.80 * total THEN 'A'
                        WHEN cum <= 0.95 * total THEN 'B'
                        ELSE 'C' END AS abc_class,
                   cents
            FROM ranked
        )
        SELECT abc_class,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(cents) AS BIGINT) AS revenue_cents,
               CAST(floor(CAST(sum(cents) AS DOUBLE)
                    / (SELECT CAST(sum(cents) AS BIGINT) FROM rev)
                    * 1000000.0 + 0.5) AS BIGINT) AS revenue_share_micro
        FROM classed
        GROUP BY abc_class
        ORDER BY abc_class
    """,
    phase="P3",
    tags=("analytics", "pareto"),
)
def orders_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: class A =
    parts inside the first 80% of cumulative revenue, B = the next
    15%, C = the tail — the operational cut behind win_pareto_share's
    continuous curve (A-parts get safety stock and review cadence;
    C-parts get batch treatment). Ships part counts, exact revenue,
    and each class's realized share.

    Exactness: revenue quantizes to cents at LINE grain, so part
    revenues, the running total, and the grand total are exact
    BIGINTs; class boundaries compare cum ≤ 0.80·total as an
    integer-to-double product comparison spelled identically in both
    engines; ranking ties break on part key.

    Plan: one combinable part-grain rollup (the only corpus-sized
    shuffle), one ordered window at PART grain (at extreme part
    cardinality the cutoffs come from agg_approx_percentile's
    two-phase selection instead), a 3-row class reduce."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), F.asc("l_partkey"))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w_run).cast("bigint").alias("cum"),
        F.sum("cents").over(w_all).cast("bigint").alias("total"),
    )
    classed = ranked.select(
        F.when(F.col("cum") <= F.lit(0.80) * F.col("total"), "A")
        .when(F.col("cum") <= F.lit(0.95) * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            micro(F.sum("cents").cast("double") / F.max("total"))
            .alias("revenue_share_micro"),
        )
        .orderBy("abc_class")
    )
