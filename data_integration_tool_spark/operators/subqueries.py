"""Subquery patterns (scalar, correlated, NOT IN) re-expressed as the
join shapes Spark's optimizer produces after decorrelation.

Spark's DataFrame API has no subquery syntax; Catalyst rewrites SQL
subqueries into these same plans (RewriteCorrelatedScalarSubquery,
RewritePredicateSubquery), so building the join form directly is both
idiomatic and transparent about the physical cost:

- scalar subquery      → crossJoin with a broadcast 1-row aggregate
- correlated aggregate → equi-join with a grouped aggregate on the
                         correlation key (one shuffle on that key)
- IN / NOT IN          → left-semi / left-anti join (NOT IN is only
                         anti-join when the subquery column is
                         provably non-null — the classic NULL trap;
                         o_custkey is non-null in the fixtures)

The oracle side uses real SQL subqueries, so the parity check also
proves the rewrite preserves semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import cents
from ..io import load
from ..registry import query


@query(
    "subq_scalar",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
    """,
    phase="P3",
    tags=("subquery", "scalar"),
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above 1.5× the global average price (scalar subquery →
    broadcast 1-row aggregate crossJoin; the big side never shuffles)."""
    o = load(spark, sf_dir, "orders")
    avg_price = F.broadcast(o.agg(F.avg("o_totalprice").alias("avg_price")))
    return (
        o.crossJoin(avg_price)
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "subq_correlated",
    oracle="""
        SELECT l.l_orderkey, l.l_partkey, l.l_extendedprice
        FROM lineitem l
        WHERE l.l_extendedprice > 1.5 * (
            SELECT avg(l2.l_extendedprice)
            FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
        )
    """,
    phase="P3",
    tags=("subquery", "correlated"),
)
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitems priced >1.5× their part's average (correlated aggregate
    subquery → decorrelated join with a per-key aggregate: one shuffle
    on l_partkey for the aggregate, co-partitioned join after)."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_extendedprice").alias("part_avg")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_extendedprice") > 1.5 * F.col("part_avg"))
        .select("l_orderkey", "l_partkey", "l_extendedprice")
    )


@query(
    "subq_not_in",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
    phase="P3",
    tags=("subquery", "anti"),
)
def subq_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large (>300k) order, as NOT IN. Safe to compile to a
    left-anti join ONLY because o_custkey is non-null here — with nulls
    in the subquery, SQL NOT IN returns no rows at all (three-valued
    logic), which an anti-join does not replicate."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


# The recursive-CTE text is ONE string shared byte-identically by the
# Spark SQL surface and the DuckDB oracle (both speak ANSI WITH
# RECURSIVE; Spark gained it in 4.x) — the sql_pricing_summary pattern
# applied to iteration.
_RECURSIVE_SQL = """
        WITH RECURSIVE anc(key, node, depth, path_sum) AS (
            SELECT p_partkey, p_partkey, 0, CAST(p_partkey AS BIGINT)
            FROM part WHERE p_partkey <= 500
            UNION ALL
            SELECT key, CAST(floor(node / 2) AS BIGINT), depth + 1,
                   path_sum + CAST(floor(node / 2) AS BIGINT)
            FROM anc WHERE node > 1
        )
        SELECT key,
               CAST(max(depth) AS BIGINT) AS n_ancestors,
               CAST(max(path_sum) AS BIGINT) AS path_key_sum
        FROM anc
        GROUP BY key
        ORDER BY key
"""


@query(
    "sql_recursive_hierarchy",
    oracle=_RECURSIVE_SQL,
    phase="P3",
    tags=("sql", "recursive", "hierarchy"),
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal via ANSI ``WITH RECURSIVE`` — the org-chart
    / bill-of-materials walk — over an implicit binary tree (each part
    key's parent is key/2): ancestor count and path key sum up to the
    root. The SQL string is byte-identical on both engines, making
    this the engine-surface proof that recursive queries run natively
    (Spark 4's recursive CTE support) rather than through the driver
    loop (``dedup_components``) or unrolled CTEs (``graph_bfs_hops``)
    — the repo now demonstrates all THREE iteration strategies.

    Scale: the recursion depth is log₂(maxkey) (~9 here); each
    recursive step is a self-referencing union Spark executes as an
    iterative sub-plan with the same partial aggregation guarantees as
    any other plan. The seed filter pushes to the scan; at 100 TB a
    real hierarchy would carry an explicit parent key column — the
    query text is unchanged.
    """
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


@query(
    "subq_quantified_all",
    oracle="""
        SELECT s.s_nationkey, s.s_suppkey, s.s_name,
               CAST(floor(s.s_acctbal * 100.0 + 0.5) AS BIGINT)
                   AS acctbal_cents
        FROM supplier s
        WHERE s.s_acctbal >= ALL (
            SELECT s2.s_acctbal FROM supplier s2
            WHERE s2.s_nationkey = s.s_nationkey)
        ORDER BY s.s_nationkey, s.s_suppkey
    """,
    phase="P2",
    tags=("subquery", "quantified"),
)
def subq_quantified_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparison subquery (>= ALL): the supplier(s) whose
    account balance tops their nation — completes the subquery family
    (scalar / correlated EXISTS / NOT IN) with the ALL/ANY surface.
    Ties all qualify, exactly as >= ALL semantics require.

    Spark spelling: a correlated >= ALL over a non-null column is
    equivalent to >= max() over the correlation key, so the plan is a
    per-nation max WINDOW and a filter — ONE exchange on the 25-value
    nation key instead of the naive correlated-subquery rewrite's
    self-join (Catalyst would decorrelate to an aggregate+join, the
    same cost class; the window spelling also keeps every supplier
    column without a join-back). Balance ships as exact cents."""
    from pyspark.sql import Window

    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey")
    return (
        s.withColumn("mx", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") >= F.col("mx"))
        .select(
            "s_nationkey",
            "s_suppkey",
            "s_name",
            cents(F.col("s_acctbal")).alias("acctbal_cents"),
        )
        .orderBy("s_nationkey", "s_suppkey")
    )
