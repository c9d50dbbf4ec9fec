"""Cost-based join-strategy advisor (the CBO surface of the engine).

A query optimizer's join-strategy pick needs exactly two statistics per
relation: row count and estimated in-memory bytes. This module computes
both with ONE aggregate per table (the stats-collection pass an ANALYZE
would run) and applies Spark's actual physical-strategy rules to the
schema's seven FK joins: broadcast-hash when the smaller side fits the
broadcast threshold, shuffled-hash when one side is ≥3× smaller than
the other (build the small side), sort-merge otherwise — the same
decision ladder as Catalyst's JoinSelection with
spark.sql.autoBroadcastJoinThreshold=10MB and the SHUFFLE_HASH
size-ratio heuristic.

The byte model is deterministic arithmetic shared verbatim with the
DuckDB oracle: fixed widths by column type (INTEGER 4, BIGINT / DOUBLE
/ TIMESTAMP 8) plus octet_length + 4 per string cell. At 100 TB this
query IS the planning probe you run before submitting the real join
DAG; each branch scans only the columns its width model needs, and
every per-table agg is map-side combinable (output: one row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import micro
from ..io import load
from ..registry import query

# (column, width) per table; width None → string (octet_length + 4).
_TABLE_COLS: dict[str, tuple[tuple[str, int | None], ...]] = {
    "region": (("r_regionkey", 4), ("r_name", None)),
    "nation": (("n_nationkey", 4), ("n_name", None), ("n_regionkey", 4)),
    "customer": (
        ("c_custkey", 8),
        ("c_name", None),
        ("c_nationkey", 4),
        ("c_acctbal", 8),
        ("c_mktsegment", None),
    ),
    "supplier": (
        ("s_suppkey", 8),
        ("s_name", None),
        ("s_nationkey", 4),
        ("s_acctbal", 8),
    ),
    "part": (
        ("p_partkey", 8),
        ("p_name", None),
        ("p_brand", None),
        ("p_type", None),
        ("p_size", 4),
        ("p_retailprice", 8),
    ),
    "orders": (
        ("o_orderkey", 8),
        ("o_custkey", 8),
        ("o_orderstatus", None),
        ("o_totalprice", 8),
        ("o_orderdate", 8),
        ("o_orderpriority", None),
    ),
    "lineitem": (
        ("l_orderkey", 8),
        ("l_partkey", 8),
        ("l_suppkey", 8),
        ("l_linenumber", 4),
        ("l_quantity", 8),
        ("l_extendedprice", 8),
        ("l_discount", 8),
        ("l_tax", 8),
        ("l_returnflag", None),
        ("l_linestatus", None),
        ("l_shipdate", 8),
    ),
}

# The schema's FK join graph: (left, right, key).
_JOINS: tuple[tuple[str, str, str], ...] = (
    ("lineitem", "orders", "l_orderkey"),
    ("lineitem", "part", "l_partkey"),
    ("lineitem", "supplier", "l_suppkey"),
    ("orders", "customer", "o_custkey"),
    ("customer", "nation", "c_nationkey"),
    ("supplier", "nation", "s_nationkey"),
    ("nation", "region", "n_regionkey"),
)

BROADCAST_BYTES = 10 * 1024 * 1024  # autoBroadcastJoinThreshold default
HASH_RATIO = 3  # build-side must be ≥3× smaller for shuffled-hash


def _row_bytes_sql(table: str) -> str:
    """Per-row byte estimate — identical text runs on both engines."""
    parts = []
    fixed = 0
    for col, width in _TABLE_COLS[table]:
        if width is None:
            # length(), not octet_length: DuckDB's octet_length is
            # BLOB-only. Fixture strings are ASCII (pinned by
            # test_fixture_text_is_ascii_byte_char_identity) so
            # char length == byte length on both engines.
            parts.append(f"(length({col}) + 4)")
        else:
            fixed += width
    parts.append(str(fixed))
    return " + ".join(parts)


_STATS_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS tbl, CAST(count(*) AS BIGINT) AS n_rows, "
    f"CAST(sum({_row_bytes_sql(t)}) AS BIGINT) AS est_bytes FROM {t}"
    for t in _TABLE_COLS
)

_JOINS_SQL = " UNION ALL ".join(
    f"SELECT '{lt}' AS left_tbl, '{rt}' AS right_tbl, '{k}' AS join_key"
    for lt, rt, k in _JOINS
)

_STRATEGY_SQL = f"""
    CASE
        WHEN least(l.est_bytes, r.est_bytes) <= {BROADCAST_BYTES}
            THEN 'broadcast_' ||
                 CASE WHEN l.est_bytes <= r.est_bytes
                      THEN 'left' ELSE 'right' END
        WHEN greatest(l.est_bytes, r.est_bytes)
             >= {HASH_RATIO} * least(l.est_bytes, r.est_bytes)
            THEN 'shuffled_hash_build_' ||
                 CASE WHEN l.est_bytes <= r.est_bytes
                      THEN 'left' ELSE 'right' END
        ELSE 'sort_merge'
    END
"""


@query(
    "plan_join_strategy",
    oracle=f"""
        WITH stats AS ({_STATS_SQL}),
        joins AS ({_JOINS_SQL})
        SELECT j.left_tbl, j.right_tbl, j.join_key,
               l.n_rows AS left_rows, r.n_rows AS right_rows,
               l.est_bytes AS left_bytes, r.est_bytes AS right_bytes,
               {_STRATEGY_SQL} AS strategy
        FROM joins j
        JOIN stats l ON l.tbl = j.left_tbl
        JOIN stats r ON r.tbl = j.right_tbl
        ORDER BY j.left_tbl, j.right_tbl
    """,
    phase="P4",
    tags=("planner", "cbo", "join"),
)
def plan_join_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy plan for the schema's seven FK joins from
    measured table statistics — see the module docstring for the
    decision ladder. Output: one row per join with both sides' row
    counts, byte estimates, and the chosen physical strategy.
    """
    stats_parts = []
    for t in _TABLE_COLS:
        df = load(spark, sf_dir, t)
        stats_parts.append(
            df.agg(
                F.lit(t).alias("tbl"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.expr(_row_bytes_sql(t))).cast("bigint").alias("est_bytes"),
            )
        )
    stats = stats_parts[0]
    for p in stats_parts[1:]:
        stats = stats.unionAll(p)
    # 7-row stats relation, referenced by BOTH join sides below — lazy
    # checkpoint so the 7 table aggregates run once instead of once per
    # side (r13). The compiled OUTER plan shows 0 parquet scans (the 7
    # scans live inside the checkpointed subtree; the pre-fix plan
    # showed 14 = 2 per table) — both counts are pinned in
    # tests/test_plans.py (outer ≤1, inlined ≤14; ADVICE r13 #3).
    stats = stats.localCheckpoint(eager=False)
    joins = spark.createDataFrame(
        list(_JOINS), ["left_tbl", "right_tbl", "join_key"]
    )
    l = stats.select(
        F.col("tbl").alias("lt"),
        F.col("n_rows").alias("left_rows"),
        F.col("est_bytes").alias("left_bytes"),
    )
    r = stats.select(
        F.col("tbl").alias("rt"),
        F.col("n_rows").alias("right_rows"),
        F.col("est_bytes").alias("right_bytes"),
    )
    strategy = _STRATEGY_SQL.replace("l.est_bytes", "left_bytes").replace(
        "r.est_bytes", "right_bytes"
    )
    return (
        joins.join(F.broadcast(l), joins.left_tbl == l.lt)
        .join(F.broadcast(r), joins.right_tbl == r.rt)
        .select(
            "left_tbl",
            "right_tbl",
            "join_key",
            "left_rows",
            "right_rows",
            "left_bytes",
            "right_bytes",
            F.expr(strategy).alias("strategy"),
        )
        .orderBy("left_tbl", "right_tbl")
    )


# Partition-advisor candidates: (name, engine-identical key expression
# over lineitem). NDV / row / max-partition stats decide the verdict.
_PA_CANDIDATES = (
    ("ship_month", "date_trunc('month', l_shipdate)"),
    ("returnflag", "l_returnflag"),
    ("linestatus", "l_linestatus"),
    ("suppkey_mod64", "l_suppkey % 64"),
    ("orderkey_mod256", "l_orderkey % 256"),
    ("partkey_raw", "l_partkey"),
)
_PA_VERDICT = """
    CASE
        WHEN ndv < 8 THEN 'too_few_partitions'
        WHEN ndv > 10000 THEN 'too_many_partitions'
        WHEN max_rows * ndv > 5 * n_rows THEN 'skewed'
        ELSE 'good'
    END
"""
_PA_SKEW = "(CAST(max_rows AS DOUBLE) * ndv / n_rows)"


@query(
    "plan_partition_advisor",
    oracle=f"""
        WITH cand AS (
            {" UNION ALL ".join(
                f"SELECT '{name}' AS candidate,"
                f" CAST(count(*) AS BIGINT) AS ndv,"
                f" CAST(sum(c) AS BIGINT) AS n_rows,"
                f" CAST(max(c) AS BIGINT) AS max_rows"
                f" FROM (SELECT {expr} AS k, count(*) AS c"
                f"       FROM lineitem GROUP BY 1)"
                for name, expr in _PA_CANDIDATES
            )}
        )
        SELECT candidate, ndv, n_rows, max_rows,
               CAST(floor({_PA_SKEW} * 1000000.0 + 0.5) AS BIGINT)
                   AS skew_ratio_micro,
               {_PA_VERDICT} AS verdict
        FROM cand
        ORDER BY candidate
    """,
    phase="P4",
    tags=("planner", "layout", "partitioning"),
)
def plan_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column advisor for the fact table: for each candidate
    key (time bucket, low-card flags, modulo buckets, raw high-card
    key) measure NDV, total rows, and the hottest partition, then
    apply the layout decision ladder — too few partitions (can't
    parallelize), too many (small-file explosion), skewed (hot
    partition > 5x the mean), else good. The sibling of
    plan_join_strategy on the write side: this is what decides
    partitionBy()/bucketBy() before a 100 TB table is laid down.

    All decision inputs are exact integers (per-key counts -> NDV /
    sum / max), the verdict ladder is pure integer compares, and the
    reported skew ratio (max/mean) is one spelled IEEE division.

    Plan: one combinable groupBy per candidate over the fact table
    (each collapses to its key grain map-side); the six candidate
    summaries are 1-row aggregates UNION ALLed — at scale this is
    six parallel scan+agg passes, each shuffling only key-grain
    rows, and a realistic advisor would share one pass via
    grouping-sets when keys align."""
    li = load(spark, sf_dir, "lineitem")
    cand = None
    for name, expr in _PA_CANDIDATES:
        per_key = (
            li.groupBy(F.expr(expr).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.lit(name).alias("candidate"),
                F.count(F.lit(1)).cast("bigint").alias("ndv"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.max("c").cast("bigint").alias("max_rows"),
            )
        )
        cand = per_key if cand is None else cand.unionAll(per_key)
    return cand.select(
        "candidate",
        "ndv",
        "n_rows",
        "max_rows",
        micro(F.expr(_PA_SKEW)).alias("skew_ratio_micro"),
        F.expr(_PA_VERDICT).alias("verdict"),
    ).orderBy("candidate")


@query(
    "plan_shape_audit",
    oracle="""
        SELECT * FROM (VALUES
            ('filter_pushdown_reaches_scan', true),
            ('projection_prunes_columns', true),
            ('hinted_join_broadcasts', true),
            ('equi_join_never_cartesian', true),
            ('group_agg_has_map_side_partial', true),
            ('topk_uses_take_ordered', true)
        ) AS t(check_name, ok)
        ORDER BY check_name
    """,
    phase="P4",
    tags=("planner", "regression-gate"),
)
def plan_shape_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-plan regression gate: six invariants of Catalyst plan
    shape that this engine's scale story depends on, asserted against
    the ACTUAL compiled plans of probe queries and compared to an
    all-true oracle — if an upgrade or a refactor silently breaks
    filter pushdown, column pruning, broadcast hints, map-side
    partial aggregation, or TakeOrdered top-k, this query turns red
    in the driver's correctness run instead of the regression
    surfacing as a 100 TB incident. (The probes are deliberately
    SF-stable: hint-forced broadcast rather than size-threshold
    broadcast, shapes that do not change between sf0.001 and sf0.1.)

    This audits the PLAN, not the data: the checks run at plan time
    via the shared explain helpers (plans/tuning.py) and the verdict
    ships as a 6-row local relation.
    """
    from .tuning import (
        explain_str,
        has_pushed_filter,
        scan_read_schema,
        uses_broadcast_join,
        uses_take_ordered,
    )

    # A parquet scan of the audit's own. With SPARK_GRAFT_CACHE_TABLES=1
    # the session holds lineitem persisted, and Spark's cache manager
    # puts an InMemoryTableScan, which hides PushedFilters and
    # ReadSchema, into any plan over an equal relation. An explicit read
    # option (the default mergeSchema=false) makes this relation unequal
    # to the cached one.
    li = spark.read.option("mergeSchema", "false").parquet(
        f"{sf_dir}/lineitem.parquet"
    )
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")

    probe_scan = li.filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_partkey"
    )
    if "InMemoryTableScan" in explain_str(probe_scan):
        raise RuntimeError("plan_shape_audit: the scan probe reads a cached table")
    pushdown_ok = has_pushed_filter(probe_scan, "GreaterThan(l_quantity")
    rs = scan_read_schema(probe_scan)
    prune_ok = (
        "l_orderkey" in rs
        and "l_partkey" in rs
        and "l_extendedprice" not in rs
        and "l_comment" not in rs
    )

    probe_bcast = li.join(
        F.broadcast(nation), li.l_suppkey % 25 == nation.n_nationkey
    )
    bcast_ok = uses_broadcast_join(probe_bcast)

    probe_equi = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    )
    cartesian_ok = (
        "CartesianProduct" not in explain_str(probe_equi)
        and "BroadcastNestedLoopJoin" not in explain_str(probe_equi)
    )

    probe_agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    agg_plan = explain_str(probe_agg)
    partial_ok = agg_plan.count("HashAggregate") >= 2

    probe_topk = li.orderBy(F.desc("l_extendedprice")).limit(5)
    topk_ok = uses_take_ordered(probe_topk)

    rows = [
        ("filter_pushdown_reaches_scan", bool(pushdown_ok)),
        ("projection_prunes_columns", bool(prune_ok)),
        ("hinted_join_broadcasts", bool(bcast_ok)),
        ("equi_join_never_cartesian", bool(cartesian_ok)),
        ("group_agg_has_map_side_partial", bool(partial_ok)),
        ("topk_uses_take_ordered", bool(topk_ok)),
    ]
    return spark.createDataFrame(rows, ["check_name", "ok"]).orderBy(
        "check_name"
    )


# Pinned plan fingerprints (shuffle exchanges, broadcast exchanges,
# parquet scans) for the heaviest registry queries — measured from the
# compiled physical plans under a vanilla session and verified
# SF-stable across sf0.001/0.01/0.1 before pinning. Candidates are the
# slowest bench queries whose builders are side-effect-free at build
# time (no eager checkpoint, no IO write, no driver iteration) and
# whose join strategies don't flip with table size (emb_intrinsic_dim
# crosses a broadcast threshold between sf0.01 and sf0.1 and is
# excluded for that reason). A plan regression — like r5's
# decon_ngram double-explode, which doubled the corpus scan count —
# changes one of these counts and turns the driver's correctness run
# red instead of surfacing as a bench anomaly rounds later.
_FP_PINNED: tuple[tuple[str, int, int, int], ...] = (
    # r11: +3 shuffles/+2 broadcasts/+2 scans from the split-NDV rework
    # (three column-pruned single-row aggs crossJoined — the Expand
    # plan this replaces replicated every orders row ~3×; see the
    # operator docstring) — re-pinned deliberately, not a regression
    ("agg_approx_audit", 5, 2, 3),
    ("agg_spearman_corr", 5, 2, 3),
    ("basket_pairs", 2, 0, 1),
    ("basket_rules", 6, 1, 2),
    ("dedup_cross_source_matrix", 3, 3, 4),
    ("dedup_minhash", 1, 1, 2),
    # r10: +1 shuffle/+1 broadcast/+1 scan from the vocab-grain md5
    # rework (token hashing at DISTINCT-token grain, broadcast join-back
    # — SCALE.md) — re-pinned deliberately, not a regression
    ("dedup_simhash", 3, 1, 2),
    ("graph_edge_embeddedness", 9, 1, 0),
    ("graph_link_predict", 4, 0, 0),
    ("graph_triangles", 5, 1, 0),
    ("join_bloom_prefilter", 3, 3, 4),
    ("sample_poisson_bootstrap", 1, 0, 1),
    # r13: -4 shuffles/-4 scans from the bg_counts lazy localCheckpoint
    # (the alphabet-bounded counts materialize once; all four readers
    # are Scan ExistingRDD, so the corpus scan+explode lives inside the
    # checkpointed subtree and the outer plan fingerprint no longer
    # sees it) — re-pinned deliberately, not a regression; verified
    # SF-stable at sf0.001/0.01/0.1
    ("text_char_bigram_entropy", 5, 3, 0),
)


def plan_fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """(shuffle exchanges, broadcast exchanges, parquet scans) of the
    compiled physical plan — the minimal shape signature that catches
    an extra corpus scan, a lost broadcast, or a new shuffle."""
    import re

    from .tuning import explain_str

    plan = explain_str(df, mode="simple")
    n_shuffle = len(
        re.findall(r"Exchange (hash|range|Single|RoundRobin)", plan)
    )
    n_broadcast = plan.count("BroadcastExchange")
    n_scan = plan.count("Scan parquet")
    return n_shuffle, n_broadcast, n_scan


_FP_VALUES_SQL = ",\n            ".join(
    f"('{name}', {sh}, {bc}, {sc})" for name, sh, bc, sc in _FP_PINNED
)


@query(
    "plan_fingerprint_gate",
    oracle=f"""
        SELECT query_name,
               CAST(n_sh AS BIGINT) AS n_shuffle_exchanges,
               CAST(n_bc AS BIGINT) AS n_broadcast_exchanges,
               CAST(n_sc AS BIGINT) AS n_parquet_scans
        FROM (VALUES
            {_FP_VALUES_SQL}
        ) AS t(query_name, n_sh, n_bc, n_sc)
        ORDER BY query_name
    """,
    phase="P4",
    # bench-skip: this is a verification harness, not a data query — it
    # times 13 Catalyst compilations of the registry's heaviest plans.
    # In the r10 bench it cost 13.8 s (the most expensive entry, and a
    # 3.8× swing vs r9 purely from compile-under-load), polluting the
    # throughput total with compiler wall time. It still runs in every
    # correctness pass (driver t2 + parity suite), where it earns its
    # keep as the plan-shape regression gate.
    tags=("planner", "regression-gate", "bench-skip"),
)
def plan_fingerprint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-query plan-fingerprint gate: compile the physical plan of
    each of the 13 most expensive side-effect-free registry queries and
    emit its (shuffle-exchange, broadcast-exchange, parquet-scan)
    counts, compared by the driver against the pinned constants in the
    oracle. plan_shape_audit checks six GENERIC Catalyst invariants on
    synthetic probes; this gate pins the ACTUAL plans of the queries
    where a shape regression costs the most — an optimizer-rule change
    or careless refactor that re-inlines a subtree (r5's decon_ngram
    double-explode, r6's dedup_substring groupBy+join-back) changes a
    count here and fails the round's correctness run immediately.

    Plan-time only: builders are invoked to COMPILE, never executed —
    every listed builder is side-effect-free at build time (verified
    when pinning: no action, no write, no eager checkpoint, no session
    conf scoping), so the gate's cost is 13 Catalyst compilations plus
    a 13-row local relation. The compilations run on a thread pool:
    the work is driver-JVM Catalyst optimization (py4j releases the
    GIL), plans are independent, and none of the gated builders
    touches session state — wall time ~3× lower than serial (the
    registry's builders-run-serially contract is about SCOPED SESSION
    CONFS, which the side-effect audit excludes from this list).
    Fingerprints are SF-stable by construction
    (size-threshold-sensitive plans are excluded), so one set of
    constants holds at every test scale factor."""
    from concurrent.futures import ThreadPoolExecutor

    from ..registry import specs

    reg = specs()

    def measure(name: str) -> tuple[str, int, int, int]:
        df = reg[name].builder(spark, sf_dir)
        m_sh, m_bc, m_sc = plan_fingerprint(df)
        return (name, m_sh, m_bc, m_sc)

    with ThreadPoolExecutor(max_workers=8) as pool:
        rows = list(pool.map(measure, [n for n, *_ in _FP_PINNED]))
    return spark.createDataFrame(
        rows,
        "query_name string, n_shuffle_exchanges long, "
        "n_broadcast_exchanges long, n_parquet_scans long",
    ).orderBy("query_name")
