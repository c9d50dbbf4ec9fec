"""Graph operators over relational edge lists (SURVEY.md §2.14).

dedup_components (operators/dedup.py) covers the driver-loop iterative
pattern with convergence checks; this module covers the FIXED-ITERATION
pattern: the loop unrolls into one lazy Catalyst plan, so the whole
computation is a single job with no driver-side state at all — and,
because the iteration count is fixed, the exact result is expressible
as chained SQL CTEs, giving an iterative graph algorithm a full value
oracle (rare: most engines only smoke-test PageRank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import micro
from ..io import load
from ..registry import query

_DAMPING = 0.85
_ITERS = 3


def _ckpt_bytes(df: DataFrame) -> int:
    """mem+disk bytes of ``df``'s own materialized checkpoint: the RDD
    behind its ``LogicalRDD``, looked up by id, so an unrelated persist
    made after the checkpoint cannot change the answer. 0 while the
    checkpoint is not materialized. Metadata read only; no job."""
    rdd_id = df._jdf.queryExecution().logical().rdd().id()
    for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() == rdd_id:
            return int(info.memSize() + info.diskSize())
    return 0


# The oracles' twin of copurchase_edges: the body of their `pairs` CTE.
_COPURCHASE_EDGES_SQL = """
            SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            WHERE a.l_orderkey % {every} = 0"""


def copurchase_edges(
    spark: SparkSession, sf_dir: str, every: int, eager: bool = False
) -> DataFrame:
    """The co-purchase (basket) graph: distinct part pairs ``(pa, pb)``
    bought in the same order, oriented ``pa < pb``, over the orders
    with ``l_orderkey % every == 0``.

    The slice bounds the cost: the full basket graph at sf0.1 is dense
    and near-regular (~1.2M edges over 20k parts, average degree 120),
    so its wedge enumeration is inherent, not skew. Two slices are in
    use: every 5th order, and every 20th for the all-pairs
    neighbourhood queries, which have no degree-ordering escape, and
    the builders that sit beside them. Production bounds by category
    or time partition.

    The result is checkpointed because every caller reads the edge list
    from several branches (degree, adjacency, anti-join, counts), and
    Catalyst does no common-subexpression elimination across branches:
    without the cut each branch re-plans the self-join + distinct. The
    lazy cut materializes inside the query's own job; ``eager=True``
    materializes it now, for callers that read its size with
    ``_ckpt_bytes`` or feed it to every round of an unrolled loop."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % every == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
        .localCheckpoint(eager=eager)
    )


def both_ways(edges: DataFrame) -> DataFrame:
    """Symmetric ``(node, nbr)`` adjacency of an oriented ``(pa, pb)``
    edge list: every edge once in each direction."""
    return edges.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionAll(
        edges.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """``(node, d BIGINT)`` of an oriented ``(pa, pb)`` edge list: one
    combinable count over the union of both endpoint columns."""
    return (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )


# The oracles' twin of transition_edges: the body of their `edges` CTE.
_TRANSITION_EDGES_SQL = """
            SELECT event_type AS src, nxt AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM (
                SELECT event_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
                FROM events
            )
            WHERE nxt IS NOT NULL
            GROUP BY src, nxt"""


def transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-type transition graph ``(src, dst, w BIGINT)``: how
    often ``dst`` directly follows ``src`` in one user's events, ordered
    by (ts, event_id). One lead() window plus a rollup to |types|² rows.
    Eagerly checkpointed: the unrolled iterations read the edge list
    about twice per round, and without the cut Catalyst re-runs the
    events window scan for each reference."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .localCheckpoint(eager=True)
    )


@query(
    "graph_pagerank",
    oracle=f"""
        WITH edges AS ({_TRANSITION_EDGES_SQL}
        ),
        norm AS (
            SELECT src, dst,
                   w / sum(w) OVER (PARTITION BY src) AS p
            FROM edges
        ),
        nodes AS (
            SELECT src AS node FROM edges
            UNION
            SELECT dst FROM edges
        ),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
        r1 AS (
            SELECT nd.node,
                   0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(sum(r0.r * norm.p), 0) AS r
            FROM nodes nd
            LEFT JOIN norm ON norm.dst = nd.node
            LEFT JOIN r0 ON r0.node = norm.src
            GROUP BY nd.node
        ),
        r2 AS (
            SELECT nd.node,
                   0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(sum(r1.r * norm.p), 0) AS r
            FROM nodes nd
            LEFT JOIN norm ON norm.dst = nd.node
            LEFT JOIN r1 ON r1.node = norm.src
            GROUP BY nd.node
        ),
        r3 AS (
            SELECT nd.node,
                   0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(sum(r2.r * norm.p), 0) AS r
            FROM nodes nd
            LEFT JOIN norm ON norm.dst = nd.node
            LEFT JOIN r2 ON r2.node = norm.src
            GROUP BY nd.node
        )
        SELECT node, r AS pagerank FROM r3 ORDER BY node
    """,
    phase="P3",
    tags=("graph", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 fixed iterations) over the
    event-type transition graph. The edge build is one lead() window +
    groupBy; transition probabilities normalize with a per-src window
    sum. Each iteration is contribution-join -> groupBy(dst) -> rank
    update, with the node count joined in as a broadcast single row
    (never a driver-side scalar). Three iterations unroll into ONE
    lazy plan. At a billion-edge scale the same loop runs with
    localCheckpoint per round (the dedup_components pattern) to stop
    lineage growth; dangling mass goes to teleport only — documented
    simplification, identical on both engines."""
    edges = transition_edges(spark, sf_dir)
    norm = edges.select(
        "src",
        "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    ranks = nodes.crossJoin(nn).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_ITERS):
        contrib = (
            norm.join(ranks, norm.src == ranks.node)
            .select("dst", (F.col("r") * F.col("p")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(nn)
            .select(
                "node",
                (
                    F.lit(1 - _DAMPING) / F.col("n")
                    + F.lit(_DAMPING) * F.coalesce(F.col("incoming"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("pagerank")).orderBy("node")


@query(
    "graph_triangles",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=5)}
        ),
        tri AS (
            SELECT count(*) AS n_triangles
            FROM pairs e1
            JOIN pairs e2 ON e1.pb = e2.pa
            JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ),
        stats AS (
            SELECT count(*) AS n_edges,
                   count(DISTINCT pa) + count(DISTINCT CASE
                       WHEN pb NOT IN (SELECT pa FROM pairs) THEN pb END)
                       AS n_nodes_approx
            FROM pairs
        )
        SELECT (SELECT n_edges FROM stats) AS n_edges,
               (SELECT n_triangles FROM tri) AS n_triangles
    """,
    phase="P3",
    tags=("graph", "triangles"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-occurrence (basket) graph —
    the canonical multi-join graph pattern (community density,
    clustering coefficients). Edges are distinct part pairs appearing
    in the same order, oriented by key (pa < pb), so each triangle
    (a<b<c) is counted exactly once by the two-hop join
    e1(a,b) ⋈ e2(b,c) closed by e3(a,c).

    Scale posture: edge construction is bounded by order size (k parts
    per order → k²/2 pairs, k ≤ ~7 in the fixtures and bounded by
    basket size in any commerce schema), never by table size. The
    two-hop join shuffles on node keys; at 100 TB the standard skew
    guard is degree-ordering (orient each edge from the lower-degree
    endpoint, so hub nodes never fan out on the probe side) — with
    key-ordering the hub's pair list is the documented worst case.
    Output is a single reconciliation row (edge + triangle counts),
    both exact BIGINTs."""
    pairs = copurchase_edges(spark, sf_dir, 5)
    # Degree-ordered orientation — THE scale guard for triangle
    # counting: orient every edge from its lower-total-degree endpoint
    # (ties by key), then enumerate wedges only from edge SOURCES.
    # Out-degrees are then bounded by O(sqrt(m)), so hub nodes never
    # fan out quadratically; plain key-ordering measured 9.6 s at
    # sf0.1 vs ~2 s degree-ordered (72M wedges -> bounded). The count
    # is orientation-invariant, so the simple key-ordered SQL twin
    # verifies it.
    deg = degrees(pairs)
    p2 = (
        pairs.join(deg.withColumnRenamed("node", "pa"), "pa")
        .withColumnRenamed("d", "da")
        .join(
            deg.withColumnRenamed("node", "pb").withColumnRenamed("d", "db"),
            "pb",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    # second lineage cut: oriented feeds wedge enumeration AND the
    # closing-edge probe side
    oriented = p2.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("u"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=False)
    # Wedge enumeration MAP-SIDE from per-source adjacency lists
    # (sorted by (dv, v) — the degree-then-key wedge order), instead of
    # the oriented⋈oriented self-join on u: one shuffle on u replaces
    # two, and the ordered i<j pair generation is an array transform.
    adj = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list(F.struct("dv", "v"))).alias("nbrs")
    )
    wedges = adj.select(
        F.explode(
            F.expr(
                "flatten(transform(nbrs, (x, i) ->"
                " transform(slice(nbrs, i + 2, size(nbrs)),"
                " y -> struct(x.v AS w1, y.v AS w2))))"
            )
        ).alias("w")
    ).select("w.w1", "w.w2")
    closing = oriented.select(
        F.col("u").alias("w1"), F.col("v").alias("w2")
    )
    tri = wedges.join(closing, ["w1", "w2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return edges.crossJoin(tri)


@query(
    "graph_link_predict",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=20)}
        ), adj AS (
            SELECT pa AS node, pb AS nbr FROM pairs
            UNION ALL
            SELECT pb, pa FROM pairs
        ), deg AS (
            SELECT node, count(*) AS d FROM adj GROUP BY node
        ), wedge AS (
            SELECT a.nbr AS na, b.nbr AS nb, count(*) AS common_n
            FROM adj a JOIN adj b
              ON a.node = b.node AND a.nbr < b.nbr
            GROUP BY a.nbr, b.nbr
        ), cand AS (
            SELECT w.na, w.nb, w.common_n
            FROM wedge w
            WHERE NOT EXISTS (
                SELECT 1 FROM pairs p WHERE p.pa = w.na AND p.pb = w.nb
            )
        )
        SELECT c.na AS node_a, c.nb AS node_b,
               CAST(c.common_n AS BIGINT) AS common_n,
               CAST(da.d AS BIGINT) AS deg_a,
               CAST(db.d AS BIGINT) AS deg_b,
               CAST(c.common_n AS DOUBLE)
                   / (da.d + db.d - c.common_n) AS jaccard
        FROM cand c
        JOIN deg da ON da.node = c.na
        JOIN deg db ON db.node = c.nb
        ORDER BY common_n DESC, node_a, node_b
        LIMIT 50
    """,
    phase="P3",
    tags=("graph", "link-prediction"),
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over the basket graph: the 50
    strongest NOT-yet-connected part pairs by shared-neighbor count,
    with neighborhood Jaccard — the "customers also bought" candidate
    generator, and the classic graph-ML feature pair (CN + Jaccard).

    Plan reuses the triangle machinery's map-side wedge trick on the
    UNDIRECTED adjacency: per-node sorted neighbor structs (degree
    attached via a count-over-node window BEFORE the collect — the
    basket_rules pattern, so NO degree join on the Spark side), i<j
    wedge pairs exploded map-side, counted, then an ANTI join against
    the edge set drops already-linked pairs. Jaccard = cn/(da+db−cn)
    is small-int division — exact IEEE on both engines, no
    quantization needed. The oracle keeps the textbook wedge self-join
    + NOT EXISTS form. Every-20th-order slice, a quarter of the
    triangle slice: all-pairs common-neighbor counting has no
    degree-ordering escape (every wedge IS a candidate), so the cost
    bound comes from the slice. The edge list is the lazily
    checkpointed one of ``copurchase_edges``."""
    pairs = copurchase_edges(spark, sf_dir, 20)
    adj = both_ways(pairs)
    wd = Window.partitionBy("nbr")
    adj_deg = adj.withColumn("d", F.count(F.lit(1)).over(wd))
    nbrs = adj_deg.groupBy("node").agg(
        F.sort_array(F.collect_list(F.struct("nbr", "d"))).alias("ns")
    )
    wedges = (
        nbrs.select(
            F.explode(
                F.expr(
                    "flatten(transform(ns, (x, i) ->"
                    " transform(slice(ns, i + 2, size(ns)),"
                    " y -> struct(x.nbr AS na, y.nbr AS nb,"
                    " x.d AS da, y.d AS db))))"
                )
            ).alias("w")
        )
        .select("w.na", "w.nb", "w.da", "w.db")
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).alias("common_n"),
            F.first("da").alias("da"),
            F.first("db").alias("db"),
        )
    )
    # NB: wedges.na would resolve to DataFrame.na (the NA-functions
    # accessor), not the column — use qualified F.col refs
    cand = wedges.alias("w").join(
        pairs.alias("p"),
        (F.col("w.na") == F.col("p.pa")) & (F.col("w.nb") == F.col("p.pb")),
        "left_anti",
    )
    return (
        cand.select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            F.col("common_n").cast("bigint").alias("common_n"),
            F.col("da").cast("bigint").alias("deg_a"),
            F.col("db").cast("bigint").alias("deg_b"),
            (
                F.col("common_n").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_n"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_n"), F.asc("node_a"), F.asc("node_b"))
        .limit(50)
    )


_BFS_DEPTH = 3


@query(
    "graph_bfs_hops",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_COPURCHASE_EDGES_SQL.format(every=5)}
        ),
        sym AS (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION ALL
            SELECT pb, pa FROM pairs
        ),
        seeds AS (
            SELECT node FROM (
                SELECT pa AS node FROM pairs
                UNION
                SELECT pb FROM pairs
            ) ORDER BY node LIMIT 3
        ),
        bfs(seed, node, hops) AS (
            SELECT node AS seed, node, 0 FROM seeds
            UNION
            SELECT b.seed, s.dst, b.hops + 1
            FROM bfs b JOIN sym s ON b.node = s.src
            WHERE b.hops < {_BFS_DEPTH}
        )
        SELECT seed, node, CAST(min(hops) AS BIGINT) AS hops
        FROM bfs GROUP BY seed, node
    """,
    phase="P3",
    tags=("graph", "bfs", "shortest-path"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (depth ≤ 3) from the 3 smallest
    nodes of the basket graph — the shortest-path primitive behind
    "within N degrees" queries (recommendation radius, fraud rings,
    affected-service blast radius).

    Same fixed-iteration posture as graph_pagerank: no driver-side
    state, and the exact result has a recursive-CTE value oracle (min
    over all ≤depth walks ≡ BFS distance). Plan — visited-set
    pruning: the edge set is checkpointed, and each level expands only
    the NEWLY-DISCOVERED frontier — `new_h = distinct(expand(new_{h-1}))
    ANTI-JOIN visited` — so on a dense graph the expensive deep levels
    join a shrinking frontier instead of the whole reachable set
    (hop-2 already covers most of a basket component). Checkpoints are
    LAZY: every checkpointed frontier is multiply-REFERENCED (next
    expansion + visited union + final union), never re-derived, so all
    references share one RDD computed inside the single final job
    (lazy took the bench wall 2.59 → 1.59 s min at sf0.1).

    Two structural cuts keep the stage count at its floor,
    value-identical on all 28,394 sf0.1 rows.
    (1) No final groupBy(seed,node).min(hops): it would be a provable
    NO-OP. Every level is internally distinct (`.distinct()` before
    the anti-join) and anti-joined against `visited`, which contains
    ALL previous levels — including the last level, which is pruned
    even though it no longer feeds `visited` — so the unioned levels
    are already (seed,node)-disjoint and a node's only row carries its
    first-discovery level = its BFS distance. Leaving the aggregate
    out saves a full-result shuffle at any scale.
    (2) Levels 1-2 carry explicit broadcast hints on the frontier and
    visited sides: the h=1 frontier is the k=3 seed rows and the h=2
    frontier/visited are bounded by the seeds' 1-hop reach (k·d_max) —
    k-bounded relations, safe to broadcast at ANY corpus scale, unlike
    the h=3 inputs (the 2-hop frontier is graph-scale on a 100 TB
    graph), which stay hint-free: stats/AQE promote that join to
    broadcast at runtime when the frontier turns out small and demote
    it when it doesn't (measured: hinting h=3 too was within noise of
    the AQE-driven plan, 1.81 vs 1.92 s interleaved min under load ~2,
    so the scale-safe form costs nothing). Together the two cuts
    leave 2 compile-plan shuffles where the form with the aggregate
    and no hints had 6; interleaved min 2.31 → ~1.75-1.92 s under
    sustained loadavg ~2 (fresh-session quiet legs in BASELINE.md)."""
    pairs = copurchase_edges(spark, sf_dir, 5)
    sym = both_ways(pairs).toDF("src", "dst")
    nodes = (
        pairs.select(F.col("pa").alias("node"))
        .union(pairs.select(F.col("pb").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(3)
    level0 = seeds.select(
        F.col("node").alias("seed"),
        F.col("node"),
        F.lit(0).alias("hops"),
    )
    new = level0.select("seed", "node").localCheckpoint(eager=False)
    visited = new
    levels = [level0]
    for h in range(1, _BFS_DEPTH + 1):
        # h ≤ 2: frontier/visited are k-seed-bounded (see docstring) —
        # broadcast unconditionally; h = 3 inputs are graph-scale, so
        # their join strategy is left to stats/AQE
        frontier = F.broadcast(new) if h <= 2 else new
        expanded = (
            frontier.join(sym, frontier.node == sym.src)
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        vis = F.broadcast(visited) if h <= 2 else visited
        new = expanded.join(vis, ["seed", "node"], "left_anti")
        if h < _BFS_DEPTH:
            # materialize once: the union into `visited` and the next
            # level's expansion both read this frontier
            new = new.localCheckpoint(eager=False)
            visited = visited.unionByName(new)
        levels.append(new.select("seed", "node", F.lit(h).alias("hops")))
    # the levels are (seed,node)-disjoint by construction (anti-join
    # pruning incl. the last level), so a bare union IS the min-hops
    # result — no aggregate shuffle needed
    walks = levels[0]
    for lvl in levels[1:]:
        walks = walks.unionByName(lvl)
    return walks.select(
        "seed", "node", F.col("hops").cast("bigint").alias("hops")
    )


_LPA_ROUNDS = 2

# one synchronous LPA round as a SQL CTE pair: neighbor-label counts,
# then majority pick (count desc, label asc) via lexicographic
# struct-min — the tpch_q2 house pattern.
_LPA_ROUND_SQL = """
        votes{r} AS (
            SELECT a.node, l.label, count(*) AS cnt
            FROM adj a JOIN labels{p} l ON l.node = a.nbr
            GROUP BY a.node, l.label
        ),
        labels{r} AS (
            SELECT n.node,
                   coalesce(
                       (SELECT min(struct_pack(nc := -v.cnt, l := v.label)).l
                        FROM votes{r} v WHERE v.node = n.node),
                       n.node) AS label
            FROM nodes n
        )"""


@query(
    "graph_lpa_communities",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=20)}
        ),
        adj AS (
            SELECT pa AS node, pb AS nbr FROM pairs
            UNION ALL
            SELECT pb AS node, pa AS nbr FROM pairs
        ),
        nodes AS (SELECT DISTINCT node FROM adj),
        labels0 AS (SELECT node, node AS label FROM nodes),
        {",".join(_LPA_ROUND_SQL.format(r=r, p=r - 1)
                  for r in range(1, _LPA_ROUNDS + 1))}
        SELECT label AS community,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(min(node) AS BIGINT) AS min_node,
               CAST(max(node) AS BIGINT) AS max_node
        FROM labels{_LPA_ROUNDS}
        GROUP BY label
        HAVING count(*) >= 2
        ORDER BY n_members DESC, community
    """,
    phase="P4",
    tags=("graph", "community", "lpa"),
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (2 fixed
    rounds) over the basket co-purchase graph: every node starts as its
    own label and adopts its neighborhood's MAJORITY label each round
    (count desc, label asc tiebreak — fully deterministic, unlike
    classic randomized LPA). Distinct from ``dedup_components``:
    min-label propagation finds connected components; majority
    propagation finds densely-connected clusters WITHIN components —
    the "which parts sell together as a theme" view. Output: communities
    with ≥2 members, their size and node range.

    Plan (~0.7 s warm at sf0.1, 1.48 s without the reductions
    below): the fixed iteration count unrolls into ONE Catalyst plan —
    no driver loop, no state — with three algebraic reductions the
    unrolled CTE oracle keeps in general form:
    (1) the edge set is EAGERLY checkpointed: a lazy localCheckpoint
        does NOT dedupe a subtree the single final job consumes 2+
        times, and here the edge list feeds every round twice via the
        adj union;
    (2) round 1 collapses: with identity initialization every vote
        count over a DISTINCT edge set is exactly 1, so majority with
        the (count desc, label asc) tiebreak degenerates to
        min(neighbor) — one combinable aggregate instead of
        join + two-level agg;
    (3) the per-round nodes-left-join+coalesce is dropped — every node
        in the graph has ≥1 neighbor by construction, so the argmax
        already emits one row per node.
    At 100 TB the adjacency is the only data-scale relation; labels are
    one row per node, and R rounds cost R co-partitioned joins — the
    same shape GraphFrames' LPA lowers to, here with a full value
    oracle via unrolled CTEs.
    """
    adj = both_ways(copurchase_edges(spark, sf_dir, 20, eager=True))
    # round 1 collapsed (reduction 2 above)
    labels = adj.groupBy("node").agg(F.min("nbr").alias("label"))
    for _ in range(_LPA_ROUNDS - 1):
        votes = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = votes.groupBy("node").agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l"))
            )
            .getField("l")
            .alias("label")
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy(F.desc("n_members"), F.asc("community"))
    )


_KCORE_K = 12
_KCORE_ROUNDS = 5
# Size guard for the per-round deg broadcast: deg is node-grain
# and strictly smaller than the edge set it aggregates, so broadcasting
# it is safe whenever the round's MATERIALIZED edge checkpoint is under
# this many bytes (mem+disk, read from the block manager — no extra
# job). 64 MB keeps the built hash relation comfortably inside executor
# memory at any core count; at graph scale the guard fails and the
# joins stay AQE-driven (demotable, skew-handled).
_KCORE_BCAST_EDGE_BYTES = 64 << 20


def _kcore_oracle() -> str:
    """Unrolled peeling: each round keeps nodes with degree ≥ k in the
    CURRENT edge set, then keeps edges with both ends kept. Five
    rounds stabilize on the fixture (round 5 reproduces round 4 at
    every SF); the converged flag is itself part of the oracled
    output, so a fixture where five rounds were NOT enough would show
    converged=0 identically on both engines rather than silently
    diverging. CTEs are MATERIALIZED: DuckDB would otherwise
    re-expand every reference and exhaust file handles on the 3-per-
    round fan-out (the Catalyst no-CSE trap, DuckDB edition)."""
    k, rounds = _KCORE_K, _KCORE_ROUNDS
    ctes = [
        f"""e0 AS MATERIALIZED ({_COPURCHASE_EDGES_SQL.format(every=5)}
        )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""n{r} AS MATERIALIZED (
            SELECT node
            FROM (SELECT pa AS node FROM e{r - 1}
                  UNION ALL SELECT pb FROM e{r - 1})
            GROUP BY node HAVING count(*) >= {k}
        )""")
        ctes.append(f"""e{r} AS MATERIALIZED (
            SELECT e.pa, e.pb
            FROM e{r - 1} e
            JOIN n{r} x ON e.pa = x.node
            JOIN n{r} y ON e.pb = y.node
        )""")
    last, prev = rounds, rounds - 1
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT CAST({k} AS BIGINT) AS k,
               CAST({rounds} AS BIGINT) AS rounds,
               CAST((SELECT count(*) FROM n{last}) AS BIGINT)
                   AS n_nodes_core,
               CAST((SELECT count(*) FROM e{last}) AS BIGINT)
                   AS n_edges_core,
               CAST((SELECT min(d) FROM (
                        SELECT count(*) AS d
                        FROM (SELECT pa AS node FROM e{last}
                              UNION ALL SELECT pb FROM e{last})
                        GROUP BY node)) AS BIGINT) AS min_core_degree,
               CAST(CASE WHEN (SELECT count(*) FROM n{last})
                              = (SELECT count(*) FROM n{prev})
                         AND (SELECT count(*) FROM e{last})
                              = (SELECT count(*) FROM e{prev})
                    THEN 1 ELSE 0 END AS BIGINT) AS converged
    """
    )


@query(
    "graph_kcore",
    oracle=_kcore_oracle(),
    phase="P4",
    tags=("graph", "kcore", "iterative"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=12) of the co-purchase graph by
    iterative peeling — the community-density filter ("drop everyone
    with fewer than k surviving neighbors, repeat") behind spam
    subgraph mining and dense-cluster seeding. Six peeling rounds
    with a CONVERGED flag in the oracled output: the flag is computed
    from the data on both engines, so an under-provisioned round
    budget shows up as converged=0, never as silent divergence
    (measured: the node/edge sets are stable by round 5 — i.e. round
    5 reproduces round 4 — at every fixture SF).

    Plan shape: each round is one degree aggregate (union-all of both
    endpoints → combinable count) plus two semi-join-shaped inner
    joins back onto the edge set, with an EAGER localCheckpoint per
    round — Catalyst does no cross-branch CSE, so a lazily-unrolled
    6-round plan would re-expand the base co-purchase join 3^6 times
    (the decon_ngram lesson at loop scale). Checkpointing keeps each
    round's plan flat and the whole run is 6 bounded jobs with no
    driver-side data. At 100 TB the edge set shuffles on node id once
    per round — the same per-round cost class as dedup_components,
    with the round count bounded by the peeling depth, not the graph
    size.

    No hard F.broadcast hint on `deg`: it is a NODE-grain relation,
    i.e. graph-scale at 100 TB, and a hard hint can never be demoted.
    (Two rejected alternatives, same session: a shared-deg subplan
    and a window+edge-grain-min form that removes the degree join
    entirely — the window form is ~60% SLOWER (3.95 vs 2.47 s min)
    because per-round wall is job-barrier-dominated, not
    join-dominated.)

    Hint-free is not free either: the executed per-round plans
    (history/plans/r14/graph_kcore_round3_before.txt) show AQE DOES
    promote both endpoint joins to BroadcastHashJoin at sf0.1 — but
    only after the initial SortMergeJoin plan has already SHUFFLED the
    edge relation by pa as a materialized ShuffleQueryStage (AQE
    converts the join, not the already-submitted exchange), so every
    round pays one full shuffle write of the edge set that a
    compile-time hint never pays (A/B: hint-free 2.93/3.24 vs hinted
    2.68/2.97 s min/med of 7). Hence a SIZE-GUARDED broadcast — the
    round's edge set is eagerly checkpointed, so its materialized
    bytes are known for free from the block manager
    (getRDDStorageInfo); deg (node-grain) is strictly smaller than
    the edge set it aggregates, so when the checkpointed edge bytes
    are under _KCORE_BCAST_EDGE_BYTES the hint is provably safe and
    is applied, and at graph scale the guard fails and the plan
    stays AQE-driven (demotable, skew-handled) — no unconditional
    data-grain hint (pinned by the test: threshold 0 ⇒ zero
    F.broadcast calls)."""
    e = copurchase_edges(spark, sf_dir, 5, eager=True)
    e_bytes = _ckpt_bytes(e)
    prev_e = e
    kept_nodes: DataFrame | None = None  # the oracle's n{r} relation
    prev_kept: DataFrame | None = None
    for _ in range(_KCORE_ROUNDS):
        prev_e = e
        prev_kept = kept_nodes
        # ONE job per round: deg stays lazy (two copies of the
        # degree aggregate over the CHECKPOINTED edge RDD — bounded,
        # no re-expansion) and joins into both endpoint joins.
        # Join strategy: when the round's materialized edge
        # checkpoint is small, deg (node-grain, strictly smaller) gets
        # an explicit broadcast hint — the AQE SMJ→BHJ conversion
        # happens only AFTER the initial plan has shuffled the edge
        # set as a query stage, so the hint removes one full edge
        # shuffle per round; past the size guard the joins stay
        # stats/AQE-driven (no hard hint on a graph-scale relation).
        # the single eager checkpoint is the round barrier. Local-mode
        # wall clock is dominated by these per-round job barriers
        # (~0.3 s each), not data — the in-process twin wins at
        # fixture scale exactly the way BASELINE.md's scheduling-
        # floor profile describes, and the ratio inverts with size.
        deg = degrees(e).filter(F.col("d") >= _KCORE_K).select("node")
        kept_nodes = deg
        degj = (
            F.broadcast(deg)
            if 0 < e_bytes < _KCORE_BCAST_EDGE_BYTES
            else deg
        )
        e = (
            e.join(degj.withColumnRenamed("node", "pa"), "pa")
            .join(degj.withColumnRenamed("node", "pb"), "pb")
            .select("pa", "pb")
            .localCheckpoint(eager=True)
        )
        e_bytes = _ckpt_bytes(e)

    # one degree pass per edge set yields the edge-side stats:
    # min degree directly and |E| = Σdeg/2 (handshake identity).
    # n_nodes_core and the converged node comparison use the SAME
    # definition as the oracle's n{r} CTEs — nodes with degree >= k
    # in the PREVIOUS round's edge set — NOT the surviving-edge
    # endpoint set: the two are provably equal only at convergence
    # (a node the degree filter keeps can still lose its last edge
    # in the same round when its neighbors drop).
    def deg_stats(edges: DataFrame, prefix: str) -> DataFrame:
        return degrees(edges).agg(
            (F.sum("d") / 2).cast("bigint").alias(f"{prefix}edges"),
            F.min("d").alias(f"{prefix}min_deg"),
        )

    assert kept_nodes is not None and prev_kept is not None
    stats = (
        deg_stats(e, "core_")
        .crossJoin(deg_stats(prev_e, "prev_"))
        .crossJoin(
            kept_nodes.agg(F.count(F.lit(1)).alias("core_nodes"))
        )
        .crossJoin(
            prev_kept.agg(F.count(F.lit(1)).alias("prev_nodes"))
        )
    )
    return stats.select(
        F.lit(_KCORE_K).cast("bigint").alias("k"),
        F.lit(_KCORE_ROUNDS).cast("bigint").alias("rounds"),
        F.col("core_nodes").cast("bigint").alias("n_nodes_core"),
        F.col("core_edges").cast("bigint").alias("n_edges_core"),
        F.col("core_min_deg").cast("bigint").alias("min_core_degree"),
        (
            (F.col("core_nodes") == F.col("prev_nodes"))
            & (F.col("core_edges") == F.col("prev_edges"))
        )
        .cast("bigint")
        .alias("converged"),
    )


# Newman's degree assortativity over an undirected edge list, cleared
# of denominators: with M edges and per-edge endpoint degrees (j, k),
# r = (4·M·Σjk − (Σ(j+k))²) / (2·M·Σ(j²+k²) − (Σ(j+k))²) — every
# moment an exact BIGINT, one spelled IEEE division at the end.
_ASSORT_NUM = "(4.0 * m * sjk - CAST(sj AS DOUBLE) * sj)"
_ASSORT_DEN = "(2.0 * m * sjj - CAST(sj AS DOUBLE) * sj)"


@query(
    "graph_degree_assortativity",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=5)}
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (
                SELECT pa AS node FROM pairs
                UNION ALL
                SELECT pb AS node FROM pairs
            ) GROUP BY node
        ), m0 AS (
            SELECT CAST(count(*) AS BIGINT)                  AS m,
                   CAST(sum(dj.d * dk.d) AS BIGINT)          AS sjk,
                   CAST(sum(dj.d + dk.d) AS BIGINT)          AS sj,
                   CAST(sum(dj.d * dj.d + dk.d * dk.d)
                        AS BIGINT)                           AS sjj
            FROM pairs
            JOIN deg dj ON pairs.pa = dj.node
            JOIN deg dk ON pairs.pb = dk.node
        )
        SELECT m AS n_edges,
               (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
               sj, sjj, sjk,
               CASE WHEN {_ASSORT_DEN} != 0.0 THEN
                    CAST(floor({_ASSORT_NUM} / {_ASSORT_DEN}
                               * 1000000.0 + 0.5) AS BIGINT)
               END AS r_micro
        FROM m0
    """,
    phase="P3",
    tags=("graph", "assortativity"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the part co-occurrence
    graph — do high-degree nodes attach to other hubs (r > 0, social
    shape) or to the periphery (r < 0, hub-and-spoke)?  The one-
    number structure summary that decides whether degree-ordered
    join strategies (graph_triangles' skew guard) will pay off.
    Same edge base as graph_triangles: distinct within-order part
    pairs, oriented pa < pb, every 5th order.

    Exactness: r is Pearson over the edge-endpoint degree pairs,
    symmetrized and cleared of denominators — all four moments
    (M, Σjk, Σ(j+k), Σ(j²+k²)) are exact BIGINTs from ONE combinable
    aggregate, so r is a single spelled IEEE division (NULL for a
    degree-regular graph where the variance vanishes, never 0/0).
    Int64 headroom: 4·M·Σjk needs M·d_max⁴ < 2⁶³ — holds to ~1e9
    edges at d_max 1e3; cap degrees (the standard truncation) past
    that.

    Plan: the degree table is ONE combinable count over the exploded
    endpoints; joining it back twice shuffles on node keys (AQE
    handles the hub skew); moments reduce map-side to a single row.
    Cost is bounded by the edge list, never edges²."""
    pairs = copurchase_edges(spark, sf_dir, 5)
    deg = degrees(pairs)
    dj = deg.select(F.col("node").alias("pa"), F.col("d").alias("j"))
    dk = deg.select(F.col("node").alias("pb"), F.col("d").alias("k"))
    m0 = (
        pairs.join(dj, "pa")
        .join(dk, "pb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
            F.sum(F.col("j") + F.col("k")).cast("bigint").alias("sj"),
            F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
            .cast("bigint")
            .alias("sjj"),
        )
    )
    n_nodes = F.broadcast(
        deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    return m0.crossJoin(n_nodes).select(
        F.col("m").alias("n_edges"),
        "n_nodes",
        "sj",
        "sjj",
        "sjk",
        F.when(
            F.expr(_ASSORT_DEN) != 0.0,
            micro(F.expr(_ASSORT_NUM) / F.expr(_ASSORT_DEN)),
        ).alias("r_micro"),
    )


@query(
    "graph_clustering_coeff",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=5)}
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (
                SELECT pa AS node FROM pairs
                UNION ALL
                SELECT pb AS node FROM pairs
            ) GROUP BY node
        ), w AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
            FROM deg
        ), tri AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM pairs e1
            JOIN pairs e2 ON e1.pb = e2.pa
            JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs
        )
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges > 0 THEN
                    CAST(floor(3.0 * n_triangles / n_wedges
                               * 1000000.0 + 0.5) AS BIGINT)
               END AS global_cc_micro
        FROM w, tri, m
    """,
    phase="P3",
    tags=("graph", "clustering-coefficient"),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the part
    co-occurrence graph: C = 3·triangles / wedges — what fraction of
    open two-paths close.  The density companion to
    graph_degree_assortativity (who hubs attach to) and
    graph_triangles (the raw closure count): together they
    characterize whether the basket graph is clique-like (recommender
    co-purchase neighborhoods work) or hub-and-spoke (they won't).
    Same edge base and %5 order slice, shared with the oracle.

    Exactness: all four counts are exact BIGINTs; wedges fold from
    the degree table as Σd(d−1)/2 (integer — d(d−1) is always even);
    the coefficient is one IEEE division, NULL for a wedge-free
    graph.

    Plan: wedges come from ONE combinable degree aggregate — no
    wedge enumeration; only the triangle closure enumerates paths
    (the key-ordered two-hop + closure joins, each a keyed shuffle
    AQE re-balances).  Cost is the triangle join, identical to
    graph_triangles' class; the three scalar relations combine via
    broadcast single-row cross joins."""
    pairs = copurchase_edges(spark, sf_dir, 5)
    deg = degrees(pairs)
    w = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    m = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        w.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(m))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                micro(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")),
            ).alias("global_cc_micro"),
        )
    )


@query(
    "graph_adamic_adar",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=20)}
        ), adj AS (
            SELECT pa AS node, pb AS nbr FROM pairs
            UNION ALL
            SELECT pb, pa FROM pairs
        ), deg AS (
            SELECT node, count(*) AS d FROM adj GROUP BY node
        ), term AS (
            SELECT node,
                   CAST(floor(1000000000000.0 / ln(CAST(d AS DOUBLE))
                        + 0.5) AS BIGINT) AS t
            FROM deg WHERE d >= 2
        ), adjt AS (
            SELECT a.node, a.nbr, t.t
            FROM adj a JOIN term t ON t.node = a.node
        ), wedge AS (
            SELECT a.nbr AS na, b.nbr AS nb,
                   CAST(count(*) AS BIGINT) AS common_n,
                   CAST(sum(a.t) AS BIGINT) AS aa_pico
            FROM adjt a JOIN adjt b
              ON a.node = b.node AND a.nbr < b.nbr
            GROUP BY a.nbr, b.nbr
        ), cand AS (
            SELECT w.na, w.nb, w.common_n, w.aa_pico
            FROM wedge w
            WHERE NOT EXISTS (
                SELECT 1 FROM pairs p WHERE p.pa = w.na AND p.pb = w.nb
            )
        )
        SELECT na AS node_a, nb AS node_b, common_n, aa_pico
        FROM cand
        ORDER BY aa_pico DESC, node_a, node_b
        LIMIT 50
    """,
    phase="P3",
    tags=("graph", "link-prediction"),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the basket graph — the
    degree-weighted upgrade of graph_link_predict's common-neighbor
    count: a shared neighbor contributes 1/ln(deg), so rare
    connectors weigh more than promiscuous hubs (the score that wins
    on co-purchase graphs where a few bestseller parts co-occur with
    everything). Top-50 not-yet-connected pairs.

    Exactness: each node's 1/ln(deg) term is pico-quantized ONCE at
    NODE grain (the safe ln class — never per wedge), so the per-pair
    Adamic-Adar sum is an order-free exact BIGINT; ranking sorts the
    quantized integer with a pair tiebreak, so IEEE ties can't flip
    the cut. Wedge centers need deg ≥ 2 (ln > 0 by construction).

    Plan: the node-grain term relation joins into the adjacency
    before wedge formation — no per-wedge degree join; wedge pairs
    form on the center node exactly as graph_link_predict; anti-join
    drops existing edges; TakeOrdered keeps 50. No F.broadcast(term)
    hint: term is node-grain, i.e. graph-scale at 100 TB, and a hard
    hint can never be demoted. The query runs AQE-on (graph tag), so
    the runtime planner picks broadcast off measured sizes when term
    is genuinely small. Measured in-process A/B (min/med of 5): hint
    1.39/1.47 s vs hint-free 1.18/1.30 s —
    the hint-free form is ~13% FASTER locally, because the SMJ on
    `node` establishes exactly the partitioning the wedge self-join
    needs (one exchange shared), while the broadcast form left adj
    unpartitioned and the wedge join re-shuffled both arms."""
    pairs = copurchase_edges(spark, sf_dir, 20)
    adj = both_ways(pairs)
    deg = degrees(pairs)
    term = deg.filter(F.col("d") >= 2).select(
        "node",
        F.floor(
            F.lit(1000000000000.0) / F.log(F.col("d").cast("double"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("t"),
    )
    adjt = adj.join(term, "node")
    wa = adjt.select("node", F.col("nbr").alias("na"), "t")
    wb = adjt.select(F.col("node").alias("node2"), F.col("nbr").alias("nb"))
    wedge = (
        wa.join(
            wb,
            (F.col("node") == F.col("node2"))
            & (F.col("na") < F.col("nb")),
        )
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_n"),
            F.sum("t").cast("bigint").alias("aa_pico"),
        )
    )
    cand = wedge.join(
        pairs,
        (F.col("na") == F.col("pa")) & (F.col("nb") == F.col("pb")),
        "left_anti",
    )
    return (
        cand.select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "common_n",
            "aa_pico",
        )
        .orderBy(F.desc("aa_pico"), "node_a", "node_b")
        .limit(50)
    )


@query(
    "graph_harmonic_centrality",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=20)}
        ), adj AS (
            SELECT pa AS node, pb AS nbr FROM pairs
            UNION ALL
            SELECT pb, pa FROM pairs
        ), two AS (
            SELECT DISTINCT a.nbr AS u, b.nbr AS v
            FROM adj a JOIN adj b
              ON a.node = b.node AND a.nbr <> b.nbr
        ), d2 AS (
            SELECT u, CAST(count(*) AS BIGINT) AS n2
            FROM two t
            WHERE NOT EXISTS (
                SELECT 1 FROM adj e WHERE e.node = t.u AND e.nbr = t.v
            )
            GROUP BY u
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM adj GROUP BY node
        )
        SELECT node, d AS n_dist1,
               CAST(coalesce(n2, 0) AS BIGINT) AS n_dist2,
               CAST(2 * d + coalesce(n2, 0) AS BIGINT) AS harmonic_x2
        FROM deg LEFT JOIN d2 ON d2.u = deg.node
        ORDER BY harmonic_x2 DESC, node
        LIMIT 100
    """,
    phase="P3",
    tags=("graph", "centrality"),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 truncated harmonic centrality over the basket graph:
    HC(v) = sum 1/d(u,v) for d <= 2 = |N1| + |N2|/2 — the "reach"
    ranking that, unlike raw degree, credits nodes whose neighbors
    fan out (a part co-bought with a few hub parts outranks an
    equal-degree part in a clique). Shipped DOUBLED (harmonic_x2 =
    2*|N1| + |N2|) so the score is an exact integer — no
    quantization anywhere in this query.

    Plan: distance-2 candidates form map-side on the wedge center
    (the graph_link_predict shape, cost bounded by sum(deg^2) with
    the same degree-cap rule); DISTINCT collapses multi-wedge
    duplicates BEFORE the anti-join vs the edge list removes
    distance-1 pairs; per-node counts are one combinable agg;
    TakeOrdered keeps the top 100 with a node tiebreak."""
    pairs = copurchase_edges(spark, sf_dir, 20)
    adj = both_ways(pairs)
    wa = adj.select("node", F.col("nbr").alias("u"))
    wb = adj.select(F.col("node").alias("node2"), F.col("nbr").alias("v"))
    two = (
        wa.join(
            wb,
            (F.col("node") == F.col("node2"))
            & (F.col("u") != F.col("v")),
        )
        .select("u", "v")
        .distinct()
    )
    d2 = (
        two.join(
            adj,
            (F.col("u") == F.col("node")) & (F.col("v") == F.col("nbr")),
            "left_anti",
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    )
    deg = degrees(pairs)
    return (
        deg.join(d2, deg.node == d2.u, "left")
        .select(
            "node",
            F.col("d").alias("n_dist1"),
            F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n_dist2"),
            (F.lit(2) * F.col("d") + F.coalesce(F.col("n2"), F.lit(0)))
            .cast("bigint")
            .alias("harmonic_x2"),
        )
        .orderBy(F.desc("harmonic_x2"), "node")
        .limit(100)
    )


# Modularity terms per community from exact integer (e_c, d_c, m),
# spelled once: Q = sum_c (e_c/m - (d_c/2m)^2).
_MOD_TERM = (
    "(CAST(ec AS DOUBLE) / m"
    " - (CAST(dc AS DOUBLE) / (2 * m)) * (CAST(dc AS DOUBLE) / (2 * m)))"
)


@query(
    "graph_modularity",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=20)}
        ),
        adj AS (
            SELECT pa AS node, pb AS nbr FROM pairs
            UNION ALL
            SELECT pb AS node, pa AS nbr FROM pairs
        ),
        nodes AS (SELECT DISTINCT node FROM adj),
        labels0 AS (SELECT node, node AS label FROM nodes),
        {",".join(_LPA_ROUND_SQL.format(r=r, p=r - 1)
                  for r in range(1, _LPA_ROUNDS + 1))},
        m1 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj
            GROUP BY node
        ),
        comm AS (
            SELECT l.label AS community,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(sum(d.d) AS BIGINT) AS dc
            FROM labels{_LPA_ROUNDS} l JOIN deg d ON d.node = l.node
            GROUP BY l.label
        ),
        intra AS (
            SELECT la.label AS community,
                   CAST(count(*) AS BIGINT) AS ec
            FROM pairs p
            JOIN labels{_LPA_ROUNDS} la ON la.node = p.pa
            JOIN labels{_LPA_ROUNDS} lb ON lb.node = p.pb
            WHERE la.label = lb.label
            GROUP BY la.label
        ),
        terms AS (
            SELECT c.community, c.n_members,
                   CAST(coalesce(i.ec, 0) AS BIGINT) AS ec,
                   c.dc, m1.m,
                   CAST(floor((CAST(coalesce(i.ec, 0) AS DOUBLE) / m1.m
                        - (CAST(c.dc AS DOUBLE) / (2 * m1.m))
                        * (CAST(c.dc AS DOUBLE) / (2 * m1.m)))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS t_pico
            FROM comm c LEFT JOIN intra i ON i.community = c.community,
                 m1
        ),
        fold AS (
            SELECT CAST(sum(t_pico) AS BIGINT) AS qsum,
                   CAST(count(*) AS BIGINT) AS n_comm
            FROM terms
        )
        SELECT t.community, t.n_members, t.ec AS intra_edges,
               t.dc AS degree_sum,
               f.n_comm AS n_communities,
               CAST(floor(CAST(f.qsum AS DOUBLE) / 1000000.0 + 0.5)
                    AS BIGINT) AS modularity_micro
        FROM terms t, fold f
        WHERE t.n_members >= 2
        ORDER BY t.n_members DESC, t.community
        LIMIT 20
    """,
    phase="P4",
    tags=("graph", "community", "quality"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA partition over the basket graph
    — the standard 'is this clustering real?' score (Q near 0: no
    better than random given the degree sequence; Q >> 0: dense
    communities): Q = sum_c (e_c/m - (d_c/2m)^2), folded over ALL
    communities (singletons included — their degree mass counts)
    with the top-20 communities' ingredients shipped alongside.
    Composes the exact same deterministic 2-round LPA as
    graph_lpa_communities, so label assignment is identical by
    construction.

    Exactness: e_c (intra edges), d_c (degree mass), and m are exact
    integers; each community's term pico-quantizes at COMMUNITY grain
    so the Q fold is an order-free BIGINT sum; the final scale-back
    is one spelled division.

    Plan: the LPA rounds are the co-partitioned join chain the
    communities query already runs; modularity adds one degree agg,
    one two-sided label join over the EDGE list (both sides keyed on
    node — shares the adjacency partitioning), and a community-grain
    fold."""
    pairs = copurchase_edges(spark, sf_dir, 20)
    adj = both_ways(pairs)
    nodes = adj.select("node").distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        picked = votes.groupBy("node").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"), F.col("label").alias("l")
                )
            )
            .getField("l")
            .alias("new_label")
        )
        labels = nodes.join(picked, "node", "left").select(
            "node",
            F.coalesce(F.col("new_label"), F.col("node")).alias("label"),
        )
    labels = labels.localCheckpoint(eager=False)
    m1 = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = degrees(pairs)
    comm = (
        labels.join(deg, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("d").cast("bigint").alias("dc"),
        )
    )
    la = labels.select(F.col("node").alias("pa"), F.col("label").alias("lab_a"))
    lb = labels.select(F.col("node").alias("pb"), F.col("label").alias("lab_b"))
    intra = (
        pairs.join(la, "pa")
        .join(lb, "pb")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ec"))
    )
    # coalesce ec BEFORE the term select: F.expr resolves `ec` against
    # the input relation, so computing both in one projection would
    # feed the pre-coalesce NULL into the term (NULL t_pico for
    # zero-intra communities — sum would silently skip their
    # -(dc/2m)^2 mass while the oracle counts it).
    terms = (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "community",
            "n_members",
            F.coalesce(F.col("ec"), F.lit(0)).cast("bigint").alias("ec"),
            "dc",
            "m",
        )
        .select(
            "community",
            "n_members",
            "ec",
            "dc",
            "m",
            F.floor(F.expr(_MOD_TERM) * F.lit(1e12) + F.lit(0.5))
            .cast("bigint")
            .alias("t_pico"),
        )
    )
    fold = terms.agg(
        F.sum("t_pico").cast("bigint").alias("qsum"),
        F.count(F.lit(1)).cast("bigint").alias("n_comm"),
    )
    return (
        terms.crossJoin(F.broadcast(fold))
        .filter(F.col("n_members") >= 2)
        .select(
            "community",
            "n_members",
            F.col("ec").alias("intra_edges"),
            F.col("dc").alias("degree_sum"),
            F.col("n_comm").alias("n_communities"),
            F.floor(
                F.col("qsum").cast("double") / F.lit(1000000.0) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("modularity_micro"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


@query(
    "graph_edge_embeddedness",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=20)}
        ), adj AS (
            SELECT pa AS node, pb AS nbr FROM pairs
            UNION ALL
            SELECT pb, pa FROM pairs
        ), emb AS (
            SELECT p.pa, p.pb,
                   CAST((SELECT count(*) FROM adj x JOIN adj y
                         ON x.nbr = y.nbr
                         WHERE x.node = p.pa AND y.node = p.pb)
                        AS BIGINT) AS embeddedness
            FROM pairs p
        ), summary AS (
            SELECT CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(sum(CASE WHEN embeddedness = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS n_bridge_like
            FROM emb
        )
        SELECT e.pa AS node_a, e.pb AS node_b, e.embeddedness,
               s.n_edges, s.n_bridge_like
        FROM emb e, summary s
        ORDER BY e.embeddedness, e.pa, e.pb
        LIMIT 50
    """,
    phase="P3",
    tags=("graph", "structure"),
)
def graph_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness (common-neighbor count per EDGE) over the
    basket graph, surfacing the 50 least-embedded edges plus the
    bridge-like count (embeddedness 0) — Granovetter's weak-tie
    measure: zero-embeddedness edges are the graph's information
    bridges (and, in a dedup graph, the suspicious links that merge
    otherwise-unrelated clusters — the first edges to re-verify).

    All-integer: the per-edge common-neighbor count is an exact
    wedge-closure count; ranking sorts integers with a pair
    tiebreak.

    Plan: ONE two-sided adjacency join on the shared neighbor
    (the triangle-closure shape, bounded by sum(deg^2) with the
    degree-cap rule) left-counts onto the edge list; the summary is
    a 1-row fold broadcast back; TakeOrdered keeps 50."""
    pairs = copurchase_edges(spark, sf_dir, 20)
    adj = both_ways(pairs)
    x = adj.select(F.col("node").alias("xa"), F.col("nbr").alias("cn"))
    y = adj.select(F.col("node").alias("xb"), F.col("nbr").alias("cn2"))
    wedge = (
        x.join(y, F.col("cn") == F.col("cn2"))
        .groupBy("xa", "xb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    emb = pairs.join(
        wedge,
        (F.col("pa") == F.col("xa")) & (F.col("pb") == F.col("xb")),
        "left",
    ).select(
        "pa",
        "pb",
        F.coalesce(F.col("common"), F.lit(0))
        .cast("bigint")
        .alias("embeddedness"),
    )
    summary = emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.when(F.col("embeddedness") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bridge_like"),
    )
    return (
        emb.crossJoin(F.broadcast(summary))
        .select(
            F.col("pa").alias("node_a"),
            F.col("pb").alias("node_b"),
            "embeddedness",
            "n_edges",
            "n_bridge_like",
        )
        .orderBy("embeddedness", "node_a", "node_b")
        .limit(50)
    )


_RICH_CLUB_KS = (2, 4, 8, 16)


@query(
    "graph_rich_club",
    oracle=f"""
        WITH pairs AS ({_COPURCHASE_EDGES_SQL.format(every=20)}
        ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT pa AS node FROM pairs
                  UNION ALL SELECT pb FROM pairs)
            GROUP BY node
        ),
        edeg AS (
            SELECT da.d AS d_a, db.d AS d_b
            FROM pairs p JOIN deg da ON da.node = p.pa
                         JOIN deg db ON db.node = p.pb
        ),
        wide AS (
            SELECT
                {", ".join(
                    f"CAST(count(*) FILTER (WHERE d_a > {k} AND d_b > {k})"
                    f" AS BIGINT) AS e{k}" for k in _RICH_CLUB_KS)},
                {", ".join(
                    f"(SELECT CAST(count(*) AS BIGINT) FROM deg"
                    f" WHERE d > {k}) AS n{k}" for k in _RICH_CLUB_KS)}
            FROM edeg
        )
        SELECT CAST(k AS BIGINT) AS k, n_rich, e_rich,
               CASE WHEN n_rich >= 2 THEN
                   CAST(floor(2.0 * e_rich / (n_rich * (n_rich - 1))
                        * 1000000.0 + 0.5) AS BIGINT)
               END AS phi_micro
        FROM (
            {" UNION ALL ".join(
                f"SELECT {k} AS k, n{k} AS n_rich, e{k} AS e_rich FROM wide"
                for k in _RICH_CLUB_KS)}
        )
        ORDER BY k
    """,
    phase="P3",
    tags=("graph", "topology"),
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) of the basket graph at degree
    thresholds k ∈ {2,4,8,16}: among nodes of degree > k, the
    fraction of possible edges actually present — rising φ(k) means
    the hubs preferentially interconnect (a hub oligopoly; relevant to
    both merchandising and to whether degree-based skew guards will
    see correlated hot JOINS, not just hot nodes). Companion to
    graph_degree_assortativity's single correlation number.

    Exactness: node and edge counts are exact BIGINTs from one
    degree aggregate; φ = 2E/(N(N−1)) is one spelled division,
    micro-quantized; thresholds where the club has < 2 members yield
    NULL, not 0/0.

    Plan: every-20th-order slice (the link_predict bound), ONE
    degree aggregate, edges join their two endpoint degrees (node-key
    shuffles; at 100 TB the degree relation is node-grain — orders of
    magnitude smaller than edges — and broadcasts), then ONE wide
    conditional-count aggregate answers all four thresholds in a
    single pass over the edge list; the k-sweep is a 4-row stack of
    that 1-row result."""
    pairs = copurchase_edges(spark, sf_dir, 20)
    deg = degrees(pairs)
    da = deg.alias("da")
    db = deg.alias("db")
    edeg = (
        pairs.join(da, F.col("pa") == F.col("da.node"))
        .join(db, F.col("pb") == F.col("db.node"))
        .select(F.col("da.d").alias("d_a"), F.col("db.d").alias("d_b"))
    )
    e_aggs = [
        F.sum(
            ((F.col("d_a") > k) & (F.col("d_b") > k)).cast("int")
        )
        .cast("bigint")
        .alias(f"e{k}")
        for k in _RICH_CLUB_KS
    ]
    n_aggs = [
        F.sum((F.col("d") > k).cast("int")).cast("bigint").alias(f"n{k}")
        for k in _RICH_CLUB_KS
    ]
    wide = edeg.agg(*e_aggs).crossJoin(F.broadcast(deg.agg(*n_aggs)))
    stack_args = []
    for k in _RICH_CLUB_KS:
        stack_args += [
            F.lit(k).cast("bigint"),
            F.col(f"n{k}"),
            F.col(f"e{k}"),
        ]
    stacked = wide.select(
        F.stack(F.lit(len(_RICH_CLUB_KS)), *stack_args).alias(
            "k", "n_rich", "e_rich"
        )
    )
    return stacked.select(
        "k",
        "n_rich",
        "e_rich",
        F.when(
            F.col("n_rich") >= 2,
            micro(
                F.lit(2.0)
                * F.col("e_rich")
                / (F.col("n_rich") * (F.col("n_rich") - 1))
            ),
        ).alias("phi_micro"),
    ).orderBy("k")


_PPR_ITERS = 3
_PPR_DAMPING = 0.85


@query(
    "graph_pagerank_personalized",
    oracle=f"""
        WITH edges AS ({_TRANSITION_EDGES_SQL}
        ),
        wsum AS (
            SELECT src, CAST(sum(w) AS BIGINT) AS tot
            FROM edges GROUP BY src
        ),
        nodes AS (
            SELECT src AS node FROM edges
            UNION
            SELECT dst FROM edges
        ),
        seed AS (SELECT min(node) AS s FROM nodes),
        r0 AS (
            SELECT node,
                   CASE WHEN node = (SELECT s FROM seed)
                        THEN CAST(1000000000 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS r
            FROM nodes
        ),
        {", ".join(
            f'''r{i + 1} AS (
            SELECT nd.node,
                   CAST(CASE WHEN nd.node = (SELECT s FROM seed)
                        THEN 150000000 ELSE 0 END
                   + CAST(floor({_PPR_DAMPING} * coalesce(sum(
                         CAST(floor(CAST(r{i}.r AS DOUBLE) * e.w / ws.tot
                              + 0.5) AS BIGINT)), 0) + 0.5) AS BIGINT)
                     AS BIGINT) AS r
            FROM nodes nd
            LEFT JOIN edges e ON e.dst = nd.node
            LEFT JOIN wsum ws ON ws.src = e.src
            LEFT JOIN r{i} ON r{i}.node = e.src
            GROUP BY nd.node
        )''' for i in range(_PPR_ITERS))}
        SELECT node, r AS ppr_nano FROM r{_PPR_ITERS} ORDER BY node
    """,
    phase="P3",
    tags=("graph", "iterative"),
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (damping 0.85, 3 fixed iterations) from a
    single seed — the lexicographically first event type — over the
    event-type transition graph: teleport returns to the SEED, not
    uniformly, so scores measure proximity to the seed's behavioral
    neighborhood (the recommender / related-entity primitive, vs
    graph_pagerank's global importance).

    Exactness upgrade over the sibling: ranks travel as NANO BIGINTs
    and every per-edge contribution floor-quantizes at EDGE grain
    (rank·w/out_weight over three exact integers) before the per-node
    integer sum, so the iteration is order-free on both engines — no
    float accumulation anywhere. Teleport adds an integer constant at
    the seed. Mass is conserved to ±1 nano per edge per round
    (documented rounding, identical in both engines).

    Plan: same shape as graph_pagerank — one lead window + edge
    rollup (checkpointed once; |types|² rows), then three unrolled
    contribution-join → groupBy(dst) rounds at edge grain with the
    out-weight relation joined (node-grain, broadcasts at any
    scale)."""
    edges = transition_edges(spark, sf_dir)
    wsum = edges.groupBy("src").agg(
        F.sum("w").cast("bigint").alias("tot")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seed = F.broadcast(nodes.agg(F.min("node").alias("s")))
    ranks = nodes.crossJoin(seed).select(
        "node",
        F.when(F.col("node") == F.col("s"), F.lit(1000000000))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("r"),
    )
    ew = edges.join(F.broadcast(wsum), "src")
    for _ in range(_PPR_ITERS):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                "dst",
                F.floor(
                    F.col("r").cast("double") * F.col("w") / F.col("tot")
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("incoming"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(seed)
            .select(
                "node",
                (
                    F.when(
                        F.col("node") == F.col("s"), F.lit(150000000)
                    ).otherwise(F.lit(0))
                    + F.floor(
                        F.lit(_PPR_DAMPING)
                        * F.coalesce(F.col("incoming"), F.lit(0)).cast(
                            "double"
                        )
                        + F.lit(0.5)
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("ppr_nano")).orderBy("node")


_HITS_ITERS = 3


def _hits_oracle() -> str:
    steps = []
    prev_h = "h0"
    for i in range(_HITS_ITERS):
        steps.append(
            f"""a{i + 1} AS MATERIALIZED (
            SELECT nd.node,
                   CAST(coalesce(sum(CAST(floor(
                       CAST({prev_h}.v AS DOUBLE) * e.w / ws.tot + 0.5)
                       AS BIGINT)), 0) AS BIGINT) AS v
            FROM nodes nd
            LEFT JOIN edges e ON e.dst = nd.node
            LEFT JOIN wsum ws ON ws.src = e.src
            LEFT JOIN {prev_h} ON {prev_h}.node = e.src
            GROUP BY nd.node
        ), h{i + 1} AS MATERIALIZED (
            SELECT nd.node,
                   CAST(coalesce(sum(CAST(floor(
                       CAST(a{i + 1}.v AS DOUBLE) * e.w / ws2.tot2 + 0.5)
                       AS BIGINT)), 0) AS BIGINT) AS v
            FROM nodes nd
            LEFT JOIN edges e ON e.src = nd.node
            LEFT JOIN wsum2 ws2 ON ws2.dst = e.dst
            LEFT JOIN a{i + 1} ON a{i + 1}.node = e.dst
            GROUP BY nd.node
        )"""
        )
        prev_h = f"h{i + 1}"
    last_a = f"a{_HITS_ITERS}"
    last_h = f"h{_HITS_ITERS}"
    return f"""
        WITH edges AS MATERIALIZED ({_TRANSITION_EDGES_SQL}
        ),
        wsum AS MATERIALIZED (
            SELECT src, CAST(sum(w) AS BIGINT) AS tot
            FROM edges GROUP BY src
        ),
        wsum2 AS MATERIALIZED (
            SELECT dst, CAST(sum(w) AS BIGINT) AS tot2
            FROM edges GROUP BY dst
        ),
        nodes AS MATERIALIZED (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        h0 AS MATERIALIZED (
            SELECT node, CAST(1000000000 AS BIGINT) AS v FROM nodes
        ),
        {", ".join(steps)}
        SELECT n.node,
               CAST(floor(CAST({last_a}.v AS DOUBLE) * 1000000000.0
                    / nullif((SELECT max(v) FROM {last_a}), 0) + 0.5)
                    AS BIGINT) AS authority_nano,
               CAST(floor(CAST({last_h}.v AS DOUBLE) * 1000000000.0
                    / nullif((SELECT max(v) FROM {last_h}), 0) + 0.5)
                    AS BIGINT) AS hub_nano
        FROM nodes n
        JOIN {last_a} ON {last_a}.node = n.node
        JOIN {last_h} ON {last_h}.node = n.node
        ORDER BY n.node
    """


@query(
    "graph_hits",
    oracle=_hits_oracle(),
    phase="P3",
    tags=("graph", "iterative"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (3 iterations) over the event-type
    transition graph: an AUTHORITY is a state many strong hubs lead
    INTO (conversion sinks), a HUB is a state that leads into strong
    authorities (router screens) — the directional decomposition
    PageRank's single score conflates, and the classic second opinion
    next to graph_pagerank_personalized.

    Exactness: scores travel as NANO BIGINTs; each per-edge
    contribution floor-quantizes at EDGE grain (score·w/weight-sum
    over exact integers — the personalized-PageRank recipe) before
    the per-node integer sum. Iterations run UN-normalized — per
    half-step growth is bounded by the node count, so the worst case
    through six half-steps stays far inside int64 (|types|⁶·10⁹ <
    2⁶³ for this grain; at larger node counts drop the start mass
    accordingly) — and a single max-rescale per score family at the
    END restores the [0, 1e9] range. Deferring normalization halves the
    job count (no per-step max normalizers).

    Plan: one lead window + edge rollup (checkpointed; |types|² rows),
    six contribution-join → groupBy half-steps, with checkpoints on
    the multiply-referenced relations (edges, nodes, the two
    weight-joined edge relations, and the final authority — the last
    hub half-step and the output join both read it). Checkpoints stay
    EAGER here — measured, not assumed: a lazy flip was A/B'd
    both warm (parity, 2.36 vs 2.25 s) and across six fresh-process
    bench-conf sessions, where eager won consistently (2.91-3.45 vs
    3.47-4.57 s min) — the six-half-step join chain plans broadcast
    joins off the MATERIALIZED checkpoint sizes, which a lazy
    checkpoint can't expose at compile time. (Without ANY checkpoint
    on the final authority the recursion re-executes ~2×, which the
    replaced nested-normalizer form compounded to 2^6: measured 20 s
    vs 2 s.) ONE final job applies both 1-row max normalizers (never
    a driver round-trip).
    Invariant: the single-final-job shape relies on every
    intermediate auth/hub being single-reference, and plan depth grows
    with _HITS_ITERS — keep checkpoints on anything that gains a
    second reference, and re-measure if _HITS_ITERS is raised."""
    edges = transition_edges(spark, sf_dir)
    wsum = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("tot"))
    wsum2 = edges.groupBy("dst").agg(
        F.sum("w").cast("bigint").alias("tot2")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select(
        "node", F.lit(1000000000).cast("bigint").alias("v")
    )
    ew_in = edges.join(F.broadcast(wsum), "src").localCheckpoint(eager=True)
    ew_out = edges.join(F.broadcast(wsum2), "dst").localCheckpoint(eager=True)
    auth = None
    for it in range(_HITS_ITERS):
        auth = (
            nodes.join(
                ew_in.join(
                    hub.withColumnRenamed("node", "hn"),
                    F.col("src") == F.col("hn"),
                )
                .select(
                    "dst",
                    F.floor(
                        F.col("v").cast("double") * F.col("w")
                        / F.col("tot")
                        + F.lit(0.5)
                    )
                    .cast("bigint")
                    .alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").cast("bigint").alias("raw")),
                nodes.node == F.col("dst"),
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("raw"), F.lit(0))
                .cast("bigint")
                .alias("v"),
            )
        )
        if it == _HITS_ITERS - 1:
            # The final auth is the ONLY doubly-referenced score
            # relation (last hub half-step + output join); one eager
            # |types|-row checkpoint here halves the end-to-end work.
            auth = auth.localCheckpoint(eager=True)
        hub = (
            nodes.join(
                ew_out.join(
                    auth.withColumnRenamed("node", "an"),
                    F.col("dst") == F.col("an"),
                )
                .select(
                    "src",
                    F.floor(
                        F.col("v").cast("double") * F.col("w")
                        / F.col("tot2")
                        + F.lit(0.5)
                    )
                    .cast("bigint")
                    .alias("c"),
                )
                .groupBy("src")
                .agg(F.sum("c").cast("bigint").alias("raw")),
                nodes.node == F.col("src"),
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("raw"), F.lit(0))
                .cast("bigint")
                .alias("v"),
            )
        )
    # Each score relation is referenced exactly ONCE below (the max
    # normalizers are window aggregates over the joined result, not
    # separate scalar subqueries): Spark re-executes a DataFrame
    # subtree per REFERENCE within a job, so a second reference to
    # auth/hub here would double the whole six-round recursion — and
    # nested per-step normalizers compounded that to 2^6 (measured
    # 20+ s vs ~2 s for this single-reference form).
    w_all = Window.partitionBy()
    joined = auth.withColumnRenamed("v", "av").join(
        hub.withColumnRenamed("v", "hv"), "node"
    )
    return joined.select(
        "node",
        F.floor(
            F.col("av").cast("double")
            * F.lit(1000000000.0)
            / F.nullif(F.max("av").over(w_all), F.lit(0))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("authority_nano"),
        F.floor(
            F.col("hv").cast("double")
            * F.lit(1000000000.0)
            / F.nullif(F.max("hv").over(w_all), F.lit(0))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("hub_nano"),
    ).orderBy("node")
