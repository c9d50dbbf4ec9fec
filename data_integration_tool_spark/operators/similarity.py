"""Vector similarity search over embeddings (SURVEY.md §2.10).

All vector math is array-expression based (zip_with/aggregate), cast to
double BEFORE arithmetic on BOTH engines so in-order accumulation is
bit-identical with the DuckDB oracle — the top-k boundary then cannot
flip between engines.

Scale design: brute-force cosine is the correctness baseline (scan ×
broadcast query — embarrassingly parallel, no shuffle). The scale path
is LSH bucketing (``sim_ann_lsh``): random-hyperplane sign bits bucket
the vectors, so probes only touch one bucket — candidate set shrinks
~2^n_planes-fold; pytest measures recall vs the exact baseline.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import MICRO_SQL, hash_cutoff, micro, splitmix64
from ..io import load
from ..registry import query


def dot(a, b) -> Column:
    """In-order double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# --- exact top-k by cosine -------------------------------------------------
# Every kNN/IVF builder ranks through these helpers: norms once per row
# (``normed``), a broadcast probe or centroid slice (``probe_side``),
# cosine over the precomputed norms (``cos_nrm``, twin of
# ``_duck_cos_nrm``; ``probe_pairs``), and the house ranking rule
# (``house_rank`` / ``top_k``; ``nearest_centroid`` for IVF lists).
# tests/test_exprs_lockstep.py keeps the rule here.


def normed(df: DataFrame, *cols) -> DataFrame:
    """``cols``, ``embedding`` and its L2 norm ``nrm``, computed once per
    row rather than once per (row × probe) pair."""
    return df.select(*cols, "embedding", l2_norm("embedding").alias("nrm"))


def probe_side(
    ne: DataFrame,
    pred: Column,
    key: str,
    prefix: str,
    *carry: str,
    broadcast: bool = True,
) -> DataFrame:
    """The slice of a ``normed`` frame that the corpus is scored against,
    broadcast unless told otherwise: ``vec_id AS key``, each ``carry``
    column as ``{prefix}{name}``, then ``{prefix}e`` and ``{prefix}nrm``."""
    side = ne.filter(pred).select(
        F.col("vec_id").alias(key),
        *[F.col(c).alias(prefix + c) for c in carry],
        F.col("embedding").alias(f"{prefix}e"),
        F.col("nrm").alias(f"{prefix}nrm"),
    )
    return F.broadcast(side) if broadcast else side


def cos_nrm(a, b, na: str, nb: str) -> Column:
    """Cosine of arrays ``a`` and ``b`` over their precomputed norm
    columns: the op order of ``_duck_cos_nrm``, so bit-equal to it."""
    return dot(a, b) / (F.col(na) * F.col(nb))


def probe_pairs(ne: DataFrame, q: DataFrame, *cols) -> DataFrame:
    """Every (probe, other corpus row) pair of ``ne`` × ``q`` (a
    ``probe_side`` keyed ``query_id``, prefix ``q``): ``query_id``,
    ``cols`` and their ``cosine``. A probe never scores itself."""
    cos = cos_nrm("embedding", "qe", "nrm", "qnrm").alias("cosine")
    return (
        ne.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", *cols, cos)
    )


def house_rank(part, score: str, tie: str) -> Column:
    """The house ranking rule: ``row_number`` within ``part`` (a column
    name, a list, or ``[]`` for one global ranking) by ``score`` desc,
    ties to the lower ``tie``. The oracles spell the same ORDER BY, so
    both engines pick the same neighbours on exact cosine ties."""
    w = Window.partitionBy(part).orderBy(F.desc(score), F.asc(tie))
    return F.row_number().over(w)


def top_k(df: DataFrame, part, score: str, tie: str, k: int) -> DataFrame:
    """The ``k`` best rows of ``df`` per ``part`` under ``house_rank``,
    numbered 1..k in column ``rn``.

    Plan, for a corpus crossJoined with a broadcast ``probe_side``:
    ``BroadcastNestedLoopJoin BuildRight`` (the corpus streams, never
    shuffled) → ``WindowGroupLimit … Partial`` (each task keeps k rows
    per partition key) → ``Exchange hashpartitioning(part)`` →
    ``WindowGroupLimit … Final`` → ``Window``. Spark infers the group
    limit from the ``rn`` filter, so the exchange carries at most
    k × keys rows per task, not corpus × probes; tests/test_plans.py
    pins this order for ``sim_knn_batch``."""
    ranked = df.withColumn("rn", house_rank(part, score, tie))
    return ranked.filter(F.col("rn") <= k)


def nearest_centroid(
    ne: DataFrame, cent: DataFrame, score: str, *cols: str
) -> DataFrame:
    """Each row of ``ne`` with its most similar ``cent`` row (a
    ``probe_side`` with prefix ``c``), ties to the lower ``cent_id``:
    ``cols``, ``cent_id`` and the cosine as ``score``."""
    cos = cos_nrm("embedding", "ce", "nrm", "cnrm").alias(score)
    cand = ne.crossJoin(cent).select(*cols, "cent_id", cos)
    return top_k(cand, "vec_id", score, "cent_id", 1)


def pairwise_cosine_exact(A):
    """All-pairs cosine of the rows of A (n×d float64 numpy), with the
    SAME IEEE operation order as ``cosine()`` / the DuckDB oracle's
    left-fold: one fused accumulate per dimension, so
    ``acc = ((0 + a0*b0) + a1*b1) + ...`` element-wise. Results are
    bit-identical to the expression form — verified in the parity
    suite — while running as d vectorized numpy ops instead of
    interpreted per-element lambdas (Spark higher-order functions are
    CodegenFallback: ~5× slower than this on the pair queries).

    np.dot/np.matmul would be faster still but uses blocked/pairwise
    summation — a DIFFERENT fp order that breaks oracle hashing.
    """
    import numpy as np

    n, d = A.shape
    dot_m = np.zeros((n, n))
    nrm_acc = np.zeros(n)
    for i in range(d):
        dot_m += np.multiply.outer(A[:, i], A[:, i])
        nrm_acc += A[:, i] * A[:, i]
    nrm = np.sqrt(nrm_acc)
    return dot_m / np.multiply.outer(nrm, nrm)


# DuckDB twin of cosine(): identical op order (multiply-as-double, left
# fold, sqrt of self-dot), so results are bit-exact across engines.
_DUCK_DOT = (
    "list_sum(list_transform(range(1, 65), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _duck_cosine(a: str, b: str) -> str:
    d_ab = _DUCK_DOT.format(a=a, b=b)
    d_aa = _DUCK_DOT.format(a=a, b=a)
    d_bb = _DUCK_DOT.format(a=b, b=b)
    return f"({d_ab} / (sqrt({d_aa}) * sqrt({d_bb})))"


@query(
    "sim_knn_exact",
    oracle=f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, e.label,
               {_duck_cosine('e.embedding', 'q.qe')} AS cosine
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cosine DESC, e.vec_id
        LIMIT 10
    """,
    phase="P2",
    tags=("similarity", "knn"),
)
def sim_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vector 0 (brute force baseline).

    The 1-row query side is broadcast; the scan side never shuffles —
    TakeOrderedAndProject keeps 10 rows per partition. This shape holds
    at any scale: cost is one pass over the vectors.
    """
    e = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qe")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "sim_pairs_threshold",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
               {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.3
    """,
    phase="P3",
    tags=("similarity", "pairs"),
)
def sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All within-label pairs with cosine ≥ 0.3 (fixture vectors are
    near-orthogonal: within-label max cosine ≈ 0.47).

    The label is the blocking key bounding the pair count (the all-pairs
    version is O(n²) and deliberately not offered); at scale the
    blocking key becomes an LSH bucket (sim_ann_lsh). Each label group
    is computed as Arrow batches through ``pairwise_cosine_exact`` —
    d vectorized numpy passes with oracle-identical fp order, ~5×
    faster than the interpreted higher-order-function pair join. Only
    the (tiny) qualifying pairs cross back from Python.

    Skew safety: blocks are tiled via ``tile_pair_blocks`` so no kernel
    invocation sees more than 2×MAX_PAIR_BLOCK_ROWS rows — a skewed
    label cannot OOM an executor; each pair is owned by exactly one
    tile (``owned_pair_mask``) and per-pair values are tile-independent,
    so the union over tiles is bit-identical to the unchunked kernel
    (pinned by tests/test_algorithms.py).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from .pair_blocks import owned_pair_mask, tile_pair_blocks

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    tiled = tile_pair_blocks(e, ["label"], "vec_id")
    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("label", IntegerType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def pairs_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        ck = pdf["_ck"].to_numpy()
        ca, cb = int(pdf["_ca"].iloc[0]), int(pdf["_cb"].iloc[0])
        A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        cos = pairwise_cosine_exact(A)
        keep = (
            (cos >= 0.3)
            & (ids[:, None] < ids[None, :])
            & owned_pair_mask(ck, ca, cb)
        )
        ia, ib = np.where(keep)
        return pd.DataFrame(
            {
                "vec_a": ids[ia],
                "vec_b": ids[ib],
                "label": pdf["label"].iloc[0],
                "cosine": cos[ia, ib],
            }
        )

    return tiled.groupBy("label", "_ca", "_cb").applyInPandas(pairs_fn, out_schema)


@query(
    "cluster_assign",
    oracle=f"""
        WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce
                      FROM embeddings WHERE vec_id < 10)
        SELECT vec_id, label, cent_id AS nearest_centroid, cosine
        FROM (
            SELECT e.vec_id, e.label, c.cent_id,
                   {_duck_cosine('e.embedding', 'c.ce')} AS cosine,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_duck_cosine('e.embedding', 'c.ce')} DESC, c.cent_id
                   ) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    """,
    phase="P3",
    tags=("similarity", "cluster"),
)
def cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest of 10 fixed centroids
    (vectors 0..9) by cosine — one k-means assignment step.

    Centroids broadcast; the argmax is ``nearest_centroid``'s per-vector
    top-1. The scan side stays partition-parallel at any scale.
    """
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id", "label")
    cent = probe_side(ne, F.col("vec_id") < 10, "cent_id", "c")
    return nearest_centroid(ne, cent, "cosine", "vec_id", "label").select(
        "vec_id", "label", F.col("cent_id").alias("nearest_centroid"), "cosine"
    )


N_TABLES = 8  # OR-ed hash tables (recall lever)
BITS_PER_TABLE = 4  # AND-ed sign bits per table (precision lever)


# ±1 sign hyperplanes (Rademacher projections), 64 dims × 32 (table, bit)
# columns — deterministic from splitmix64, shared VERBATIM between the
# Arrow kernel and the generated DuckDB oracle. Sign planes (not
# Gaussian) because multiplying by ±1.0 is EXACT in IEEE, so the
# projection is a pure ordered sum of (possibly negated) elements — the
# only remaining fp sensitivity is summation ORDER, which the kernel
# pins to the same left-fold as DuckDB's list_sum (np.cumsum, the
# udf_pandas_norm trick). That is what upgrades this from rows-only to
# fully value-oracled: bucket codes, collisions, and cosines all
# hash-match.
_LSH_SIGNS = [
    [
        1.0 if splitmix64((t << 16) | (b << 8) | d) & 1 else -1.0
        for t in range(N_TABLES)
        for b in range(BITS_PER_TABLE)
    ]
    for d in range(64)
]


def _lsh_proj_sql(col: int) -> str:
    """DuckDB twin of projection column ``col``: in-order signed sum."""
    lits = ", ".join(
        ("1.0" if _LSH_SIGNS[d][col] > 0 else "-1.0") for d in range(64)
    )
    return (
        f"list_sum(list_transform(range(1, 65), d -> "
        f"CAST(embedding[d] AS DOUBLE) * ([{lits}])[d]))"
    )


def _lsh_code_sql(t: int) -> str:
    return " + ".join(
        f"(CASE WHEN {_lsh_proj_sql(t * BITS_PER_TABLE + b)} > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(BITS_PER_TABLE)
    )


_LSH_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ), proj AS (
        SELECT vec_id, label, embedding, nrm,
               {", ".join(f"{_lsh_code_sql(t)} AS c{t}" for t in range(N_TABLES))}
        FROM e
    ), q AS (
        SELECT embedding AS qe, nrm AS qnrm,
               {", ".join(f"c{t} AS qc{t}" for t in range(N_TABLES))}
        FROM proj WHERE vec_id = 0
    )
    SELECT p.vec_id, p.label,
           {_DUCK_DOT.format(a='p.embedding', b='q.qe')}
               / (p.nrm * q.qnrm) AS cosine
    FROM proj p CROSS JOIN q
    WHERE p.vec_id <> 0
      AND ({" OR ".join(f"p.c{t} = q.qc{t}" for t in range(N_TABLES))})
    ORDER BY cosine DESC, p.vec_id
    LIMIT 10
"""


def _lsh_hashed(e):
    """vec_id/label/embedding + 8-slot LSH bucket-code array — the
    shared hashing stage of sim_ann_lsh and sim_ann_lsh_multiprobe.
    Vectorized numpy per Arrow batch; the 64-dim reduction is an
    in-order left fold (per-dim accumulate, NOT matmul) so every sign
    bit matches the oracle's list_sum sequential accumulation."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    planes = np.array(_LSH_SIGNS)
    bit_weights = np.tile(1 << np.arange(BITS_PER_TABLE), N_TABLES)
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("label", IntegerType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("buckets", ArrayType(LongType())),
        ]
    )

    def bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # one n×32 buffer instead of an n×64×32 cumsum temporary
            proj = np.zeros((len(pdf), planes.shape[1]))
            for d in range(planes.shape[0]):
                proj += A[:, d, None] * planes[d][None, :]
            bits = proj > 0  # n x (tables*bits)
            codes = (bits * bit_weights).reshape(
                len(pdf), N_TABLES, BITS_PER_TABLE
            ).sum(axis=2)
            pdf = pdf[["vec_id", "label", "embedding"]].copy()
            pdf["buckets"] = list(codes)
            yield pdf

    return e.select("vec_id", "label", "embedding").mapInPandas(
        bucketize, out_schema
    )


@query(
    "sim_ann_lsh",
    oracle=_LSH_ORACLE,
    phase="P4",
    tags=("similarity", "ann", "lsh"),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors of vector 0 via multi-table
    random-hyperplane LSH.

    8 tables x 4 sign bits: a vector collides with the query if it
    matches ALL 4 bits in ANY table (AND within a table for precision,
    OR across tables for recall -- the standard hyperplane-LSH layout).
    Hyperplanes are deterministic ±1 sign (Rademacher) projections from
    splitmix64 -- no RNG state, reproducible on any cluster, and
    exactly replicable in DuckDB SQL, which makes this query a FULL
    value oracle rather than rows-only.

    The 32 plane projections per vector are vectorized numpy per Arrow
    batch (``mapInPandas``): as expression trees they were 32
    interpreted higher-order-function folds per row (~3 s at sf0.1 for
    2 000 vectors; CodegenFallback). The reduction over the 64 dims is
    np.cumsum -- the same left-to-right fold as DuckDB's list_sum and
    Spark's F.aggregate -- so every sign bit, bucket code, and collision
    decision is bit-identical across engines (a BLAS matmul's pairwise
    summation could flip a bit exactly at a zero crossing).

    Scale shape: vectors carry an 8-slot bucket array; the probe is a
    broadcast of the 1-row query side, and candidates shrink to roughly
    n_tables/2^bits of the corpus. For batch probes at scale, explode
    to (table, bucket) keys and equi-join instead of the broadcast.
    pytest still measures recall vs sim_knn_exact.
    """
    e = load(spark, sf_dir, "embeddings")
    # hashing factored into _lsh_hashed (shared with
    # sim_ann_lsh_multiprobe); the (64 x 32) ±1 sign-plane matrix is
    # module-level _LSH_SIGNS, the same values the generated DuckDB
    # oracle embeds as literals
    hashed = _lsh_hashed(e)
    q = F.broadcast(
        hashed.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qe"), F.col("buckets").alias("qbuckets")
        )
    )
    collide = F.exists(
        F.zip_with("buckets", "qbuckets", lambda x, y: x == y), lambda v: v
    )
    return (
        hashed.crossJoin(q)
        .filter((F.col("vec_id") != 0) & collide)
        .select(
            "vec_id", "label", cosine(F.col("embedding"), F.col("qe")).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# --- IVF approximate nearest neighbor ------------------------------------

IVF_NLIST = 10  # coarse centroids (vectors 0..9, as in cluster_assign)
IVF_NPROBE = 2  # inverted lists scanned per probe

# cosine twin over precomputed norm columns — keeps the DuckDB oracle's
# op order identical to the Spark side (dot as double left-fold, norms
# via sqrt of self-dot computed once per row)
_DUCK_COS_NRM = "({dot} / ({na} * {nb}))"


def _duck_cos_nrm(a: str, b: str, na: str, nb: str) -> str:
    return _DUCK_COS_NRM.format(dot=_DUCK_DOT.format(a=a, b=b), na=na, nb=nb)


_IVF_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cent_id, embedding AS ce, nrm AS cnrm
        FROM e WHERE vec_id < {IVF_NLIST}
    ),
    assigned AS (
        SELECT vec_id, label, embedding, nrm, cent_id FROM (
            SELECT e.vec_id, e.label, e.embedding, e.nrm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_duck_cos_nrm('e.embedding', 'c.ce', 'e.nrm', 'c.cnrm')} DESC,
                                c.cent_id
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    q AS (SELECT embedding AS qe, nrm AS qnrm FROM e WHERE vec_id = 0),
    probes AS (
        SELECT cent_id FROM (
            SELECT c.cent_id,
                   row_number() OVER (
                       ORDER BY {_duck_cos_nrm('c.ce', 'q.qe', 'c.cnrm', 'q.qnrm')} DESC,
                                c.cent_id
                   ) AS rn
            FROM cent c CROSS JOIN q
        ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT a.vec_id, a.label,
           {_duck_cos_nrm('a.embedding', 'q.qe', 'a.nrm', 'q.qnrm')} AS cosine
    FROM assigned a JOIN probes p ON a.cent_id = p.cent_id CROSS JOIN q
    WHERE a.vec_id <> 0
    ORDER BY cosine DESC, a.vec_id
    LIMIT 10
"""


@query(
    "sim_ann_ivf",
    oracle=_IVF_ORACLE,
    phase="P4",
    tags=("similarity", "ann", "ivf"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors of vector 0 via IVF (inverted file):
    assign every vector to its nearest of 10 coarse centroids, probe
    only the query's 2 nearest inverted lists, exact-rescore candidates.

    This is the classic IVF-Flat layout re-expressed relationally:
    the "inverted lists" are just a cent_id column (at scale: the
    partitioning/bucketing key of the vector table, so a probe prunes
    ~nprobe/nlist of the data via partition pruning instead of a scan).
    Everything is deterministic — centroid assignment and probe
    selection use row_number with explicit tiebreakers — so unlike
    hash-seeded LSH this ANN variant gets a full value-hash oracle.
    Recall vs sim_knn_exact is additionally pinned in pytest.
    """
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id", "label")
    cent = probe_side(ne, F.col("vec_id") < IVF_NLIST, "cent_id", "c")
    assigned = nearest_centroid(
        ne, cent, "cos_c", "vec_id", "label", "embedding", "nrm"
    ).select("vec_id", "label", "embedding", "nrm", "cent_id")
    q = probe_side(ne, F.col("vec_id") == 0, "query_id", "q")
    cos_q = cos_nrm("ce", "qe", "cnrm", "qnrm").alias("cos_q")
    probes = F.broadcast(
        top_k(
            cent.crossJoin(q).select("cent_id", cos_q),
            [], "cos_q", "cent_id", IVF_NPROBE,
        ).select("cent_id")
    )
    rescore = cos_nrm("embedding", "qe", "nrm", "qnrm").alias("cosine")
    return (
        assigned.join(probes, "cent_id")
        .crossJoin(q)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", rescore)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


_KNN_BATCH_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm
          FROM e WHERE vec_id < 20)
    SELECT query_id, vec_id, cosine FROM (
        SELECT q.query_id, e.vec_id,
               {_duck_cos_nrm('e.embedding', 'q.qe', 'e.nrm', 'q.qnrm')} AS cosine,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe', 'e.nrm', 'q.qnrm')} DESC,
                            e.vec_id
               ) AS rn
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ) WHERE rn <= 3
"""


@query(
    "sim_knn_batch",
    oracle=_KNN_BATCH_ORACLE,
    phase="P3",
    tags=("similarity", "knn", "batch"),
)
def sim_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 neighbors for EACH of 20 query vectors — the batch
    probe shape of a real retrieval workload. The query side broadcasts
    (probe batches are small by construction); the corpus side streams
    once through the cross product, and the per-query window ranks
    only corpus × batch rows. At 100 TB: corpus stays partitioned, the
    probe batch replicates, and the top-k per query reduces before the
    final exchange.

    Plan: the ``top_k`` plan, with ``query_id`` as the partition key."""
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id")
    q = probe_side(ne, F.col("vec_id") < 20, "query_id", "q")
    top = top_k(probe_pairs(ne, q, "vec_id"), "query_id", "cosine", "vec_id", 3)
    return top.select("query_id", "vec_id", "cosine")


_IVF_BATCH_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cent_id, embedding AS ce, nrm AS cnrm
        FROM e WHERE vec_id < {IVF_NLIST}
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm
          FROM e WHERE vec_id < 20),
    assigned AS (
        SELECT vec_id, label, embedding, nrm, cent_id FROM (
            SELECT e.vec_id, e.label, e.embedding, e.nrm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_duck_cos_nrm('e.embedding', 'c.ce', 'e.nrm', 'c.cnrm')} DESC,
                                c.cent_id
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cent_id FROM (
            SELECT q.query_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cos_nrm('c.ce', 'q.qe', 'c.cnrm', 'q.qnrm')} DESC,
                                c.cent_id
                   ) AS rn
            FROM cent c CROSS JOIN q
        ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT query_id, vec_id, cosine FROM (
        SELECT p.query_id, a.vec_id,
               {_duck_cos_nrm('a.embedding', 'q.qe', 'a.nrm', 'q.qnrm')} AS cosine,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_duck_cos_nrm('a.embedding', 'q.qe', 'a.nrm', 'q.qnrm')} DESC,
                            a.vec_id
               ) AS rn
        FROM assigned a
        JOIN probes p ON a.cent_id = p.cent_id
        JOIN q ON q.query_id = p.query_id
        WHERE a.vec_id <> p.query_id
    ) WHERE rn <= 3
"""


@query(
    "sim_ann_ivf_batch",
    oracle=_IVF_BATCH_ORACLE,
    phase="P4",
    tags=("similarity", "ann", "ivf", "batch"),
)
def sim_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF retrieval — top-3 approximate neighbors for EACH of 20
    queries, each probing only its own 2 nearest inverted lists. THE
    RAG serving shape at scale: with cent_id as the vector table's
    partition key, the probes⋈assigned equi-join becomes partition
    pruning (each query batch touches nprobe/nlist of the data), the
    probe table is batch-sized and broadcast, and rescoring is exact
    cosine over the pruned candidates only. Fully deterministic
    (row_number tiebreakers everywhere) → full value-hash oracle, like
    the single-probe sim_ann_ivf."""
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id")
    cent = probe_side(ne, F.col("vec_id") < IVF_NLIST, "cent_id", "c")
    assigned = nearest_centroid(ne, cent, "cos_c", "vec_id", "embedding", "nrm").select(
        "vec_id", "embedding", "nrm", "cent_id"
    )
    # not broadcast: it meets only the centroids, the build side there
    q = probe_side(ne, F.col("vec_id") < 20, "query_id", "q", broadcast=False)
    cos_q = cos_nrm("ce", "qe", "cnrm", "qnrm").alias("cos_q")
    probes = F.broadcast(
        top_k(
            cent.join(q).select("query_id", "cent_id", "qe", "qnrm", cos_q),
            "query_id", "cos_q", "cent_id", IVF_NPROBE,
        ).select("query_id", "cent_id", "qe", "qnrm")
    )
    rescore = cos_nrm("embedding", "qe", "nrm", "qnrm").alias("cosine")
    cand = (
        assigned.join(probes, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", rescore)
    )
    top = top_k(cand, "query_id", "cosine", "vec_id", 3)
    return top.select("query_id", "vec_id", "cosine")


@query(
    "emb_centroids",
    oracle="""
        SELECT label, dim_pos, avg(v) AS centroid
        FROM (
            SELECT label,
                   unnest(embedding) AS v,
                   unnest(list_transform(embedding, (x, i) -> i - 1))
                       AS dim_pos
            FROM embeddings
        )
        GROUP BY label, dim_pos
        ORDER BY label, dim_pos
    """,
    phase="P3",
    tags=("similarity", "embeddings"),
)
def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the class-centroid build step of
    IVF/clustering pipelines), emitted LONG-form as (label, dim_pos,
    centroid) so every cell is a scalar the driver can hash, floats
    compared with tolerance. posexplode fans each vector into 64
    (pos, value) rows; the (label, pos) groupBy is map-side combinable
    so the shuffle carries one partial per (label, dim) per task — at
    100 TB that is labels x dims x tasks rows, independent of corpus
    size. The wide-form alternative (collect into an array column)
    is deliberately avoided: array cells break exact-hash compares."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim_pos", "v"))
        .groupBy("label", F.col("dim_pos").cast("bigint").alias("dim_pos"))
        .agg(F.avg("v").alias("centroid"))
        .orderBy("label", "dim_pos")
    )


MMR_LAMBDA = 0.7
MMR_TOPN = 10  # candidate pool per query
MMR_K = 3  # re-ranked picks per query


# MMR oracle: the greedy K=3 selection UNROLLS into 3 chained CTEs (one
# per pick) — each step's penalty references only the previous picks, so
# fixed K needs no recursion. Score arithmetic mirrors the kernel
# bit-for-bit: CAST(... AS DOUBLE) constants force the same binary
# 1-λ subtraction Python performs (1 - 0.7 ≠ decimal 0.3 at the last
# ULP), and all cosines come from the shared in-order fold.
_MMR_LAM = "CAST(0.7 AS DOUBLE)"
_MMR_1ML = f"(CAST(1 AS DOUBLE) - {_MMR_LAM})"


def _mmr_score(pen: str) -> str:
    return f"{_MMR_LAM} * c.cosine - {_MMR_1ML} * {pen}"


_MMR_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm
          FROM e WHERE vec_id < 20),
    cand AS (
        SELECT query_id, vec_id, embedding, nrm, cosine FROM (
            SELECT q.query_id, e.vec_id, e.embedding, e.nrm,
                   {_duck_cos_nrm('e.embedding', 'q.qe', 'e.nrm', 'q.qnrm')}
                       AS cosine,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe', 'e.nrm', 'q.qnrm')} DESC,
                                e.vec_id
                   ) AS rn
            FROM e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ) WHERE rn <= {MMR_TOPN}
    ),
    sims AS (
        SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               {_duck_cos_nrm('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}
                   AS s
        FROM cand a JOIN cand b ON a.query_id = b.query_id
    ),
    p1 AS (
        SELECT query_id, vec_id, score FROM (
            SELECT c.query_id, c.vec_id,
                   {_mmr_score("CAST(0 AS DOUBLE)")} AS score,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY {_mmr_score("CAST(0 AS DOUBLE)")} DESC,
                                c.vec_id) AS rn
            FROM cand c
        ) WHERE rn = 1
    ),
    p2 AS (
        SELECT query_id, vec_id, score FROM (
            SELECT c.query_id, c.vec_id,
                   {_mmr_score("s1.s")} AS score,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY {_mmr_score("s1.s")} DESC, c.vec_id) AS rn
            FROM cand c
            JOIN p1 ON p1.query_id = c.query_id AND c.vec_id <> p1.vec_id
            JOIN sims s1 ON s1.query_id = c.query_id
                        AND s1.va = c.vec_id AND s1.vb = p1.vec_id
        ) WHERE rn = 1
    ),
    p3 AS (
        SELECT query_id, vec_id, score FROM (
            SELECT c.query_id, c.vec_id,
                   {_mmr_score("greatest(s1.s, s2.s)")} AS score,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY {_mmr_score("greatest(s1.s, s2.s)")} DESC,
                                c.vec_id) AS rn
            FROM cand c
            JOIN p1 ON p1.query_id = c.query_id AND c.vec_id <> p1.vec_id
            JOIN p2 ON p2.query_id = c.query_id AND c.vec_id <> p2.vec_id
            JOIN sims s1 ON s1.query_id = c.query_id
                        AND s1.va = c.vec_id AND s1.vb = p1.vec_id
            JOIN sims s2 ON s2.query_id = c.query_id
                        AND s2.va = c.vec_id AND s2.vb = p2.vec_id
        ) WHERE rn = 1
    )
    SELECT query_id, vec_id, CAST(1 AS INTEGER) AS mmr_rank,
           score AS mmr_score FROM p1
    UNION ALL
    SELECT query_id, vec_id, CAST(2 AS INTEGER), score FROM p2
    UNION ALL
    SELECT query_id, vec_id, CAST(3 AS INTEGER), score FROM p3
"""


@query(
    "sim_mmr_rerank",
    oracle=_MMR_ORACLE,
    phase="P4",
    tags=("similarity", "mmr", "rerank"),
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking — the retrieval-server
    diversification step: for each of 20 probe queries, take the
    top-10 cosine candidates, then greedily pick 3 maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-picked.

    Stage 1 is the sim_knn_batch shape (broadcast probes, one corpus
    pass, per-query window top-N) but keeps the candidate embeddings.
    Stage 2 is applyInPandas per query group — the greedy loop is
    inherently sequential in K, but each group is only MMR_TOPN rows,
    so the Python cost is K*N^2 flops on a 10-vector batch; groups
    process in parallel across executors. Deterministic: numpy
    float64, ties broken by smaller vec_id."""
    import numpy as np
    import pandas as pd

    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id")
    q = probe_side(ne, F.col("vec_id") < 20, "query_id", "q")
    cand = top_k(
        probe_pairs(ne, q, "vec_id", "embedding"),
        "query_id", "cosine", "vec_id", MMR_TOPN,
    ).drop("rn")

    out_schema = (
        "query_id bigint, vec_id bigint, mmr_rank int, mmr_score double"
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        # in-order fold (not BLAS) so candidate-pair cosines are
        # bit-identical to the oracle's list_sum — what makes the
        # unrolled greedy CTE twin hash-match
        sims = pairwise_cosine_exact(vecs)
        n = len(pdf)
        picked: list[int] = []
        scores: list[float] = []
        for _ in range(min(MMR_K, n)):
            best_i, best_s = -1, -np.inf
            for i in range(n):
                if i in picked:
                    continue
                pen = max((sims[i, j] for j in picked), default=0.0)
                s = MMR_LAMBDA * rel[i] - (1 - MMR_LAMBDA) * pen
                if s > best_s:  # strict: first (lowest vec_id) wins ties
                    best_i, best_s = i, s
            picked.append(best_i)
            scores.append(best_s)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "vec_id": pdf["vec_id"].iloc[np.array(picked)].to_numpy(),
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "mmr_score": np.array(scores, dtype=np.float64),
            }
        )

    return (
        cand.groupBy("query_id")
        .applyInPandas(mmr, schema=out_schema)
        .orderBy("query_id", "mmr_rank")
    )


@query(
    "emb_quantize_int8",
    oracle=f"""
        WITH scaled AS (
            SELECT vec_id,
                   greatest(list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale
            FROM embeddings
        )
        SELECT e.vec_id,
               {MICRO_SQL.format(x="s.scale")} AS scale_micro,
               array_to_string(list_transform(e.embedding,
                   x -> CAST(CAST(floor(CAST(x AS DOUBLE) / s.scale * 127.0
                                        + 0.5) AS BIGINT) AS VARCHAR)
               ), ',') AS codes
        FROM embeddings e JOIN scaled s USING (vec_id)
    """,
    phase="P4",
    tags=("similarity", "embedding", "quantize"),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    standard storage/serving compression for ANN corpora (4× smaller
    than float32, dot products stay SIMD-able): per-vector max-abs
    scale, codes = floor(x/scale*127 + 0.5).

    Map-only — scale and codes are per-row array expressions, no
    shuffle at any corpus size; at 100 TB this runs inside the scan
    stage and writes back columnar. The scale ships as micro-units and
    the codes as a CSV string (harness contract: scalar columns only);
    floor(x+0.5) is the house rounding rule — F.round/duckdb round()
    disagree on half-way ties across engines. greatest(scale, 1e-12)
    guards the all-zero vector (codes 0, not NULL/inf)."""
    e = load(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(as_double, lambda x: F.abs(x))),
        F.lit(1e-12),
    )
    with_scale = e.select("vec_id", "embedding", scale.alias("scale"))
    codes = F.array_join(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") / F.col("scale") * F.lit(127.0) + F.lit(0.5)
            )
            .cast("bigint")
            .cast("string"),
        ),
        ",",
    )
    return with_scale.select(
        "vec_id",
        micro(F.col("scale")).alias("scale_micro"),
        codes.alias("codes"),
    )


def _dim_pairs(k: int) -> list[tuple[int, int]]:
    """Upper-triangle (i, j) dim pairs, 1-based, i <= j."""
    return [(i, j) for i in range(1, k + 1) for j in range(i, k + 1)]


@query(
    "emb_covariance",
    oracle="""
        WITH dims AS (
            SELECT """
    + ",\n                   ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS e{i}" for i in range(1, 9)
    )
    + """
            FROM embeddings
        )
        SELECT i, j, cov_micro FROM (
        """
    + "\n            UNION ALL\n        ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"CAST(floor(covar_pop(e{i}, e{j}) * 1000000.0 + 0.5) AS BIGINT) "
        f"AS cov_micro FROM dims"
        for i in range(1, 9)
        for j in range(i, 9)
    )
    + """
        )
        ORDER BY i, j
    """,
    phase="P4",
    tags=("embedding", "covariance", "stats"),
)
def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the first 8 embedding dimensions (upper
    triangle, long form) — the PCA / whitening precursor: at 100 TB you
    compute exactly this (d² combinable moments in ONE scan), pull the
    tiny d×d matrix to the driver, eigendecompose there, and broadcast
    the rotation back. The operator IS the distributed step of that
    pipeline.

    Plan: dims flatten to plain double columns (getItem on a stable
    array — codegen-friendly flat columns, per SCALE §8 item 2), then
    ONE aggregate computes all 36 covar_pop moments with map-side
    partials — a single exchange of one 36-value row; the long-form
    (i, j, cov) output is a driver-side-literal stack over that row,
    not a second pass. The oracle's UNION ALL of 36 scans is the
    textbook twin (DuckDB dedups the CTE). Covariance sums cross
    engine summation order -> micro-quantized."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        *[
            F.element_at("embedding", i).cast("double").alias(f"e{i}")
            for i in range(1, 9)
        ]
    )
    aggs = [
        micro(F.covar_pop(f"e{i}", f"e{j}")).alias(f"c_{i}_{j}")
        for i, j in _dim_pairs(8)
    ]
    row = dims.agg(*aggs)
    stack_expr = "stack({n}, {args}) AS (i, j, cov_micro)".format(
        n=len(_dim_pairs(8)),
        args=", ".join(
            f"{i}, {j}, c_{i}_{j}" for i, j in _dim_pairs(8)
        ),
    )
    return row.select(F.expr(stack_expr)).orderBy("i", "j")


# emb_pca_project geometry. The whole pipeline is integer-exact so the
# power iteration — which would amplify any float summation-order
# divergence exponentially — replays bit-identically in both engines:
# components kilo-quantize (1e3; micro would overflow BIGINT in the
# n*sum(q*q) moment at fixture scale), the scatter matrix S_ij =
# n*sum(qi*qj) - sum(qi)*sum(qj) is pure BIGINT, rescaled by 2^23 via
# double floor-division (exact: |S| < 2^53 through sf1), and each
# iteration renormalizes to 2^20 fixed-point by the max-abs component
# with the SAME left-associative double expression on both sides.
_PCA_DIMS = 8
_PCA_ITERS = 8
_PCA_MAT_DOWN = 8388608.0  # 2^23: scatter-matrix rescale divisor
_PCA_FIX = 1048576.0  # 2^20: eigenvector fixed-point scale


def _pca_q_sql() -> str:
    cols = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1000.0 + 0.5) "
        f"AS BIGINT) AS q{i}"
        for i in range(_PCA_DIMS)
    )
    return f"SELECT vec_id, label, {cols} FROM embeddings"


def _pca_oracle() -> str:
    d = _PCA_DIMS
    moms = ["count(*) AS n"]
    moms += [f"sum(q{i}) AS s{i}" for i in range(d)]
    moms += [
        f"sum(q{i} * q{j}) AS p{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    ]
    mat = ", ".join(
        f"CAST(floor((n * p{i}_{j} - s{i} * s{j}) / {_PCA_MAT_DOWN}) "
        f"AS BIGINT) AS m{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    )
    ctes = [
        f"q AS ({_pca_q_sql()})",
        f"mom AS (SELECT {', '.join(moms)} FROM q)",
        f"mat AS (SELECT {mat} FROM mom)",
        "it0 AS (SELECT "
        + ", ".join(f"CAST({int(_PCA_FIX)} AS BIGINT) AS v{i}" for i in range(d))
        + ")",
    ]
    prev = "it0"
    for k in range(1, _PCA_ITERS + 1):
        u = ", ".join(
            "("
            + " + ".join(
                f"m{min(i, j)}_{max(i, j)} * v{i}" for i in range(d)
            )
            + f") AS u{j}"
            for j in range(d)
        )
        ctes.append(f"uu{k} AS (SELECT {u} FROM mat, {prev})")
        mx = "greatest(" + ", ".join(f"abs(u{i})" for i in range(d)) + ")"
        v = ", ".join(
            f"CAST(floor(CAST(u{i} AS DOUBLE) * {_PCA_FIX} "
            f"/ CAST(mx AS DOUBLE)) AS BIGINT) AS v{i}"
            for i in range(d)
        )
        ctes.append(
            f"it{k} AS (SELECT {v} FROM "
            f"(SELECT *, {mx} AS mx FROM uu{k}))"
        )
        prev = f"it{k}"
    flip = ", ".join(
        f"CASE WHEN v0 < 0 THEN -v{i} ELSE v{i} END AS w{i}"
        for i in range(d)
    )
    ctes.append(f"ev AS (SELECT {flip} FROM {prev})")
    proj = " + ".join(f"q{i} * w{i}" for i in range(d))
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"\n        SELECT vec_id, label, ({proj}) AS pc1_score"
        + "\n        FROM q, ev"
    )


@query(
    "emb_pca_project",
    oracle=_pca_oracle(),
    phase="P4",
    tags=("embedding", "pca", "projection"),
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, end to end: ONE combinable moment aggregation
    over the corpus (count + d sums + d(d+1)/2 product sums — the only
    data-scale stage), a driver-side power iteration on the resulting
    d x d scatter matrix (45 scalars — the k-means-centroid /
    dedup-components "tiny driver state" pattern, NOT a data collect),
    and a broadcast map-only projection of every embedding onto the
    dominant principal axis. This is exactly how PCA runs at 100 TB:
    the matrix is d^2 no matter the corpus, so only moments shuffle.

    Cross-engine exactness (the hard part — power iteration amplifies
    any divergence): all arithmetic is BIGINT or doubles below 2^53
    with identical expression shape; the oracle unrolls the SAME 8
    iterations as chained CTEs and flips the sign by v[0] the same
    way. The per-vector projection is a pure integer dot product."""
    d = _PCA_DIMS
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        *[
            F.floor(
                F.element_at("embedding", i + 1).cast("double")
                * F.lit(1000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias(f"q{i}")
            for i in range(d)
        ],
    )
    pairs = [(i, j) for i in range(d) for j in range(i, d)]
    mom = q.agg(
        F.count(F.lit(1)).alias("n"),
        # one extra combinable moment so the int64 headroom of the
        # product sums is CHECKED, not assumed (review-flagged: past
        # the bound Spark BIGINT sums wrap silently while DuckDB
        # promotes to HUGEINT — a red hash with no diagnosis)
        F.max(
            F.greatest(*[F.abs(F.col(f"q{i}")) for i in range(d)])
        ).alias("qmax"),
        *[F.sum(f"q{i}").alias(f"s{i}") for i in range(d)],
        *[
            F.sum(F.col(f"q{i}") * F.col(f"q{j}")).alias(f"p{i}_{j}")
            for i, j in pairs
        ],
    ).collect()[0]  # driver-scalar: 45 moment scalars -> d x d eigensolve
    n = mom["n"]
    qmax = mom["qmax"] or 0
    if qmax * qmax * max(n, 1) > 2**62:
        raise ValueError(
            "emb_pca_project: scatter moments exceed int64 headroom "
            f"(n={n}, max|q|={qmax}) — re-scale the quantization grid"
        )
    if not n:
        # Degenerate: empty corpus. The oracle's NULL-propagating CTEs
        # also emit zero rows; mirror that without crashing the
        # iteration on None moments.
        return q.select(
            "vec_id", "label", F.lit(None).cast("bigint").alias("pc1_score")
        ).filter(F.lit(False))
    s = [mom[f"s{i}"] for i in range(d)]
    p = {(i, j): mom[f"p{i}_{j}"] for i, j in pairs}
    # Power iteration in exact Python ints + IEEE doubles — the same
    # ops, in the same shape, as the oracle's unrolled CTEs.
    mat = [
        [
            math.floor(
                (n * p[(min(i, j), max(i, j))] - s[i] * s[j])
                / _PCA_MAT_DOWN
            )
            for j in range(d)
        ]
        for i in range(d)
    ]
    v = [int(_PCA_FIX)] * d
    for _ in range(_PCA_ITERS):
        u = [sum(mat[i][j] * v[i] for i in range(d)) for j in range(d)]
        # `or 1` guards the all-constant corpus (zero scatter matrix →
        # mx = 0); real fixtures never hit it, and the oracle's NULL
        # propagation only diverges on that same degenerate input
        mx = max(abs(x) for x in u) or 1
        v = [
            math.floor(float(x) * _PCA_FIX / float(mx)) for x in u
        ]
    if v[0] < 0:
        v = [-x for x in v]
    proj = None
    for i in range(d):
        term = F.col(f"q{i}") * F.lit(v[i])
        proj = term if proj is None else proj + term
    return q.select("vec_id", "label", proj.alias("pc1_score"))


# RRF fusion constant (Cormack et al.'s k=60) and the fixed lexical
# query — three corpus-vocabulary terms, shared verbatim with the
# oracle.
_RRF_K = 60
_RRF_TERMS = ("vector", "join", "hash")


@query(
    "sim_rerank_rrf",
    oracle=f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        cand AS (
            SELECT d.doc_id,
                   len(list_intersect(
                       list_distinct(string_split(lower(d.text), ' ')),
                       {list(_RRF_TERMS)})) AS lex_score,
                   {_duck_cosine('e.embedding', 'q.qe')} AS cos_score
            FROM documents d
            JOIN embeddings e ON d.doc_id = e.vec_id
            CROSS JOIN q
            WHERE e.vec_id <> 0
        ),
        ranked AS (
            SELECT doc_id, lex_score,
                   row_number() OVER (ORDER BY lex_score DESC, doc_id)
                     AS lex_rank,
                   row_number() OVER (ORDER BY cos_score DESC, doc_id)
                     AS vec_rank
            FROM cand
        )
        SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank,
               {MICRO_SQL.format(
                   x=f"(1.0 / ({_RRF_K} + lex_rank)"
                     f" + 1.0 / ({_RRF_K} + vec_rank))")} AS rrf_micro
        FROM ranked
        ORDER BY rrf_micro DESC, doc_id
        LIMIT 20
    """,
    phase="P4",
    tags=("similarity", "retrieval", "fusion"),
)
def sim_rerank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers — the standard hybrid
    RAG ranking (Cormack's RRF, k=60): a lexical ranking (count of
    fixed query terms in the doc's token set) and a vector ranking
    (cosine to the query embedding) fuse as Σ 1/(k + rank), which
    needs NO score normalization across heterogeneous retrievers.

    Determinism: both rankings are row_number with doc_id tiebreaks
    (rank ties on equal scores resolve identically in both engines);
    the fused score quantizes to micro ints from small-integer
    reciprocals (identical IEEE ops). Scale shape: the candidate set
    of a fusion step is the UNION OF TOP-Ks from upstream retrievers
    (inherently bounded — here stood in by the docs-with-embeddings
    join), so the two global rank windows run at candidate grain, not
    corpus grain; the cosine pass is the same broadcast-probe scan as
    sim_knn_exact."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    cand = (
        d.join(e, d.doc_id == e.vec_id)
        .filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.array_distinct(F.split(F.lower("text"), " ")),
                    F.array(*[F.lit(t) for t in _RRF_TERMS]),
                )
            ).alias("lex_score"),
            cosine(F.col("embedding"), F.col("qe")).alias("cos_score"),
        )
    )
    w_lex = Window.orderBy(F.desc("lex_score"), F.asc("doc_id"))
    w_vec = Window.orderBy(F.desc("cos_score"), F.asc("doc_id"))
    ranked = cand.select(
        "doc_id",
        F.row_number().over(w_lex).cast("bigint").alias("lex_rank"),
        F.row_number().over(w_vec).cast("bigint").alias("vec_rank"),
    )
    rrf = (
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank"))
        + F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank"))
    )
    return (
        ranked.select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            micro(rrf).alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
        .limit(20)
    )


# --- product quantization ANN --------------------------------------------

PQ_M = 4  # subspaces (64 dims → 4 × 16)
PQ_SUBDIM = 16
PQ_K = 8  # codewords per subspace (vectors 0..7 — the IVF house pattern)
PQ_TOPK = 10


def _sub_l2sq_sql(a: str, b: str, m: int) -> str:
    """In-order double L2² of subspace m (1-based slice) of two arrays —
    Spark SQL string, parsed once (the Column/lambda form costs ~25
    py4j round trips per call × 8 calls per emb_ann_pq build); same
    fold order as the Column form, so the ranking boundary matches
    the oracle's."""
    lo = m * PQ_SUBDIM + 1
    return (
        f"aggregate(zip_with(slice({a}, {lo}, {PQ_SUBDIM}), "
        f"slice({b}, {lo}, {PQ_SUBDIM}), "
        "(x, y) -> (cast(x AS double) - cast(y AS double)) "
        "* (cast(x AS double) - cast(y AS double))), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _duck_sub_l2sq(a: str, b: str, m: int) -> str:
    lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM + 1
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return f"list_sum(list_transform(range({lo}, {hi}), i -> {diff} * {diff}))"


_PQ_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
    cb AS (
        SELECT vec_id AS cent_id, embedding AS ce FROM e
        WHERE vec_id < {PQ_K}
    ),
    dists AS (
        SELECT e.vec_id, e.label, c.cent_id,
               {", ".join(
                   f"{_duck_sub_l2sq('e.embedding', 'c.ce', m)} AS d{m}"
                   for m in range(PQ_M)
               )}
        FROM e CROSS JOIN cb c
    ),
    assigned AS (
        SELECT vec_id, label,
               {", ".join(
                   f"min(struct_pack(d := d{m}, c := cent_id)).c AS c{m}"
                   for m in range(PQ_M)
               )}
        FROM dists GROUP BY vec_id, label
    ),
    q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0),
    qd AS (
        SELECT c.cent_id,
               {", ".join(
                   f"{_duck_sub_l2sq('q.qe', 'c.ce', m)} AS d{m}"
                   for m in range(PQ_M)
               )}
        FROM cb c CROSS JOIN q
    )
    SELECT a.vec_id, a.label,
           CAST(floor((q0.d0 + q1.d1 + q2.d2 + q3.d3) * 1000000.0 + 0.5)
                AS BIGINT) AS adc_micro
    FROM assigned a
    {" ".join(
        f"JOIN qd q{m} ON a.c{m} = q{m}.cent_id" for m in range(PQ_M)
    )}
    WHERE a.vec_id <> 0
    ORDER BY (q0.d0 + q1.d1 + q2.d2 + q3.d3) ASC, a.vec_id
    LIMIT {PQ_TOPK}
"""


@query(
    "emb_ann_pq",
    oracle=_PQ_ORACLE,
    phase="P4",
    tags=("similarity", "ann", "product-quantization"),
)
def emb_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each 64-dim vector is compressed to
    {PQ_M} one-byte codes (nearest of {PQ_K} codewords per 16-dim
    subspace; codewords are vectors 0..{PQ_K - 1} — the deterministic
    "trained" stand-in, as in sim_ann_ivf), and the query's top-10 is
    ranked by ADC (asymmetric distance): the exact query-to-codeword
    distance table is built once, then every corpus vector's
    approximate distance is 4 table lookups + 3 adds — no
    full-precision vector math on the scan side.

    This is the memory-bound ANN layout: at 100 TB the corpus stores
    only (vec_id, c0..c3) — a 4-byte code per vector vs 256 bytes of
    floats, a 64× scan-volume cut — and the ADC table (M×K doubles) is
    a broadcast. Here codes are built in-plan (one broadcast-codebook
    cross join, {PQ_K} rows per vector, argmin via lexicographic
    struct-min with cent_id tiebreak); a production pipeline would
    persist them once and amortize. All subspace distances are
    in-order double folds (zip_with/aggregate ≡ list_sum left fold),
    so the ranking boundary cannot flip between engines; recall vs
    sim_knn_exact is pinned in pytest.
    """
    e = load(spark, sf_dir, "embeddings")
    cb = F.broadcast(
        e.filter(F.col("vec_id") < PQ_K).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
        )
    )
    dists = e.crossJoin(cb).selectExpr(
        "vec_id",
        "label",
        "cent_id",
        *[
            f"{_sub_l2sq_sql('embedding', 'ce', m)} AS d{m}"
            for m in range(PQ_M)
        ],
    )
    assigned = dists.groupBy("vec_id", "label").agg(
        *[
            F.expr(f"min(struct(d{m} AS d, cent_id AS c)).c").alias(f"c{m}")
            for m in range(PQ_M)
        ]
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    qd = F.broadcast(
        cb.crossJoin(q).selectExpr(
            "cent_id",
            *[
                f"{_sub_l2sq_sql('qe', 'ce', m)} AS d{m}"
                for m in range(PQ_M)
            ],
        )
    )
    out = assigned
    for m in range(PQ_M):
        qdm = qd.select(
            F.col("cent_id").alias(f"qc{m}"), F.col(f"d{m}").alias(f"qd{m}")
        )
        out = out.join(F.broadcast(qdm), F.col(f"c{m}") == F.col(f"qc{m}"))
    adc = F.col("qd0") + F.col("qd1") + F.col("qd2") + F.col("qd3")
    return (
        out.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            micro(adc).alias("adc_micro"),
        )
        .orderBy(adc.asc(), F.col("vec_id").asc())
        .limit(PQ_TOPK)
    )


@query(
    "emb_dim_stats",
    oracle="""
        WITH cells AS (
            SELECT u.i AS dim_pos, CAST(embedding[u.i] AS DOUBLE) AS v
            FROM embeddings, unnest(range(1, 65)) AS u(i)
        )
        SELECT CAST(dim_pos AS BIGINT) AS dim_pos,
               CAST(count(*) AS BIGINT) AS n,
               CAST(floor(min(v) * 1000000.0 + 0.5) AS BIGINT) AS min_micro,
               CAST(floor(max(v) * 1000000.0 + 0.5) AS BIGINT) AS max_micro,
               CAST(sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_micro,
               CAST(count(CASE WHEN v = 0.0 THEN 1 END) AS BIGINT)
                   AS n_zero
        FROM cells
        GROUP BY dim_pos
        ORDER BY dim_pos
    """,
    phase="P4",
    tags=("similarity", "embedding", "profile"),
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: min / max / sum / zero count
    for each of the 64 positions — the embedding health check run
    before training or index build (a dead dimension shows as
    n_zero = n or min = max; a broken normalization shows in the
    extremes). Long-form (dim_pos grain) so every cell is a scalar.

    Scale shape: posexplode multiplies rows by the dimensionality, but
    the (dim_pos) groupBy is map-side combinable into AT MOST 64
    partial rows per task — the exchange carries executors × 64 tiny
    rows no matter the corpus size. min/max are raw stored floats
    (bitwise stable); the sum is quantize-THEN-sum (each cell floors
    to a micro BIGINT before aggregation), which is exact under any
    partial-aggregation order — sum-then-quantize would depend on the
    engines' accumulation order across partitions.
    """
    e = load(spark, sf_dir, "embeddings")
    cells = e.select(
        F.posexplode("embedding").alias("pos0", "v")
    ).select((F.col("pos0") + 1).cast("bigint").alias("dim_pos"), F.col("v").cast("double").alias("v"))
    return (
        cells.groupBy("dim_pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            micro(F.min("v")).alias("min_micro"),
            micro(F.max("v")).alias("max_micro"),
            F.sum(micro(F.col("v"))).cast("bigint").alias("sum_micro"),
            F.sum((F.col("v") == 0.0).cast("bigint")).alias("n_zero"),
        )
        .orderBy("dim_pos")
    )


_KM_K = 4  # clusters
_KM_ITERS = 3  # fixed Lloyd update rounds (then one final assignment)


def _kmeans_ctes() -> str:
    """The unrolled Lloyd CTE chain 'q, c0, a1, c1, …, final' (no WITH
    prefix) — shared by emb_kmeans_lloyd's oracle and
    dedup_semantic_clusters', which composes components on top of the
    IDENTICAL final assignment. Assignment ties encode as dist*K + cid
    so argmin-with-smallest-cid is ONE exact-integer min(); centroid
    updates floor-divide exact BIGINT sums (double division is exact
    here: |sum| < 2^53)."""
    k = _KM_K
    ctes = [
        f"""q AS (
            SELECT vec_id,
                   unnest(list_transform(embedding, (x, i) -> i - 1))
                       AS dim_pos,
                   unnest(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0
                                       + 0.5) AS BIGINT))) AS v
            FROM embeddings
        )""",
        f"""c0 AS (
            SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                       AS cid,
                   dim_pos, v AS c
            FROM q
            WHERE vec_id IN (SELECT vec_id FROM embeddings
                             ORDER BY vec_id LIMIT {k})
        )""",
    ]
    prev = "c0"
    for t in range(1, _KM_ITERS + 1):
        ctes.append(f"""a{t} AS (
            SELECT q.vec_id,
                   CAST(min(s.enc) % {k} AS BIGINT) AS cid
            FROM q
            JOIN (
                SELECT q.vec_id, {prev}.cid,
                       sum((q.v - {prev}.c) * (q.v - {prev}.c)) * {k}
                           + {prev}.cid AS enc
                FROM q JOIN {prev} ON q.dim_pos = {prev}.dim_pos
                GROUP BY q.vec_id, {prev}.cid
            ) s ON s.vec_id = q.vec_id
            GROUP BY q.vec_id
        )""")
        ctes.append(f"""c{t} AS (
            SELECT a{t}.cid, q.dim_pos,
                   CAST(floor(CAST(sum(q.v) AS DOUBLE)
                              / count(DISTINCT q.vec_id)) AS BIGINT) AS c
            FROM q JOIN a{t} ON q.vec_id = a{t}.vec_id
            GROUP BY a{t}.cid, q.dim_pos
        )""")
        prev = f"c{t}"
    ctes.append(f"""final AS (
            SELECT vec_id,
                   CAST(min(enc) % {k} AS BIGINT) AS cid,
                   CAST((min(enc) - min(enc) % {k}) / {k} AS BIGINT)
                       AS dist
            FROM (
                SELECT q.vec_id,
                       sum((q.v - {prev}.c) * (q.v - {prev}.c)) * {k}
                           + {prev}.cid AS enc
                FROM q JOIN {prev} ON q.dim_pos = {prev}.dim_pos
                GROUP BY q.vec_id, {prev}.cid
            )
            GROUP BY vec_id
        )""")
    return ",\n".join(ctes)


def _kmeans_oracle() -> str:
    return (
        "WITH "
        + _kmeans_ctes()
        + """
        SELECT cid,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(dist) AS BIGINT) AS inertia
        FROM final
        GROUP BY cid
        ORDER BY cid
    """
    )


@query(
    "emb_kmeans_lloyd",
    oracle=_kmeans_oracle(),
    phase="P4",
    tags=("similarity", "embeddings", "iterative", "kmeans"),
)
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means, VALUE-EXACT end to end — the
    iterative-algorithm flagship next to dedup_components' label
    propagation: K=4 centroids seeded from the K smallest vec_ids,
    three full assign→update rounds, then a final assignment with
    per-cluster sizes and total inertia. Everything is exact integer
    arithmetic: embeddings quantize to micro-unit BIGINTs, squared L2
    distances are BIGINT sums, argmin-with-tie-break encodes as ONE
    min over dist·K+cid, and centroid updates floor-divide exact
    sums — so the full 3-round trajectory is hash-identical to the
    unrolled recursive oracle (no float drift can flip an assignment).

    Scale shape (the sanctioned k-means pattern):
    per round, centroids collect to the driver as K·64 scalars
    (# driver-scalar) and re-enter as BROADCAST literals — the data-
    sized work is one scan computing K vectorized array-expression
    distances (zip_with/aggregate in JVM codegen, no shuffle) plus
    ONE (cid, dim) aggregation whose width is K·64 regardless of row
    count. Rounds are fixed (3), so the lineage stays bounded; at
    larger K/dim swap literal arrays for a broadcast join, same plan.

    Int64 headroom: per-dim diff ≤ 2e6 → dist ≤ 64·4e12 ≈ 2.6e14,
    ×K + cid ≪ 2^63; inertia sums dist over rows — safe past 1e4 rows
    per fixture and re-scalable by dropping the quantization to 1e3
    for billion-row corpora."""
    final = _kmeans_final(spark, sf_dir)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("dist").cast("bigint").alias("inertia"),
        )
        .orderBy("cid")
    )


def _kmeans_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-vector FINAL Lloyd assignment (vec_id, cid, dist) after
    _KM_ITERS exact-integer rounds — the body of emb_kmeans_lloyd,
    factored so dedup_semantic_clusters composes components over the
    identical trajectory (both oracles share _kmeans_ctes).

    The three UPDATE rounds run as Arrow kernels
    (mapInPandas emitting per-partition partial (cid, count, column
    sums) — all int64, order-free) instead of interpreted
    zip_with/aggregate HOF assignment plus a 64×-row posexplode
    shuffle: one vectorized numpy pass per round, one tiny partial
    relation collected per round. Exact-integer throughout — numpy
    quantization floor(x·1e6+0.5) and squared-distance sums are the
    same int64 arithmetic as the oracle's CTEs, and integer sums are
    order-independent, so the trajectory stays bit-identical
    (tools/check.py). The FINAL assignment stays an expression plan
    (array HOF) so downstream composition keeps a declarative
    lineage. (A flat-column q0..q63 form was tried first: 64-wide
    codegen recompiled per round and planning blew up 6×; unrolled
    256-term SQL-string rounds were still ~2× slower than the kernels
    — the cost is janino per round, not py4j — so kernels keep rounds
    off the janino path.)

    The final-assignment expression is built as ONE SQL string (least
    over K aggregate(zip_with(...)) encodings with literal centroid
    arrays), not Column algebra, which would construct ~300 py4j
    Column objects (4×(64 lits + array + zip_with + aggregate)) per
    build. The physical expression is the same HOF over the same
    literals either way, so only the build cost differs."""
    import math

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", micro).alias("qv"),
    )
    k = _KM_K

    # driver-scalar markers: K seed vectors / K*64 centroid components
    # per round — the sanctioned k-means pattern
    seed_rows = e.orderBy("vec_id").limit(k).collect()  # driver-scalar: seeds
    # (cid, vector) pairs — kept as explicit pairs so a cid whose
    # cluster empties in some round can DROP out of the candidate
    # list, exactly like the oracle's c{t} CTE (which GROUP BYs the
    # round's assignments and so simply has no rows for an empty cid).
    centroids = [(cid, list(r.qv)) for cid, r in enumerate(seed_rows)]
    n_dim = len(centroids[0][1])
    raw = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    partial_schema = "cid long, n long, " + ", ".join(
        f"s{d} long" for d in range(n_dim)
    )

    for _ in range(_KM_ITERS):
        cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
        C = np.array([c for _, c in centroids], dtype=np.int64)

        def round_partials(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.stack(pdf["embedding"].to_numpy()).astype(
                    np.float64
                )
                Q = np.floor(A * 1e6 + 0.5).astype(np.int64)
                # multiplier is K (the FIXED cluster count), not the
                # surviving-centroid count — an emptied cluster drops
                # from the candidate list but the encoding stays k
                diff = Q[:, None, :] - C[None, :, :]
                enc = (diff * diff).sum(axis=2) * k + cids[None, :]
                cid = cids[np.argmin(enc, axis=1)]
                rows = []
                for c in np.unique(cid):
                    m = cid == c
                    rows.append(
                        [int(c), int(m.sum())]
                        + Q[m].sum(axis=0).tolist()
                    )
                yield pd.DataFrame(
                    rows,
                    columns=["cid", "n"]
                    + [f"s{d}" for d in range(Q.shape[1])],
                )

        upd = raw.mapInPandas(round_partials, partial_schema).collect()  # driver-scalar: K*64 centroid partials
        acc: dict[int, list[int]] = {}
        for r in upd:
            a = acc.setdefault(int(r.cid), [0] * (n_dim + 1))
            a[0] += r.n
            for d in range(n_dim):
                a[d + 1] += r[f"s{d}"]
        # argmin ties: enc = dist*k + cid minimized — identical to the
        # expression form's least() and the oracle's min(); floor of
        # the exact double division matches the oracle's update
        centroids = [
            (
                cid,
                [math.floor(a[d + 1] / a[0]) for d in range(n_dim)],
            )
            for cid, a in sorted(acc.items())
        ]

    # one SQL string, parsed once — zero per-Column py4j round trips;
    # the literals sit inside array(...) so a negative value never
    # follows '-' (no accidental '--' SQL comment)
    terms = []
    for cid, cvec in centroids:
        arr = "array(" + ",".join(f"{int(x)}L" for x in cvec) + ")"
        terms.append(
            f"(aggregate(zip_with(qv, {arr}, (a, b) -> (a-b)*(a-b)), "
            f"0L, (acc, v) -> acc+v)*{k}L+{cid}L)"
        )
    enc = "least(" + ",".join(terms) + ")"
    return e.selectExpr(
        "vec_id",
        f"cast(pmod({enc}, {k}) as bigint) AS cid",
        f"cast(({enc} - pmod({enc}, {k})) / {k} as bigint) AS dist",
    )


@query(
    "eval_auc_rank",
    oracle="""
        WITH scored AS (
            SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0
                              + 0.5) AS BIGINT) AS s,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), grp AS (
            SELECT s,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(pos) AS BIGINT) AS n_pos_s
            FROM scored GROUP BY s
        ), cum AS (
            SELECT s, cnt, n_pos_s,
                   CAST(sum(cnt) OVER (ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
            FROM grp
        ), agg AS (
            SELECT CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
                   CAST(sum(cnt - n_pos_s) AS BIGINT) AS n_neg,
                   CAST(sum(n_pos_s * (2 * c - cnt + 1)) AS BIGINT)
                       AS r2_pos
            FROM cum
        )
        SELECT n_pos, n_neg,
               CAST(r2_pos - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
               CAST(2 * n_pos * n_neg AS BIGINT)            AS auc_den,
               CAST(floor(CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                          / (2 * n_pos * n_neg) * 1000000.0 + 0.5)
                    AS BIGINT) AS auc_micro
        FROM agg
    """,
    phase="P4",
    tags=("similarity", "evaluation", "auc"),
)
def eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney rank statistic — the
    model-evaluation primitive (here scoring label-0 membership by
    the first embedding dimension; any score column plugs in): with
    tie-aware average ranks, AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋).
    Doubling the rank identity keeps EVERYTHING integer: for a score
    group, 2·avg_rank = 2·cum − cnt + 1, so the numerator
    R2₊ − n₊(n₊+1) and denominator 2·n₊·n₋ ship as exact BIGINTs
    beside the micro-rounded AUC — no float ranks, no sort of the
    raw rows.

    Plan: one combinable (score) aggregate collapses the corpus to
    DISTINCT-SCORE grain, ONE running-count window at that reduced
    grain (the win_drawdown day-grain rule; at extreme score
    cardinality, bucket the scores first — the approximate-AUC swap —
    or run agg_approx_percentile's two-phase selection), and a final
    single-row reduce. Threshold-free, tie-correct, and cheap at any
    corpus size."""
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        micro(F.element_at("embedding", 1).cast("double")).alias("s"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("n_pos_s"),
    )
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "s",
        "cnt",
        "n_pos_s",
        F.sum("cnt").over(w).cast("bigint").alias("c"),
    )
    agg = cum.agg(
        F.sum("n_pos_s").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("n_pos_s"))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(
            F.col("n_pos_s") * (2 * F.col("c") - F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r2_pos"),
    )
    num = F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = 2 * F.col("n_pos") * F.col("n_neg")
    return agg.select(
        "n_pos",
        "n_neg",
        num.cast("bigint").alias("auc_num"),
        den.cast("bigint").alias("auc_den"),
        micro(num.cast("double") / den).alias("auc_micro"),
    )


@query(
    "eval_confusion_threshold",
    oracle="""
        WITH scored AS (
            SELECT CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0.0
                        THEN 1 ELSE 0 END AS pred,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), m AS (
            SELECT
                CAST(sum(pred * pos) AS BIGINT)              AS tp,
                CAST(sum(pred * (1 - pos)) AS BIGINT)        AS fp,
                CAST(sum((1 - pred) * pos) AS BIGINT)        AS fn,
                CAST(sum((1 - pred) * (1 - pos)) AS BIGINT)  AS tn
            FROM scored
        )
        SELECT tp, fp, fn, tn,
               CAST(floor(CAST(tp AS DOUBLE) / (tp + fp)
                          * 1000000.0 + 0.5) AS BIGINT)
                   AS precision_micro,
               CAST(floor(CAST(tp AS DOUBLE) / (tp + fn)
                          * 1000000.0 + 0.5) AS BIGINT)
                   AS recall_micro,
               CAST(floor(CAST(2 * tp AS DOUBLE)
                          / (2 * tp + fp + fn) * 1000000.0 + 0.5)
                    AS BIGINT) AS f1_micro
        FROM m
    """,
    phase="P3",
    tags=("similarity", "evaluation", "classification"),
)
def eval_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded classification metrics — the confusion matrix plus
    precision/recall/F1 for a fixed decision boundary (here: first
    embedding dimension ≥ 0 predicts label 0), the companion to
    eval_auc_rank's threshold-free ranking view. All four cells come
    from ONE combinable aggregate (indicator products — no join, no
    window, no second pass); the exact BIGINT cells ship beside the
    micro-rounded ratios, and F1 uses the 2tp/(2tp+fp+fn) identity so
    no intermediate ratio rounds twice.

    At 100 TB this is a single map-side-combinable pass — the
    cheapest possible evaluation sweep; per-segment variants add the
    segment to the groupBy key with identical cost structure."""
    e = load(spark, sf_dir, "embeddings")
    pred = (
        F.element_at("embedding", 1).cast("double") >= 0.0
    ).cast("int")
    pos = (F.col("label") == 0).cast("int")
    m = e.select(pred.alias("pred"), pos.alias("pos")).agg(
        F.sum(F.col("pred") * F.col("pos")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("pos")))
        .cast("bigint")
        .alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("pos"))
        .cast("bigint")
        .alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("pos")))
        .cast("bigint")
        .alias("tn"),
    )
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        micro(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")))
        .alias("precision_micro"),
        micro(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")))
        .alias("recall_micro"),
        micro(
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1_micro"),
    )


@query(
    "emb_silhouette",
    oracle="""
        WITH pts AS (
            SELECT vec_id, label, u.i AS dim,
                   CAST(floor(CAST(embedding[u.i] AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS vm
            FROM embeddings, unnest(range(1, 65)) AS u(i)
        ), cent AS (
            SELECT label AS clabel, dim,
                   CAST(floor(CAST(sum(vm) AS DOUBLE) / count(*) + 0.5)
                        AS BIGINT) AS c
            FROM pts GROUP BY label, dim
        ), d2 AS (
            SELECT p.vec_id, p.label, ct.clabel,
                   CAST(sum((p.vm - ct.c) * (p.vm - ct.c)) AS BIGINT)
                       AS dd
            FROM pts p JOIN cent ct USING (dim)
            GROUP BY p.vec_id, p.label, ct.clabel
        ), ab AS (
            SELECT vec_id, label,
                   sqrt(CAST(min(CASE WHEN clabel = label THEN dd END)
                        AS DOUBLE)) AS a,
                   sqrt(CAST(min(CASE WHEN clabel <> label THEN dd END)
                        AS DOUBLE)) AS b
            FROM d2 GROUP BY vec_id, label
        ), s AS (
            SELECT label,
                   CAST(floor((b - a) / greatest(a, b) * 1000000.0
                        + 0.5) AS BIGINT) AS s_micro
            FROM ab
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(s_micro) AS BIGINT) AS s_sum_micro,
               CAST(floor(CAST(sum(s_micro) AS DOUBLE) / count(*)
                          + 0.5) AS BIGINT) AS mean_silhouette_micro
        FROM s
        GROUP BY label
        ORDER BY label
    """,
    phase="P4",
    tags=("similarity", "evaluation", "clustering"),
)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label cluster
    — the clustering-quality metric that closes the embedding-
    evaluation loop (emb_centroids fits, cluster_assign assigns,
    THIS judges): for each point, a = distance to its own-label
    centroid, b = nearest other centroid, s = (b−a)/max(a,b);
    cluster means near 0 flag label noise or entangled embeddings
    before training ever sees them.  Centroid-based silhouette (the
    "simplified silhouette" of the clustering literature) replaces
    the classic all-pairs O(n²) definition with O(n·K) — the only
    formulation that exists at corpus scale.

    Exactness: vectors and centroids quantize to micro ints
    (floor-divided centroid components, the emb_kmeans_lloyd rule),
    squared distances are exact BIGINT sums (64·(8e5)² ≪ 2⁶³), and
    each point's s micro-quantizes before the per-label mean — so
    every reduction is an order-free integer sum and the two sqrt/
    division crossings are identically-spelled IEEE.

    Plan: fully relational, NO driver round-trip — one (label, dim)
    combinable centroid aggregate, a dim-keyed broadcast join-back
    (explode factor K·D bounds the per-point work), one (point,
    centroid) combinable distance aggregate, and a per-label
    reduce.  Every stage is map-side combinable; nothing scales
    with n²."""
    e = load(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        micro(F.col("val").cast("double")).alias("vm"),
    )
    cent = pts.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.floor(
            F.sum("vm").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("c")
    )
    d2 = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum((F.col("vm") - F.col("c")) * (F.col("vm") - F.col("c")))
            .cast("bigint")
            .alias("dd")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.sqrt(
            F.min(
                F.when(F.col("clabel") == F.col("label"), F.col("dd"))
            ).cast("double")
        ).alias("a"),
        F.sqrt(
            F.min(
                F.when(F.col("clabel") != F.col("label"), F.col("dd"))
            ).cast("double")
        ).alias("b"),
    )
    s = ab.select(
        "label",
        micro((F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")))
        .alias("s_micro"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("s_micro").cast("bigint").alias("s_sum_micro"),
            F.floor(
                F.sum("s_micro").cast("double") / F.count(F.lit(1))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mean_silhouette_micro"),
        )
        .orderBy("label")
    )


@query(
    "sim_pairwise_diversity",
    oracle=f"""
        WITH cnt AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
        ), cut AS (
            SELECT CASE WHEN 64.0 / n >= 1.0 THEN 'g'
                   ELSE lpad(lower(hex(CAST(least(floor(64.0 / n
                        * 4294967296.0), 4294967295.0) AS BIGINT))),
                        8, '0')
                   END AS cutoff
            FROM cnt
        ), sampled AS (
            SELECT e.vec_id, e.embedding
            FROM embeddings e, cut
            WHERE substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8)
                  < cut.cutoff
        ), pairs AS (
            SELECT CAST(floor({_duck_cosine('a.embedding', 'b.embedding')}
                        * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
            FROM sampled a JOIN sampled b ON a.vec_id < b.vec_id
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM sampled)
                   AS n_sampled,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(floor(CAST(sum(cos_micro) AS DOUBLE) / count(*)
                          + 0.5) AS BIGINT) AS mean_cos_micro,
               CAST(min(cos_micro) AS BIGINT) AS min_cos_micro,
               CAST(max(cos_micro) AS BIGINT) AS max_cos_micro
        FROM pairs
    """,
    phase="P3",
    tags=("similarity", "diversity", "corpus-health"),
)
def sim_pairwise_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity probe: the pairwise-cosine distribution over a
    deterministic hash sample of ~64 vectors (~2k pairs) — mean near
    zero means healthy spread; drifting upward means mode collapse or
    duplicate floods, caught BEFORE an index build or training run
    (the corpus-level companion to emb_dim_stats' per-dimension view
    and emb_silhouette's label-conditioned view).

    Two-stage sampling makes all-pairs tractable at ANY corpus size:
    hash-sample VECTORS at rate 64/n (E[pairs] ≈ 2k stays constant as
    n grows — sampling pairs directly would still enumerate n²), then
    exact cosines over the survivors.  md5 keeps the sample — not
    just its size — engine-identical and reproducible across runs
    and backfills; each pair cosine micro-quantizes so the mean is
    an order-free integer division.

    Plan: one combinable count derives the broadcast cutoff, the
    sample filter is a scan-stage predicate, and the ~64×64 pair
    join plus the single-row reduce are constant work regardless of
    corpus size."""
    e = load(spark, sf_dir, "embeddings")
    cnt = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rate = F.lit(64.0) / F.col("n")
    cut = cnt.select(
        F.when(rate >= 1.0, F.lit("g"))
        .otherwise(hash_cutoff(rate))
        .alias("cutoff")
    )
    digest = F.substring(
        F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 8
    )
    sampled = (
        e.crossJoin(F.broadcast(cut))
        .filter(digest < F.col("cutoff"))
        .select("vec_id", "embedding")
    )
    sampled = sampled.localCheckpoint(eager=False)
    a = sampled.alias("a")
    b = sampled.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        micro(cosine(F.col("a.embedding"), F.col("b.embedding"))).alias(
            "cos_micro"
        )
    )
    n_sampled = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled")
    )
    return (
        pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.floor(
                F.sum("cos_micro").cast("double") / F.count(F.lit(1))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mean_cos_micro"),
            F.min("cos_micro").cast("bigint").alias("min_cos_micro"),
            F.max("cos_micro").cast("bigint").alias("max_cos_micro"),
        )
        .crossJoin(F.broadcast(n_sampled))
        .select(
            "n_sampled",
            "n_pairs",
            "mean_cos_micro",
            "min_cos_micro",
            "max_cos_micro",
        )
    )


# Johnson-Lindenstrauss sign matrix for emb_random_projection: 64 input
# dims x 8 output dims of ±1, minted once from splitmix64 (the repo's
# one seed-constant generator) and EMBEDDED in both engines — the
# oracle never recomputes the wraparound hash (exprs.py rule).
_RP_OUT = 8
_RP_SIGNS: list[list[int]] = [
    [
        1 if (splitmix64(0xE5B00 + i * _RP_OUT + j) >> 63) & 1 else -1
        for j in range(_RP_OUT)
    ]
    for i in range(64)
]


def _rp_oracle() -> str:
    vals = ",".join(
        f"({i + 1},{j},{_RP_SIGNS[i][j]})"
        for i in range(64)
        for j in range(_RP_OUT)
    )
    return f"""
        WITH q AS (
            SELECT vec_id, label, u.i AS i,
                   CAST(floor(CAST(embedding[u.i] AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS qv
            FROM embeddings, unnest(range(1, 65)) AS u(i)
        ), s AS (
            SELECT * FROM (VALUES {vals}) AS t(i, j, sgn)
        ), p AS (
            SELECT q.vec_id, q.label, s.j,
                   CAST(sum(q.qv * s.sgn) AS BIGINT) AS proj
            FROM q JOIN s ON s.i = q.i
            GROUP BY q.vec_id, q.label, s.j
        )
        SELECT label, CAST(j AS BIGINT) AS dim_out,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(proj) AS BIGINT) AS sum_proj,
               CAST(min(proj) AS BIGINT) AS min_proj,
               CAST(max(proj) AS BIGINT) AS max_proj
        FROM p GROUP BY label, j
        ORDER BY label, dim_out
    """


@query(
    "emb_random_projection",
    oracle=_rp_oracle(),
    phase="P4",
    tags=("similarity", "embedding", "projection"),
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random sign projection (Johnson-Lindenstrauss / SimHash's dense
    cousin): every 64-dim embedding maps to 8 coordinates
    proj_j = Σ_i v_i·s_ij with a fixed ±1 matrix — the dimensionality
    reduction that preserves pairwise distances within (1±ε) and
    powers cheap pre-filters in front of exact similarity. Emits the
    per-(label, output-dim) profile: count, sum, min, max of the
    projected coordinate.

    Exactness: components micro-quantize BEFORE the dot product, the
    sign matrix is ±1 integers, so every projection is an EXACT
    BIGINT (|proj| ≤ 64·2e6 ≪ 2^63) — no float accumulation order to
    disagree on. The matrix constants are minted from splitmix64 and
    embedded verbatim in both engines.

    Plan shape: the 8 dot products run as zip_with/aggregate array
    expressions inside whole-stage codegen — NO posexplode, no
    join, map-side work only; the groupBy(label) partial-aggregates
    8 sums/mins/maxes per label per task and the final stack() to
    long form touches label-grain rows. At 100 TB: one scan, one
    label-width exchange."""
    e = load(spark, sf_dir, "embeddings").select(
        "label",
        F.transform("embedding", micro).alias("qv"),
    )
    projs = e.select(
        "label",
        *[
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.array(
                        *[F.lit(_RP_SIGNS[i][j]) for i in range(64)]
                    ),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias(f"p{j}")
            for j in range(_RP_OUT)
        ],
    )
    wide = projs.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            a
            for j in range(_RP_OUT)
            for a in (
                F.sum(f"p{j}").cast("bigint").alias(f"s{j}"),
                F.min(f"p{j}").cast("bigint").alias(f"mn{j}"),
                F.max(f"p{j}").cast("bigint").alias(f"mx{j}"),
            )
        ],
    )
    stack_args = ", ".join(
        f"CAST({j} AS BIGINT), s{j}, mn{j}, mx{j}" for j in range(_RP_OUT)
    )
    return (
        wide.selectExpr(
            "label",
            "n",
            f"stack({_RP_OUT}, {stack_args}) AS "
            "(dim_out, sum_proj, min_proj, max_proj)",
        )
        .select(
            "label", "dim_out", "n", "sum_proj", "min_proj", "max_proj"
        )
        .orderBy("label", "dim_out")
    )


def _purity_oracle() -> str:
    """Contingency of true label × nearest-centroid assignment (the 10
    fixed centroids of cluster_assign, argmin on EXACT integer squared
    L2 over micro-quantized vectors with the dist·K+cid tiebreak
    encoding of emb_kmeans_lloyd), folded to purity and NMI with
    per-cell pico-quantized ln terms — ln runs at CELL grain (≤
    labels×10 cells), never per row."""
    return """
        WITH q AS (
            SELECT vec_id, label, u.i AS dim_pos,
                   CAST(floor(CAST(embedding[u.i] AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS qv
            FROM embeddings, unnest(range(1, 65)) AS u(i)
        ), c AS (
            SELECT vec_id AS cid, dim_pos, qv AS qc
            FROM q WHERE vec_id < 10
        ), d AS (
            SELECT q.vec_id, q.label, c.cid,
                   sum((q.qv - c.qc) * (q.qv - c.qc)) * 10 + c.cid
                       AS enc
            FROM q JOIN c ON c.dim_pos = q.dim_pos
            GROUP BY q.vec_id, q.label, c.cid
        ), a AS (
            SELECT vec_id, label,
                   CAST(min(enc) % 10 AS BIGINT) AS cid
            FROM d GROUP BY vec_id, label
        ), cont AS (
            SELECT label, cid, CAST(count(*) AS BIGINT) AS n_cl
            FROM a GROUP BY label, cid
        ), tot AS (
            SELECT CAST(sum(n_cl) AS BIGINT) AS n,
                   CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
                   CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters
            FROM cont
        ), marg_l AS (
            SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l
            FROM cont GROUP BY label
        ), marg_c AS (
            SELECT cid, CAST(sum(n_cl) AS BIGINT) AS n_c
            FROM cont GROUP BY cid
        ), pur AS (
            SELECT CAST(sum(mx) AS BIGINT) AS pure_n
            FROM (SELECT cid, max(n_cl) AS mx FROM cont GROUP BY cid)
        ), mi AS (
            SELECT CAST(sum(CAST(floor(
                       CAST(n_cl AS DOUBLE) / t.n
                       * ln(CAST(t.n AS DOUBLE) * n_cl
                            / (CAST(n_c AS DOUBLE) * n_l))
                       * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS mi_pico
            FROM cont
            JOIN marg_l USING (label)
            JOIN marg_c USING (cid)
            CROSS JOIN tot t
        ), hl AS (
            SELECT CAST(sum(CAST(floor(
                       -(CAST(n_l AS DOUBLE) / t.n)
                       * ln(CAST(n_l AS DOUBLE) / t.n)
                       * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS hl_pico
            FROM marg_l CROSS JOIN tot t
        ), hc AS (
            SELECT CAST(sum(CAST(floor(
                       -(CAST(n_c AS DOUBLE) / t.n)
                       * ln(CAST(n_c AS DOUBLE) / t.n)
                       * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS hc_pico
            FROM marg_c CROSS JOIN tot t
        )
        SELECT t.n, t.n_labels, t.n_clusters,
               CAST(floor(CAST(pure_n AS DOUBLE) / t.n
                    * 1000000.0 + 0.5) AS BIGINT) AS purity_micro,
               CAST(floor(CAST(mi_pico AS DOUBLE) / 1000000.0 + 0.5)
                    AS BIGINT) AS mi_micro,
               CAST(floor(CAST(mi_pico AS DOUBLE)
                    / sqrt(CAST(hl_pico AS DOUBLE) * hc_pico)
                    * 1000000.0 + 0.5) AS BIGINT) AS nmi_micro
        FROM tot t CROSS JOIN pur CROSS JOIN mi
        CROSS JOIN hl CROSS JOIN hc
    """


@query(
    "eval_cluster_purity",
    oracle=_purity_oracle(),
    phase="P4",
    tags=("evaluation", "clustering", "similarity"),
)
def eval_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality scorecard against ground-truth labels: PURITY
    (fraction of points whose cluster's majority label is theirs) and
    NMI (mutual information normalized by sqrt(H_label·H_cluster)) for
    the 10-fixed-centroid assignment cluster_assign performs — the
    external-validity judge that closes the clustering loop
    (emb_kmeans_lloyd fits, cluster_assign assigns, emb_silhouette
    scores internally, THIS scores against labels).

    Exactness: assignment is argmin on EXACT integer squared L2
    (micro-quantized vectors, the dist·K+cid min-encoding of
    emb_kmeans_lloyd — no float distance can flip a winner);
    contingency/marginals are exact counts; every ln term is
    pico-quantized at CELL grain (≤ labels×10 cells — the
    agg_entropy_categorical safety class, never per-row libm) so the
    cross-cell sums are order-free integers.

    Plan: 10 centroids collect as driver scalars (K·64 — the
    sanctioned k-means pattern) and re-enter as literals in ONE
    map-only least() over array expressions (no explode, no join);
    the contingency is a ≤ labels×10-group combinable agg; everything
    after is cell-grain arithmetic.

    Build and shape (as in emb_kmeans_lloyd): (1) the argmin encoding
    is ONE SQL string parsed once, not ~700 py4j Column constructions
    (10×(64 lits + zip_with + aggregate)); (2) the scalar outputs
    (tot/marginals/purity/MI/entropies) come from ONE linear window
    pipeline over the cell-grain relation — marginals via
    partitionBy(label)/partitionBy(cid) windows, per-marginal terms
    counted once through rn=1 guards, then a single global agg —
    rather than six independent 2-phase aggs over the contingency.
    The pico-quantized terms sit at the same grains either way, so the
    integer sums match the oracle; cell grain is alphabet-bounded, so
    the single-partition global window is scale-safe; the argmin scan
    has exactly one reader, so it needs no checkpoint."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", micro).alias("qv"),
    )
    cents = e.filter(F.col("vec_id") < 10).orderBy("vec_id").collect()  # driver-scalar: 10x64 centroid components

    # one SQL string, parsed once (as in _kmeans_final);
    # pmod == % here because the encodings are nonnegative
    terms = []
    for r in cents:
        arr = "array(" + ",".join(f"{int(x)}L" for x in r.qv) + ")"
        terms.append(
            f"(aggregate(zip_with(qv, {arr}, (a, b) -> (a-b)*(a-b)), "
            f"0L, (acc, v) -> acc+v)*10L+{int(r.vec_id)}L)"
        )
    enc = "least(" + ",".join(terms) + ")"
    cont = (
        e.selectExpr("label", f"cast(pmod({enc}, 10) as bigint) AS cid")
        .groupBy("label", "cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cl"))
    )
    frame = Window.unboundedPreceding, Window.unboundedFollowing
    w_l = Window.partitionBy("label").orderBy("cid")
    w_c = Window.partitionBy("cid").orderBy("label")
    cells = cont.select(
        "label",
        "cid",
        "n_cl",
        F.sum("n_cl").over(w_l.rowsBetween(*frame)).alias("n_l"),
        F.row_number().over(w_l).alias("rn_l"),
        F.sum("n_cl").over(w_c.rowsBetween(*frame)).alias("n_c"),
        F.max("n_cl").over(w_c.rowsBetween(*frame)).alias("mx"),
        F.row_number().over(w_c).alias("rn_c"),
    ).withColumn(
        "n",
        F.sum("n_cl").over(Window.partitionBy().rowsBetween(*frame)),
    )
    mi_t = F.floor(
        F.col("n_cl").cast("double")
        / F.col("n")
        * F.log(
            F.col("n").cast("double")
            * F.col("n_cl")
            / (F.col("n_c").cast("double") * F.col("n_l"))
        )
        * F.lit(1000000000000.0)
        + F.lit(0.5)
    ).cast("bigint")

    def ent_t(col: str) -> Column:
        return F.floor(
            -(F.col(col).cast("double") / F.col("n"))
            * F.log(F.col(col).cast("double") / F.col("n"))
            * F.lit(1000000000000.0)
            + F.lit(0.5)
        ).cast("bigint")

    scal = cells.agg(
        F.sum("n_cl").cast("bigint").alias("n"),
        F.countDistinct("label").cast("bigint").alias("n_labels"),
        F.countDistinct("cid").cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("rn_c") == 1, F.col("mx")))
        .cast("bigint")
        .alias("pure_n"),
        F.sum(mi_t).cast("bigint").alias("mi_pico"),
        F.sum(F.when(F.col("rn_l") == 1, ent_t("n_l")))
        .cast("bigint")
        .alias("hl_pico"),
        F.sum(F.when(F.col("rn_c") == 1, ent_t("n_c")))
        .cast("bigint")
        .alias("hc_pico"),
    )
    return scal.select(
        "n",
        "n_labels",
        "n_clusters",
        micro(F.col("pure_n").cast("double") / F.col("n"))
        .alias("purity_micro"),
        F.floor(
            F.col("mi_pico").cast("double") / F.lit(1000000.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mi_micro"),
        micro(
            F.col("mi_pico").cast("double")
            / F.sqrt(F.col("hl_pico").cast("double") * F.col("hc_pico"))
        ).alias("nmi_micro"),
    )


_IVF_RECALL_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cent_id, embedding AS ce, nrm AS cnrm
        FROM e WHERE vec_id < {IVF_NLIST}
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm
          FROM e WHERE vec_id < 20),
    assigned AS (
        SELECT vec_id, embedding, nrm, cent_id FROM (
            SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_duck_cos_nrm('e.embedding', 'c.ce', 'e.nrm', 'c.cnrm')} DESC,
                                c.cent_id
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cent_id FROM (
            SELECT q.query_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cos_nrm('c.ce', 'q.qe', 'c.cnrm', 'q.qnrm')} DESC,
                                c.cent_id
                   ) AS rn
            FROM cent c CROSS JOIN q
        ) WHERE rn <= {IVF_NPROBE}
    ),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, a.vec_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_duck_cos_nrm('a.embedding', 'q.qe', 'a.nrm', 'q.qnrm')} DESC,
                                a.vec_id
                   ) AS rn
            FROM assigned a
            JOIN probes p ON a.cent_id = p.cent_id
            JOIN q ON q.query_id = p.query_id
            WHERE a.vec_id <> p.query_id
        ) WHERE rn <= 10
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe', 'e.nrm', 'q.qnrm')} DESC,
                                e.vec_id
                   ) AS rn
            FROM e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ) WHERE rn <= 10
    ),
    hits AS (
        SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM approx a JOIN exact x
          ON a.query_id = x.query_id AND a.vec_id = x.vec_id
        GROUP BY a.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(floor(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0
                * 1000000.0 + 0.5) AS BIGINT) AS recall_micro
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    ORDER BY q.query_id
"""


@query(
    "sim_ivf_recall_audit",
    oracle=_IVF_RECALL_ORACLE,
    phase="P4",
    tags=("similarity", "ann", "ivf", "audit"),
)
def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF probe against brute-force exact top-10,
    for each of the 20 batch queries — the ANN quality gate a
    retrieval pipeline runs before trusting the index (the IVF
    sibling of dedup_lsh_recall_audit's banding-recall promise).
    Recall < 1 here is the designed nprobe/nlist trade, so the score
    ships per query: a LOW tail tells you which query regions the
    2-of-10 probe under-covers.

    Fully deterministic both sides (row_number with explicit
    tiebreakers everywhere), so unlike hash-seeded ANN this audit
    gets a full value-hash oracle; counts are exact integers and the
    recall division is spelled once.

    Plan: reuses the batch-IVF shape (assignment scan + broadcast
    probes + pruned candidate join) PLUS one exact brute-force pass
    (corpus x 20 broadcast queries, the ``top_k`` plan); the audit
    join runs at 20x10 row grain. At 100 TB
    you'd sample queries exactly like this — the exact side is the
    expensive half, which is WHY it's an audit, not the serving
    path."""
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id")
    cent = probe_side(ne, F.col("vec_id") < IVF_NLIST, "cent_id", "c")
    q = probe_side(ne, F.col("vec_id") < 20, "query_id", "q")
    assigned = nearest_centroid(ne, cent, "cos_c", "vec_id", "embedding", "nrm").select(
        "vec_id", "embedding", "nrm", "cent_id"
    )
    cos_q = cos_nrm("ce", "qe", "cnrm", "qnrm").alias("cos_q")
    probes = F.broadcast(
        top_k(
            cent.crossJoin(q).select("query_id", "cent_id", cos_q),
            "query_id", "cos_q", "cent_id", IVF_NPROBE,
        ).select("query_id", "cent_id")
    )
    rescore = cos_nrm("embedding", "qe", "nrm", "qnrm").alias("cosine")
    approx = top_k(
        assigned.join(probes, "cent_id")
        .join(q, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", rescore),
        "query_id", "cosine", "vec_id", 10,
    ).select("query_id", "vec_id")
    exact = top_k(
        probe_pairs(ne, q, "vec_id"), "query_id", "cosine", "vec_id", 10
    ).select(F.col("query_id").alias("xq"), F.col("vec_id").alias("xv"))
    hits = (
        approx.join(
            exact,
            (F.col("query_id") == F.col("xq"))
            & (F.col("vec_id") == F.col("xv")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
            micro(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(10.0)
            ).alias("recall_micro"),
        )
        .orderBy("query_id")
    )


# Delta-ingest predicate for the incremental IVF maintenance pass:
# vectors past the centroid block with vec_id % 5 == 4 stand in for
# today's ~20% arrival batch (fixture labels are independent of
# vec_id % k — verified before choosing the predicate, per the
# doc_id-%k-aliases-source lesson from text_char_bigram_entropy).
_IVF_DELTA_SQL = f"(vec_id >= {IVF_NLIST} AND vec_id % 5 = 4)"


def _ivf_delta_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``normed`` corpus plus the ``_IVF_DELTA_SQL`` flag ``is_delta``."""
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id")
    delta = (F.col("vec_id") >= IVF_NLIST) & (F.col("vec_id") % 5 == 4)
    return ne.withColumn("is_delta", delta)


@query(
    "sim_ann_ivf_incremental",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({_DUCK_DOT.format(a='embedding', b='embedding')})
                       AS nrm,
                   {_IVF_DELTA_SQL} AS is_delta
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS cent_id, embedding AS ce, nrm AS cnrm
            FROM e WHERE vec_id < {IVF_NLIST}
        ),
        assigned AS (
            SELECT vec_id, is_delta, cent_id, cos FROM (
                SELECT e.vec_id, e.is_delta, c.cent_id,
                       {_duck_cos_nrm('e.embedding', 'c.ce',
                                      'e.nrm', 'c.cnrm')} AS cos,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_duck_cos_nrm('e.embedding', 'c.ce',
                                     'e.nrm', 'c.cnrm')} DESC, c.cent_id
                       ) AS rn
                FROM e CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        g AS (
            SELECT cent_id,
                   CAST(count(*) FILTER (WHERE NOT is_delta) AS BIGINT)
                       AS n_base,
                   CAST(count(*) FILTER (WHERE is_delta) AS BIGINT)
                       AS n_delta,
                   CAST(sum(CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT))
                        FILTER (WHERE NOT is_delta) AS BIGINT) AS s_base,
                   CAST(sum(CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT))
                        FILTER (WHERE is_delta) AS BIGINT) AS s_delta
            FROM assigned GROUP BY cent_id
        )
        SELECT cent_id, n_base, n_delta,
               CAST(floor(CAST(n_delta AS DOUBLE) / n_base
                    * 1000000.0 + 0.5) AS BIGINT) AS growth_micro,
               CAST(floor(CAST(s_base AS DOUBLE) / n_base + 0.5)
                    AS BIGINT) AS mean_cos_base_micro,
               CASE WHEN n_delta > 0 THEN
                    CAST(floor(CAST(s_delta AS DOUBLE) / n_delta + 0.5)
                         AS BIGINT) END AS mean_cos_delta_micro,
               CASE WHEN 5 * n_delta > n_base
                    THEN 'rebalance' ELSE 'ok' END AS verdict
        FROM g
        ORDER BY cent_id
    """,
    phase="P4",
    tags=("similarity", "ann", "ivf", "incremental"),
)
def sim_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: a delta batch (~20% of the
    corpus, the vec_id%5 withhold) assigns to the EXISTING coarse
    centroids — never re-seeded, exactly how a serving ANN index
    absorbs daily arrivals without a rebuild — and each inverted list
    reports its growth and drift so the 20% fence can order a
    rebalance before probe recall degrades. Completes the incremental
    family (dedup_incremental / etl_zorder_incremental /
    etl_deletion_vector_plan): never reprocess history, maintain
    metadata counters, emit a bounded work order.

    Per list: baseline/delta member counts, growth ratio, mean
    assigned cosine of each cohort (a delta mean well below the
    baseline mean means the centroid no longer represents its list —
    drift, the second rebalance trigger a real system watches), and
    the verdict: 'rebalance' when the delta exceeds 20% of the
    baseline (integer fence: 5·n_delta > n_base).

    Exactness: assignment argmax uses explicit (cosine, cent_id)
    tiebreaks; each cosine micro-quantizes at ROW grain so cohort
    sums are order-free BIGINTs; means and growth are spelled-once
    divisions; the fence is a pure integer compare.

    Plan: centroids broadcast (K×64 floats); assignment is the
    ``top_k`` plan's map-side top-1 over one corpus scan (at scale:
    over the DELTA only — baseline counters are stored index
    metadata, recomputed here so the twin can verify them); the
    groupBy collapses to list grain (K rows) map-side via conditional
    aggregates — one pass, one tiny shuffle."""
    ne = _ivf_delta_normed(spark, sf_dir)
    cent = probe_side(ne, F.col("vec_id") < IVF_NLIST, "cent_id", "c")
    assigned = nearest_centroid(ne, cent, "cos", "vec_id", "is_delta").select(
        "is_delta", "cent_id", micro(F.col("cos")).alias("cos_micro")
    )
    g = assigned.groupBy("cent_id").agg(
        F.count(F.when(~F.col("is_delta"), F.lit(1)))
        .cast("bigint")
        .alias("n_base"),
        F.count(F.when(F.col("is_delta"), F.lit(1)))
        .cast("bigint")
        .alias("n_delta"),
        F.sum(F.when(~F.col("is_delta"), F.col("cos_micro")))
        .cast("bigint")
        .alias("s_base"),
        F.sum(F.when(F.col("is_delta"), F.col("cos_micro")))
        .cast("bigint")
        .alias("s_delta"),
    )
    return g.select(
        "cent_id",
        "n_base",
        "n_delta",
        micro(F.col("n_delta").cast("double") / F.col("n_base"))
        .alias("growth_micro"),
        F.floor(
            F.col("s_base").cast("double") / F.col("n_base") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mean_cos_base_micro"),
        F.when(
            F.col("n_delta") > 0,
            F.floor(
                F.col("s_delta").cast("double") / F.col("n_delta")
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("mean_cos_delta_micro"),
        F.when(
            F.lit(5) * F.col("n_delta") > F.col("n_base"), F.lit("rebalance")
        )
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    ).orderBy("cent_id")


@query(
    "sim_threshold_sweep",
    oracle=f"""
        WITH pairs AS (
            SELECT {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.3
        ), banded AS (
            SELECT CAST(least(floor(cosine * 20.0), 19.0) AS BIGINT)
                       AS band_id
            FROM pairs
        ), counts AS (
            SELECT band_id, CAST(count(*) AS BIGINT) AS n_pairs
            FROM banded GROUP BY band_id
        )
        SELECT band_id,
               CAST(band_id * 50000 AS BIGINT) AS band_lo_micro,
               n_pairs,
               CAST(sum(n_pairs) OVER (ORDER BY band_id DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS n_pairs_at_or_above
        FROM counts
        ORDER BY band_id
    """,
    phase="P3",
    tags=("similarity", "dedup", "tuning"),
)
def sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate threshold sweep: histogram of qualifying
    within-label pair cosines in 0.05 bands, with the cumulative
    count at-or-above each band — the curve a dedup pipeline reads
    to PICK its cosine threshold (where does the pair count explode?)
    before committing to a dedup_embedding run. Rides the exact same
    blocked Arrow kernel as sim_pairs_threshold, so the pair set is
    identical by construction.

    Exactness: cosines are bit-identical cross-engine (the pinned
    oracle-identical fp-order kernel); banding floors the SAME double
    so band membership can't flip; counts and the cumulative window
    (over <= 20 band rows) are exact integers.

    Plan: the pair kernel is the data-sized stage (label-blocked,
    tile-bounded — see sim_pairs_threshold); the sweep adds one
    bounded-key combinable agg and a 20-row window."""
    pairs = sim_pairs_threshold(spark, sf_dir)
    banded = pairs.select(
        F.least(F.floor(F.col("cosine") * F.lit(20.0)), F.lit(19.0))
        .cast("bigint")
        .alias("band_id")
    )
    counts = banded.groupBy("band_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    w = Window.orderBy(F.desc("band_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return counts.select(
        "band_id",
        (F.col("band_id") * F.lit(50000)).cast("bigint").alias(
            "band_lo_micro"
        ),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias(
            "n_pairs_at_or_above"
        ),
    ).orderBy("band_id")


@query(
    "emb_intrinsic_dim",
    oracle=f"""
        WITH cnt AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
        ), cut AS (
            SELECT CASE WHEN 768.0 / n >= 1.0 THEN 'g'
                   ELSE lpad(lower(hex(CAST(least(floor(768.0 / n
                        * 4294967296.0), 4294967295.0) AS BIGINT))),
                        8, '0')
                   END AS cutoff
            FROM cnt
        ), e AS (
            SELECT s.vec_id, s.label, s.embedding,
               sqrt({_DUCK_DOT.format(a='s.embedding', b='s.embedding')})
                   AS nrm
            FROM embeddings s, cut
            WHERE substr(md5(CAST(s.vec_id AS VARCHAR)), 1, 8)
                  < cut.cutoff
        ),
        dists AS (
            SELECT a.vec_id,
                   (1.0 - {_duck_cos_nrm('a.embedding', 'b.embedding',
                                         'a.nrm', 'b.nrm')}) AS dist,
                   b.vec_id AS nbr,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY (1.0 - {_duck_cos_nrm('a.embedding',
                           'b.embedding', 'a.nrm', 'b.nrm')}),
                           b.vec_id
                   ) AS rn
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        two_nn AS (
            SELECT vec_id,
                   max(CASE WHEN rn = 1 THEN dist END) AS d1,
                   max(CASE WHEN rn = 2 THEN dist END) AS d2
            FROM dists WHERE rn <= 2
            GROUP BY vec_id
        ),
        terms AS (
            SELECT (d1 > 0 AND d2 IS NOT NULL) AS usable,
                   CASE WHEN d1 > 0 AND d2 IS NOT NULL THEN
                       CAST(floor(ln(d2 / d1) * 1000000000000.0 + 0.5)
                            AS BIGINT)
                   END AS t_pico
            FROM two_nn
        )
        SELECT CAST(count(*) FILTER (WHERE usable) AS BIGINT)
                   AS n_vectors,
               CAST(count(*) FILTER (WHERE NOT usable) AS BIGINT)
                   AS n_excluded,
               CAST(sum(t_pico) AS BIGINT) AS sum_lnratio_pico,
               CAST(floor(CAST(count(*) FILTER (WHERE usable) AS DOUBLE)
                    / (CAST(sum(t_pico) AS DOUBLE) / 1000000000000.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS intrinsic_dim_micro
        FROM terms
    """,
    phase="P4",
    tags=("similarity", "embeddings", "diagnostics"),
)
def emb_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic dimensionality of the embedding manifold via the
    TwoNN estimator (Facco et al. 2017): ID = n / sum ln(r2/r1) over
    each vector's two nearest angular distances — the one number
    that says whether 64-dim embeddings actually live on a 64-dim
    manifold (they never do) and therefore how aggressively
    emb_random_projection / emb_pca_project can compress before ANN
    recall collapses. Distances are within-label (the sim_pairs
    blocking convention); exact-duplicate vectors (r1 = 0) are
    excluded and counted.

    Exactness: angular distances derive from bit-identical cosine
    doubles; both NN picks use explicit (dist, vec_id) tiebreaks;
    each ln(r2/r1) pico-quantizes at VECTOR grain so the fold is an
    order-free BIGINT sum; the final ratio is spelled once.

    Scale: TwoNN is an estimator — statistically stable on a
    fixed-size sample — so the corpus is first md5-band sampled to
    ~768 vectors (rate 768/n, the sim_pairwise_diversity two-stage
    pattern): the within-label pair join runs over SURVIVORS only,
    bounding the quadratic stage to constant work at any corpus
    size. The sampling predicate is shared verbatim with the oracle
    (same md5 prefix, same cutoff arithmetic), keeping both engines
    on the identical sample; below 768 vectors the rate saturates
    ('g' cutoff) and the estimate is exact over the full corpus.

    Plan: one combinable count derives the broadcast cutoff; the
    sample filter is a scan-stage predicate; the label-blocked pair
    join over ≤768 vectors plus the per-vector window are constant
    work; the usable/excluded split and the ID ratio fold into ONE
    conditional aggregate over the vector-grain relation (two
    separate agg branches would recompute the pair join twice —
    Catalyst does no cross-branch CSE)."""
    e = load(spark, sf_dir, "embeddings")
    cnt = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rate = F.lit(768.0) / F.col("n")
    cut = cnt.select(
        F.when(rate >= 1.0, F.lit("g"))
        .otherwise(hash_cutoff(rate))
        .alias("cutoff")
    )
    digest = F.substring(
        F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 8
    )
    sampled = (
        e.crossJoin(F.broadcast(cut))
        .filter(digest < F.col("cutoff"))
        .select("vec_id", "label", "embedding")
    )
    ne = normed(sampled, "vec_id", "label")
    a = ne.alias("a")
    b = ne.alias("b")
    dist = F.lit(1.0) - cos_nrm("a.embedding", "b.embedding", "a.nrm", "b.nrm")
    w = Window.partitionBy("vec_id").orderBy("dist", "nbr")
    dists = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            dist.alias("dist"),
            F.col("b.vec_id").alias("nbr"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    two_nn = dists.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("d1"),
        F.max(F.when(F.col("rn") == 2, F.col("dist"))).alias("d2"),
    )
    usable = (F.col("d1") > 0) & F.col("d2").isNotNull()
    terms = two_nn.select(
        usable.alias("usable"),
        F.when(
            usable,
            F.floor(
                F.log(F.col("d2") / F.col("d1")) * F.lit(1e12) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("t_pico"),
    )
    # COUNT over an empty filter yields 0 (never null) on both engines
    return terms.agg(
        F.count(F.when(F.col("usable"), F.lit(1)))
        .cast("bigint")
        .alias("n_vectors"),
        F.count(F.when(~F.col("usable"), F.lit(1)))
        .cast("bigint")
        .alias("n_excluded"),
        F.sum("t_pico").cast("bigint").alias("sum_lnratio_pico"),
    ).select(
        "n_vectors",
        "n_excluded",
        "sum_lnratio_pico",
        micro(
            F.col("n_vectors").cast("double")
            / (F.col("sum_lnratio_pico").cast("double") / F.lit(1e12))
        ).alias("intrinsic_dim_micro"),
    )


def _eval_pairs(
    spark: SparkSession, sf_dir: str, *carry: str
) -> tuple[DataFrame, DataFrame]:
    """The ``normed`` corpus, and every (query, other vector) pair of the
    20-query retrieval set that ``eval_*_at_k`` rank: ``query_id``,
    ``carry``, ``rel`` (same label), ``vec_id`` and ``cosine``."""
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id", "label")
    q = probe_side(ne, F.col("vec_id") < 20, "query_id", "q", "label")
    rel = (F.col("label") == F.col("qlabel")).cast("int").alias("rel")
    return ne, probe_pairs(ne, q, *carry, rel, "vec_id")


_MAP_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel,
                 embedding AS qe, nrm AS qnrm
          FROM e WHERE vec_id < 20),
    lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY label),
    ranked AS (
        SELECT query_id, qlabel,
               CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe',
                             'e.nrm', 'q.qnrm')} DESC, e.vec_id
               ) AS rn
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    topk AS (
        SELECT query_id, qlabel, rel, rn,
               CAST(sum(rel) OVER (
                   PARTITION BY query_id ORDER BY rn
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hits_at
        FROM ranked WHERE rn <= 10
    ),
    terms AS (
        SELECT query_id, qlabel,
               CAST(sum(rel) AS BIGINT) AS n_rel_at_10,
               CAST(sum(CASE WHEN rel = 1 THEN
                   CAST(floor(CAST(hits_at AS DOUBLE) / rn
                        * 1000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS sum_prec_micro
        FROM topk GROUP BY query_id, qlabel
    )
    SELECT t.query_id,
           CAST(lc.n - 1 AS BIGINT) AS n_rel_total,
           t.n_rel_at_10,
           CASE WHEN least(lc.n - 1, 10) > 0 THEN
               CAST(floor(CAST(t.sum_prec_micro AS DOUBLE)
                    / least(lc.n - 1, 10) + 0.5) AS BIGINT)
           END AS ap_micro
    FROM terms t JOIN lc ON lc.label = t.qlabel
    ORDER BY t.query_id
"""


@query(
    "eval_map_at_k",
    oracle=_MAP_ORACLE,
    phase="P4",
    tags=("evaluation", "similarity", "ranking"),
)
def eval_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 over the 20-query retrieval set (relevant = same label):
    for each query, exact top-10 by cosine, average precision =
    Σ_{{hit i}} precision@i / min(R, 10) — the binary-relevance
    companion to eval_ndcg_at_k's graded ranking and the quality
    number a retrieval pipeline tracks next to sim_ivf_recall_audit's
    coverage (recall says the probe FOUND the neighbors; MAP says the
    found ones were the RIGHT ones, early).

    Exactness: ranking uses (cosine, vec_id) tiebreaks; each
    precision@i quantizes to micro the moment it's computed (hits/rank
    — two exact integers, one spelled division) so the per-query fold
    is an order-free integer sum; the final AP division is spelled
    once; queries with zero possible relevants yield NULL, not 0/0.

    Plan: corpus × 20 broadcast queries in the ``top_k`` plan (as
    sim_knn_batch); everything after the top-10 filter is 200-row
    grain."""
    ne, pairs = _eval_pairs(spark, sf_dir, "qlabel")
    lc = F.broadcast(
        ne.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ranked = top_k(pairs, "query_id", "cosine", "vec_id", 10)
    w_cum = (
        Window.partitionBy("query_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    topk = ranked.select(
        "query_id",
        "qlabel",
        "rel",
        "rn",
        F.sum("rel").over(w_cum).cast("bigint").alias("hits_at"),
    )
    terms = topk.groupBy("query_id", "qlabel").agg(
        F.sum("rel").cast("bigint").alias("n_rel_at_10"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                micro(F.col("hits_at").cast("double") / F.col("rn")),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("sum_prec_micro"),
    )
    gtp = F.least(F.col("n") - 1, F.lit(10))
    return (
        terms.join(lc, terms.qlabel == lc.label)
        .select(
            "query_id",
            (F.col("n") - 1).cast("bigint").alias("n_rel_total"),
            "n_rel_at_10",
            F.when(
                gtp > 0,
                F.floor(
                    F.col("sum_prec_micro").cast("double") / gtp
                    + F.lit(0.5)
                ).cast("bigint"),
            ).alias("ap_micro"),
        )
        .orderBy("query_id")
    )


_TOPK_ACC_ORACLE = """
    WITH q AS (
        SELECT vec_id, label,
               unnest(list_transform(embedding, (x, i) -> i - 1))
                   AS dim_pos,
               unnest(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0
                                   + 0.5) AS BIGINT))) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, dim_pos,
               CAST(floor(CAST(sum(v) AS DOUBLE)
                    / count(DISTINCT vec_id)) AS BIGINT) AS c
        FROM q GROUP BY label, dim_pos
    ),
    dists AS (
        SELECT q.vec_id, q.label, cent.clabel,
               CAST(sum((q.v - cent.c) * (q.v - cent.c)) AS BIGINT)
                   AS dist
        FROM q JOIN cent ON q.dim_pos = cent.dim_pos
        GROUP BY q.vec_id, q.label, cent.clabel
    ),
    ranked AS (
        SELECT vec_id, label, clabel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, clabel) AS rn
        FROM dists
    ),
    per_vec AS (
        SELECT vec_id, label,
               max(CASE WHEN clabel = label AND rn = 1 THEN 1
                   ELSE 0 END) AS hit1,
               max(CASE WHEN clabel = label AND rn <= 3 THEN 1
                   ELSE 0 END) AS hit3
        FROM ranked GROUP BY vec_id, label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(hit1) AS BIGINT) AS n_top1,
           CAST(sum(hit3) AS BIGINT) AS n_top3,
           CAST(floor(CAST(sum(hit1) AS DOUBLE) / count(*)
                * 1000000.0 + 0.5) AS BIGINT) AS top1_micro,
           CAST(floor(CAST(sum(hit3) AS DOUBLE) / count(*)
                * 1000000.0 + 0.5) AS BIGINT) AS top3_micro
    FROM per_vec
    GROUP BY label
    ORDER BY label
"""


@query(
    "eval_topk_accuracy",
    oracle=_TOPK_ACC_ORACLE,
    phase="P4",
    tags=("evaluation", "classification", "embedding"),
)
def eval_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1/top-3 nearest-centroid classification accuracy per label:
    each label's centroid is the floor-mean of its members' quantized
    embeddings, every vector ranks all centroids by exact integer
    squared L2 (ties broken by label), and a label's accuracy is the
    share of its members whose own centroid ranks first (top-1) or in
    the first three (top-3). The per-class confusion-free readout of
    embedding quality: a label with high top-3 but low top-1 overlaps
    a specific neighbor — the signal that two label definitions have
    merged in embedding space (emb_silhouette scores the geometry;
    this scores the retrieval DECISION it implies).

    Exactness: quantized micro embeddings, floor-divided integer
    centroids (the kmeans update arithmetic), integer distances with
    (dist, label) tiebreaks — no float crosses an engine boundary
    unquantized.

    Plan: centroids are ONE combinable (label, dim) aggregate that
    collapses to 10×64 values and broadcasts as literals are not
    needed — the distance join runs at (vector × 10 centroids) via
    the long-form dim join map-side; ranking windows run per vector
    over 10 rows."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", micro).alias("qv"),
    )
    q = e.select(
        "vec_id", "label", F.posexplode("qv").alias("dim_pos", "v")
    )
    cent = (
        q.groupBy(F.col("label").alias("clabel"), "dim_pos")
        .agg(
            F.floor(
                F.sum("v").cast("double") / F.countDistinct("vec_id")
            )
            .cast("bigint")
            .alias("c")
        )
    )
    dists = (
        q.join(F.broadcast(cent), "dim_pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
            )
            .cast("bigint")
            .alias("dist")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "clabel")
    ranked = dists.withColumn("rn", F.row_number().over(w))
    per_vec = ranked.groupBy("vec_id", "label").agg(
        F.max(
            F.when(
                (F.col("clabel") == F.col("label")) & (F.col("rn") == 1),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("hit1"),
        F.max(
            F.when(
                (F.col("clabel") == F.col("label")) & (F.col("rn") <= 3),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("hit3"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("hit1").cast("bigint").alias("n_top1"),
            F.sum("hit3").cast("bigint").alias("n_top3"),
            micro(F.sum("hit1").cast("double") / F.count(F.lit(1)))
            .alias("top1_micro"),
            micro(F.sum("hit3").cast("double") / F.count(F.lit(1)))
            .alias("top3_micro"),
        )
        .orderBy("label")
    )


_DRIFT_ORACLE = """
    WITH q AS (
        SELECT vec_id, label, vec_id % 2 = 1 AS is_new,
               unnest(list_transform(embedding, (x, i) -> i - 1))
                   AS dim_pos,
               unnest(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0
                                   + 0.5) AS BIGINT))) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, is_new, dim_pos,
               CAST(floor(CAST(sum(v) AS DOUBLE)
                    / count(DISTINCT vec_id)) AS BIGINT) AS c,
               CAST(count(DISTINCT vec_id) AS BIGINT) AS n
        FROM q GROUP BY label, is_new, dim_pos
    ),
    paired AS (
        SELECT o.label, o.dim_pos,
               o.c AS c_old, nw.c AS c_new,
               o.n AS n_old, nw.n AS n_new
        FROM cent o JOIN cent nw
          ON nw.label = o.label AND nw.dim_pos = o.dim_pos
        WHERE NOT o.is_new AND nw.is_new
    )
    SELECT label,
           CAST(min(n_old) AS BIGINT) AS n_old,
           CAST(min(n_new) AS BIGINT) AS n_new,
           CAST(sum((c_old - c_new) * (c_old - c_new)) AS BIGINT)
               AS dist2,
           CAST(floor(sqrt(CAST(sum((c_old - c_new) * (c_old - c_new))
                AS DOUBLE)) + 0.5) AS BIGINT) AS drift_micro
    FROM paired
    GROUP BY label
    ORDER BY label
"""


@query(
    "emb_centroid_drift",
    oracle=_DRIFT_ORACLE,
    phase="P4",
    tags=("similarity", "embedding", "drift"),
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift between two deterministic cohorts
    (even vec_ids = the deployed snapshot, odd = the refresh): the
    L2 distance between each label's cohort centroids, in micro
    units — the re-embedding go/no-go a retrieval stack checks
    before mixing vectors from two encoder runs in one index (a
    label whose centroid moved is a label whose OLD vectors will
    mis-retrieve against NEW queries; sim_ann_ivf_incremental
    watches list growth, this watches list MEANING).

    Exactness: cohort centroids are floor-mean integer vectors (the
    kmeans update arithmetic); dist² is an exact integer sum; the
    single sqrt is spelled once.

    Plan: both cohort centroids fold as CONDITIONAL aggregates in ONE
    combinable (label, dim) pass over the long form (a per-cohort
    filter + self-join would explode the corpus twice — no
    cross-branch CSE), then a label-grain fold — the corpus is
    touched once."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2 == 1).alias("is_new"),
        F.transform("embedding", micro).alias("qv"),
    )
    q = e.select(
        "vec_id", "label", "is_new", F.posexplode("qv").alias("dim_pos", "v")
    )
    old_v = F.when(~F.col("is_new"), F.col("v"))
    new_v = F.when(F.col("is_new"), F.col("v"))
    old_id = F.when(~F.col("is_new"), F.col("vec_id"))
    new_id = F.when(F.col("is_new"), F.col("vec_id"))
    paired = q.groupBy("label", "dim_pos").agg(
        F.floor(F.sum(old_v).cast("double") / F.countDistinct(old_id))
        .cast("bigint")
        .alias("c_old"),
        F.floor(F.sum(new_v).cast("double") / F.countDistinct(new_id))
        .cast("bigint")
        .alias("c_new"),
        F.countDistinct(old_id).cast("bigint").alias("n_old"),
        F.countDistinct(new_id).cast("bigint").alias("n_new"),
    )
    d2 = (F.col("c_old") - F.col("c_new")) * (
        F.col("c_old") - F.col("c_new")
    )
    return (
        paired.groupBy("label")
        .agg(
            F.min("n_old").cast("bigint").alias("n_old"),
            F.min("n_new").cast("bigint").alias("n_new"),
            F.sum(d2).cast("bigint").alias("dist2"),
            F.floor(F.sqrt(F.sum(d2).cast("double")) + F.lit(0.5))
            .cast("bigint")
            .alias("drift_micro"),
        )
        .orderBy("label")
    )


# --- IVF rebalance apply (consumes sim_ann_ivf_incremental's verdict) ------

_REBAL_PREFIX_SQL = f"""
    e AS (
        SELECT vec_id, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')})
                   AS nrm,
               {_IVF_DELTA_SQL} AS is_delta
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cent_id, embedding AS ce, nrm AS cnrm
        FROM e WHERE vec_id < {IVF_NLIST}
    ),
    assigned AS (
        SELECT vec_id, is_delta, cent_id,
               {MICRO_SQL.format(x='cos')} AS cos_micro
        FROM (
            SELECT e.vec_id, e.is_delta, c.cent_id,
                   {{cos_expr}} AS cos,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {{cos_expr}} DESC, c.cent_id
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    flagged AS (
        SELECT cent_id FROM assigned GROUP BY cent_id
        HAVING 5 * count(*) FILTER (WHERE is_delta)
                 > count(*) FILTER (WHERE NOT is_delta)
    )
"""


@query(
    "sim_ann_ivf_rebalance",
    oracle=f"""
        WITH {_REBAL_PREFIX_SQL.format(
            cos_expr=_duck_cos_nrm('e.embedding', 'c.ce', 'e.nrm', 'c.cnrm')
        )},
        fm AS (
            SELECT a.vec_id, a.cent_id, a.cos_micro
            FROM assigned a JOIN flagged f USING (cent_id)
        ),
        seeds AS (
            SELECT cent_id,
                   -(max(struct_pack(c := cos_micro, nv := -vec_id)).nv)
                       AS hi_vec,
                   (min(struct_pack(c := cos_micro, v := vec_id)).v)
                       AS lo_vec
            FROM fm GROUP BY cent_id
        ),
        seed_rel AS (
            SELECT s.cent_id, CAST(0 AS BIGINT) AS sub_id,
                   s.hi_vec AS seed_vec, e.embedding AS se, e.nrm AS snrm
            FROM seeds s JOIN e ON e.vec_id = s.hi_vec
            UNION ALL
            SELECT s.cent_id, CAST(1 AS BIGINT), s.lo_vec,
                   e.embedding, e.nrm
            FROM seeds s JOIN e ON e.vec_id = s.lo_vec
        ),
        fme AS (
            SELECT f.vec_id, f.cent_id, e.embedding, e.nrm
            FROM fm f JOIN e USING (vec_id)
        ),
        scored AS (
            SELECT m.vec_id, m.cent_id, s.sub_id, s.seed_vec,
                   {MICRO_SQL.format(
                       x=_duck_cos_nrm('m.embedding', 's.se',
                                       'm.nrm', 's.snrm')
                   )} AS cm
            FROM fme m JOIN seed_rel s USING (cent_id)
        ),
        picked AS (
            SELECT vec_id, cent_id,
                   max(struct_pack(c := cm, ns := -sub_id,
                                   sv := seed_vec)) AS b
            FROM scored GROUP BY vec_id, cent_id
        )
        SELECT vec_id, cent_id,
               CAST(-(b.ns) AS BIGINT) AS sub_id,
               b.sv AS seed_vec_id,
               b.c AS cos_to_seed_micro,
               TRUE AS is_split
        FROM picked
        UNION ALL
        SELECT a.vec_id, a.cent_id, CAST(0 AS BIGINT), a.cent_id,
               a.cos_micro, FALSE
        FROM assigned a LEFT JOIN flagged f USING (cent_id)
        WHERE f.cent_id IS NULL
        ORDER BY vec_id
    """,
    phase="P4",
    tags=("similarity", "ann", "ivf", "incremental", "apply"),
)
def sim_ann_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF rebalance APPLY step — consumes sim_ann_ivf_incremental's
    verdict the way etl_cdc_apply consumes a CDC plan: every inverted
    list the 20% growth fence flagged is SPLIT by a deterministic
    one-step 2-means over its members, and the member-grain
    reassignment table is emitted (vec_id → (old list, sub-list, new
    seed vector, cosine to seed)). The distinct (cent_id, sub_id,
    seed_vec_id) rows ARE the new centroid table; unflagged lists pass
    through with their original centroid and assignment cosine, so the
    output is the complete post-rebalance index state.

    Deterministic split (no RNG, no iteration — exact twin on both
    engines): the two seeds of a flagged list are its most-central
    member (max assigned cosine, ties → min vec_id) and its most-
    peripheral member (min assigned cosine, ties → min vec_id) — the
    drifted tail that caused the flag. Each member joins the seed it
    is closer to; cosines micro-quantize at (member, seed) grain
    BEFORE the argmax and ties break toward sub 0, so IEEE noise can
    never flip a membership (the house argmax-on-quantized rule).

    Plan: one corpus scan feeds the broadcast-centroid assignment
    argmax (the ``top_k`` plan: a map-side top-1 below the exchange);
    the assignment is eagerly checkpointed and then read exactly
    twice.
    Read 1 is ONE cent_id-grain aggregate that fuses the growth fence
    (conditional counts) with seed SELECTION AND LOOKUP — the hi/lo
    argmax structs carry the seed's embedding and norm as trailing
    struct fields, so no join-back into the corpus is needed for seed
    vectors. Read 2 is ONE unified pass: left-join the assignment with
    the broadcast 2K-row seed relation; flagged members meet their 2
    seeds map-side and argmax per (vec, list), unflagged rows pass
    through the same grouping as their own single-row argmax. At
    100 TB the pass-through leg is metadata (you would not rewrite
    unflagged lists); it is materialized here so the oracle can verify
    the complete index state."""
    ne = _ivf_delta_normed(spark, sf_dir)
    cent = probe_side(ne, F.col("vec_id") < IVF_NLIST, "cent_id", "c")
    cols = ("vec_id", "embedding", "nrm", "is_delta")
    assigned = (
        nearest_centroid(ne, cent, "cos", *cols)
        .select(*cols, "cent_id", micro(F.col("cos")).alias("cos_micro"))
        .localCheckpoint(eager=True)
    )
    stats = (
        assigned.groupBy("cent_id")
        .agg(
            F.count(F.when(F.col("is_delta"), F.lit(1))).alias("n_delta"),
            F.count(F.when(~F.col("is_delta"), F.lit(1))).alias("n_base"),
            # seed argmax structs CARRY the seed vectors: the struct
            # comparison only ever reaches (c, nv)/(c, v) — vec_id is
            # unique — so the trailing embedding/norm fields ride along
            # for free and remove the corpus join-back for seed lookup
            F.max(
                F.struct(
                    F.col("cos_micro").alias("c"),
                    (-F.col("vec_id")).alias("nv"),
                    F.col("embedding").alias("e"),
                    F.col("nrm").alias("m"),
                )
            ).alias("hi"),
            F.min(
                F.struct(
                    F.col("cos_micro").alias("c"),
                    F.col("vec_id").alias("v"),
                    F.col("embedding").alias("e"),
                    F.col("nrm").alias("m"),
                )
            ).alias("lo"),
        )
        .filter(F.lit(5) * F.col("n_delta") > F.col("n_base"))
    )
    seed_rel = F.broadcast(
        stats.select(
            "cent_id",
            F.lit(0).cast("bigint").alias("sub_id"),
            (-F.col("hi.nv")).alias("seed_vec"),
            F.col("hi.e").alias("se"),
            F.col("hi.m").alias("snrm"),
        ).unionAll(
            stats.select(
                "cent_id",
                F.lit(1).cast("bigint").alias("sub_id"),
                F.col("lo.v").alias("seed_vec"),
                F.col("lo.e").alias("se"),
                F.col("lo.m").alias("snrm"),
            )
        )
    )
    j = assigned.join(seed_rel, "cent_id", "left")
    cm = F.when(F.col("se").isNull(), F.col("cos_micro")).otherwise(
        micro(cos_nrm("embedding", "se", "nrm", "snrm"))
    )
    rows = j.select(
        "vec_id",
        "cent_id",
        F.col("se").isNotNull().alias("is_split"),
        cm.alias("cm"),
        F.coalesce(-F.col("sub_id"), F.lit(0).cast("bigint")).alias("ns"),
        F.coalesce(F.col("seed_vec"), F.col("cent_id")).alias("sv"),
    )
    picked = rows.groupBy("vec_id", "cent_id").agg(
        F.max(
            F.struct(
                F.col("cm").alias("c"),
                F.col("ns").alias("ns"),
                F.col("sv").alias("sv"),
            )
        ).alias("b"),
        F.max("is_split").alias("is_split"),
    )
    return picked.select(
        "vec_id",
        "cent_id",
        (-F.col("b.ns")).cast("bigint").alias("sub_id"),
        F.col("b.sv").alias("seed_vec_id"),
        F.col("b.c").alias("cos_to_seed_micro"),
        F.col("is_split"),
    ).orderBy("vec_id")


# --- reciprocal-rank + Matryoshka truncation audits ------------------------

_MRR_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel,
                 embedding AS qe, nrm AS qnrm
          FROM e WHERE vec_id < 20),
    ranked AS (
        SELECT query_id,
               CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe',
                             'e.nrm', 'q.qnrm')} DESC, e.vec_id
               ) AS rn
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    topk AS (SELECT query_id, rel, rn FROM ranked WHERE rn <= 10)
    SELECT query_id,
           CAST(sum(rel) AS BIGINT) AS n_rel_at_10,
           CAST(min(CASE WHEN rel = 1 THEN rn END) AS BIGINT)
               AS first_hit_rank,
           CAST(floor(1000000.0
                / min(CASE WHEN rel = 1 THEN rn END) + 0.5) AS BIGINT)
               AS rr_micro
    FROM topk
    GROUP BY query_id
    ORDER BY query_id
"""


@query(
    "eval_mrr_at_k",
    oracle=_MRR_ORACLE,
    phase="P4",
    tags=("evaluation", "similarity", "ranking"),
)
def eval_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank @10 over the 20-query retrieval set (relevant =
    same label): the rank of the FIRST relevant hit per query and its
    reciprocal — the metric that matters when the consumer reads only
    one result (RAG context slot 1, dedup canonical pick). Completes
    the ranking-eval family: MAP averages all hit positions,
    NDCG discounts them, MRR keeps only the first.

    Exactness: ranking uses the house (cosine desc, vec_id) tiebreak;
    first_hit_rank is an exact integer min; the reciprocal quantizes
    one spelled division (1e6/rank); queries with no hit in 10 emit
    NULLs, never 0.

    Plan: identical shape to eval_map_at_k — corpus × 20 broadcast
    queries in the ``top_k`` plan, 200-row grain after the rank
    filter."""
    topk = top_k(_eval_pairs(spark, sf_dir)[1], "query_id", "cosine", "vec_id", 10)
    return (
        topk.groupBy("query_id")
        .agg(
            F.sum("rel").cast("bigint").alias("n_rel_at_10"),
            F.min(F.when(F.col("rel") == 1, F.col("rn")))
            .cast("bigint")
            .alias("first_hit_rank"),
        )
        .select(
            "query_id",
            "n_rel_at_10",
            "first_hit_rank",
            F.floor(
                F.lit(1000000.0) / F.col("first_hit_rank") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("rr_micro"),
        )
        .orderBy("query_id")
    )


MRL_PREFIX_DIMS = 16  # truncation point: the first 16 of 64 dims

_DUCK_DOT_PRE = (
    f"list_sum(list_transform(range(1, {MRL_PREFIX_DIMS + 1}), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)

_MRL_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')})
                   AS nrm,
               sqrt({_DUCK_DOT_PRE.format(a='embedding', b='embedding')})
                   AS pnrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
                 nrm AS qnrm, pnrm AS qpnrm
          FROM e WHERE vec_id < 20),
    ranked AS (
        SELECT query_id,
               CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe',
                             'e.nrm', 'q.qnrm')} DESC, e.vec_id
               ) AS rn_full,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY ({_DUCK_DOT_PRE.format(a='e.embedding',
                              b='q.qe')} / (e.pnrm * q.qpnrm))
                            DESC, e.vec_id
               ) AS rn_pre
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    hits AS (
        SELECT query_id,
               CAST(sum(CASE WHEN rn_full <= 10 AND rn_pre <= 10
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
               CAST(sum(CASE WHEN rn_full <= 10 THEN rel ELSE 0 END)
                    AS BIGINT) AS n_rel_full,
               CAST(sum(CASE WHEN rn_pre <= 10 THEN rel ELSE 0 END)
                    AS BIGINT) AS n_rel_prefix
        FROM ranked
        WHERE rn_full <= 10 OR rn_pre <= 10
        GROUP BY query_id
    )
    SELECT query_id, n_overlap,
           CAST(floor(CAST(n_overlap AS DOUBLE) / (20 - n_overlap)
                * 1000000.0 + 0.5) AS BIGINT) AS jaccard_micro,
           n_rel_full, n_rel_prefix
    FROM hits
    ORDER BY query_id
"""


@query(
    "emb_mrl_truncation_audit",
    oracle=_MRL_ORACLE,
    phase="P4",
    tags=("similarity", "embedding", "evaluation"),
)
def emb_mrl_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: how much retrieval quality survives
    when the index stores only the FIRST 16 of 64 embedding dims (the
    MRL deployment move — 4× smaller index, coarse-to-fine serving)?
    Per query of the house 20-query probe set: top-10 overlap between
    the full-dim and prefix-dim rankings, its Jaccard, and same-label
    hit counts under each ranking — the table that decides whether the
    truncated index needs a full-dim rescore pass.

    Exactness: two independent rankings over the SAME cross-join, each
    with the house (cosine desc, vec_id) tiebreak; prefix cosine uses
    an in-order 16-dim fold (an exact prefix of the 64-dim fold's
    operand order, twinned in SQL via range(1,17)); all outputs are
    exact integers except the one spelled Jaccard division
    (overlap / (20 − overlap), denominators ≥ 10 > 0 always).

    Plan: ONE corpus × 20-broadcast-queries pass computes both
    cosines; the two row_numbers share the query_id partitioning (one
    exchange, two sorts); everything after the rank filter is
    ≤400-row grain."""

    def pre(c: str) -> Column:
        return F.slice(c, 1, MRL_PREFIX_DIMS)

    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id", "label")
    ne = ne.withColumn("pnrm", F.sqrt(dot(pre("embedding"), pre("embedding"))))
    q = probe_side(ne, F.col("vec_id") < 20, "query_id", "q", "label", "pnrm")
    ranked = (
        ne.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            (F.col("label") == F.col("qlabel")).cast("int").alias("rel"),
            "vec_id",
            cos_nrm("embedding", "qe", "nrm", "qnrm").alias("cos_full"),
            cos_nrm(pre("embedding"), pre("qe"), "pnrm", "qpnrm").alias("cos_pre"),
        )
        .withColumn("rn_full", house_rank("query_id", "cos_full", "vec_id"))
        .withColumn("rn_pre", house_rank("query_id", "cos_pre", "vec_id"))
        .filter((F.col("rn_full") <= 10) | (F.col("rn_pre") <= 10))
    )
    hits = ranked.groupBy("query_id").agg(
        F.sum(
            F.when((F.col("rn_full") <= 10) & (F.col("rn_pre") <= 10), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_overlap"),
        F.sum(F.when(F.col("rn_full") <= 10, F.col("rel")).otherwise(0))
        .cast("bigint")
        .alias("n_rel_full"),
        F.sum(F.when(F.col("rn_pre") <= 10, F.col("rel")).otherwise(0))
        .cast("bigint")
        .alias("n_rel_prefix"),
    )
    return hits.select(
        "query_id",
        "n_overlap",
        micro(
            F.col("n_overlap").cast("double")
            / (F.lit(20) - F.col("n_overlap"))
        ).alias("jaccard_micro"),
        "n_rel_full",
        "n_rel_prefix",
    ).orderBy("query_id")


# --- binary (sign-bit) embedding quantization audit ------------------------

# bit d's place value; bit 63 spelled (-max-1) because DuckDB errors on
# 1<<63 overflow (the dedup_simhash pack trick)
_BQ_BIT_SQL = [
    (
        f"(CAST(1 AS BIGINT) << {d})"
        if d < 63
        else "(-9223372036854775807 - 1)"
    )
    for d in range(64)
]

_BQ_SIG_SQL = "list_sum(list_transform(embedding, (x, i) -> CASE " + " ".join(
    f"WHEN i = {d + 1} AND CAST(x AS DOUBLE) > 0 THEN {_BQ_BIT_SQL[d]}"
    for d in range(64)
) + " ELSE CAST(0 AS BIGINT) END))"

_BQ_NPOS_SQL = ",\n               ".join(
    f"sum((sig >> {d}) & 1) AS p{d}" for d in range(64)
)
_BQ_MAJ_SQL = "\n                 + ".join(
    f"(CASE WHEN 2 * p{d} > n THEN {_BQ_BIT_SQL[d]} ELSE 0 END)"
    for d in range(64)
)
_BQ_HAM_SQL = "\n                 + ".join(
    f"(CASE WHEN 2 * p{d} > n THEN n - p{d} ELSE p{d} END)"
    for d in range(64)
)


@query(
    "emb_quantize_binary",
    oracle=f"""
        WITH sigs AS (
            SELECT vec_id, label,
                   CAST({_BQ_SIG_SQL} AS BIGINT) AS sig
            FROM embeddings
        ),
        g AS (
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT sig) AS BIGINT) AS n_distinct_sigs,
                   {_BQ_NPOS_SQL}
            FROM sigs GROUP BY label
        )
        SELECT label,
               n AS n_vecs,
               n_distinct_sigs,
               CAST({_BQ_MAJ_SQL} AS BIGINT) AS majority_sig,
               CAST({_BQ_HAM_SQL} AS BIGINT) AS total_hamming,
               CAST(floor(CAST({_BQ_HAM_SQL} AS DOUBLE) / n
                    * 1000000.0 + 0.5) AS BIGINT) AS mean_hamming_micro
        FROM g
        ORDER BY label
    """,
    phase="P4",
    tags=("similarity", "embedding", "quantization"),
)
def emb_quantize_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) embedding quantization audit — the 32×
    compression step below even emb_quantize_int8 (64 floats → one
    64-bit word, hamming distance ≈ angular distance): per-vector
    sign signature packed to a BIGINT, then per label the signature
    diversity (distinct codes), the label's MAJORITY-sign code (its
    binary centroid; per-dim vote with ties → 0), and the mean hamming
    distance of members to that code — the distortion number that
    decides whether a hamming pre-filter can front the full-precision
    rescore.

    Exactness: sign bits compare one exact double (> 0) per dim; the
    pack is a sum of distinct powers of two (bit 63 spelled −max−1 —
    DuckDB errors on 1<<63); per-dim positive counts are recovered
    from the PACKED signatures ((sig >> d) & 1 — arithmetic shift
    sign-extends identically in both engines, the &1 masks it); the
    majority vote, hamming total (maj ? n−p : p summed over dims),
    and the one spelled mean division are pure integer forms.

    Plan: one corpus scan packs signatures map-side (no explode — the
    64-term conditional sum is one projection); the label-grain agg is
    combinable (count + distinct + 32 packed bit-sum words); majority
    and hamming derive from the K-row aggregate, NOT from a second
    corpus pass — the no-cross-branch-CSE rule.

    Build cost: the expressions are SQL STRINGS (one F.expr parse
    each), because the Column-algebra form makes ~1,500 py4j round
    trips (64 whens for the pack + 66 agg columns + 128 conditional
    terms for maj/ham) and its driver-side construction, not Catalyst
    or execution, dominates the wall. The 64 per-bit counters pack
    2-per-BIGINT in 32-bit fields (the dedup_simhash recipe — safe to
    2^31 vectors per label, guarded below, and it halves the
    partial-agg shuffle width at scale)."""
    e = load(spark, sf_dir, "embeddings")

    def bv(d: int) -> str:
        # bit 63 spelled −max−1: both SQL parsers reject 1<<63
        return str(1 << d) if d < 63 else "(-9223372036854775807 - 1)"

    sig_sql = " + ".join(
        f"IF(CAST(element_at(embedding, {d + 1}) AS DOUBLE) > 0, "
        f"CAST({bv(d)} AS BIGINT), CAST(0 AS BIGINT))"
        for d in range(64)
    )
    sigs = e.select("vec_id", "label", F.expr(sig_sql).alias("sig"))
    word_exprs = [
        F.expr(
            f"sum((shiftright(sig, {2 * wd}) & 1) + "
            f"shiftleft(shiftright(sig, {2 * wd + 1}) & 1, 32))"
        ).alias(f"w{wd}")
        for wd in range(32)
    ]
    g = sigs.groupBy("label").agg(
        F.expr("CAST(count(1) AS BIGINT)").alias("n"),
        F.expr("CAST(count(DISTINCT sig) AS BIGINT)").alias(
            "n_distinct_sigs"
        ),
        *word_exprs,
    )

    def p(d: int) -> str:
        # unpack bit-d's count from its 32-bit field
        return f"(shiftright(w{d // 2}, {(d % 2) * 32}) & 4294967295)"

    maj_sql = " + ".join(
        f"IF(2 * {p(d)} > n, CAST({bv(d)} AS BIGINT), CAST(0 AS BIGINT))"
        for d in range(64)
    )
    ham_sql = " + ".join(
        f"IF(2 * {p(d)} > n, n - {p(d)}, {p(d)})" for d in range(64)
    )
    return g.select(
        "label",
        F.col("n").alias("n_vecs"),
        "n_distinct_sigs",
        # Packed-field overflow guard: a label with
        # >= 2^31 vectors would overflow a 32-bit lo field into its hi
        # neighbour and unpack wrong with NO error — surface it as a
        # hard failure (one per-group comparison; null→0 good path).
        F.expr(
            f"CAST({maj_sql} AS BIGINT) + coalesce(CAST(assert_true("
            "n < 2147483648, 'emb_quantize_binary: packed counter "
            "overflow (n >= 2^31)') AS BIGINT), CAST(0 AS BIGINT))"
        ).alias("majority_sig"),
        F.expr(f"CAST({ham_sql} AS BIGINT)").alias("total_hamming"),
        F.expr(
            f"CAST(floor(CAST({ham_sql} AS DOUBLE) / n * 1000000.0 + 0.5)"
            " AS BIGINT)"
        ).alias("mean_hamming_micro"),
    ).orderBy("label")


# --- IVF nprobe tuning sweep ------------------------------------------------

NPROBE_SWEEP_MAX = 5  # sweep nprobe = 1..5 of the 10 coarse lists


@query(
    "sim_ivf_nprobe_sweep",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({_DUCK_DOT.format(a='embedding', b='embedding')})
                       AS nrm
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS cent_id, embedding AS ce, nrm AS cnrm
            FROM e WHERE vec_id < {IVF_NLIST}
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm
              FROM e WHERE vec_id < 20),
        assigned AS (
            SELECT vec_id, embedding, nrm, cent_id FROM (
                SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_duck_cos_nrm('e.embedding', 'c.ce',
                                     'e.nrm', 'c.cnrm')} DESC, c.cent_id
                       ) AS rn
                FROM e CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, cent_id, pr FROM (
                SELECT q.query_id, c.cent_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_duck_cos_nrm('c.ce', 'q.qe',
                                     'c.cnrm', 'q.qnrm')} DESC, c.cent_id
                       ) AS pr
                FROM cent c CROSS JOIN q
            ) WHERE pr <= {NPROBE_SWEEP_MAX}
        ),
        cand AS (
            SELECT p.query_id, a.vec_id, p.pr,
                   {_duck_cos_nrm('a.embedding', 'q.qe',
                                  'a.nrm', 'q.qnrm')} AS cosine
            FROM assigned a
            JOIN probes p ON a.cent_id = p.cent_id
            JOIN q ON q.query_id = p.query_id
            WHERE a.vec_id <> p.query_id
        ),
        swept AS (
            SELECT unnest(range(pr, {NPROBE_SWEEP_MAX + 1})) AS nprobe,
                   query_id, vec_id, cosine
            FROM cand
        ),
        topk AS (
            SELECT nprobe, query_id, vec_id FROM (
                SELECT nprobe, query_id, vec_id,
                       row_number() OVER (
                           PARTITION BY nprobe, query_id
                           ORDER BY cosine DESC, vec_id
                       ) AS rn
                FROM swept
            ) WHERE rn <= 10
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, e.vec_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe',
                                     'e.nrm', 'q.qnrm')} DESC, e.vec_id
                       ) AS rn
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            ) WHERE rn <= 10
        )
        SELECT t.nprobe,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(floor(CAST(count(*) AS DOUBLE) / (20 * 10)
                    * 1000000.0 + 0.5) AS BIGINT) AS mean_recall_micro
        FROM topk t JOIN exact x
          ON x.query_id = t.query_id AND x.vec_id = t.vec_id
        GROUP BY t.nprobe
        ORDER BY t.nprobe
    """,
    phase="P4",
    tags=("similarity", "ann", "ivf", "tuning"),
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe tuning curve: mean recall@10 over the 20-query
    probe set at every nprobe in 1..5 — the curve that PICKS the IVF
    operating point (where does another probed list stop buying
    recall?), the ANN sibling of sim_threshold_sweep /
    quality_threshold_sweep. sim_ivf_recall_audit grades the SHIPPED
    nprobe; this sweeps the knob.

    Exactness: one candidate relation carries each (query, vector)
    with the PROBE RANK ``rn`` of its list (``pr`` in the oracle);
    candidacy at nprobe p is simply rn ≤ p, so the sweep explodes each
    candidate into the nprobe values it serves (sequence(rn, 5) — ≤5×
    a bounded relation) and
    re-ranks per (nprobe, query) with the house tiebreaks. Counts are
    exact integers; the one recall division is spelled once.

    Plan: assignment + probe + rescore run ONCE (broadcast centroids
    and queries, map-side argmax as in ``top_k``); only the 20-query
    candidate set — not the corpus — is exploded 5×; exact top-10 is
    the same single brute-force pass the audit pays. At 100 TB the sweep costs the
    same one scan as the audit."""
    ne = normed(load(spark, sf_dir, "embeddings"), "vec_id")
    cent = probe_side(ne, F.col("vec_id") < IVF_NLIST, "cent_id", "c")
    q = probe_side(ne, F.col("vec_id") < 20, "query_id", "q")
    assigned = nearest_centroid(ne, cent, "cos_c", "vec_id", "embedding", "nrm").select(
        "vec_id", "embedding", "nrm", "cent_id"
    )
    cos_q = cos_nrm("ce", "qe", "cnrm", "qnrm").alias("cos_q")
    probes = F.broadcast(
        top_k(
            cent.crossJoin(q).select("query_id", "cent_id", cos_q),
            "query_id", "cos_q", "cent_id", NPROBE_SWEEP_MAX,
        ).select("query_id", "cent_id", "rn")
    )
    rescore = cos_nrm("embedding", "qe", "nrm", "qnrm").alias("cosine")
    cand = (
        assigned.join(probes, "cent_id")
        .join(q, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "rn", rescore)
    )
    swept = cand.select(
        F.explode(
            F.sequence(F.col("rn"), F.lit(NPROBE_SWEEP_MAX))
        ).alias("nprobe"),
        "query_id",
        "vec_id",
        "cosine",
    )
    topk = top_k(swept, ["nprobe", "query_id"], "cosine", "vec_id", 10).select(
        "nprobe", "query_id", "vec_id"
    )
    exact = top_k(
        probe_pairs(ne, q, "vec_id"), "query_id", "cosine", "vec_id", 10
    ).select(F.col("query_id").alias("xq"), F.col("vec_id").alias("xv"))
    return (
        topk.join(
            exact,
            (F.col("query_id") == F.col("xq"))
            & (F.col("vec_id") == F.col("xv")),
        )
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .select(
            F.col("nprobe").cast("bigint").alias("nprobe"),
            "n_hits",
            micro(F.col("n_hits").cast("double") / F.lit(200.0))
            .alias("mean_recall_micro"),
        )
        .orderBy("nprobe")
    )


_PRK_KS = (1, 5, 10)

_PRK_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel,
                 embedding AS qe, nrm AS qnrm
          FROM e WHERE vec_id < 20),
    lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY label),
    ranked AS (
        SELECT query_id, qlabel,
               CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_duck_cos_nrm('e.embedding', 'q.qe',
                             'e.nrm', 'q.qnrm')} DESC, e.vec_id
               ) AS rn
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _PRK_KS)}]) AS k),
    terms AS (
        SELECT r.query_id, r.qlabel, ks.k,
               CAST(sum(r.rel) AS BIGINT) AS hits
        FROM ranked r CROSS JOIN ks
        WHERE r.rn <= ks.k
        GROUP BY r.query_id, r.qlabel, ks.k
    )
    SELECT t.query_id,
           CAST(t.k AS BIGINT) AS k,
           t.hits,
           CAST(lc.n - 1 AS BIGINT) AS n_rel_total,
           CAST(floor(CAST(t.hits AS DOUBLE) / t.k * 1000000.0 + 0.5)
                AS BIGINT) AS precision_micro,
           CASE WHEN lc.n - 1 > 0 THEN
               CAST(floor(CAST(t.hits AS DOUBLE) / (lc.n - 1)
                    * 1000000.0 + 0.5) AS BIGINT)
           END AS recall_micro,
           CASE WHEN lc.n - 1 > 0 THEN
               CAST(floor(2.0 * t.hits / (t.k + lc.n - 1)
                    * 1000000.0 + 0.5) AS BIGINT)
           END AS f1_micro
    FROM terms t JOIN lc ON lc.label = t.qlabel
    ORDER BY t.query_id, t.k
"""


@query(
    "eval_precision_recall_at_k",
    oracle=_PRK_ORACLE,
    phase="P4",
    tags=("evaluation", "similarity", "ranking"),
)
def eval_precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at k ∈ {1, 5, 10} over the same 20-query
    retrieval set as ``eval_map_at_k`` (relevant = same label) — the
    cutoff-level diagnostic MAP averages away: precision@1 is "is the
    FIRST hit right", recall@10 is "how much of the relevant set a
    10-result page surfaces". A retrieval pipeline tunes its k against
    exactly this table.

    Exactness: hits and the relevant-set size are exact BIGINTs;
    precision = hits/k and recall = hits/(n−1) are each ONE spelled
    division micro-quantized; F1 collapses algebraically to
    2·hits/(k + n−1) — a single exact-integer division, so no
    float-of-float composition ever happens. Zero-relevant queries
    yield NULL recall/F1 (not 0/0), matching the MAP convention.

    Plan: the ranked top-10 relation is the eval_map_at_k plan
    verbatim (corpus × 20 broadcast queries, the ``top_k`` plan);
    the k-sweep is a 3-row broadcast cross join AT 200-ROW
    GRAIN (after the rn ≤ 10 filter), so the sweep itself is free.
    Everything downstream of the top-k filter is ≤600 rows regardless
    of corpus size."""
    ne, pairs = _eval_pairs(spark, sf_dir, "qlabel")
    lc = F.broadcast(
        ne.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ranked = top_k(pairs, "query_id", "cosine", "vec_id", max(_PRK_KS))
    ks = F.broadcast(
        spark.range(1).select(
            F.explode(F.array(*[F.lit(k) for k in _PRK_KS])).alias("k")
        )
    )
    terms = (
        ranked.crossJoin(ks)
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("query_id", "qlabel", "k")
        .agg(F.sum("rel").cast("bigint").alias("hits"))
    )
    nrel = (F.col("n") - 1).cast("bigint")
    return (
        terms.join(lc, terms.qlabel == lc.label)
        .select(
            "query_id",
            F.col("k").cast("bigint").alias("k"),
            "hits",
            nrel.alias("n_rel_total"),
            micro(F.col("hits").cast("double") / F.col("k"))
            .alias("precision_micro"),
            F.when(
                nrel > 0,
                micro(F.col("hits").cast("double") / nrel),
            ).alias("recall_micro"),
            F.when(
                nrel > 0,
                micro(F.lit(2.0) * F.col("hits") / (F.col("k") + nrel)),
            ).alias("f1_micro"),
        )
        .orderBy("query_id", "k")
    )


@query(
    "eval_delong_auc",
    oracle="""
        WITH scored AS (
            SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0
                              + 0.5) AS BIGINT) AS s,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), grp AS (
            SELECT s,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(pos) AS BIGINT) AS nps
            FROM scored GROUP BY s
        ), cum AS (
            SELECT s, cnt, nps, cnt - nps AS nns,
                   CAST(sum(cnt - nps) OVER (ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cneg,
                   CAST(sum(nps) OVER (ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
            FROM grp
        ), tot AS (
            SELECT CAST(sum(nps) AS BIGINT) AS n_pos,
                   CAST(sum(nns) AS BIGINT) AS n_neg
            FROM cum
        ), placed AS (
            SELECT CAST(sum(nps * (2 * (cneg - nns) + nns)) AS BIGINT)
                       AS sum_p2,
                   CAST(sum(nps * (2 * (cneg - nns) + nns)
                            * (2 * (cneg - nns) + nns)) AS BIGINT)
                       AS sum_p2sq,
                   CAST(sum(nns * (2 * (t.n_pos - cpos) + nps)) AS BIGINT)
                       AS sum_q2,
                   CAST(sum(nns * (2 * (t.n_pos - cpos) + nps)
                            * (2 * (t.n_pos - cpos) + nps)) AS BIGINT)
                       AS sum_q2sq
            FROM cum CROSS JOIN tot t
        )
        SELECT t.n_pos, t.n_neg, p.sum_p2, p.sum_p2sq, p.sum_q2, p.sum_q2sq,
               CAST(floor(CAST(p.sum_p2 AS DOUBLE)
                    / (2.0 * t.n_neg * t.n_pos) * 1000000.0 + 0.5)
                    AS BIGINT) AS auc_micro,
               CAST(floor(
                   (CAST(p.sum_p2sq AS DOUBLE) / (4.0 * t.n_neg * t.n_neg)
                    - t.n_pos * (CAST(p.sum_p2 AS DOUBLE)
                                 / (2.0 * t.n_neg * t.n_pos))
                              * (CAST(p.sum_p2 AS DOUBLE)
                                 / (2.0 * t.n_neg * t.n_pos)))
                   / (t.n_pos - 1) * 1000000000.0 + 0.5) AS BIGINT)
                   AS v10_nano,
               CAST(floor(
                   (CAST(p.sum_q2sq AS DOUBLE) / (4.0 * t.n_pos * t.n_pos)
                    - t.n_neg * (CAST(p.sum_q2 AS DOUBLE)
                                 / (2.0 * t.n_pos * t.n_neg))
                              * (CAST(p.sum_q2 AS DOUBLE)
                                 / (2.0 * t.n_pos * t.n_neg)))
                   / (t.n_neg - 1) * 1000000000.0 + 0.5) AS BIGINT)
                   AS v01_nano,
               CAST(floor(sqrt(
                   (CAST(p.sum_p2sq AS DOUBLE) / (4.0 * t.n_neg * t.n_neg)
                    - t.n_pos * (CAST(p.sum_p2 AS DOUBLE)
                                 / (2.0 * t.n_neg * t.n_pos))
                              * (CAST(p.sum_p2 AS DOUBLE)
                                 / (2.0 * t.n_neg * t.n_pos)))
                   / (t.n_pos - 1) / t.n_pos
                   + (CAST(p.sum_q2sq AS DOUBLE) / (4.0 * t.n_pos * t.n_pos)
                      - t.n_neg * (CAST(p.sum_q2 AS DOUBLE)
                                   / (2.0 * t.n_pos * t.n_neg))
                                * (CAST(p.sum_q2 AS DOUBLE)
                                   / (2.0 * t.n_pos * t.n_neg)))
                     / (t.n_neg - 1) / t.n_neg
                   ) * 1000000000.0 + 0.5) AS BIGINT) AS se_nano
        FROM tot t CROSS JOIN placed p
    """,
    phase="P4",
    tags=("similarity", "evaluation", "auc"),
)
def eval_delong_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong variance for the ROC-AUC of ``eval_auc_rank``'s scorer —
    the number that turns a point AUC into a confidence statement
    (auc ± 1.96·se) and the prerequisite for comparing two models'
    AUCs at all. Ships the structural-component sums as exact BIGINTs
    beside the micro/nano-rounded estimates.

    Method: tie-aware placements. For a positive at distinct score s,
    V10 = (#neg below + ½·#neg tied)/n_neg; DeLong's S10 is the sample
    variance of V10 over positives (S01 symmetric over negatives);
    SE² = S10/n_pos + S01/n_neg. Everything doubles into integers:
    p2 = 2·neg_below + neg_tied per score group, so Σp2 and Σp2² are
    exact BIGINT sums at DISTINCT-SCORE grain (p2 ≤ 2n, p2²·cnt stays
    far under 2^63 through sf10), and the float path is a fixed spelled
    expression over five exact integers — identical IEEE on both
    engines, no ordering sensitivity anywhere. mean(V10) = mean(V01) =
    AUC (the Mann-Whitney identity), so the variance centering reuses
    the AUC expression verbatim.

    Plan: identical to eval_auc_rank — one combinable distinct-score
    aggregate, one running window at reduced grain, a 1-row reduce.
    The variance costs nothing extra at any corpus size."""
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        micro(F.element_at("embedding", 1).cast("double")).alias("s"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("nps"),
    )
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "s",
        "cnt",
        "nps",
        (F.col("cnt") - F.col("nps")).alias("nns"),
        F.sum(F.col("cnt") - F.col("nps")).over(w).cast("bigint").alias("cneg"),
        F.sum("nps").over(w).cast("bigint").alias("cpos"),
    )
    tot = cum.agg(
        F.sum("nps").cast("bigint").alias("n_pos"),
        F.sum("nns").cast("bigint").alias("n_neg"),
    )
    p2 = 2 * (F.col("cneg") - F.col("nns")) + F.col("nns")
    q2 = 2 * (F.col("n_pos") - F.col("cpos")) + F.col("nps")
    placed = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("nps") * p2).cast("bigint").alias("sum_p2"),
        F.sum(F.col("nps") * p2 * p2).cast("bigint").alias("sum_p2sq"),
        F.sum(F.col("nns") * q2).cast("bigint").alias("sum_q2"),
        F.sum(F.col("nns") * q2 * q2).cast("bigint").alias("sum_q2sq"),
    )
    npos, nneg = F.col("n_pos"), F.col("n_neg")
    auc_d = F.col("sum_p2").cast("double") / (F.lit(2.0) * nneg * npos)
    auc_q = F.col("sum_q2").cast("double") / (F.lit(2.0) * npos * nneg)
    v10 = (
        F.col("sum_p2sq").cast("double") / (F.lit(4.0) * nneg * nneg)
        - npos * auc_d * auc_d
    ) / (npos - 1)
    v01 = (
        F.col("sum_q2sq").cast("double") / (F.lit(4.0) * npos * npos)
        - nneg * auc_q * auc_q
    ) / (nneg - 1)
    return (
        tot.crossJoin(F.broadcast(placed))
        .select(
            "n_pos",
            "n_neg",
            "sum_p2",
            "sum_p2sq",
            "sum_q2",
            "sum_q2sq",
            micro(auc_d).alias("auc_micro"),
            F.floor(v10 * F.lit(1000000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("v10_nano"),
            F.floor(v01 * F.lit(1000000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("v01_nano"),
            F.floor(
                F.sqrt(v10 / npos + v01 / nneg) * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("se_nano"),
        )
    )


_TRIPLET_ORACLE = """
    WITH q AS (
        SELECT vec_id, label,
               unnest(list_transform(embedding, (x, i) -> i - 1))
                   AS dim_pos,
               unnest(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0
                                   + 0.5) AS BIGINT))) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, dim_pos,
               CAST(floor(CAST(sum(v) AS DOUBLE)
                    / count(DISTINCT vec_id)) AS BIGINT) AS c
        FROM q GROUP BY label, dim_pos
    ),
    dists AS (
        SELECT q.vec_id, q.label, cent.clabel,
               CAST(sum((q.v - cent.c) * (q.v - cent.c)) AS BIGINT)
                   AS dist
        FROM q JOIN cent USING (dim_pos)
        GROUP BY q.vec_id, q.label, cent.clabel
    ),
    per_vec AS (
        SELECT vec_id, label,
               CAST(min(CASE WHEN clabel = label THEN dist END)
                    AS BIGINT) AS own_dist,
               CAST(min(CASE WHEN clabel <> label THEN dist END)
                    AS BIGINT) AS other_dist
        FROM dists GROUP BY vec_id, label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(floor(CAST(sum(other_dist - own_dist) AS DOUBLE)
                / count(*)) AS BIGINT) AS mean_margin_unit,
           CAST(sum(CASE WHEN other_dist <= own_dist THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations,
           CAST(floor(CAST(sum(CASE WHEN other_dist <= own_dist
                            THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) * 1000000.0 + 0.5) AS BIGINT)
               AS violation_rate_micro
    FROM per_vec
    GROUP BY label
    ORDER BY label
"""


@query(
    "emb_triplet_margin_audit",
    oracle=_TRIPLET_ORACLE,
    phase="P4",
    tags=("similarity", "embedding", "evaluation"),
)
def emb_triplet_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid triplet margins — the metric-learning audit
    behind eval_topk_accuracy's hit rates: for every vector, the gap
    between its distance to the NEAREST FOREIGN centroid and to its
    OWN (positive margin = correctly clustered with room; ≤ 0 = the
    vector sits closer to another class). Mean margin says how much
    headroom a label has before augmentation noise or quantization
    (emb_quantize_int8/binary eat exactly this margin) starts flipping
    assignments — the top-1 accuracy says IF vectors flip, the margin
    says HOW CLOSE every vector is to flipping.

    Exactness: eval_topk_accuracy's arithmetic verbatim — quantized
    micro embeddings, floor-divided integer centroids, exact integer
    squared L2 — so margins are exact BIGINT differences and the only
    divisions are the two spelled per-label means.

    Plan: ONE (label, dim) combinable aggregate builds the K×64
    centroid relation (broadcasts at any scale); distances run at
    (vector × K) grain map-side; everything after the per-vec min
    pair is label-grain."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", micro).alias("qv"),
    )
    q = e.select(
        "vec_id", "label", F.posexplode("qv").alias("dim_pos", "v")
    )
    cent = q.groupBy(F.col("label").alias("clabel"), "dim_pos").agg(
        F.floor(
            F.sum("v").cast("double") / F.countDistinct("vec_id")
        )
        .cast("bigint")
        .alias("c")
    )
    dists = (
        q.join(F.broadcast(cent), "dim_pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
            )
            .cast("bigint")
            .alias("dist")
        )
    )
    per_vec = dists.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("dist")))
        .cast("bigint")
        .alias("own_dist"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist")))
        .cast("bigint")
        .alias("other_dist"),
    )
    viol = F.when(
        F.col("other_dist") <= F.col("own_dist"), 1
    ).otherwise(0)
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.floor(
                F.sum(F.col("other_dist") - F.col("own_dist"))
                .cast("double")
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("mean_margin_unit"),
            F.sum(viol).cast("bigint").alias("n_violations"),
            micro(F.sum(viol).cast("double") / F.count(F.lit(1)))
            .alias("violation_rate_micro"),
        )
        .orderBy("label")
    )


_LSH_MP_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ), proj AS (
        SELECT vec_id, label, embedding, nrm,
               {", ".join(f"{_lsh_code_sql(t)} AS c{t}" for t in range(N_TABLES))}
        FROM e
    ), q AS (
        SELECT embedding AS qe, nrm AS qnrm,
               {", ".join(f"c{t} AS qc{t}" for t in range(N_TABLES))}
        FROM proj WHERE vec_id = 0
    ), cand AS (
        SELECT p.vec_id, p.label,
               {_DUCK_DOT.format(a='p.embedding', b='q.qe')}
                   / (p.nrm * q.qnrm) AS cosine
        FROM proj p CROSS JOIN q
        WHERE p.vec_id <> 0
          AND ({" OR ".join(
              f"bit_count(CAST(xor(p.c{t}, q.qc{t}) AS BIGINT)) <= 1"
              for t in range(N_TABLES))})
    )
    SELECT vec_id, label, cosine,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates
    FROM cand
    ORDER BY cosine DESC, vec_id
    LIMIT 10
"""


@query(
    "sim_ann_lsh_multiprobe",
    oracle=_LSH_MP_ORACLE,
    phase="P4",
    tags=("similarity", "ann", "lsh"),
)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH top-10 for vector 0 — the recall lever that does
    NOT cost more tables: a vector is a candidate when its 4-bit code
    in ANY table is within Hamming distance 1 of the query's (exact
    bucket + the 4 single-bit-flip neighbor buckets), i.e. 5 probes
    per table instead of 1. The standard production trade — multiprobe
    buys the recall of ~5× the tables at the index size of 8 — made
    comparable here: same planes, same tables as sim_ann_lsh, with the
    candidate-set size shipped beside the top-10 so the recall/cost
    curve against the single-probe query is one diff.

    Exactness: identical hashing stage as sim_ann_lsh (shared
    _lsh_hashed — in-order per-dim folds, bit-identical sign
    decisions); the Hamming test is integer xor + bit_count on the
    4-bit codes; cosines are the house in-order fold.

    Scale shape: unchanged from sim_ann_lsh — the probe side is a
    1-row broadcast; candidates grow ~5× per table but stay a small
    corpus fraction; for batch probes explode the 5 probe codes per
    (table, query) and equi-join on (table, code) — multiprobe at
    scale is literally MORE join keys, not more index."""
    e = load(spark, sf_dir, "embeddings")
    hashed = _lsh_hashed(e)
    q = F.broadcast(
        hashed.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qe"),
            F.col("buckets").alias("qbuckets"),
        )
    )
    collide = F.exists(
        F.zip_with(
            "buckets",
            "qbuckets",
            lambda x, y: F.bit_count(x.bitwiseXOR(y)) <= 1,
        ),
        lambda v: v,
    )
    cand = (
        hashed.crossJoin(q)
        .filter((F.col("vec_id") != 0) & collide)
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qe")).alias("cosine"),
        )
    )
    w_all = Window.partitionBy()
    return (
        cand.select(
            "vec_id",
            "label",
            "cosine",
            F.count(F.lit(1)).over(w_all).cast("bigint").alias(
                "n_candidates"
            ),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )
