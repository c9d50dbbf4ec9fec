"""Deduplication operators over documents (SURVEY.md §2.10).

Scale design:
- ``dedup_exact``: hash-groupBy on md5(text) — one shuffle keyed on the
  digest, map-side partial agg; at 100 TB the shuffle carries one row
  per distinct digest, not per document.
- ``dedup_minhash``: MinHash + LSH banding. Candidate generation is
  band-bucket join (linear in docs × bands), never the naive O(n²)
  all-pairs compare; the exact-Jaccard confirmation only runs on
  bucket-collision candidates.
- ``dedup_simhash``: 64-bit SimHash from token hashes; near-dups share
  the same value on most bits — grouped here by exact signature, banded
  by 16-bit chunks for hamming-neighbor candidates in pytest.
- ``dedup_ngram_jaccard`` / ``dedup_embedding``: exact pairwise kernels
  over a blocking key, run as Arrow-batched ``applyInPandas`` groups
  (one vectorized matmul / fused-accumulate per block, fp-order matched
  to the oracle) — the sanctioned Python path for numeric kernels that
  interpreted higher-order functions run ~5-17× slower.
Hashing (minhash/simhash/exact) is md5-derived (JVM, codegen) — md5
exists in DuckDB too, which is what gives every dedup signature pipeline
here a full cross-engine value oracle (late r6; xxhash64 before).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import micro, splitmix64
from ..io import load
from ..registry import query

N_MINHASH = 32  # minhash signature length (est_jaccard uses all 32)
N_BANDS = 5  # LSH bands of ROWS_PER_BAND minhashes each
ROWS_PER_BAND = 6  # 5×6 = 30 of the 32 slots feed the banding
NEAR_DUP_THRESHOLD = 0.8  # training-data near-dup operating point
# Oversized-bucket guard for pair emission: a band bucket holding k docs
# emits k(k-1)/2 pairs — template clusters make that quadratic blowup
# the scale-killer of any pair-form LSH. Buckets larger than this cap
# switch to star topology (every doc pairs with the bucket's min doc):
# output becomes linear in k while the dup GRAPH stays connected, which
# is all the downstream connected-components stage needs.
MAX_PAIR_BUCKET = 16


def _tokens(col: str = "text"):
    """Distinct lowercase whitespace tokens (the doc's shingle set)."""
    return F.array_distinct(F.filter(F.split(F.lower(col), " "), lambda t: t != ""))


# --- cross-engine MinHash hash family (late r6) ---------------------------
# Token base hash: low 30 bits of the md5 hex prefix — md5 exists in BOTH
# engines, so the whole MinHash/LSH pipeline gains a full DuckDB value
# oracle (it was xxhash64 = Spark-only = rows-only before). Seeded
# permutations are universal-family arithmetic (a·h + b) mod P chosen so
# every intermediate stays below 2^61: DuckDB ERRORS on BIGINT overflow
# (Spark wraps silently), so the bound is a correctness requirement of
# the twin, not a style choice. h < 2^30, a,b < P = 2^31-1.
# Size guard for dedup_components' per-round nbr_min broadcast (r14,
# the graph_kcore finding): hint only while the previous round's
# MATERIALIZED labels checkpoint (which bounds nbr_min) is under this
# many bytes; at corpus scale the guard fails and the join stays
# AQE-driven.
_COMPONENTS_BCAST_MAX_BYTES = 64 << 20

_MH_P = 2147483647  # 2^31 - 1 (prime)
_MH_TOKEN_MOD = 1 << 30
_BAND_MULT = 1000003  # band-hash fold multiplier; P·mult < 2^52


_REHASH_A = [(splitmix64(2 * i) % (_MH_P - 1)) + 1 for i in range(N_MINHASH)]
_REHASH_B = [splitmix64(2 * i + 1) % _MH_P for i in range(N_MINHASH)]


_TOKEN_HASHES_SQL = (
    "list_transform(list_distinct(list_filter("
    "string_split(lower(text), ' '), t -> t <> '')), "
    "t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1073741824)"
)

# Spark-side SQL-string twins of the expression builders below. The
# signature pipeline is ~400 expression nodes wide; building it with
# Column algebra costs one py4j round trip PER NODE (~1.7 s of driver
# wall per invocation measured at r12 — the emb_quantize_binary lesson:
# driver-side Column construction is O(terms) JVM calls, invisible in
# .explain, found only by phase timing). The same trees built as SQL
# strings parse in ONE call per selectExpr/expr. Semantics are
# identical — these strings spell exactly the arithmetic the Column
# forms spelled (and the DuckDB twins mirror).
_TOKEN_HASHES_SPARK_SQL = (
    "transform(array_distinct(filter(split(lower(text), ' '), "
    "t -> t != '')), "
    "t -> cast(conv(substring(md5(cast(t as binary)), 1, 8), 16, 10) "
    f"as bigint) % {_MH_TOKEN_MOD})"
)


def _slot_spark_sql(i: int) -> str:
    """Spark twin of slot i: coalesce(min over rehashed tokens, 0).
    Operates on a pre-hashed `hs` column (each token string md5-hashed
    exactly ONCE in its own projection): inlining the tokenizer here
    would copy the split/lower/distinct tree into all k slots — the
    optimizer then carries a plan k× the text pipeline, measured 80×
    slower end-to-end on the LSH self-join at sf0.1. coalesce keeps
    the slot provably non-nullable — see the plan notes on
    dedup_minhash (nullable slots re-inline the token pipeline)."""
    return (
        f"coalesce(array_min(transform(hs, "
        f"h -> (h * {_REHASH_A[i]} + {_REHASH_B[i]}) % {_MH_P})), 0)"
    )


def _slot_sql(i: int) -> str:
    """DuckDB twin of slot i: coalesce(min over rehashed tokens, 0)."""
    return (
        f"coalesce(list_min(list_transform(hs, "
        f"h -> (h * {_REHASH_A[i]} + {_REHASH_B[i]}) % {_MH_P})), 0)"
    )


def _band_hash_sql(names) -> str:
    """Polynomial fold of band slots — overflow-safe, engine-neutral
    SQL shared by the Spark builders AND the DuckDB oracles."""
    acc = "CAST(0 AS BIGINT)"
    for n in names:
        acc = f"(({acc} * {_BAND_MULT} + {n}) % {_MH_P})"
    return acc


@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text)     AS text_hash,
               count(*)      AS n_copies,
               min(doc_id)   AS canonical_doc_id
        FROM documents
        GROUP BY md5(text)
        HAVING count(*) >= 1
    """,
    phase="P2",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups by content digest, keeping min doc_id."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_copies") >= 1)
    )


# Shared with dedup_lsh_recall_audit (the exact ground-truth side).
_NGRAM_JACCARD_ORACLE = """
        WITH tok AS (
            SELECT doc_id, source,
                   list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS toks
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        FROM tok a JOIN tok b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    """


@query(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    phase="P3",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (≥0.8) within a source.

    The source is the blocking key bounding the pair blowup; at scale
    the blocking key would be an LSH band (dedup_minhash) instead of a
    metadata column. Blocks are tiled via ``tile_pair_blocks`` so one
    kernel invocation never holds more than 2×MAX_PAIR_BLOCK_ROWS docs:
    a skewed source can't OOM the incidence matrix, and since jaccard of
    a pair depends only on the two docs (integer math, order-free), the
    tiled union is identical to the unchunked kernel.

    Each tile is one ``applyInPandas`` group: tokenize, build the
    doc×vocab 0/1 incidence matrix, and get ALL pairwise intersection
    sizes from one BLAS matmul. This is numerically EXACT — the matmul
    sums 0/1 products, and integer-valued float64 sums never round, so
    summation order is irrelevant (unlike the cosine kernels) — and the
    single int/int division matches the oracle's CAST(... AS DOUBLE) /
    division bit-for-bit. Replaces a per-pair array_intersect join that
    ran ~17× slower (12 s → 0.7 s at sf0.1): set intersection per pair
    is O(pairs × tokens) scalar work; the incidence matmul is one
    vectorized O(n²·vocab) kernel per block.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from .pair_blocks import owned_pair_mask, tile_pair_blocks

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tiled = tile_pair_blocks(d, ["source"], "doc_id")
    out_schema = StructType(
        [
            StructField("doc_a", LongType()),
            StructField("doc_b", LongType()),
            StructField("jaccard", DoubleType()),
        ]
    )

    def jac_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].to_numpy()
        ck = pdf["_ck"].to_numpy()
        ca, cb = int(pdf["_ca"].iloc[0]), int(pdf["_cb"].iloc[0])
        # same tokenization as _tokens(): split on single spaces, drop
        # empties, distinct, lowercase
        tok_sets = [{t for t in txt.lower().split(" ") if t} for txt in pdf["text"]]
        vocab: dict[str, int] = {}
        for s in tok_sets:
            for t in s:
                if t not in vocab:
                    vocab[t] = len(vocab)
        n = len(ids)
        M = np.zeros((n, len(vocab)))
        for r, s in enumerate(tok_sets):
            for t in s:
                M[r, vocab[t]] = 1.0
        inter = M @ M.T
        sz = M.sum(axis=1)
        union = sz[:, None] + sz[None, :] - inter
        jac = inter / union
        keep = (
            (jac >= 0.8)
            & (ids[:, None] < ids[None, :])
            & owned_pair_mask(ck, ca, cb)
        )
        ia, ib = np.where(keep)
        return pd.DataFrame(
            {"doc_a": ids[ia], "doc_b": ids[ib], "jaccard": jac[ia, ib]}
        )

    return tiled.groupBy("source", "_ca", "_cb").applyInPandas(jac_fn, out_schema)


# Shared CTE prefix of both MinHash oracles: doc → 32 slots → 5 band
# hashes → one (band_idx, band_hash) row per band. Generated from the
# SAME Python constants the Spark expressions use — one source of truth.
_MH_FLAT_SQL = f"""
        tok AS (
            SELECT doc_id, {_TOKEN_HASHES_SQL} AS hs FROM documents
        ), flat AS (
            SELECT doc_id,
                   {", ".join(f"{_slot_sql(i)} AS s{i}" for i in range(N_MINHASH))},
                   {", ".join(
                       _band_hash_sql([f"{_slot_sql(b * ROWS_PER_BAND + r)}"
                                       for r in range(ROWS_PER_BAND)])
                       + f" AS b{b}"
                       for b in range(N_BANDS)
                   )}
            FROM tok
        ), banded AS (
            SELECT f.*, u.band_idx,
                   CASE u.band_idx
                        {" ".join(f"WHEN {b} THEN b{b}" for b in range(N_BANDS))}
                   END AS band_hash
            FROM flat f
            CROSS JOIN (SELECT unnest(range({N_BANDS})) AS band_idx) u
        )
"""

_MH_AGREE_SQL = " + ".join(
    f"CAST(a.s{i} = b.s{i} AS INTEGER)" for i in range(N_MINHASH)
)
_MH_FIRST_MATCH_SQL = " AND ".join(
    f"(a.band_idx <= {j} OR a.b{j} <> b.b{j})" for j in range(N_BANDS)
)


def _flat_signatures(d: DataFrame) -> DataFrame:
    """doc_id + flat MinHash slots s0..s31 + band hashes b0..b4 — the
    shared signature relation of dedup_minhash and
    dedup_lsh_recall_audit (kept flat for codegen; see the plan notes
    on dedup_minhash). Built as SQL strings — three selectExpr calls
    instead of ~400 py4j round trips (r12; see _TOKEN_HASHES_SPARK_SQL).
    _band_hash_sql is engine-neutral arithmetic, shared verbatim with
    the DuckDB oracle generator."""
    slots = d.selectExpr(
        "doc_id", f"{_TOKEN_HASHES_SPARK_SQL} AS hs"
    ).selectExpr(
        "doc_id",
        *[f"{_slot_spark_sql(i)} AS s{i}" for i in range(N_MINHASH)],
    )
    return slots.selectExpr(
        "*",
        *[
            _band_hash_sql(
                [f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
            )
            + f" AS b{b}"
            for b in range(N_BANDS)
        ],
    )


# Shared with dedup_lsh_recall_audit (the shipped candidate side).
_MINHASH_ORACLE = f"""
        WITH {_MH_FLAT_SQL},
        stats AS (
            SELECT *,
                   count(*) OVER (PARTITION BY band_idx, band_hash)
                       AS n_bucket,
                   min(doc_id) OVER (PARTITION BY band_idx, band_hash)
                       AS min_doc
            FROM banded
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(({_MH_AGREE_SQL}) AS DOUBLE) / {N_MINHASH}
                   AS est_jaccard,
               a.n_bucket > {MAX_PAIR_BUCKET} AS star_edge
        FROM stats a JOIN stats b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
         AND (a.n_bucket <= {MAX_PAIR_BUCKET} OR a.doc_id = a.min_doc)
         AND {_MH_FIRST_MATCH_SQL}
        WHERE CAST(({_MH_AGREE_SQL}) AS DOUBLE) / {N_MINHASH}
                  >= {NEAR_DUP_THRESHOLD}
           OR a.n_bucket > {MAX_PAIR_BUCKET}
    """


@query(
    "dedup_minhash",
    oracle=_MINHASH_ORACLE,
    phase="P3",
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs with signature similarity.

    Pipeline: token set → hash each token once → 32-permutation MinHash
    signature → 5 bands × 6 rows → band-bucket self-join on
    (band_idx, band_hash) → first-match dedup → estimated Jaccard =
    fraction of agreeing minhashes ≥ 0.8.

    Banding operating point (s-curve 1-(1-j^6)^5): P(candidate) = 0.98
    at j=0.9, 0.91 at j=0.8, 0.17 at j=0.5 — tuned for the standard
    training-data near-dup threshold of 0.8 (same threshold as
    ``dedup_ngram_jaccard``).

    Plan shape, chosen so the whole query is one codegen'd pass with NO
    wide shuffle and NO Python:
    - signature and band hashes live in FLAT columns (s0..s31, b0..b4);
      arrays + higher-order functions here are interpreted
      (CodegenFallback) and measured 5-10× slower.
    - a pair that collides in several bands is kept only at its FIRST
      matching band — `for j < band_idx: a.bj != b.bj` as five codegen
      comparisons — which replaces a multi-million-row distinct()
      shuffle with a map-side filter.
    - est_jaccard = (Σ (a.si = b.si)::int) / 32 as a flat sum of 32
      equality casts, again pure codegen.
    The banded side is small per block (docs × 5 rows), so Spark
    broadcasts it; at 100 TB the same plan degrades gracefully to a
    sort-merge join on (band_idx, band_hash). pytest checks recall vs
    the exact Jaccard pairs, and — late r6 — the ENTIRE pipeline
    (signature → banding → bucket guard → star edges → est_jaccard)
    carries a full DuckDB value oracle generated from the same Python
    constants as the Spark expressions (md5 30-bit token hashes +
    overflow-safe arithmetic permutations; DuckDB errors on BIGINT
    overflow, so every intermediate is provably < 2^61).

    Oversized buckets (template clusters — k docs → k²/2 pairs) are the
    pair form's scale-killer, so buckets past MAX_PAIR_BUCKET emit STAR
    pairs only (min-doc ↔ each member): linear output, same connected
    components. Star edges are CONNECTIVITY-ONLY and exempt from the
    est_jaccard threshold (``star_edge`` column marks them): the bucket's
    min doc is just a hash-bucket member, not necessarily a near-dup of
    the others, so thresholding star edges could drop BOTH edges of a
    true near-dup pair whose direct edge was suppressed and split its
    component. The trade is explicit: recall-first connectivity at the
    cost of possible over-merging via a low-similarity collision member
    — precision-sensitive consumers filter ``star_edge`` out (or
    re-verify those edges with an exact-Jaccard pass over the tiny
    star-edge set) before componentizing. pytest verifies
    component-level recall; consumers that
    need every pairwise edge inside a mega-cluster are asking a
    quadratic question and should use ``dedup_minhash_groups``.
    """
    d = load(spark, sf_dir, "documents")
    # Flat slots computed straight from the hashed-token array — NOT via
    # an intermediate array<long> signature column: getItem on a created
    # array is rewritten by SimplifyExtractValueOps back into the i-th
    # element EXPRESSION, silently re-inlining the whole token pipeline
    # into every consumer (measured 120 s vs 6 s at sf0.1). Attribute
    # references below are safe: CollapseProject refuses to duplicate
    # non-cheap expressions used more than once.
    # coalesce makes each slot provably non-nullable (array_min of an
    # empty token array is null — only blank docs, which are exact dups
    # anyway). Without it, InferFiltersFromConstraints derives 32
    # isnotnull(s_i) predicates from the join condition and pushes them
    # below this projection, re-inlining the whole token pipeline into
    # a per-row scan filter (measured 110 s vs 6 s at sf0.1); on
    # non-nullable slots the constraints fold to true and vanish.
    # (construction factored into _flat_signatures, pair generation
    # into _minhash_pairs — both shared with dedup_lsh_recall_audit)
    return _minhash_pairs(_flat_signatures(d))


def _minhash_pairs(flat: DataFrame) -> DataFrame:
    """Band-bucket candidate pairs from a flat signature relation — the
    pair-generating body of dedup_minhash, factored out so
    dedup_lsh_recall_audit can feed BOTH its legs (bucket-recall and
    shipped-candidate precision) from ONE checkpointed signature pass
    instead of re-deriving the token pipeline per leg. Built as SQL
    strings (r12): the join condition + agree sum are ~150 expression
    nodes; F.expr parses each string in one py4j call."""
    banded = flat.selectExpr(
        "*",
        "posexplode(array("
        + ", ".join(f"b{b}" for b in range(N_BANDS))
        + ")) AS (band_idx, band_hash)",
    )
    # Bucket stats for the oversized-bucket guard: one extra shuffle of
    # the banded rows (linear, on the join key itself, so the exchange
    # is reusable by the self-join below).
    banded = banded.selectExpr(
        "*",
        "count(1) OVER (PARTITION BY band_idx, band_hash) AS n_bucket",
        "min(doc_id) OVER (PARTITION BY band_idx, band_hash) AS min_doc",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    first_match = " AND ".join(
        f"(a.band_idx <= {j} OR a.b{j} != b.b{j})" for j in range(N_BANDS)
    )
    agree = " + ".join(
        f"CAST(a.s{i} = b.s{i} AS INT)" for i in range(N_MINHASH)
    )
    return (
        a.join(
            b,
            F.expr(
                "a.band_idx = b.band_idx"
                " AND a.band_hash = b.band_hash"
                " AND a.doc_id < b.doc_id"
                # oversized buckets: star pairs only (a = bucket min doc)
                f" AND (a.n_bucket <= {MAX_PAIR_BUCKET}"
                " OR a.doc_id = a.min_doc)"
                f" AND {first_match}"
            ),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            f"CAST(({agree}) AS DOUBLE) / {N_MINHASH} AS est_jaccard",
            f"a.n_bucket > {MAX_PAIR_BUCKET} AS star_edge",
        )
        # star edges pass unthresholded — they exist to keep the dup
        # graph connected, not to claim similarity (see docstring)
        .filter(
            F.expr(f"est_jaccard >= {NEAR_DUP_THRESHOLD}D OR star_edge")
        )
    )


# SimHash bit-vote SQL fragments: bits 0-59 come from the first 15 md5
# hex chars (60-bit word h1), bits 60-63 from the next 15 (h2). Bit 63's
# place value is written (-max-1) because DuckDB errors on 1<<63 and a
# bare -9223372036854775808 literal parses as HUGEINT.
_SH_VOTES_SQL = ",\n                   ".join(
    "sum(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}".format(
        src="h1" if b < 60 else "h2", sh=b if b < 60 else b - 60, b=b
    )
    for b in range(64)
)
_SH_PACK_SQL = "\n                 + ".join(
    (
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        if b < 63
        else f"(CASE WHEN v{b} > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    )
    for b in range(64)
)


@query(
    "dedup_simhash",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_distinct(list_filter(
                       string_split(lower(text), ' '), t -> t <> ''))) AS t
            FROM documents
        ), hashed AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)  AS h1,
                   CAST('0x' || substr(md5(t), 16, 15) AS BIGINT) AS h2
            FROM tok
        ), votes AS (
            SELECT doc_id,
                   {_SH_VOTES_SQL}
            FROM hashed GROUP BY doc_id
        ), sim AS (
            SELECT doc_id,
                   {_SH_PACK_SQL} AS simhash
            FROM votes
        )
        SELECT simhash,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS canonical
        FROM sim GROUP BY simhash
        HAVING count(*) >= 1
    """,
    phase="P3",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + exact-signature dup groups.

    Each token votes its hash bits ±1; the signature sign-packs the
    vote sums. Shipped plan (r10/r11 rework): explode tokens →
    distinct-token vocabulary hashed once with md5 → join the hashes
    back onto the occurrence relation → packed-counter
    groupBy(doc_id) partial aggregate → sign-pack → groupBy(simhash).
    Hashing at vocabulary grain (not per occurrence) is the scale
    choice: the vocab is orders of magnitude smaller than the
    occurrence relation at any corpus size.

    FULLY oracled as of late r6 (was rows-only): token bits come from
    md5 — available in BOTH engines — split into two 60-bit words via
    hex-prefix parsing (the sample_weighted trick), instead of the
    Spark-only xxhash64. DuckDB then reproduces the entire vote/pack
    pipeline bit-for-bit (integer arithmetic only). md5 costs slightly
    more than xxhash64 per token, but it buys the dedup family its
    first full signature-level value oracle; at 100 TB you'd flip the
    hash back to xxhash64 with one line.
    """
    d = load(spark, sf_dir, "documents")
    # One row per (doc, token) → 64 bit-sums in a single map-side-
    # combinable aggregate. The ±1 vote sum is recovered arithmetically
    # (votes_b = 2·sum(bit_b) − n), so each aggregate expression is a
    # bare shiftright+bitand instead of a CASE branch — the r10 rework
    # that took the warm wall from 2.1 s to 0.9 s at sf0.1 (the 64
    # CASE-WHEN sums dominated codegen, not the data volume). All wide
    # expressions are SQL strings (r12): the Column-algebra form made
    # ~700 py4j round trips per invocation (~2 s of driver wall at
    # bench conditions — the gap between the r11 warm-exec A/B's 1.05 s
    # and the 3.14 s bench reading was exactly this build time).
    ex = d.selectExpr(
        "doc_id",
        "explode(array_distinct(filter(split(lower(text), ' '), "
        "t -> t != ''))) AS t",
    )
    # md5 + two 15-hex-digit conv parses run at DISTINCT-TOKEN (vocab)
    # grain, not per (doc, token) occurrence — the r10 follow-up to the
    # bit-sum rework: the string hashing was the remaining per-row cost
    # and the vocabulary is orders of magnitude smaller than the
    # occurrence relation at any corpus scale. PLAIN join-back (r12,
    # VERDICT r11 Next #3): the planner broadcasts it from stats at
    # every test SF (compile fingerprint (3,1,2) with or without a
    # hint, verified sf0.001/0.01/0.1 — under the bench HEAVY conf,
    # AQE ON + CPUS shuffle partitions; an AQE-OFF driver run planning
    # a shuffle join here is conf drift, not a regression) and wall is
    # at parity
    # (1.19-1.58 s vs 1.36-1.50 s hinted, interleaved min-of-3), while
    # at a 100 TB vocabulary the stats/AQE path degrades to a shuffle
    # join automatically — the hard F.broadcast hint never demotes and
    # needed a documented hand-edit before any large run.
    vocab = (
        ex.select("t")
        .distinct()
        .selectExpr("t", "md5(cast(t AS binary)) AS hx")
        .selectExpr(
            "t",
            "cast(conv(substring(hx, 1, 15), 16, 10) AS bigint) AS h1",
            "cast(conv(substring(hx, 16, 15), 16, 10) AS bigint) AS h2",
        )
    )
    ex = ex.join(vocab, "t").select("doc_id", "h1", "h2")
    # r11 rework of the partial aggregate: the 64 per-bit SUM columns
    # (the 65-column partial agg SCALE.md suspected as residual cost)
    # are packed TWO counters per BIGINT in 32-bit fields, so the
    # map-side combiner carries 33 columns instead of 65 — halving the
    # partial-agg shuffle row width at any scale. Packed sums
    # distribute over addition as long as no field overflows into its
    # neighbor: each addend contributes 0/1 per field, so a field's
    # final value equals that bit's vote count, bounded by the doc's
    # DISTINCT-token count — safe to 2^31 tokens per document (a
    # 16-bit/4-per-word packing would silently corrupt on any doc with
    # ≥65,536 distinct tokens, so 32-bit fields are the scale-correct
    # choice). Verified value-identical to the unpacked form at sf0.1
    # (3,855 groups). Interleaved A/B at sf0.1 measured WALL PARITY
    # with the unpacked form (1.05 vs 1.04 s min-of-4) — the local
    # residual is the explode+join+two-shuffle stage floor, not agg
    # width, so this is a scale win, not an sf0.1 win (SCALE.md).
    aggs = [F.expr("count(1)").alias("n")]
    for wd in range(32):
        lo, hi = 2 * wd, 2 * wd + 1
        terms = []
        for f_i, b in enumerate((lo, hi)):
            src = "h1" if b < 60 else "h2"
            sh = b if b < 60 else b - 60
            terms.append(
                f"shiftleft(shiftright({src}, {sh}) & 1, {f_i * 32})"
            )
        aggs.append(F.expr(f"sum({' + '.join(terms)})").alias(f"w{wd}"))
    votes = ex.groupBy("doc_id").agg(*aggs)
    # sign(2·cnt_b − n) > 0  ⇔  the ±1 vote sum is positive
    pack_terms = []
    for b in range(64):
        wd, f_i = b // 2, b % 2
        cnt = f"(shiftright(w{wd}, {f_i * 32}) & 4294967295)"
        pack_terms.append(
            f"shiftleft(CAST(IF(2 * {cnt} - n > 0, 1, 0) AS BIGINT), {b})"
        )
    # Packed-field overflow guard (ADVICE r11): a doc with >= 2^31
    # distinct tokens would overflow a 32-bit lo field into its hi
    # neighbour and unpack wrong with NO error. Physically implausible,
    # but surface it as a hard failure instead of silent corruption —
    # one comparison per doc row, null→0 on the good path.
    guard = (
        "coalesce(CAST(assert_true(n < 2147483648, "
        "'dedup_simhash: packed vote counter overflow (n >= 2^31)') "
        "AS BIGINT), CAST(0 AS BIGINT))"
    )
    sim = votes.selectExpr(
        "doc_id", f"{' + '.join(pack_terms)} + {guard} AS simhash"
    )
    return (
        sim.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical"))
        .filter(F.col("n_docs") >= 1)
    )


# --- embedding-cosine near-dup -------------------------------------------

EMB_DUP_THRESHOLD = 0.3  # fixture vectors are near-orthogonal (within-
# label p99 cosine ~0.295, max ~0.475): 0.3 exercises real group-forming
# while staying a pure cosine-threshold dedup — on a real corpus the
# same plan runs with ~0.95.

_DEDUP_EMB_DOT = (
    "list_sum(list_transform(range(1, 65), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_DEDUP_EMB_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt({_DEDUP_EMB_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id, a.label,
           min(b.vec_id) AS canonical_id,
           count(*)      AS n_neighbors
    FROM e a JOIN e b
      ON a.label = b.label
     AND ({_DEDUP_EMB_DOT.format(a='a.embedding', b='b.embedding')}
          / (a.nrm * b.nrm)) >= {EMB_DUP_THRESHOLD}
    GROUP BY a.vec_id, a.label
"""


@query(
    "dedup_embedding",
    oracle=_DEDUP_EMB_ORACLE,
    phase="P3",
    tags=("dedup", "embedding", "similarity"),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup groups: each vector maps to the minimum
    vec_id among its cosine-neighbors (≥ threshold, same label), i.e.
    the canonical representative its dedup group keeps.

    Blocking key is the label (at 100 TB: an LSH/IVF bucket column —
    same plan shape, see sim_ann_ivf). The self-pair (cosine = 1) is
    intentionally included: every vector belongs to its own group, so
    singletons survive with canonical_id = vec_id.

    Skew safety: the label block is tiled (``tile_pair_blocks``), so
    each kernel invocation bounds its cosine matrix; because the output
    here is a PER-ROW aggregate (min neighbor id, neighbor count) and a
    row's neighbors are spread across its tiles, the kernel emits
    per-tile PARTIALS over the tile's owned pairs and a final
    co-partitioned groupBy(vec_id) combines them — min of mins / sum of
    counts, exact because each neighbor pair is owned by exactly one
    tile and cosine is pair-local with fixed fp order
    (``pairwise_cosine_exact``, oracle-identical boundary decisions).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from .pair_blocks import owned_pair_mask, tile_pair_blocks
    from .similarity import pairwise_cosine_exact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    tiled = tile_pair_blocks(e, ["label"], "vec_id")
    partial_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("label", IntegerType()),
            StructField("p_canonical", LongType()),
            StructField("p_neighbors", LongType()),
        ]
    )

    def partials_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        ck = pdf["_ck"].to_numpy()
        ca, cb = int(pdf["_ca"].iloc[0]), int(pdf["_cb"].iloc[0])
        A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        cos = pairwise_cosine_exact(A)
        # owned mask covers both orientations of a pair, so row i sees
        # neighbor j exactly once across all tiles (and itself on the
        # diagonal tile)
        mask = (cos >= EMB_DUP_THRESHOLD) & owned_pair_mask(ck, ca, cb)
        ids_b = np.broadcast_to(ids[None, :], mask.shape)
        p_canon = np.where(mask, ids_b, np.iinfo(np.int64).max).min(axis=1)
        n = mask.sum(axis=1)
        keep = n > 0  # rows with no owned neighbors in this tile add nothing
        return pd.DataFrame(
            {
                "vec_id": ids[keep],
                "label": pdf["label"].iloc[0],
                "p_canonical": p_canon[keep],
                "p_neighbors": n[keep],
            }
        )

    partials = tiled.groupBy("label", "_ca", "_cb").applyInPandas(
        partials_fn, partial_schema
    )
    return partials.groupBy("vec_id", "label").agg(
        F.min("p_canonical").alias("canonical_id"),
        F.sum("p_neighbors").alias("n_neighbors"),
    )


@query(
    "dedup_minhash_groups",
    oracle=f"""
        WITH {_MH_FLAT_SQL},
        bucket_canon AS (
            SELECT band_idx, band_hash,
                   min(doc_id) AS bucket_min,
                   count(*)    AS bucket_size
            FROM banded GROUP BY band_idx, band_hash
        )
        SELECT b.doc_id,
               min(c.bucket_min)               AS canonical_id,
               CAST(max(c.bucket_size - 1) AS BIGINT) AS max_bucket_mates
        FROM banded b
        JOIN bucket_canon c
          ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
        GROUP BY b.doc_id
    """,
    phase="P3",
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-output MinHash-LSH dedup: each doc maps to the minimum
    doc_id over all its band-bucket mates (one-hop canonical) — the
    operational form of corpus dedup at 100 TB.

    ``dedup_minhash`` (the pair-emitting form) is inherently quadratic
    in cluster size: this fixture's templated corpus yields 2.9M
    candidate pairs from 5k docs, and a viral template at real scale
    emits billions. This operator never materializes a pair: bucket
    canonical = min(doc_id) per (band_idx, band_hash) — one combinable
    aggregation — then doc canonical = min over the doc's 5 buckets.
    Cost is O(docs × bands) rows end-to-end, two map-side-combinable
    aggregations, zero self-joins. The trade: no per-pair similarity
    confirmation (pure LSH grouping, the standard operating point for
    web-scale dedup); pytest pins that exact duplicates always share a
    canonical and distinct docs rarely do.
    """
    d = load(spark, sf_dir, "documents")
    # signature pipeline as SQL strings — see _TOKEN_HASHES_SPARK_SQL
    band_sqls = ", ".join(
        _band_hash_sql(
            [f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        )
        for b in range(N_BANDS)
    )
    banded = (
        d.selectExpr("doc_id", f"{_TOKEN_HASHES_SPARK_SQL} AS hs")
        .selectExpr(
            "doc_id",
            *[f"{_slot_spark_sql(i)} AS s{i}" for i in range(N_MINHASH)],
        )
        .selectExpr(
            "doc_id",
            f"posexplode(array({band_sqls})) AS (band_idx, band_hash)",
        )
    )
    bucket_canon = banded.groupBy("band_idx", "band_hash").agg(
        F.min("doc_id").alias("bucket_min"),
        F.count(F.lit(1)).alias("bucket_size"),
    )
    return (
        banded.join(bucket_canon, ["band_idx", "band_hash"])
        .groupBy("doc_id")
        .agg(
            F.min("bucket_min").alias("canonical_id"),
            F.max(F.col("bucket_size") - 1).alias("max_bucket_mates"),
        )
    )


@query(
    "dedup_components",
    oracle="""
        WITH RECURSIVE tok AS (
            SELECT doc_id, source,
                   list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS toks
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM tok a JOIN tok b
              ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        ), edges AS (
            SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
        ), reach(doc_id, r) AS (
            SELECT doc_id, doc_id FROM tok
            UNION
            SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.doc_id
        )
        SELECT doc_id, min(r) AS component_id FROM reach GROUP BY doc_id
    """,
    phase="P4",
    tags=("dedup", "components", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE dedup groups: connected components of the ≥0.8
    token-Jaccard graph (within source), canonical = min doc_id in the
    component. This closes the gap one-hop canonicals leave
    (A~B, B~C but A≁C still end up in ONE group here).

    The one genuinely ITERATIVE algorithm in the registry, and the only
    driver-loop use: min-label propagation — each round every node
    takes the min of its own and its neighbors' labels; converged when
    a round changes nothing (≤ graph diameter rounds; near-clique
    template clusters converge in 2-3). Each round is a distributed
    join+groupBy on the (tiny, pairs-sized) edge list; localCheckpoint
    truncates lineage so the plan doesn't grow with rounds. The oracle
    is a DuckDB RECURSIVE CTE computing min-reachable-id — a full
    value-level check of an iterative distributed algorithm.

    At 100 TB: rounds stay cheap because the edge list after LSH
    blocking is orders smaller than the corpus; for pathological
    diameters switch to pointer-jumping (label = label[label]) for
    O(log n) rounds — same loop shape.
    """
    from .graph import _ckpt_bytes

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    # LAZY checkpoints in the loop (r14): the per-round convergence-sum
    # action materializes the round's checkpoint, so each round is ONE
    # job, not two — the trick dedup_semantic_clusters' label rounds
    # already use; this loop predates it and still paid the eager
    # checkpoint job PLUS the sum job per round.
    labels = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    # Convergence check: labels only ever DECREASE, so the label sum is
    # a strictly decreasing potential — sum unchanged ⇔ fixpoint. One
    # cheap aggregate action per round instead of a join-and-count.
    prev_sum = labels.agg(F.sum("component_id")).collect()[0][0]  # driver-scalar: convergence potential
    labels_bytes = _ckpt_bytes(labels)
    for _ in range(50):
        nbr_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # Size-guarded broadcast (r14, the graph_kcore finding): AQE
        # promotes this left join to BHJ only AFTER the initial SMJ
        # plan has shuffled the labels relation as a query stage — a
        # wasted doc-grain shuffle per round. nbr_min is bounded by
        # the labels relation whose materialized bytes the previous
        # round's checkpoint just told us, so under the guard the
        # hint is safe; past it (corpus-scale labels) the join stays
        # AQE-driven.
        nbrj = (
            F.broadcast(nbr_min)
            if 0 < labels_bytes < _COMPONENTS_BCAST_MAX_BYTES
            else nbr_min
        )
        labels = (
            labels.join(nbrj, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"), F.coalesce("nbr_min", "component_id")
                ).alias("component_id"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("component_id")).collect()[0][0]  # driver-scalar: convergence potential (materializes the lazy checkpoint)
        labels_bytes = _ckpt_bytes(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


@query(
    "dedup_incremental",
    oracle="""
        WITH keyed AS (
            SELECT doc_id, source,
                   md5(substr(text, 1, 64)) AS fp
            FROM documents
        ), history AS (
            SELECT DISTINCT fp FROM keyed
            WHERE source NOT IN ('src18', 'src19')
        ), batch AS (
            SELECT doc_id, fp,
                   min(doc_id) OVER (PARTITION BY fp) AS first_in_batch
            FROM keyed WHERE source IN ('src18', 'src19')
        )
        SELECT b.doc_id,
               substr(b.fp, 1, 8) AS fp8,
               CASE WHEN h.fp IS NOT NULL       THEN 'dup_of_history'
                    WHEN b.doc_id > b.first_in_batch THEN 'dup_in_batch'
                    ELSE 'new' END AS status
        FROM batch b LEFT JOIN history h ON b.fp = h.fp
        ORDER BY b.doc_id
    """,
    phase="P3",
    tags=("dedup", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-ingest) dedup — the form a production corpus
    actually runs: a NEW batch (sources src18/src19, standing in for
    today's crawl) is checked against the accumulated HISTORY (every
    other source) without ever re-deduplicating history itself. The key
    is a 64-char prefix fingerprint (md5 of the document head — catches
    shared boilerplate openings that full-text digests miss; the
    fixtures carry real prefix collisions). Each batch doc gets a
    disposition: 'dup_of_history' (head already ingested),
    'dup_in_batch' (an earlier doc_id in the same batch claims the
    fingerprint first), or 'new'.

    Plan: history reduces to DISTINCT fingerprints — the ONLY state the
    incremental pass carries forward, and the operational point: at
    100 TB the history-fingerprint table is append-only, sorted/bucketed
    by fp, and each daily batch left-joins it with the batch (small
    side) shuffling; history never rescans raw text. In-batch
    first-claim is a min-over-fp window on the batch alone. Both
    branches prune to their source partitions at the scan
    (PushedFilters on source)."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.substring("text", 1, 64).cast("binary"))
    batch_src = F.col("source").isin("src18", "src19")
    history = (
        d.filter(~batch_src)
        .select(fp.alias("fp"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    from pyspark.sql import Window as W

    batch = d.filter(batch_src).select("doc_id", fp.alias("fp"))
    batch = batch.withColumn(
        "first_in_batch", F.min("doc_id").over(W.partitionBy("fp"))
    )
    return (
        batch.join(history, "fp", "left")
        .select(
            "doc_id",
            F.substring("fp", 1, 8).alias("fp8"),
            F.when(F.col("in_hist").isNotNull(), "dup_of_history")
            .when(F.col("doc_id") > F.col("first_in_batch"), "dup_in_batch")
            .otherwise("new")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


# --- exact repeated-substring coverage ------------------------------------

SUBSTR_K = 8  # shingle width (tokens); production sweeps use ~50-token spans


@query(
    "dedup_substring",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               t -> t <> '') AS ts
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   array_to_string(list_slice(ts, i, i + {SUBSTR_K - 1}), ' ')
                       AS gram
            FROM toks, unnest(range(1, len(ts) - {SUBSTR_K - 2})) AS u(i)
            WHERE len(ts) >= {SUBSTR_K}
        ), freq AS (
            SELECT gram, count(*) AS cnt FROM grams GROUP BY gram
        )
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN f.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_shingles,
               CAST(floor(sum(CASE WHEN f.cnt >= 2 THEN 1.0 ELSE 0.0 END)
                          / count(*) * 1000000.0 + 0.5) AS BIGINT)
                   AS dup_frac_micro
        FROM grams g JOIN freq f USING (gram)
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """,
    phase="P4",
    tags=("dedup", "substring"),
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring coverage — the ExactSubstr dedup metric
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): for every document, the fraction of its K-token shingle
    positions whose exact token span occurs at least twice anywhere in
    the corpus (another document OR another position of the same one).
    Downstream curation drops or trims documents above a dup_frac
    threshold. K=8 here (fixture docs run 8-100 tokens); production
    uses ~50-token spans — same plan, one constant.

    Plan shape (vs the reference approach of a corpus-wide suffix
    array, which is fundamentally single-machine): shingles are the
    relational re-expression — tokenize → positional K-shingle explode
    → per-shingle occurrence count → per-doc roll-up. The count
    attaches via ``count(*) OVER (PARTITION BY ghash)`` rather than a
    groupBy+join-back: Catalyst does no cross-branch common-subexpression
    elimination, so the join form EXPLODES THE WHOLE CORPUS TWICE (the
    r5 decon_ngram regression; verified in this plan too before the
    rewrite) — the window form is one explode + ONE exchange + a
    per-partition sort. Spark-side grams travel as ``xxhash64`` 64-bit
    ints (16-byte shuffle rows; the string-keyed oracle twin would flag
    a collision). At 100 TB: explosion is ~K× the token count, so this
    is the heaviest dedup op by volume; size
    ``spark.sql.shuffle.partitions`` to ~128 MB of gram rows per task
    to keep the window sort spill-free. No driver collection anywhere.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("ts"),
    )
    grams = toks.filter(F.size("ts") >= SUBSTR_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ts) - {SUBSTR_K - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(ts, i, {SUBSTR_K}))))"
            )
        ).alias("ghash"),
    )
    from pyspark.sql import Window as W

    cnt_w = F.count(F.lit(1)).over(W.partitionBy("ghash"))
    dup = (F.col("cnt") >= 2).cast("double")
    return (
        grams.withColumn("cnt", cnt_w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("cnt") >= 2).cast("bigint")).alias("n_dup_shingles"),
            micro(F.sum(dup) / F.count(F.lit(1))).alias("dup_frac_micro"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_keep_best",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   substring(md5(substring(text, 1, 64)), 1, 8) AS fp8,
                   len(list_distinct(
                       list_filter(string_split(lower(text), ' '),
                                   t -> t <> ''))) AS n_vocab
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, fp8, n_vocab,
                   CAST(count(*) OVER (PARTITION BY fp8) AS BIGINT)
                       AS group_size,
                   row_number() OVER (
                       PARTITION BY fp8
                       ORDER BY n_vocab DESC, doc_id ASC
                   ) AS rn
            FROM scored
        )
        SELECT doc_id, fp8, CAST(n_vocab AS BIGINT) AS n_vocab,
               group_size,
               CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM ranked
        ORDER BY doc_id
    """,
    phase="P3",
    tags=("dedup", "curation"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection within near-dup clusters —
    the curation step AFTER dedup grouping: instead of blindly keeping
    the min doc_id, keep the highest-quality member (here: largest
    distinct-token vocabulary, doc_id as the deterministic tiebreak)
    and mark the rest as drops. Clusters are 64-char-prefix
    fingerprints (the dedup_incremental house key), under which
    members share an opening but can differ in body length/quality.

    Scale shape: one scan computes the fingerprint and the integer
    quality key map-side; ONE window over fp8 assigns group size and
    rank (a single hash exchange on the fingerprint — same key a
    bucketed corpus layout would already be partitioned by). Per-doc
    disposition output (keep ∈ {0,1}) rather than a filtered corpus,
    so the decision is auditable — the actual drop is a trailing
    filter. At 100 TB this replaces a groupBy+join-back pair with one
    window pass.
    """
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    scored = d.select(
        "doc_id",
        F.substring(F.md5(F.substring("text", 1, 64).cast("binary")), 1, 8).alias(
            "fp8"
        ),
        F.size(
            F.array_distinct(
                F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
            )
        ).alias("n_vocab"),
    )
    w = W.partitionBy("fp8")
    wo = w.orderBy(F.desc("n_vocab"), F.asc("doc_id"))
    return (
        scored.select(
            "doc_id",
            "fp8",
            F.col("n_vocab").cast("bigint").alias("n_vocab"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
            (F.row_number().over(wo) == 1).cast("bigint").alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_lsh_recall_audit",
    oracle=f"""
        WITH {_MH_FLAT_SQL},
        truth AS (
            SELECT doc_a, doc_b FROM ({_NGRAM_JACCARD_ORACLE})
        ), cov AS (
            SELECT DISTINCT t.doc_a, t.doc_b
            FROM truth t
            JOIN banded ba ON ba.doc_id = t.doc_a
            JOIN banded bb ON bb.doc_id = t.doc_b
             AND bb.band_idx = ba.band_idx
             AND bb.band_hash = ba.band_hash
        ), cand AS (
            SELECT c.doc_a, c.doc_b
            FROM ({_MINHASH_ORACLE}) c
            JOIN documents x ON x.doc_id = c.doc_a
            JOIN documents y ON y.doc_id = c.doc_b
             AND x.source = y.source
        ), m AS (
            SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
                (SELECT CAST(count(*) AS BIGINT) FROM cov) AS n_banded,
                (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM cand c JOIN truth t
                   ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                    AS n_cand_true
        )
        SELECT n_truth, n_banded,
               CASE WHEN n_truth > 0 THEN
                    CAST(floor(CAST(n_banded AS DOUBLE) / n_truth
                         * 1000000.0 + 0.5) AS BIGINT) END
                   AS banding_recall_micro,
               n_cand AS n_cand_same_source, n_cand_true,
               CASE WHEN n_cand > 0 THEN
                    CAST(floor(CAST(n_cand_true AS DOUBLE) / n_cand
                         * 1000000.0 + 0.5) AS BIGINT) END
                   AS precision_micro
        FROM m
    """,
    phase="P3",
    tags=("dedup", "minhash", "evaluation", "audit"),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH dedup against exact
    ground truth — the meta-evaluation a training-data pipeline runs
    before trusting its dedup at 100 TB, where exact all-pairs is
    impossible and the LSH operating point IS the dedup. Two numbers,
    each against the layer it actually audits:

    - **banding recall**: fraction of exact near-dup pairs (token-set
      Jaccard ≥ 0.8 within a source block — dedup_ngram_jaccard's
      output) that share at least one (band, band-hash) BUCKET. This
      audits the 5×6 s-curve promise (P ≥ 0.91 at j = 0.8) at the
      layer where recall is decided — bucket co-membership — NOT at
      the emitted-pair layer, where the oversized-bucket star guard
      deliberately under-emits pairwise edges (connectivity-only; a
      pair-level comparison reads as ~0 recall by design, the first
      draft of this audit measured exactly that).
    - **emitted precision**: fraction of dedup_minhash's shipped
      same-source pairs that are true ≥ 0.8 near-dups.

    Both legs REUSE the registered builders' machinery (the oracle
    composes their oracle SQL verbatim, the Spark side shares
    _flat_signatures), so the audit can never drift from what the
    pipeline ships.

    Plan: truth pairs join the banded relation once per side (linear
    in truth×bands, no quadratic bucket expansion); the precision leg
    is a pair-grain semi-join against the already-linear candidate
    set. The flat signature relation is computed ONCE via a LAZY
    checkpoint: both the bucket-recall leg (banded explode) and the
    shipped-candidate leg (_minhash_pairs) share the one checkpointed
    RDD inside the final job (multiple REFERENCES, never re-derived —
    SCALE.md §6h), instead of each re-deriving the token→minhash
    pipeline from the raw corpus (the r8 verdict's double-scan
    finding). The truth and candidate checkpoints are lazy for the
    same reason; the r11 form ran the two eager checkpoints on a
    2-thread pool to overlap their driver-blocking jobs — with lazy
    checkpoints there are no build-time jobs left to overlap, and the
    all-lazy form measured faster still (1.69 → 1.60 s warm min at
    sf0.1 bench confs, r12 A/B, value-identical)."""
    d = load(spark, sf_dir, "documents")
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    flat = _flat_signatures(d).localCheckpoint(eager=False)
    banded = flat.selectExpr(
        "doc_id",
        "posexplode(array("
        + ", ".join(f"b{b}" for b in range(N_BANDS))
        + ")) AS (band_idx, band_hash)",
    )
    ba = banded.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_hash"
    )
    bb = banded.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_hash"
    )
    cov = (
        truth.join(ba, "doc_a")
        .join(bb, ["doc_b", "band_idx", "band_hash"], "left_semi")
        .select("doc_a", "doc_b")
        .distinct()
    )
    src = d.select("doc_id", "source")
    cand = (
        _minhash_pairs(flat)
        .select("doc_a", "doc_b")
        .join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_b"),
            ),
            "doc_b",
        )
        .filter(F.col("src_a") == F.col("src_b"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    cand_true = cand.join(truth, ["doc_a", "doc_b"], "left_semi")
    m = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        .crossJoin(
            cov.agg(F.count(F.lit(1)).cast("bigint").alias("n_banded"))
        )
        .crossJoin(
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
        )
        .crossJoin(
            cand_true.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_cand_true")
            )
        )
    )
    return m.select(
        "n_truth",
        "n_banded",
        F.when(
            F.col("n_truth") > 0,
            micro(F.col("n_banded").cast("double") / F.col("n_truth")),
        ).alias("banding_recall_micro"),
        F.col("n_cand").alias("n_cand_same_source"),
        "n_cand_true",
        F.when(
            F.col("n_cand") > 0,
            micro(F.col("n_cand_true").cast("double") / F.col("n_cand")),
        ).alias("precision_micro"),
    )


@query(
    "dedup_cross_source_matrix",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_a, doc_b, est_jaccard
            FROM ({_MINHASH_ORACLE}) q
            WHERE NOT star_edge
        ), tagged AS (
            SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b,
                   CAST(floor(p.est_jaccard * 1000000.0 + 0.5)
                        AS BIGINT) AS jm
            FROM pairs p
            JOIN documents da ON da.doc_id = p.doc_a
            JOIN documents db ON db.doc_id = p.doc_b
        )
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(jm) AS BIGINT) AS sum_jaccard_micro,
               CAST(floor(CAST(sum(jm) AS DOUBLE) / count(*) + 0.5)
                    AS BIGINT) AS avg_jaccard_micro,
               CAST(source_a = source_b AS BOOLEAN) AS within_source
        FROM tagged
        GROUP BY source_a, source_b
        ORDER BY source_a, source_b
    """,
    phase="P3",
    tags=("dedup", "minhash", "llm-pipeline", "provenance"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x source near-duplicate matrix: fold dedup_minhash's
    banded candidate pairs (star connectivity edges excluded —
    they claim reachability, not similarity) up to provenance grain —
    WHICH sources copy from each other. The diagonal is within-source
    template mass; off-diagonal cells are cross-source contamination,
    the thing a training-data pipeline must know before treating
    sources as independent mixture components.

    Exactness: rides the fully-oracled minhash pipeline; est_jaccard
    = agree/32 is exact in binary so its micro quantization is
    engine-identical at PAIR grain, making the per-cell sum an
    order-free BIGINT; the cell average is one spelled division.

    Plan: the pair relation is candidate-sized (banding keeps it
    near-linear; the star-cap bounds template blowups); two
    doc_id->source joins tag it; the matrix rollup is a bounded
    (<= sources^2/2) combinable agg. r13: those two joins carried
    hard F.broadcast hints on the doc_id->source map — DOC grain,
    i.e. corpus-scale at 100 TB, and a hard hint can never be demoted
    (the dedup_simhash r12 hazard class). Hints removed; the query is
    heavy-tagged so it runs AQE-on, and the runtime planner promotes
    the joins to broadcast off measured sizes when the doc map is
    genuinely small and demotes them when it is not. Measured
    in-process A/B (bench conf, min/med of 5): hint 1.21/1.32 s vs
    hint-free 1.19/1.29 s — parity, the scale-safe form costs
    nothing."""
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = dedup_minhash(spark, sf_dir).filter(~F.col("star_edge"))
    da = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    db = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    tagged = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            micro(F.col("est_jaccard")).alias("jm"),
        )
    )
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("jm").cast("bigint").alias("sum_jaccard_micro"),
            F.floor(
                F.sum("jm").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("avg_jaccard_micro"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "sum_jaccard_micro",
            "avg_jaccard_micro",
            (F.col("source_a") == F.col("source_b")).alias("within_source"),
        )
        .orderBy("source_a", "source_b")
    )


# Semantic (embedding-space) near-dup threshold: fixture vectors are
# near-orthogonal across clusters (within-label max cosine ≈ 0.47), so
# 0.3 is the same operating point sim_pairs_threshold ships.
SEMANTIC_DUP_THRESHOLD = 0.3


def _semantic_oracle() -> str:
    from .similarity import _DUCK_DOT, _duck_cos_nrm, _kmeans_ctes

    nrm = f"sqrt({_DUCK_DOT.format(a='e.embedding', b='e.embedding')})"
    cos = _duck_cos_nrm("a.embedding", "b.embedding", "a.nrm", "b.nrm")
    return f"""
        WITH RECURSIVE {_kmeans_ctes()},
        asg AS MATERIALIZED (SELECT vec_id, cid FROM final),
        ev AS MATERIALIZED (
            SELECT e.vec_id, a.cid, e.embedding, {nrm} AS nrm
            FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
        ),
        p AS MATERIALIZED (
            SELECT a.vec_id AS u, b.vec_id AS v
            FROM ev a JOIN ev b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE {cos} >= {SEMANTIC_DUP_THRESHOLD}
        ),
        edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        reach(vec_id, r) AS (
            SELECT vec_id, vec_id FROM asg
            UNION
            SELECT ed.u, reach.r
            FROM edges ed JOIN reach ON ed.v = reach.vec_id
        )
        SELECT a.vec_id, a.cid,
               CAST(min(re.r) AS BIGINT) AS semantic_id
        FROM asg a JOIN reach re ON re.vec_id = a.vec_id
        GROUP BY a.vec_id, a.cid
        ORDER BY a.vec_id
    """


@query(
    "dedup_semantic_clusters",
    oracle=_semantic_oracle(),
    phase="P4",
    tags=("dedup", "embedding", "semantic", "iterative"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup — the embedding-space near-dup pass a training
    pipeline runs AFTER lexical dedup (minhash catches shared
    phrasing; this catches paraphrases and translations that share no
    tokens): Lloyd k-means assignments (emb_kmeans_lloyd's exact
    integer trajectory, via the shared _kmeans_final) become the
    blocking key, cosine ≥ 0.3 pairs generate WITHIN each learned
    cluster only, and min-label propagation (dedup_components' loop)
    closes them into transitive semantic groups. Output: one row per
    vector with its kmeans cluster and its semantic component id
    (min vec_id reachable) — semantic_id == vec_id means the vector
    is its group's canonical (or a singleton).

    Exactness: the kmeans leg is the replayed-recurrence pattern (the
    oracle re-runs the identical unrolled CTE chain — bitwise-equal
    trajectory, no state quantization); pair cosines come from the
    Arrow kernel with oracle-identical fp order
    (pairwise_cosine_exact); the component fixpoint is engine-free
    integer min-reachability, mirrored by the recursive-CTE oracle.

    Plan/scale: blocking by LEARNED cluster bounds the pair stage to
    within-cid work, tiled by pair_blocks so a skewed cluster can
    never hand one task an unbounded matrix. The kernel runs a
    tile-LOCAL union-find over its kept pairs and ships STAR edges
    (node → tile-component min) instead of all pairwise edges —
    connectivity-identical within the tile, linear output, and the
    distributed min-label rounds then only pay for CROSS-TILE
    merging (single-tile clusters converge in one pull + one verify
    round instead of graph-diameter rounds: 7 → 2 at sf0.1). Label
    propagation runs join+groupBy rounds on the (star-edge-sized)
    list with LAZY lineage-cutting checkpoints — the per-round sum
    action materializes the round's checkpoint, so each round is ONE
    job, not two. At 100 TB each stage keeps the shape: assignment
    is map-side, pairs are cluster-local tiles, components touch
    only edges."""
    import numpy as np
    import pandas as pd

    from .pair_blocks import owned_pair_mask, tile_pair_blocks
    from .similarity import _kmeans_final, pairwise_cosine_exact

    asg = (
        _kmeans_final(spark, sf_dir)
        .select("vec_id", "cid")
        .localCheckpoint(eager=False)
    )
    ev = asg.join(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )
    tiled = tile_pair_blocks(ev, ["cid"], "vec_id")

    def star_edges_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        ck = pdf["_ck"].to_numpy()
        ca, cb = int(pdf["_ca"].iloc[0]), int(pdf["_cb"].iloc[0])
        A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        cos = pairwise_cosine_exact(A)
        keep = (
            (cos >= SEMANTIC_DUP_THRESHOLD)
            & (ids[:, None] < ids[None, :])
            & owned_pair_mask(ck, ca, cb)
        )
        ia, ib = np.where(keep)
        # Tile-local union-find, smaller id stays root: the root IS
        # the tile-component min, so each member emits one star edge.
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(ids[ia].tolist(), ids[ib].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        members = sorted(set(ids[ia].tolist()) | set(ids[ib].tolist()))
        out = [(m, find(m)) for m in members if m != find(m)]
        return pd.DataFrame(out, columns=["u", "v"]).astype("int64")

    pairs = tiled.groupBy("cid", "_ca", "_cb").applyInPandas(
        star_edges_fn, "u long, v long"
    )
    edges = pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = asg.withColumn("semantic_id", F.col("vec_id")).localCheckpoint(
        eager=False
    )
    # Labels only ever decrease → the label sum is a strictly
    # decreasing potential; two consecutive rounds with equal sums ⇔
    # fixpoint (the dedup_components convergence check, minus the
    # separate initial-sum job — consecutive comparison saves one
    # action). The agg action doubles as the checkpoint materializer
    # (lazy ckpt: one job per round).
    prev_sum = None
    for _ in range(50):
        nbr_min = (
            edges.join(labels, edges.v == labels.vec_id)
            .groupBy(F.col("u").alias("vec_id"))
            .agg(F.min("semantic_id").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, "vec_id", "left")
            .select(
                "vec_id",
                "cid",
                F.least(
                    F.col("semantic_id"),
                    F.coalesce("nbr_min", "semantic_id"),
                ).alias("semantic_id"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("semantic_id")).collect()[0][0]  # driver-scalar: convergence potential
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("vec_id", "cid", "semantic_id").orderBy("vec_id")


@query(
    "dedup_impact_report",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_a, doc_b, star_edge FROM ({_MINHASH_ORACLE})
        ),
        ex AS (
            SELECT doc_id, source,
                   CAST(length(text) AS BIGINT) AS bytes,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS canon
            FROM documents
        ),
        near AS (
            SELECT DISTINCT doc_b FROM pairs WHERE NOT star_edge
        ),
        flags AS (
            SELECT e.source, e.bytes,
                   CASE WHEN e.doc_id > e.canon THEN 1 ELSE 0 END
                       AS exact_rm,
                   CASE WHEN e.doc_id <= e.canon AND n.doc_b IS NOT NULL
                        THEN 1 ELSE 0 END AS near_rm
            FROM ex e LEFT JOIN near n ON n.doc_b = e.doc_id
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(exact_rm) AS BIGINT) AS n_exact_removed,
               CAST(sum(near_rm) AS BIGINT) AS n_near_removed,
               CAST(count(*) - sum(exact_rm) - sum(near_rm) AS BIGINT)
                   AS n_survivors,
               CAST(sum(bytes) AS BIGINT) AS bytes_total,
               CAST(sum(CASE WHEN exact_rm = 0 AND near_rm = 0
                        THEN bytes ELSE 0 END) AS BIGINT)
                   AS bytes_surviving,
               CAST(floor(CAST(count(*) - sum(exact_rm) - sum(near_rm)
                        AS DOUBLE) / count(*) * 1000000.0 + 0.5)
                    AS BIGINT) AS survival_micro
        FROM flags
        GROUP BY source
        ORDER BY source
    """,
    phase="P4",
    tags=("dedup", "reporting", "pipeline"),
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact — the report a training-data pipeline
    publishes after its dedup stage: how many documents each source
    loses to EXACT duplication (md5 canonical = min doc_id per text
    digest), how many more to NEAR duplication (one-hop minhash
    removal: the doc appears as the larger side of a shipped
    candidate pair — star edges excluded, they assert connectivity,
    not similarity), survivors, and the byte volumes that decide
    storage/training-budget planning. A source with a LOW survival
    rate is a crawl that mostly re-fetches what other sources already
    contributed — the number that reprioritizes the crawler.

    Precedence is deterministic: exact removal wins (a doc can't be
    near-removed if it's already exact-removed); near removal keys on
    the pair relation's doc_a < doc_b ordering, so the kept side is
    always the smaller id — same canonical convention everywhere.

    Plan: one md5-window pass for exact canonicals (shuffles on the
    digest), the shared banded-minhash pair machinery for the near
    set (linear, star-guarded), a distinct on removed ids, and ONE
    source-grain roll-up. Composes the registered builders' relations
    (_flat_signatures/_minhash_pairs), so the report can never drift
    from what the dedup stage actually ships."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    ex = d.select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("bytes"),
        F.min("doc_id")
        .over(W.partitionBy(F.md5(F.col("text").cast("binary"))))
        .alias("canon"),
    )
    near = (
        _minhash_pairs(_flat_signatures(d))
        .filter(~F.col("star_edge"))
        .select("doc_b")
        .distinct()
        .withColumn("in_near", F.lit(1))
    )
    flags = ex.join(near, ex.doc_id == near.doc_b, "left").select(
        "source",
        "bytes",
        F.when(F.col("doc_id") > F.col("canon"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("exact_rm"),
        F.when(
            (F.col("doc_id") <= F.col("canon"))
            & F.col("in_near").isNotNull(),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("near_rm"),
    )
    surv = F.col("n_docs") - F.col("n_exact_removed") - F.col(
        "n_near_removed"
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("exact_rm").cast("bigint").alias("n_exact_removed"),
            F.sum("near_rm").cast("bigint").alias("n_near_removed"),
            F.sum("bytes").cast("bigint").alias("bytes_total"),
            F.sum(
                F.when(
                    (F.col("exact_rm") == 0) & (F.col("near_rm") == 0),
                    F.col("bytes"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("bytes_surviving"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_removed",
            "n_near_removed",
            surv.cast("bigint").alias("n_survivors"),
            "bytes_total",
            "bytes_surviving",
            micro(surv.cast("double") / F.col("n_docs"))
            .alias("survival_micro"),
        )
        .orderBy("source")
    )


# (bands, rows) sweep grid for the S-curve tuning audit — every config
# uses at most the 32 available minhash slots.
_SWEEP_CONFIGS = ((16, 2), (10, 3), (8, 4), (6, 5), (5, 6), (4, 8), (3, 10), (2, 16))


def _scurve_p_sql(s: str, b: int, r: int) -> str:
    """P(candidate) = 1 − (1 − s^r)^b as LEFT-ASSOCIATED repeated
    multiplication (never pow(): libm pow may differ in the last ULP
    across engines; a fixed multiply chain over an exact dyadic s is
    deterministic IEEE everywhere). Engine-neutral SQL — shared by the
    Spark builder and the DuckDB oracle."""
    sr = s
    for _ in range(r - 1):
        sr = f"({sr} * {s})"
    q = f"(1.0 - {sr})"
    qb = q
    for _ in range(b - 1):
        qb = f"({qb} * {q})"
    return f"(1.0 - {qb})"


def _band_sweep_oracle() -> str:
    agree = " + ".join(
        f"CAST(a.s{i} = b.s{i} AS INTEGER)" for i in range(N_MINHASH)
    )
    sums = []
    for bb, rr in _SWEEP_CONFIGS:
        p = _scurve_p_sql("est", bb, rr)
        pm = f"CAST(floor({p} * 1000000.0 + 0.5) AS BIGINT)"
        sums.append(f"CAST(sum(w * {pm}) AS BIGINT) AS all_{bb}_{rr}")
        sums.append(
            f"CAST(sum(CASE WHEN est >= {NEAR_DUP_THRESHOLD} THEN"
            f" w * {pm} ELSE 0 END) AS BIGINT) AS dup_{bb}_{rr}"
        )
    branches = " UNION ALL ".join(
        f"SELECT {bb} AS bands, {rr} AS rows_per_band,"
        f" all_{bb}_{rr} AS sum_p_all, dup_{bb}_{rr} AS sum_p_dup"
        f" FROM wide" for bb, rr in _SWEEP_CONFIGS
    )
    slot_list = ", ".join(f"s{i}" for i in range(N_MINHASH))
    band_mins = ", ".join(f"min(b{b}) AS b{b}" for b in range(N_BANDS))
    first_match = " AND ".join(
        f"(a.band_idx <= {j} OR a.b{j} <> b.b{j})" for j in range(N_BANDS)
    )
    return f"""
        WITH {_MH_FLAT_SQL},
        cls AS (
            SELECT {slot_list}, {band_mins},
                   min(doc_id) AS repr_id,
                   CAST(count(*) AS BIGINT) AS w
            FROM flat GROUP BY {slot_list}
        ),
        cbanded AS (
            SELECT c.*, u.band_idx,
                   CASE u.band_idx
                        {" ".join(f"WHEN {b} THEN b{b}" for b in range(N_BANDS))}
                   END AS band_hash
            FROM cls c
            CROSS JOIN (SELECT unnest(range({N_BANDS})) AS band_idx) u
        ),
        stats AS (
            SELECT *,
                   count(*) OVER (PARTITION BY band_idx, band_hash)
                       AS n_bucket
            FROM cbanded
        ),
        pairs AS (
            SELECT a.w * b.w AS w,
                   CAST(({agree}) AS DOUBLE) / {N_MINHASH} AS est
            FROM stats a JOIN stats b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.repr_id < b.repr_id
             AND a.n_bucket <= {MAX_PAIR_BUCKET}
             AND {first_match}
        ),
        scal AS (
            SELECT CAST(coalesce(sum(w * (w - 1) // 2), 0) AS BIGINT)
                       AS within_pairs
            FROM cls
        ),
        over_ AS (
            SELECT CAST(count(DISTINCT band_idx * 2147483647 + band_hash)
                        AS BIGINT) AS n_oversized
            FROM stats WHERE n_bucket > {MAX_PAIR_BUCKET}
        ),
        gl AS (
            SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS w_total,
                   CAST(coalesce(sum(CASE WHEN est >= {NEAR_DUP_THRESHOLD}
                                     THEN w ELSE 0 END), 0) AS BIGINT)
                       AS w_dup
            FROM pairs
        ),
        wide AS (
            SELECT {", ".join(f"CAST(coalesce(sum(w * CAST(floor({_scurve_p_sql('est', bb, rr)} * 1000000.0 + 0.5) AS BIGINT)), 0) AS BIGINT) AS all_{bb}_{rr}, CAST(coalesce(sum(CASE WHEN est >= {NEAR_DUP_THRESHOLD} THEN w * CAST(floor({_scurve_p_sql('est', bb, rr)} * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS dup_{bb}_{rr}" for bb, rr in _SWEEP_CONFIGS)}
            FROM pairs
        ),
        cfg AS ({branches})
        SELECT CAST(cfg.bands AS BIGINT) AS bands,
               CAST(cfg.rows_per_band AS BIGINT) AS rows_per_band,
               CAST(cfg.bands * cfg.rows_per_band AS BIGINT) AS slots_used,
               CAST(cfg.sum_p_all + s.within_pairs * 1000000 AS BIGINT)
                   AS exp_candidates_micro,
               CAST(g.w_dup + s.within_pairs AS BIGINT) AS dup_pairs,
               CASE WHEN g.w_dup + s.within_pairs > 0 THEN
                   CAST(floor(CAST(cfg.sum_p_dup + s.within_pairs * 1000000
                              AS DOUBLE) / (g.w_dup + s.within_pairs) + 0.5)
                        AS BIGINT)
               END AS exp_recall_micro,
               CASE WHEN g.w_total - g.w_dup > 0 THEN
                   CAST(floor(CAST(cfg.sum_p_all - cfg.sum_p_dup AS DOUBLE)
                              / (g.w_total - g.w_dup) + 0.5) AS BIGINT)
               END AS exp_fp_rate_micro,
               o.n_oversized AS n_oversized_buckets
        FROM cfg CROSS JOIN scal s CROSS JOIN gl g CROSS JOIN over_ o
        ORDER BY bands DESC
    """


@query(
    "dedup_band_sweep",
    oracle=_band_sweep_oracle(),
    phase="P4",
    tags=("dedup", "minhash", "lsh", "planner"),
)
def dedup_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve sweep — the tuning table behind
    dedup_minhash's fixed 5×6 operating point: for each (bands, rows)
    layout of the 32-slot signature, the expected candidate volume,
    expected recall on the ≥0.8 near-dup population, and expected
    false-positive rate below it, all under the standard
    P(candidate) = 1 − (1 − s^r)^b model evaluated at each observed
    pair's estimated similarity. This is the query you run BEFORE
    re-sharding a 100 TB dedup job with a different precision/recall
    trade — it prices every config from ONE banding pass.

    Scale design (the join_fuzzy_blocked distinct-grain recipe):
    everything runs at DISTINCT-SIGNATURE-CLASS grain. Docs with
    identical 32-slot signatures collapse to one weighted class row
    first — exactly the template clusters that make doc-grain pair
    enumeration quadratic — so between-class candidates are banded
    over a relation that is already deduplicated, pair weights are
    w_a·w_b, and the signature-identical mass (s = 1, caught by every
    config with certainty) enters as ONE Σw(w−1)/2 scalar. Oversized
    class-grain buckets (> MAX_PAIR_BUCKET classes) are EXCLUDED, not
    star-guarded — a star edge's similarity is meaningless to an
    expected-volume integral — and their count ships visibly as
    n_oversized_buckets (the no-silent-caps rule).

    Exactness: est = agree/32 is an exact dyadic rational; s^r and
    (1−s^r)^b are fixed left-associated multiply chains (never libm
    pow); each pair's p micro-quantizes BEFORE the weighted sum, so
    all eight configs reduce as order-free integer sums in one wide
    aggregate; the recall/fp divisions are spelled once at config
    grain."""
    d = load(spark, sf_dir, "documents")
    flat = _flat_signatures(d)
    slot_cols = [f"s{i}" for i in range(N_MINHASH)]
    # LAZY checkpoints (r12): the class relation feeds FOUR subtrees
    # (banding, the within-pairs scalar, and both sides of the pair
    # self-join via stats) — all REFERENCES to one checkpointed
    # DataFrame, never re-derivations, so they share one RDD computed
    # inside the final job (SCALE.md §6h; the earlier eager
    # justification cited the LPA lesson, which only covers re-derived
    # lineages). Eager vs lazy A/B at bench confs: 1.04 vs 0.97 s warm
    # min, value-identical.
    cls = flat.groupBy(*slot_cols).agg(
        *[F.min(f"b{b}").alias(f"b{b}") for b in range(N_BANDS)],
        F.min("doc_id").alias("repr_id"),
        F.count(F.lit(1)).cast("bigint").alias("w"),
    ).localCheckpoint(eager=False)
    # Wide expressions as SQL strings (r12): the Column-algebra join
    # condition + agree sum + 18 sweep aggregates made ~600 py4j round
    # trips per invocation (3.7-10.8 s of driver wall at bench
    # conditions vs 0.5 s exec — the emb_quantize_binary lesson).
    cbanded = cls.selectExpr(
        "*",
        "posexplode(array("
        + ", ".join(f"b{b}" for b in range(N_BANDS))
        + ")) AS (band_idx, band_hash)",
    )
    stats = cbanded.selectExpr(
        "*",
        "count(1) OVER (PARTITION BY band_idx, band_hash) AS n_bucket",
    ).localCheckpoint(eager=False)
    a = stats.alias("a")
    b = stats.alias("b")
    first_match = " AND ".join(
        f"(a.band_idx <= {j} OR a.b{j} != b.b{j})" for j in range(N_BANDS)
    )
    agree = " + ".join(
        f"CAST(a.s{i} = b.s{i} AS INT)" for i in range(N_MINHASH)
    )
    pairs = a.join(
        b,
        F.expr(
            "a.band_idx = b.band_idx AND a.band_hash = b.band_hash"
            " AND a.repr_id < b.repr_id"
            f" AND a.n_bucket <= {MAX_PAIR_BUCKET}"
            f" AND {first_match}"
        ),
    ).selectExpr(
        "a.w * b.w AS w",
        f"CAST(({agree}) AS DOUBLE) / {N_MINHASH} AS est",
    )
    scal = F.broadcast(
        cls.agg(
            F.coalesce(
                F.sum(F.col("w") * (F.col("w") - 1) / 2).cast("bigint"),
                F.lit(0),
            ).alias("within_pairs")
        )
    )
    over_ = F.broadcast(
        stats.filter(F.col("n_bucket") > MAX_PAIR_BUCKET)
        .agg(
            F.countDistinct(
                F.col("band_idx").cast("bigint") * F.lit(2147483647)
                + F.col("band_hash")
            )
            .cast("bigint")
            .alias("n_oversized")
        )
    )
    # sweep aggregates as SQL strings — _scurve_p_sql is engine-neutral
    # arithmetic shared verbatim with the DuckDB oracle generator
    dup_sql = f"est >= {NEAR_DUP_THRESHOLD}D"
    aggs = [
        F.expr("CAST(coalesce(sum(w), 0) AS BIGINT)").alias("w_total"),
        F.expr(
            f"CAST(coalesce(sum(IF({dup_sql}, w, 0)), 0) AS BIGINT)"
        ).alias("w_dup"),
    ]
    for bb, rr in _SWEEP_CONFIGS:
        pm = (
            f"CAST(floor({_scurve_p_sql('est', bb, rr)} * 1000000.0 + 0.5)"
            " AS BIGINT)"
        )
        aggs.append(
            F.expr(f"CAST(coalesce(sum(w * {pm}), 0) AS BIGINT)").alias(
                f"all_{bb}_{rr}"
            )
        )
        aggs.append(
            F.expr(
                f"CAST(coalesce(sum(IF({dup_sql}, w * {pm}, 0)), 0)"
                " AS BIGINT)"
            ).alias(f"dup_{bb}_{rr}")
        )
    wide = pairs.agg(*aggs)
    stack_sql = ", ".join(
        f"CAST({bb} AS BIGINT), CAST({rr} AS BIGINT), "
        f"all_{bb}_{rr}, dup_{bb}_{rr}"
        for bb, rr in _SWEEP_CONFIGS
    )
    cfg = wide.selectExpr(
        "w_total",
        "w_dup",
        f"stack({len(_SWEEP_CONFIGS)}, {stack_sql})"
        " AS (bands, rows_per_band, sum_p_all, sum_p_dup)",
    )
    joined = cfg.crossJoin(scal).crossJoin(over_)
    dup_tot = F.col("w_dup") + F.col("within_pairs")
    nondup = F.col("w_total") - F.col("w_dup")
    return joined.select(
        "bands",
        "rows_per_band",
        (F.col("bands") * F.col("rows_per_band"))
        .cast("bigint")
        .alias("slots_used"),
        (F.col("sum_p_all") + F.col("within_pairs") * 1000000)
        .cast("bigint")
        .alias("exp_candidates_micro"),
        dup_tot.cast("bigint").alias("dup_pairs"),
        F.when(
            dup_tot > 0,
            F.floor(
                (
                    F.col("sum_p_dup") + F.col("within_pairs") * 1000000
                ).cast("double")
                / dup_tot
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("exp_recall_micro"),
        F.when(
            nondup > 0,
            F.floor(
                (F.col("sum_p_all") - F.col("sum_p_dup")).cast("double")
                / nondup
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("exp_fp_rate_micro"),
        F.col("n_oversized").alias("n_oversized_buckets"),
    ).orderBy(F.desc("bands"))
