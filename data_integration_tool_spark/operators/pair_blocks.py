"""Sub-chunk tiling for pairwise-kernel blocks (SURVEY.md §2.10 scale note).

The pairwise operators (``dedup_ngram_jaccard``, ``dedup_embedding``,
``sim_pairs_threshold``) run an O(n²) Arrow kernel per blocking-key
group. A skewed block — one giant ``source`` at 100 TB — would hand a
single executor an n² matrix it cannot hold. This module bounds that:
every block is tiled into chunk pairs ``(ca, cb)`` with ``ca <= cb`` so
no kernel invocation ever sees more than ``2 × MAX_PAIR_BLOCK_ROWS`` rows,
regardless of block skew.

Mechanics:
- block sizes come from one tiny partial-agg'd count, broadcast back;
- each row gets a deterministic chunk id ``pmod(xxhash64(id), n_chunks)``
  where ``n_chunks = ceil(block_size / MAX_PAIR_BLOCK_ROWS)``;
- a row with chunk ``c`` replicates into the ``n_chunks`` tiles
  ``(min(o,c), max(o,c))`` for ``o in 0..n_chunks-1`` — the standard
  triangular tiling, each unordered chunk pair exactly once;
- every unordered ROW pair lands in exactly one tile (the tile of its
  two chunk ids), so a kernel that emits only pairs whose chunk pair
  matches its tile produces each pair exactly once and the union over
  tiles equals the unchunked result. Per-pair values are unchanged
  because the kernels compute each pair from the two rows alone (fixed
  per-dimension fp accumulation order — see pairwise_cosine_exact).

For unchunked blocks (``n_chunks == 1``) the explode emits a single
``(0, 0)`` tile: the fast path costs one count + broadcast join.
Replication factor for a chunked block is ``n_chunks`` (total tile work
stays O(n²) — it is the per-task memory that is bounded, the same total
compare count just lands in ``n_chunks·(n_chunks+1)/2`` bounded tasks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-kernel-invocation row bound. A (2·4096)²·8B cosine matrix is
# ~0.5 GB — comfortable in a 4 GB executor alongside the Arrow batch.
MAX_PAIR_BLOCK_ROWS = 4096

CHUNK_COL = "_ck"  # per-row chunk id, read by kernels for pair ownership


def tile_pair_blocks(
    df: DataFrame, block_cols: list[str], id_col: str
) -> DataFrame:
    """Return ``df`` with ``_ck`` (chunk id) and exploded ``_ca``/``_cb``
    tile columns; callers group by ``(*block_cols, _ca, _cb)``."""
    sizes = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_bn"))
    t = df.join(F.broadcast(sizes), list(block_cols)).withColumn(
        "_nc", F.ceil(F.col("_bn") / F.lit(MAX_PAIR_BLOCK_ROWS)).cast("int")
    )
    t = t.withColumn(
        CHUNK_COL, F.pmod(F.xxhash64(F.col(id_col)), F.col("_nc")).cast("int")
    )
    tiles = F.transform(
        F.sequence(F.lit(0), F.col("_nc") - 1),
        lambda o: F.struct(
            F.least(o, F.col(CHUNK_COL)).alias("ca"),
            F.greatest(o, F.col(CHUNK_COL)).alias("cb"),
        ),
    )
    return (
        t.withColumn("_tile", F.explode(tiles))
        .withColumn("_ca", F.col("_tile.ca"))
        .withColumn("_cb", F.col("_tile.cb"))
        .drop("_tile", "_bn", "_nc")
    )


def owned_pair_mask(ck, ca: int, cb: int):
    """n×n boolean mask of row pairs this tile owns: pair (i, j) belongs
    to tile (ca, cb) iff its sorted chunk-id pair equals (ca, cb).
    ``ck`` is the tile's per-row chunk-id numpy array."""
    a = ck[:, None]
    b = ck[None, :]
    return ((a == ca) & (b == cb)) | ((a == cb) & (b == ca))
