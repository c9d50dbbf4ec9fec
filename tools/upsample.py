"""Build a deterministic 10x dataset ("sf1") from the sf0.1 fixtures, so
the heavy query class can be timed at a scale where parallelism shows:

    python tools/upsample.py        # sf0.1 fixtures -> scratch/sf1

then time it with `SPARK_GRAFT_SF_DIR=scratch/sf1 python bench.py --only
...` (README lists the heavy-class names). The data is INPUT for timing
only; correctness is proven on the fixtures themselves.

Scheme (seedless): each table is the union of FACTOR copies; copy i
shifts every key column by i * OFFSET(domain), where OFFSET is the next
power of 10 above the domain's max key. Foreign keys shift by their
referenced domain's offset, so joins land exactly as in the original
(the graph becomes FACTOR disjoint isomorphic components; dedup/text
corpora gain FACTOR exact duplicates per doc). nation/region stay
single-copy dims; non-key columns are byte-identical. Powers of 10 are
≡ 0 mod 5, so `key % 5` filters select the same subset in every copy.
Shifted keys are written as bigint so no copy can wrap its key type.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FACTOR = 10
# key domains: table -> {column: domain}; FKs name the referenced domain
KEYS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
_DOMAIN_SOURCE = {  # domain -> (table, column) that defines its max
    "cust": ("customer", "c_custkey"),
    "order": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
COPY_ASIS = ("region", "nation")


def upsample(spark, src_dir: str, dst_dir: str) -> None:
    """Write the FACTOR-x key-shifted copy of every table in src_dir to
    dst_dir (one parquet dir per table)."""
    from pyspark.sql import functions as F

    # raw reads: nanosAsLong lets the NANOS-encoded events generation
    # through untouched (io.load sets the same flag on every events read)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = {
        t: spark.read.parquet(f"{src_dir}/{t}.parquet")
        for t in list(KEYS) + list(COPY_ASIS)
    }
    offsets = {}
    for dom, (t, c) in _DOMAIN_SOURCE.items():
        mx = raw[t].agg(F.max(c)).collect()[0][0]
        off = 10
        while off <= mx:
            off *= 10
        offsets[dom] = off
    for t in COPY_ASIS:
        raw[t].write.mode("overwrite").parquet(f"{dst_dir}/{t}.parquet")
    for t, keys in KEYS.items():
        out = None
        for i in range(FACTOR):
            df = raw[t].withColumns({
                col: (F.col(col).cast("bigint") + F.lit(i * offsets[dom]))
                for col, dom in keys.items()
            })
            out = df if out is None else out.unionAll(df)
        out.repartition(8).write.mode("overwrite").parquet(
            f"{dst_dir}/{t}.parquet"
        )


if __name__ == "__main__":
    from data_integration_tool_spark.session import get_spark

    spark = get_spark(app_name="upsample")
    spark.sparkContext.setLogLevel("ERROR")
    # the read-only sf0.1 fixtures (TESTDATA.md) -> gitignored scratch/sf1
    upsample(spark, "/root/testdata/sf0.1", os.path.join(REPO, "scratch", "sf1"))
