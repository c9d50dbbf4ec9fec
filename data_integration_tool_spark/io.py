"""Table loading over the driver-generated parquet fixtures.

The nine test tables (FIXTURES.md) are plain parquet files; Spark's
vectorized parquet reader ingests their schema as-is. ``load`` returns a
lazy DataFrame — filters and projections applied downstream push down
into the scan (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``). At cluster scale the same call reads a partitioned
directory tree; nothing here assumes a single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Opt-in per-session table cache (SPARK_GRAFT_CACHE_TABLES=1): the bench
# harness reuses one SparkSession across ~90 queries, so persisting each
# base table once removes ~90 redundant parquet scans. Off by default —
# the correctness path must exercise the real scan (pushdown, pruning),
# and at 100 TB you cache *hot* tables deliberately, not everything.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one fixture table from a scale-factor directory.

    events.ts has shipped in two physical encodings across fixture
    generations: parquet TIMESTAMP(NANOS) (which Spark 4's vectorized
    reader rejects outright, PARQUET_TYPE_ILLEGAL, so we read it as raw
    nanos via legacy nanosAsLong and rebuild a µs timestamp with exact
    integer DIV — same truncation DuckDB applies), and plain
    TIMESTAMP(MICROS) (read natively, no conversion). We sniff the type
    the reader actually produced and only convert when it's raw nanos,
    so both fixture generations load identically.
    """
    if table not in TABLES:
        raise ValueError(f"unknown table {table!r}; expected one of {TABLES}")
    from .shipping import ship_package

    ship_package(spark)
    caching = os.environ.get("SPARK_GRAFT_CACHE_TABLES") == "1"
    key = (id(spark), sf_dir, table)
    if caching and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    if table == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if isinstance(raw.schema["ts"].dataType, LongType):
            df = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        else:
            # TIMESTAMP(MICROS) without UTC adjustment arrives as
            # TIMESTAMP_NTZ; cast to session-tz TIMESTAMP (UTC) so every
            # downstream op (epoch casts, window(), datediff) sees the
            # same type previous fixture generations produced. The NTZ →
            # TIMESTAMP cast interprets wall-clock fields in the session
            # timezone, so it only preserves epoch values when that tz is
            # UTC — force it here rather than trusting whatever session
            # the driver supplied (operators must run correctly under a
            # vanilla session).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if caching:
        df = df.persist()
        _TABLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for the spark.sql path."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
