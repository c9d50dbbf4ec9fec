"""ETL format-conversion layer (SURVEY.md §2.1) — the reference's core
job ("formatting data from one complex system to another",
BASELINE.json:5-7), re-expressed as declarative Spark I/O.

``convert`` is read → mapping → write where the mapping is a dict of
output column → SQL expression string, compiled to Column expressions so
Catalyst folds them into the scan (projection pushdown). Nothing is
materialized on the driver; a 100 TB conversion is the same code with a
partitioned destination.

Supported formats: parquet, csv, json, orc (Spark native readers —
schema inference optional for csv/json, explicit schema preferred).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FORMATS = ("parquet", "csv", "json", "orc")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Read ``path`` in ``fmt``. CSV defaults to header+non-inferred
    strings unless a schema is given (explicit schema > inference:
    inference is an extra full scan at scale)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported source format {fmt!r}; one of {FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        opts = {"header": "true", **options}
        if schema is None and "inferSchema" not in opts:
            opts["inferSchema"] = "true"
        return reader.options(**opts).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "orc":
        return reader.options(**options).orc(path)
    return reader.options(**options).parquet(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write ``df`` to ``path`` in ``fmt``. ``partition_by`` produces a
    hive-partitioned directory tree (the scale-out layout: downstream
    readers get partition pruning for free)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported sink format {fmt!r}; one of {FORMATS}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer.options(header="true", **options).csv(path)
    elif fmt == "json":
        writer.options(**options).json(path)
    elif fmt == "orc":
        writer.options(**options).orc(path)
    else:
        writer.options(**options).parquet(path)


def apply_mapping(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Project ``df`` through a mapping of output column → SQL expression
    (e.g. ``{"revenue": "price * (1 - discount)", "day": "date_trunc('day', ts)"}``).
    Expressions are parsed by Catalyst — they push down and codegen like
    hand-written DataFrame code."""
    return df.select(*[F.expr(expr).alias(name) for name, expr in mapping.items()])


def convert(
    spark: SparkSession,
    src_path: str,
    src_fmt: str,
    dst_path: str,
    dst_fmt: str,
    mapping: dict[str, str] | None = None,
    schema: StructType | None = None,
    partition_by: list[str] | None = None,
    read_options: dict[str, str] | None = None,
    write_options: dict[str, str] | None = None,
) -> None:
    """One-shot format conversion: read src → optional column mapping →
    write dst. The whole pipeline is one Spark job; no driver round-trip.
    """
    df = read_any(spark, src_path, src_fmt, schema=schema, **(read_options or {}))
    if mapping:
        df = apply_mapping(df, mapping)
    write_any(df, dst_path, dst_fmt, partition_by=partition_by, **(write_options or {}))


# Registered CDC-apply query (imports deferred so this module stays
# importable without the registry side effects when used as a library).
from ..exprs import cents, micro  # noqa: E402
from ..io import load  # noqa: E402
from ..registry import query  # noqa: E402


@query(
    "etl_scd_upsert",
    oracle="""
        WITH snapshot AS (
            SELECT c_custkey, c_name, c_acctbal
            FROM customer WHERE c_custkey < 1000
        ), changes AS (
            SELECT o_custkey AS custkey,
                   max(struct_pack(d := o_orderdate, k := o_orderkey,
                                   s := o_orderstatus, p := o_totalprice)) AS last
            FROM orders
            GROUP BY o_custkey
        ), ops AS (
            SELECT custkey,
                   CASE WHEN last.s = 'F' THEN 'D' ELSE 'U' END AS op,
                   last.p AS new_bal
            FROM changes
        )
        SELECT coalesce(s.c_custkey, o.custkey) AS c_custkey,
               coalesce(s.c_name, 'NEW#' || o.custkey) AS c_name,
               CASE WHEN o.custkey IS NULL THEN s.c_acctbal
                    ELSE o.new_bal END AS c_acctbal,
               CASE WHEN s.c_custkey IS NULL THEN 'I'
                    WHEN o.custkey IS NULL THEN 'K'
                    ELSE 'U' END AS applied_op
        FROM snapshot s
        FULL OUTER JOIN ops o ON s.c_custkey = o.custkey
        WHERE coalesce(o.op, 'K') <> 'D'
    """,
    phase="P3",
    tags=("etl", "cdc", "upsert"),
)
def etl_scd_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / SCD-1 upsert — THE data-integration merge pattern:
    a keyed snapshot (customers below key 1000, standing in for the
    loaded dimension) receives a changeset derived from orders (latest
    order per customer: status 'F' → delete, else update balance to the
    order total; change keys outside the snapshot → insert).

    Plan shape: the changeset reduces to one row per key with a
    combinable max(struct(date, key, status, price)) arg-max — no
    window sort — then ONE full-outer join on the key applies
    insert/update/delete/keep with coalesce/case. At 100 TB both sides
    shuffle-partition on the key (or the snapshot side is bucketed and
    only the changeset moves); there is exactly one exchange per side
    and no driver involvement. Spark has no MERGE INTO without a table
    format; this operator IS the engine-level equivalent, and the
    full-outer CASE form is hash-verified against the SQL twin.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 1000).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    o = load(spark, sf_dir, "orders")
    last = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(
            F.struct(
                F.col("o_orderdate").alias("d"),
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("s"),
                F.col("o_totalprice").alias("p"),
            )
        ).alias("last")
    )
    ops = last.select(
        "custkey",
        F.when(F.col("last.s") == "F", "D").otherwise("U").alias("op"),
        F.col("last.p").alias("new_bal"),
    )
    joined = c.join(ops, c.c_custkey == ops.custkey, "full_outer")
    return (
        joined.filter(F.coalesce(F.col("op"), F.lit("K")) != "D")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("custkey")).alias("c_custkey"),
            F.coalesce(
                F.col("c_name"), F.concat(F.lit("NEW#"), F.col("custkey"))
            ).alias("c_name"),
            F.when(F.col("custkey").isNull(), F.col("c_acctbal"))
            .otherwise(F.col("new_bal"))
            .alias("c_acctbal"),
            F.when(F.col("c_custkey").isNull(), "I")
            .when(F.col("custkey").isNull(), "K")
            .otherwise("U")
            .alias("applied_op"),
        )
    )


@query(
    "etl_scd2_intervals",
    oracle="""
        WITH changes AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
            FROM orders
            WHERE o_custkey < 300
        )
        SELECT o_custkey AS custkey,
               o_orderkey AS change_id,
               o_totalprice AS attr_value,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER w AS valid_to,
               CASE WHEN lead(o_orderdate) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM changes
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        ORDER BY custkey, valid_from, change_id
    """,
    phase="P3",
    tags=("etl", "scd2"),
)
def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 derivation: turn an append-only change log (orders
    below custkey 300, each order = a new attribute state for its
    customer) into validity intervals — valid_from/valid_to half-open
    ranges with an is_current flag on the newest row. One lead()
    window per key, orderkey tiebreak for same-day changes; at scale
    this is a single shuffle on the key and the interval table can be
    written partitioned by is_current for cheap current-state reads."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("change_id"),
            F.col("o_totalprice").alias("attr_value"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
        )
        .withColumn(
            "is_current",
            F.when(F.col("valid_to").isNull(), 1).otherwise(0),
        )
        .orderBy("custkey", "valid_from", "change_id")
    )


@query(
    "dim_date_generate",
    oracle="""
        WITH b AS (
            SELECT CAST(min(o_orderdate) AS DATE) AS d0,
                   CAST(max(o_orderdate) AS DATE) AS d1
            FROM orders
        ),
        days AS (
            SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                       AS day
            FROM b
        )
        SELECT day,
               year(day) AS yr,
               month(day) AS mo,
               quarter(day) AS qtr,
               isodow(day) - 1 AS weekday,
               CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS is_weekend
        FROM days
        ORDER BY day
    """,
    phase="P3",
    tags=("etl", "dimension"),
)
def dim_date_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation — the warehouse date spine. The
    min/max bounds come from one aggregate row; sequence() + explode
    expands the span entirely on executors (no driver range loop), and
    the attribute columns are pure expressions. Both engines use
    Monday=0 weekday numbering. At scale the explode of a multi-decade
    span is ~10^4 rows — trivially repartitionable downstream."""
    o = load(spark, sf_dir, "orders")
    b = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = b.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    wd = F.weekday("day")
    return days.select(
        "day",
        F.year("day").alias("yr"),
        F.month("day").alias("mo"),
        F.quarter("day").alias("qtr"),
        wd.cast("bigint").alias("weekday"),
        F.when(wd >= 5, 1).otherwise(0).alias("is_weekend"),
    ).orderBy("day")


@query(
    "etl_convert_roundtrip",
    # Upgraded from rows-only in r6 (the fn_xml trick): a LOSSLESS
    # round trip means src and dst stats BOTH equal the direct nation
    # stats, so the oracle states that directly — any leg that drops,
    # duplicates, or retypes rows makes the Spark output diverge from
    # this and the driver hash goes red. DuckDB never touches the
    # written files; it doesn't need to.
    oracle="""
        WITH s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_nationkey) AS BIGINT) AS k,
                   CAST(sum(length(n_name)) AS BIGINT) AS l
            FROM nation
        )
        SELECT 'row_count' AS "check", n AS src, n AS dst, TRUE AS ok FROM s
        UNION ALL
        SELECT 'key_checksum', k, k, TRUE FROM s
        UNION ALL
        SELECT 'name_len_sum', l, l, TRUE FROM s
        ORDER BY "check"
    """,
    phase="P3",
    tags=("etl", "convert", "io"),
)
def etl_convert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-conversion round-trip — the reference's nominal core job
    (BASELINE.json:5-7) made driver-visible: nation.parquet → csv →
    json → orc → parquet via ``convert`` (every supported format gets a
    leg), with a column mapping applied on the first hop
    (``apply_mapping`` → Catalyst expressions), then a reconciliation of
    the final parquet against the source.

    CSV/JSON are schemaless on disk, so their read-back legs supply an
    explicit schema (the production rule this layer documents: explicit
    schema > inference — inference is an extra full scan at scale); ORC
    carries its own types. Emits one row per check (row count, key
    checksum, name-length sum) with src/dst values side by side;
    rows-only in the driver, every ``ok`` asserted True by
    test_etl.py::test_convert_roundtrip_query_reconciles."""
    import shutil
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField

    src = load(spark, sf_dir, "nation")
    work = tempfile.mkdtemp(prefix="etl_roundtrip_")
    try:
        mapped_schema = StructType(
            [
                StructField("n_nationkey", LongType()),
                StructField("n_name", StringType()),
                StructField("n_regionkey", LongType()),
                StructField("name_len", LongType()),
            ]
        )
        # hop 1: parquet → csv, with a mapping (projection + derived col)
        write_any(
            apply_mapping(
                src,
                {
                    "n_nationkey": "n_nationkey",
                    "n_name": "n_name",
                    "n_regionkey": "n_regionkey",
                    "name_len": "CAST(length(n_name) AS BIGINT)",
                },
            ),
            f"{work}/csv",
            "csv",
        )
        # hop 2: csv → json (schema supplied: csv stores no types)
        convert(spark, f"{work}/csv", "csv", f"{work}/json", "json",
                schema=mapped_schema)
        # hop 3: json → orc (schema supplied: json stores no types)
        convert(spark, f"{work}/json", "json", f"{work}/orc", "orc",
                schema=mapped_schema)
        # hop 4: orc → parquet (orc is typed: no schema needed back)
        convert(spark, f"{work}/orc", "orc", f"{work}/parquet", "parquet")
        final = read_any(spark, f"{work}/parquet", "parquet")
        # Reconciliation stays declarative: two 1-row aggregates,
        # cross-joined and unpivoted via stack() — no driver collect.
        s = src.agg(
            F.count(F.lit(1)).alias("src_n"),
            F.sum("n_nationkey").alias("src_key"),
            F.sum(F.length("n_name")).cast("bigint").alias("src_len"),
        )
        d = final.agg(
            F.count(F.lit(1)).alias("dst_n"),
            F.sum("n_nationkey").alias("dst_key"),
            F.sum("name_len").alias("dst_len"),
        )
        out = (
            s.crossJoin(d)
            .selectExpr(
                "stack(3, 'row_count', src_n, dst_n,"
                " 'key_checksum', src_key, dst_key,"
                " 'name_len_sum', src_len, dst_len) AS (check, src, dst)"
            )
            .withColumn("ok", F.col("src") == F.col("dst"))
        )
        # materialize before the temp dir vanishes: an eager
        # localCheckpoint severs the plan's lineage from {work}/parquet
        # so the returned frame stays computable after cleanup
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "etl_incremental_agg",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
               count(*) AS n_orders,
               -- DuckDB sum(BIGINT) returns HUGEINT, which fetchdf()
               -- renders as float64 and the driver hash treats as red
               -- vs Spark's int64 (CORRECTNESS_r05); cast it back down.
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders
        GROUP BY 1
    """,
    phase="P3",
    tags=("etl", "incremental", "agg"),
)
def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view /
    rollup-refresh pattern: a monthly revenue rollup is maintained by
    merging the DELTA partition's partial aggregate into the BASE
    rollup, never re-scanning history. Here the split is a fixed cutoff
    (orders before/after 1997-01-01) standing in for
    yesterday's-rollup + today's-partition; the oracle is the full
    recompute, so the driver verifies merge(base, delta) ≡ recompute.

    Merge-safety is the whole design: the maintained measures are a
    COUNT and a SUM OF INTEGER CENTS (o_totalprice has 2 decimals, so
    cents are exact BIGINTs) — both associative/commutative, so the
    partial-merge result is bit-identical to the recompute regardless
    of merge order. A double sum here would drift by merge order; avg
    or distinct counts must be carried as (sum, count) / sketches. At
    100 TB this turns a daily full-history scan into one partition scan
    plus a rollup-sized merge, and the merge groupBy reuses the rollup
    partitioning."""
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    price_cents = cents(F.col("o_totalprice"))

    def monthly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").alias("mo")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(price_cents).alias("revenue_cents"),
        )

    base = monthly(o.filter(F.col("o_orderdate") < cutoff))
    delta = monthly(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("mo")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )


@query(
    "etl_zorder_layout",
    oracle="""
        WITH b AS (
            SELECT min(o_custkey) AS ck0,
                   max(o_custkey) - min(o_custkey) + 1 AS ck_span,
                   min(CAST(o_orderdate AS DATE)) AS d0,
                   date_diff('day', min(CAST(o_orderdate AS DATE)),
                             max(CAST(o_orderdate AS DATE))) + 1 AS d_span
            FROM orders
        ), keyed AS (
            SELECT o_orderkey, o_custkey,
                   date_diff('day', b.d0, CAST(o_orderdate AS DATE)) AS day_off,
                   CAST(floor((o_custkey - b.ck0) * 16.0 / b.ck_span)
                        AS BIGINT) AS zx,
                   CAST(floor(date_diff('day', b.d0, CAST(o_orderdate AS DATE))
                              * 16.0 / b.d_span) AS BIGINT) AS zy
            FROM orders CROSS JOIN b
        ), zvals AS (
            SELECT o_orderkey, o_custkey, day_off,
                   ((zx >> 0) & 1) * 1   + ((zy >> 0) & 1) * 2
                 + ((zx >> 1) & 1) * 4   + ((zy >> 1) & 1) * 8
                 + ((zx >> 2) & 1) * 16  + ((zy >> 2) & 1) * 32
                 + ((zx >> 3) & 1) * 64  + ((zy >> 3) & 1) * 128 AS file_id
            FROM keyed
        )
        SELECT CAST(file_id AS BIGINT) AS file_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
               CAST(min(day_off) AS BIGINT) AS min_day,
               CAST(max(day_off) AS BIGINT) AS max_day
        FROM zvals
        GROUP BY file_id
        ORDER BY file_id
    """,
    phase="P3",
    tags=("etl", "layout", "zorder"),
)
def etl_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) file layout planning — the data-skipping
    write pattern: orders are assigned to one of 256 target files by
    bit-interleaving a 4-bit custkey rank with a 4-bit orderdate rank,
    so each file's (custkey, date) bounding box is tight on BOTH
    dimensions and a reader filtering on either column can prune ~15/16
    of the files from min/max footer stats alone (linear layouts give
    that for one dimension only).

    The emitted relation IS the layout manifest: per target file its
    row count and per-dimension min/max — exactly the stats a writer
    would publish. Plan: the global bounds are one aggregate row
    broadcast into a map-only projection (rank + interleave are integer
    bit arithmetic, bit-identical across engines — no float at the
    bucket cut except one exact small-int multiply), then a 256-group
    aggregate. At 100 TB this is a scan + one tiny shuffle; the actual
    write would be ``repartition(file_id).sortWithinPartitions`` on the
    same expression. 4+4 bits is the testable miniature of the
    production 16+16-bit curve."""
    o = load(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey").alias("ck0"),
        (F.max("o_custkey") - F.min("o_custkey") + 1).alias("ck_span"),
        F.min(F.to_date("o_orderdate")).alias("d0"),
        (
            F.datediff(F.max(F.to_date("o_orderdate")), F.min(F.to_date("o_orderdate")))
            + 1
        ).alias("d_span"),
    )
    keyed = o.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.col("d0")).alias("day_off"),
        F.floor((F.col("o_custkey") - F.col("ck0")) * 16.0 / F.col("ck_span"))
        .cast("bigint")
        .alias("zx"),
        F.floor(
            F.datediff(F.to_date("o_orderdate"), F.col("d0"))
            * 16.0
            / F.col("d_span")
        )
        .cast("bigint")
        .alias("zy"),
    )
    zx, zy = F.col("zx"), F.col("zy")
    file_id = sum(
        F.shiftright(zx, i).bitwiseAND(1) * (1 << (2 * i))
        + F.shiftright(zy, i).bitwiseAND(1) * (1 << (2 * i + 1))
        for i in range(4)
    )
    return (
        keyed.select(
            file_id.cast("bigint").alias("file_id"), "o_custkey", "day_off"
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_custkey").alias("min_ck"),
            F.max("o_custkey").alias("max_ck"),
            F.min("day_off").cast("bigint").alias("min_day"),
            F.max("day_off").cast("bigint").alias("max_day"),
        )
        .orderBy("file_id")
    )


@query(
    "etl_compaction_plan",
    oracle="""
        WITH manifest AS (
            SELECT o_orderkey % 397 AS file_id,
                   count(*) * 128 AS file_bytes
            FROM orders
            GROUP BY o_orderkey % 397
        ),
        packed AS (
            SELECT file_id, file_bytes,
                   CAST(floor(
                       (CAST(sum(file_bytes) OVER (
                            ORDER BY file_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                        - file_bytes) / 131072.0) AS BIGINT) AS bin_id
            FROM manifest
        )
        SELECT file_id, file_bytes, bin_id,
               CAST(sum(file_bytes) OVER (PARTITION BY bin_id)
                    AS BIGINT) AS bin_bytes,
               CAST(count(*) OVER (PARTITION BY bin_id)
                    AS BIGINT) AS bin_files
        FROM packed
    """,
    phase="P3",
    tags=("etl", "compaction", "maintenance"),
)
def etl_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the OPTIMIZE/rewrite step every
    table format (Delta, Iceberg, Hudi) runs against the small-file
    problem: given a file manifest (synthesized here as 397 key-sliced
    "files" of orders with a bytes proxy), assign files to ~128 KiB
    target bins by sequential fill in file order, emitting the rewrite
    plan (file → bin, plus per-bin totals a scheduler would dispatch).

    Sequential fill (cumulative bytes BEFORE this file, integer-divided
    by the target) preserves key order within bins — what real
    compactors do so data clustering survives the rewrite — and needs
    ONE ordered pass instead of NP-hard bin packing. Scale shape: the
    data-sized work is only the manifest aggregation (combinable
    count); the packing windows run over the MANIFEST, which is
    metadata-scale (one row per file, ~10^6 rows for 100 TB of 100 MB
    files) — a single-partition ordered window over a million metadata
    rows is milliseconds, and the alternative (driver-side loop) would
    forfeit the plan's lineage. Integer bytes throughout: hash-exact."""
    o = load(spark, sf_dir, "orders")
    manifest = o.groupBy(
        (F.col("o_orderkey") % 397).alias("file_id")
    ).agg((F.count(F.lit(1)) * 128).alias("file_bytes"))
    w_fill = Window.orderBy("file_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = manifest.select(
        "file_id",
        "file_bytes",
        F.floor(
            (F.sum("file_bytes").over(w_fill) - F.col("file_bytes"))
            / F.lit(131072.0)
        )
        .cast("bigint")
        .alias("bin_id"),
    )
    w_bin = Window.partitionBy("bin_id")
    return packed.select(
        "file_id",
        "file_bytes",
        "bin_id",
        F.sum("file_bytes").over(w_bin).cast("bigint").alias("bin_bytes"),
        F.count(F.lit(1)).over(w_bin).cast("bigint").alias("bin_files"),
    )


@query(
    "etl_manifest_prune",
    oracle="""
        WITH manifest AS (
            SELECT o_orderkey % 256 AS file_id,
                   count(*) AS n_rows,
                   min(o_totalprice) AS min_price,
                   max(o_totalprice) AS max_price,
                   min(o_orderdate)  AS min_date,
                   max(o_orderdate)  AS max_date
            FROM orders
            GROUP BY o_orderkey % 256
        )
        SELECT file_id, n_rows, min_price, max_price,
               CAST(min_date AS TIMESTAMP) AS min_date,
               CAST(max_date AS TIMESTAMP) AS max_date,
               CAST(CASE WHEN min_price <= 150000.0
                          AND max_price >= 100000.0
                          AND min_date <= DATE '1997-12-31'
                          AND max_date >= DATE '1995-01-01'
                    THEN 1 ELSE 0 END AS BIGINT) AS must_read
        FROM manifest
    """,
    phase="P3",
    tags=("etl", "pruning", "data-skipping"),
)
def etl_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max data-skipping planner — the manifest-level pruning every
    lake format (parquet row groups, Delta/Iceberg file stats, zone
    maps) does before touching data: per-file column stats are checked
    for INTERVAL OVERLAP against a conjunctive predicate (price BETWEEN
    100k AND 150k AND orderdate IN 1995..1997), and only overlapping
    files are scheduled for scan.

    A file is skippable iff its [min,max] envelope misses the predicate
    on ANY conjunct — which is why clustering (see etl_zorder_layout)
    matters: randomly-sliced files (as here, keyed on orderkey % 256)
    have wide envelopes and prune poorly, while date-clustered files
    would skip ~60% on the date conjunct alone. The operator ships the
    per-file decision so that trade-off is visible in the output.
    Scale shape: the stats pass is one combinable agg (metadata build);
    the pruning itself is metadata-scale expression work. At 100 TB the
    planner reads ONLY the manifest — which is the entire point."""
    o = load(spark, sf_dir, "orders")
    manifest = o.groupBy(
        (F.col("o_orderkey") % 256).alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )
    overlap = (
        (F.col("min_price") <= 150000.0)
        & (F.col("max_price") >= 100000.0)
        & (F.col("min_date") <= F.lit("1997-12-31").cast("date"))
        & (F.col("max_date") >= F.lit("1995-01-01").cast("date"))
    )
    return manifest.select(
        "file_id",
        "n_rows",
        "min_price",
        "max_price",
        F.col("min_date").cast("timestamp").alias("min_date"),
        F.col("max_date").cast("timestamp").alias("max_date"),
        overlap.cast("bigint").alias("must_read"),
    )


@query(
    "etl_schema_evolution",
    oracle=None,  # IO round-trip through a tempdir (two parquet
    # generations + mergeSchema read-back) — not SQL-expressible; the
    # ok flag folds the invariants and test_etl.py asserts it
    phase="P3",
    tags=("etl", "schema-evolution", "io"),
)
def etl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — the data-integration
    reality every lake hits: generation 1 wrote (key, price); a later
    producer added a column and generation 2 wrote (key, price,
    priority). A mergeSchema read must present ONE unified schema with
    nulls where old files lack the column, losing no rows. Emits one
    summary row; ok=True folds the invariants (row conservation, null
    accounting, schema width) and is asserted in test_etl.py.

    At scale this is why explicit schemas + additive-only evolution are
    the contract: mergeSchema costs a footer read per FILE (metadata
    scale), and non-additive changes (type narrowing, renames) need a
    rewrite — see etl_compaction_plan for the rewrite scheduler."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="etl_evolve_")
    try:
        v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        v1.write.mode("overwrite").parquet(out + "/gen=1")
        v2.write.mode("overwrite").parquet(out + "/gen=2")
        merged = (
            spark.read.option("mergeSchema", "true")
            .parquet(out + "/gen=1", out + "/gen=2")
            .localCheckpoint(eager=True)  # outlive the tempdir
        )
        n1, n2 = v1.count(), v2.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    stats = merged.agg(
        F.count(F.lit(1)).alias("n_merged"),
        F.sum(
            F.col("o_orderpriority").isNull().cast("bigint")
        ).alias("n_null_priority"),
        F.count_distinct("o_orderkey").alias("n_keys"),
    )
    return stats.select(
        F.lit(n1).alias("n_v1"),
        F.lit(n2).alias("n_v2"),
        "n_merged",
        "n_null_priority",
        (
            (F.col("n_merged") == n1 + n2)
            & (F.col("n_null_priority") == n1)
            & (F.col("n_keys") == n1 + n2)
            & F.lit(len(merged.columns) == 3)
        ).alias("ok"),
    )


@query(
    "etl_partition_layout",
    # Upgraded from rows-only in r7: repartitioning by the partition
    # column before the write (the standard small-files guard) makes
    # the per-directory file count deterministically 1, so every column
    # of the summary row is either recomputable from orders in DuckDB
    # or an engine invariant shipped as a constant — any lost row,
    # broken pruning, or layout drift flips a cell and the driver hash
    # goes red.
    oracle="""
        WITH s AS (
            SELECT CAST(count(*) AS BIGINT) AS n_src,
                   CAST(count(CASE WHEN year(o_orderdate) = 1995
                                   THEN 1 END) AS BIGINT) AS n_1995
            FROM orders
        )
        SELECT n_src, n_src AS n_roundtrip, n_1995 AS n_1995_src,
               n_1995 AS n_1995_pruned,
               CAST(1 AS BIGINT) AS n_pruned_files,
               TRUE AS plan_prunes, TRUE AS ok
        FROM s
    """,
    phase="P3",
    tags=("etl", "partitioning", "io"),
)
def etl_partition_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout round-trip: write orders partitioned by
    order year (`.partitionBy` → one directory per year), then prove
    the property the layout exists for — a reader filtering on the
    partition column skips other years' files BEFORE any row is read.

    The pruning proof is necessarily PLAN-level: the executed plan's
    FileScan must carry the o_year predicate under ``PartitionFilters``
    (the mechanism that makes the FileIndex drop non-matching
    directories). Runtime file observation CANNOT prove pruning —
    ``input_file_name()`` only surfaces files that produced SURVIVING
    rows, and surviving rows come from the matching directory by
    construction of hive partitioning whether pruning ran or not (a
    first version of this harness fell into exactly that vacuous-proof
    trap; review-caught). ``DataFrame.inputFiles()`` is equally invalid
    in the other direction: it lists the pre-pruning FileIndex. The
    runtime file set still rides along as a consistency check.

    This is the other half of etl_manifest_prune: zone maps skip files
    WITHIN a physical layout, directory partitioning makes the skip
    structural. At 100 TB the partition column choice IS the dominant
    query-cost decision (year/tenant/source), and over-partitioning
    (high-cardinality keys → millions of tiny files) is the classic
    failure — which is why the partition key here is year-grain, and
    why etl_compaction_plan exists downstream.

    The write repartitions by the partition column first — the standard
    guard against the tasks×partitions small-files explosion (every
    writer task otherwise opens one file per year it touches). Each
    year then lands in exactly one task, so the per-directory file
    count is deterministically 1, which is what lets the whole summary
    row carry a full DuckDB value oracle (upgraded from rows-only in
    r7)."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = tempfile.mkdtemp(prefix="etl_partlay_")
    try:
        o.repartition("o_year").write.mode("overwrite").partitionBy(
            "o_year"
        ).parquet(out)
        back_all = spark.read.parquet(out)
        n_all = back_all.count()
        pruned = back_all.filter(F.col("o_year") == 1995)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # Loud failure on plan-text drift (review-flagged): if this
        # Spark version stops printing a PartitionFilters section the
        # proof is unreadable, which must surface as an error with a
        # message — not as a silent plan_prunes=False.
        assert "PartitionFilters:" in plan, (
            "executedPlan no longer prints 'PartitionFilters:' — plan "
            "format drift; rework the pruning proof: " + plan[:500]
        )
        pf = plan[plan.index("PartitionFilters:"):].split("]", 1)[0]
        plan_prunes = "o_year" in pf
        scanned = pruned.select(
            F.input_file_name().alias("f")
        ).agg(
            F.count(F.lit(1)).alias("n_pruned"),
            F.count_distinct("f").alias("n_files"),
            F.min(F.col("f").contains("o_year=1995")).alias("all_1995"),
        ).first()
        src = o.agg(
            F.count(F.lit(1)).alias("n_src"),
            F.count(F.when(F.col("o_year") == 1995, 1)).alias("n_1995"),
        ).first()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                src["n_src"],
                n_all,
                src["n_1995"],
                scanned["n_pruned"],
                scanned["n_files"],
                bool(plan_prunes),
                bool(
                    plan_prunes
                    and n_all == src["n_src"]
                    and scanned["n_pruned"] == src["n_1995"]
                    and scanned["all_1995"]
                    and scanned["n_files"] >= 1
                ),
            )
        ],
        "n_src bigint, n_roundtrip bigint, n_1995_src bigint, "
        "n_1995_pruned bigint, n_pruned_files bigint, "
        "plan_prunes boolean, ok boolean",
    )


@query(
    "etl_clustered_write",
    # Upgraded from rows-only in r7: both physical layouts are now
    # DETERMINISTIC functions of the data (key-mod for the hash layout,
    # equi-width price buckets for the range layout, one file per
    # bucket), so DuckDB can recompute each layout's zone-map envelope
    # exactly — the per-file spans Spark measures off the actual
    # written files must value-match the buckets' logical spans, or the
    # driver hash goes red. Per-bucket spans are cents-quantized BEFORE
    # the sum (quantize-then-sum, order-independent).
    oracle="""
        WITH mm AS (
            SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
            FROM orders
        ),
        h AS (
            SELECT CAST(floor(
                       (max(o_totalprice) - min(o_totalprice)) * 100.0
                       + 0.5) AS BIGINT) AS sp
            FROM orders GROUP BY o_orderkey % 8
        ),
        r AS (
            SELECT CAST(floor(
                       (max(o_totalprice) - min(o_totalprice)) * 100.0
                       + 0.5) AS BIGINT) AS sp
            FROM (
                SELECT o_totalprice,
                       least(CAST(floor((o_totalprice - lo)
                                        / (hi - lo) * 8) AS BIGINT),
                             7) AS b
                FROM orders, mm
            ) GROUP BY b
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_src,
               CAST(8 AS BIGINT) AS hash_files,
               CAST(8 AS BIGINT) AS range_files,
               (SELECT CAST(sum(sp) AS BIGINT) FROM h)
                   AS hash_span_cents,
               (SELECT CAST(sum(sp) AS BIGINT) FROM r)
                   AS range_span_cents,
               TRUE AS ok
    """,
    phase="P3",
    tags=("etl", "clustering", "io"),
)
def etl_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY clustering matters, measured: write orders twice at the same
    8-file count — key-distributed (o_orderkey mod 8, the "no layout"
    baseline every hash-partitioned table has) vs range-clustered on
    o_totalprice (equi-width price buckets off the broadcast min/max)
    — read both back, build each layout's zone-map manifest (per-file
    min/max price via input_file_name), and compare total envelope
    coverage. The clustered layout's summed per-file price spans must
    come in under a quarter of the hash layout's (they tile the domain
    instead of each spanning all of it), which is exactly the
    multiplier etl_manifest_prune's skipping gets from it.

    Both bucket functions are deterministic and engine-portable, which
    is what bought the full value oracle (upgraded from rows-only in
    r7): DuckDB recomputes the spans each LAYOUT implies, and Spark
    measures them off the files it actually wrote — a broken write
    path (lost rows, rows in the wrong file, multiple files per
    bucket) diverges. Production range-clustering would use
    repartitionByRange (sampled boundaries — not cross-engine
    reproducible); equi-width buckets off a broadcast min/max are the
    same two-pass shape and fully parallel, so the scale posture is
    unchanged.

    At 100 TB this is the OPTIMIZE ZORDER / CLUSTER BY decision:
    range-clustering costs one extra shuffle at write time and buys
    every future range-predicate scan a ~files-fold envelope
    reduction (see etl_zorder_layout for the multi-column variant)."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = tempfile.mkdtemp(prefix="etl_cluster_")
    try:
        hashed = o.withColumn("b", F.col("o_orderkey") % 8)
        mm = o.agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        ranged = o.crossJoin(F.broadcast(mm)).withColumn(
            "b",
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 8
                ).cast("bigint"),
                F.lit(7),
            ),
        ).drop("lo", "hi")
        for df, sub in ((hashed, "/hash"), (ranged, "/range")):
            # repartition by the bucket column first → exactly one file
            # per bucket directory (the etl_partition_layout rule)
            df.repartition("b").write.mode("overwrite").partitionBy(
                "b"
            ).parquet(base + sub)

        def envelope(path: str):
            manifest = (
                spark.read.parquet(path)
                .select(
                    F.input_file_name().alias("f"), "o_totalprice"
                )
                .groupBy("f")
                .agg(
                    cents(
                        F.max("o_totalprice") - F.min("o_totalprice")
                    ).alias("span_cents"),
                    F.count(F.lit(1)).alias("n"),
                )
            )
            row = manifest.agg(
                F.count(F.lit(1)).alias("files"),
                F.sum("span_cents").alias("span_total"),
                F.sum("n").alias("rows"),
            ).first()
            return row["files"], int(row["span_total"]), row["rows"]

        h_files, h_span, h_rows = envelope(base + "/hash")
        r_files, r_span, r_rows = envelope(base + "/range")
        n_src = o.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                n_src,
                h_files,
                r_files,
                h_span,
                r_span,
                bool(
                    h_rows == r_rows == n_src
                    and h_files == r_files == 8
                    and r_span * 4 < h_span
                ),
            )
        ],
        "n_src bigint, hash_files bigint, range_files bigint, "
        "hash_span_cents bigint, range_span_cents bigint, ok boolean",
    )


@query(
    "etl_snapshot_diff",
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5)
                                         AS BIGINT) AS val
            FROM orders WHERE o_orderkey % 7 <> 0
        ),
        v2 AS (
            SELECT o_orderkey AS k,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                     + CASE WHEN o_orderkey % 3 = 0 THEN 100 ELSE 0 END
                       AS val
            FROM orders WHERE o_orderkey % 5 <> 0
        ),
        classified AS (
            SELECT coalesce(v1.k, v2.k) AS k,
                   CASE
                       WHEN v1.k IS NULL THEN 'added'
                       WHEN v2.k IS NULL THEN 'removed'
                       WHEN v1.val <> v2.val THEN 'changed'
                       ELSE 'unchanged'
                   END AS status
            FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
        )
        SELECT status,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS key_checksum
        FROM classified
        GROUP BY status
        ORDER BY status
    """,
    phase="P3",
    tags=("etl", "reconciliation", "diff"),
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — row-level reconciliation between two versions of
    a keyed table (the audit a data-integration tool runs after every
    sync: what was added, removed, changed, kept). Versions are
    synthesized deterministically from orders (v1 drops keys %7=0, v2
    drops %5=0 and bumps the cents value on %3=0), so every
    disposition class is populated and the expected classification is
    checkable by arithmetic.

    Plan: ONE full-outer join on the key classifies every row with a
    null-pattern CASE; the per-class roll-up is combinable. At 100 TB
    both versions shuffle-partition on the key once (or zero times if
    the snapshots are stored bucketed by key — the layout
    ``etl_clustered_write`` measures); the summary output is 4 rows
    with a key checksum per class so drift in EITHER membership or
    pairing shows in the driver hash. Values compare as integer cents
    — no float equality.
    """
    o = load(spark, sf_dir, "orders")
    cents_val = cents(F.col("o_totalprice"))
    v1 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k1"), cents_val.alias("val1")
    )
    v2 = o.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k2"),
        (
            cents_val
            + F.when(F.col("o_orderkey") % 3 == 0, 100).otherwise(0)
        ).alias("val2"),
    )
    status = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("val1") != F.col("val2"), "changed")
        .otherwise("unchanged")
    )
    return (
        v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
        .select(
            F.coalesce(F.col("k1"), F.col("k2")).alias("k"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_checksum"),
        )
        .orderBy("status")
    )


@query(
    "etl_backfill_plan",
    oracle="""
        WITH bounds AS (
            SELECT CAST(min(date_trunc('day', o_orderdate)) AS DATE) AS lo,
                   CAST(max(date_trunc('day', o_orderdate)) AS DATE) AS hi
            FROM orders
        ),
        expected AS (
            SELECT CAST(u.d AS DATE) AS day
            FROM bounds, unnest(generate_series(bounds.lo, bounds.hi,
                                                INTERVAL 1 DAY)) AS u(d)
        ),
        present AS (
            SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE)
                       AS day
            FROM orders
            WHERE date_part('day', o_orderdate) % 5 <> 0
        ),
        missing AS (
            SELECT e.day,
                   row_number() OVER (ORDER BY e.day) AS rn
            FROM expected e LEFT JOIN present p ON e.day = p.day
            WHERE p.day IS NULL
        )
        SELECT CAST(min(day) AS TIMESTAMP) AS range_start,
               CAST(max(day) AS TIMESTAMP) AS range_end,
               CAST(count(*) AS BIGINT) AS n_days
        FROM missing
        GROUP BY day - to_days(CAST(rn AS INTEGER))
        ORDER BY range_start
    """,
    phase="P3",
    tags=("etl", "backfill", "planner"),
)
def etl_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner: which daily partitions are missing from a
    feed, grouped into CONTIGUOUS date ranges — the work orders a
    scheduler submits (one backfill job per range beats one per day).
    "Present" days are simulated by dropping every day-of-month
    divisible by 5 from orders, so the missing set has a known
    10-ish-day cadence and multi-day runs around the 10th/20th/30th.

    Plan: calendar spine generated from the observed min/max (sequence
    + explode — metadata scale), anti-joined against the DISTINCT
    present days (one combinable distinct of the fact table), then
    gaps-and-islands (day − row_number is constant within a contiguous
    run) on the MISSING set — which is tiny by definition. The only
    data-scale stage is the distinct; everything after runs on the
    calendar. Output grain: one row per contiguous missing range.
    """
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.date_trunc("day", "o_orderdate")).cast("date").alias("lo"),
        F.max(F.date_trunc("day", "o_orderdate")).cast("date").alias("hi"),
    )
    expected = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    present = (
        o.filter(F.dayofmonth("o_orderdate") % 5 != 0)
        .select(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .distinct()
    )
    from pyspark.sql import Window as W

    missing = (
        expected.join(present, "day", "left_anti")
        .withColumn("rn", F.row_number().over(W.orderBy("day")))
    )
    return (
        missing.groupBy(
            F.date_sub(F.col("day"), F.col("rn").cast("int")).alias("anchor")
        )
        .agg(
            F.min("day").cast("timestamp").alias("range_start"),
            F.max("day").cast("timestamp").alias("range_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("anchor")
        .orderBy("range_start")
    )


@query(
    "etl_cdc_apply",
    oracle="""
        WITH log AS (
            SELECT user_id,
                   CAST(ts AS TIMESTAMP) AS ts,
                   event_id,
                   CASE event_type
                        WHEN 'signup' THEN 'insert'
                        WHEN 'error'  THEN 'delete'
                        ELSE 'update' END AS op,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        ), latest AS (
            SELECT user_id, op, k, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn,
                   CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                       AS n_versions,
                   CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END)
                            OVER (PARTITION BY user_id) AS BIGINT)
                       AS n_deletes
            FROM log
        )
        SELECT user_id,
               k        AS final_k,
               op       AS final_op,
               n_versions,
               n_deletes
        FROM latest
        WHERE rn = 1 AND op <> 'delete'
        ORDER BY user_id
    """,
    phase="P6",
    tags=("etl", "cdc", "upsert"),
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change-data-capture log to materialize current state —
    the Debezium/DMS-consumer pattern: a keyed stream of
    insert/update/delete ops folds to one row per key (last writer
    wins; a trailing delete removes the key). The event log maps to
    CDC ops by type (signup→insert, error→delete, else update); the
    fold is ONE window over (key, ts DESC): row_number picks the final
    op, the same partitioning carries the version/delete counters, and
    a filter drops keys whose last op was a delete. No join against
    the previous snapshot is needed when the log is complete; for
    incremental application, `etl_scd_upsert` is the snapshot+delta
    sibling.

    Scale shape: one exchange on the CDC key, one sort; every op for a
    key lands in one task regardless of log length, and AQE handles
    hot keys. A 100 TB log with billions of keys plans identically —
    the state never materializes driver-side."""
    e = load(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wp = Window.partitionBy("user_id")
    latest = log.select(
        "user_id",
        F.col("k").alias("final_k"),
        F.col("op").alias("final_op"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_versions"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0))
        .over(wp)
        .cast("bigint")
        .alias("n_deletes"),
    )
    return (
        latest.filter((F.col("rn") == 1) & (F.col("final_op") != "delete"))
        .drop("rn")
        .orderBy("user_id")
    )


@query(
    "etl_vacuum_plan",
    oracle="""
        WITH manifest AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS created_v,
                   o_orderpriority AS part,
                   CAST(count(*) * 128 AS BIGINT) AS file_bytes
            FROM orders
            GROUP BY 1, 2
        ),
        lineage AS (
            SELECT created_v, part, file_bytes,
                   CASE WHEN created_v
                             < max(created_v) OVER (PARTITION BY part)
                        THEN created_v + 1 END AS replaced_v,
                   max(created_v) OVER () AS latest_v
            FROM manifest
        )
        SELECT created_v,
               CAST(count(*) FILTER (WHERE replaced_v IS NOT NULL
                                     AND replaced_v <= latest_v - 3)
                    AS BIGINT) AS n_delete,
               CAST(coalesce(sum(file_bytes) FILTER (
                        WHERE replaced_v IS NOT NULL
                        AND replaced_v <= latest_v - 3), 0)
                    AS BIGINT) AS bytes_delete,
               CAST(count(*) FILTER (WHERE replaced_v IS NULL
                                     OR replaced_v > latest_v - 3)
                    AS BIGINT) AS n_keep,
               CAST(coalesce(sum(file_bytes) FILTER (
                        WHERE replaced_v IS NULL
                        OR replaced_v > latest_v - 3), 0)
                    AS BIGINT) AS bytes_keep
        FROM lineage
        GROUP BY created_v
        ORDER BY created_v
    """,
    phase="P6",
    tags=("etl", "vacuum", "maintenance"),
)
def etl_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-based VACUUM planner (Delta VACUUM / Iceberg
    expire_snapshots shape), completing the lake-maintenance family
    (compaction → etl_compaction_plan, stats pruning →
    etl_manifest_prune, clustering → etl_zorder_layout, diffing →
    etl_snapshot_diff): a table's file manifest is synthesized
    deterministically from orders (one file per year×priority
    partition, created at version=year), each file is superseded when
    the NEXT year rewrites its partition (the latest year per
    partition stays live), and the plan deletes exactly the files
    whose superseding version has aged past the 3-version retention
    horizon — never a live file, never a file a time-travel reader
    inside the horizon could still need.

    Scale shape: the only data-sized stage is the combinable
    manifest aggregate; lineage and the delete/keep decision are
    METADATA-scale window/CASE work (one row per file). A 100 TB
    table's vacuum plan reads only its manifest — the same posture
    as etl_manifest_prune. FILTER-clause aggregates keep the
    delete/keep split one pass."""
    o = load(spark, sf_dir, "orders")
    manifest = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("created_v"),
        F.col("o_orderpriority").alias("part"),
    ).agg((F.count(F.lit(1)) * 128).cast("bigint").alias("file_bytes"))
    w_part = Window.partitionBy("part")
    lineage = manifest.select(
        "created_v",
        "part",
        "file_bytes",
        F.when(
            F.col("created_v") < F.max("created_v").over(w_part),
            F.col("created_v") + 1,
        ).alias("replaced_v"),
        F.max("created_v").over(Window.partitionBy()).alias("latest_v"),
    )
    doomed = F.col("replaced_v").isNotNull() & (
        F.col("replaced_v") <= F.col("latest_v") - 3
    )
    return (
        lineage.groupBy("created_v")
        .agg(
            F.count(F.when(doomed, 1)).cast("bigint").alias("n_delete"),
            F.coalesce(
                F.sum(F.when(doomed, F.col("file_bytes"))), F.lit(0)
            )
            .cast("bigint")
            .alias("bytes_delete"),
            F.count(F.when(~doomed, 1)).cast("bigint").alias("n_keep"),
            F.coalesce(
                F.sum(F.when(~doomed, F.col("file_bytes"))), F.lit(0)
            )
            .cast("bigint")
            .alias("bytes_keep"),
        )
        .orderBy("created_v")
    )


@query(
    "etl_golden_record",
    oracle="""
        WITH feed_a AS (
            SELECT c_custkey, c_name,
                   CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
                       AS bal_cents,
                   c_mktsegment
            FROM customer WHERE c_custkey % 3 <> 0
        ), feed_b AS (
            SELECT c_custkey,
                   upper(c_name) AS c_name,
                   CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) + 500
                       AS bal_cents,
                   c_mktsegment
            FROM customer WHERE c_custkey % 5 <> 0
        )
        SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
               coalesce(a.c_name, b.c_name)       AS golden_name,
               CAST(CASE WHEN a.c_custkey IS NOT NULL
                              AND b.c_custkey IS NOT NULL
                         THEN greatest(a.bal_cents, b.bal_cents)
                         ELSE coalesce(a.bal_cents, b.bal_cents) END
                    AS BIGINT)                    AS golden_bal_cents,
               coalesce(a.c_mktsegment, b.c_mktsegment)
                                                  AS golden_segment,
               CASE WHEN a.c_custkey IS NOT NULL
                         AND b.c_custkey IS NOT NULL THEN 'both'
                    WHEN a.c_custkey IS NOT NULL THEN 'a_only'
                    ELSE 'b_only' END             AS provenance
        FROM feed_a a FULL OUTER JOIN feed_b b USING (c_custkey)
        ORDER BY c_custkey
    """,
    phase="P6",
    tags=("etl", "survivorship", "golden-record"),
)
def etl_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship merge — the MDM core of every
    data-integration tool: two overlapping feeds of the same entity
    (derived deterministically from customer: feed A drops every 3rd
    key and keeps raw values, feed B drops every 5th key, upcases
    names and inflates balances) reconcile into one record per key
    with PER-FIELD precedence rules: name prefers feed A (the
    trusted-case source), balance takes the field-level maximum when
    both feeds report (freshness-by-value), and every row carries its
    provenance for audit.

    Plan: ONE full-outer hash join on the entity key + pure
    expression-level survivorship (coalesce / greatest / CASE) — the
    etl_scd_upsert shape generalized from snapshot-vs-delta to
    source-vs-source. Both feeds prune to the survivorship columns at
    scan; at 100 TB per-field rules stay expression-level no matter
    how many fields, and N>2 sources fold left through the same
    join."""
    c = load(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        "c_name",
        cents(F.col("c_acctbal")).alias("bal_cents"),
        "c_mktsegment",
    )
    feed_a = base.filter(F.col("c_custkey") % 3 != 0)
    feed_b = base.filter(F.col("c_custkey") % 5 != 0).select(
        "c_custkey",
        F.upper("c_name").alias("c_name"),
        (F.col("bal_cents") + 500).alias("bal_cents"),
        "c_mktsegment",
    )
    a = feed_a.alias("a")
    b = feed_b.alias("b")
    both = F.col("a.c_custkey").isNotNull() & F.col(
        "b.c_custkey"
    ).isNotNull()
    return (
        a.join(b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full")
        .select(
            F.coalesce("a.c_custkey", "b.c_custkey").alias("c_custkey"),
            F.coalesce("a.c_name", "b.c_name").alias("golden_name"),
            F.when(
                both,
                F.greatest("a.bal_cents", "b.bal_cents"),
            )
            .otherwise(F.coalesce("a.bal_cents", "b.bal_cents"))
            .cast("bigint")
            .alias("golden_bal_cents"),
            F.coalesce("a.c_mktsegment", "b.c_mktsegment").alias(
                "golden_segment"
            ),
            F.when(both, "both")
            .when(F.col("a.c_custkey").isNotNull(), "a_only")
            .otherwise("b_only")
            .alias("provenance"),
        )
        .orderBy("c_custkey")
    )


@query(
    "etl_late_arriving_dim",
    oracle="""
        WITH available AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0
        ), waiting AS (
            SELECT o.o_custkey AS custkey,
                   CAST(count(*) AS BIGINT) AS n_orders_waiting,
                   min(CAST(o.o_orderdate AS DATE)) AS first_order_date,
                   CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS waiting_cents
            FROM orders o
            LEFT JOIN available a ON o.o_custkey = a.c_custkey
            WHERE a.c_custkey IS NULL
            GROUP BY o.o_custkey
        )
        SELECT custkey, n_orders_waiting, first_order_date,
               waiting_cents,
               'INFERRED-' || CAST(custkey AS VARCHAR) AS placeholder_name
        FROM waiting
        ORDER BY custkey
    """,
    phase="P3",
    tags=("etl", "late-arriving-dimension"),
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handler (Kimball's "inferred members"):
    facts that reference a dimension key the dimension feed has not
    delivered yet must not be dropped or block the load — the
    warehouse inserts a placeholder row per missing key and resolves
    it when the real member lands.  This emits exactly that insert
    plan: one placeholder per fact-referenced-but-absent key, with
    the waiting-fact exposure (count, first date, revenue) that
    prioritizes chasing the upstream feed.  The "late" subset is
    simulated by withholding every 97th customer (shared predicate
    with the oracle), the etl_partition_layout determinism
    convention.

    Plan: LEFT ANTI semantics via a null-probed LEFT join from facts
    to the available dimension keys (the dim side is the small build
    side — broadcast at any realistic dim/fact ratio), then ONE
    combinable per-key aggregate.  One full-width pass over facts;
    output is bounded by the missing-key count, which is exactly the
    thing being audited."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    available = c.filter(F.col("c_custkey") % 97 != 0).select("c_custkey")
    waiting = (
        o.join(
            F.broadcast(available),
            o.o_custkey == available.c_custkey,
            "left_anti",
        )
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders_waiting"),
            F.min(F.col("o_orderdate").cast("date")).alias(
                "first_order_date"
            ),
            F.sum(cents(F.col("o_totalprice"))).cast("bigint")
            .alias("waiting_cents"),
        )
    )
    return waiting.select(
        "custkey",
        "n_orders_waiting",
        "first_order_date",
        "waiting_cents",
        F.concat(F.lit("INFERRED-"), F.col("custkey").cast("string")).alias(
            "placeholder_name"
        ),
    ).orderBy("custkey")


@query(
    "etl_surrogate_key_plan",
    oracle="""
        WITH existing AS (
            SELECT c_custkey AS nk,
                   row_number() OVER (ORDER BY c_custkey) AS sk
            FROM customer WHERE c_custkey % 97 <> 0
        ), hwm AS (
            SELECT CAST(coalesce(max(sk), 0) AS BIGINT) AS high_water
            FROM existing
        ), arrivals AS (
            SELECT c.c_custkey AS nk
            FROM customer c LEFT JOIN existing e ON c.c_custkey = e.nk
            WHERE e.nk IS NULL
        ), assigned AS (
            SELECT nk,
                   CAST((SELECT high_water FROM hwm)
                        + row_number() OVER (ORDER BY nk) AS BIGINT)
                       AS sk,
                   'new' AS origin
            FROM arrivals
            UNION ALL
            SELECT nk, CAST(sk AS BIGINT) AS sk, 'existing' AS origin
            FROM existing
        )
        SELECT origin,
               CAST(count(*) AS BIGINT)  AS n_keys,
               CAST(min(sk) AS BIGINT)   AS sk_min,
               CAST(max(sk) AS BIGINT)   AS sk_max,
               CAST(count(DISTINCT sk) AS BIGINT) AS n_distinct_sk,
               CAST(max(nk) AS BIGINT)   AS nk_max
        FROM assigned
        GROUP BY origin
        ORDER BY origin
    """,
    phase="P3",
    tags=("etl", "surrogate-keys"),
)
def etl_surrogate_key_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key assignment with high-water-mark
    continuation — the warehouse SK problem done RIGHT: existing
    dimension members keep their keys, new arrivals get
    high_water + rank(natural key), so re-running the load assigns
    the SAME keys (the fix for monotonically_increasing_id /
    row-order SKs, which are partition-layout-dependent and
    non-reproducible by construction — banned here like RNG
    sampling).  The audit emits, per origin, the key-range envelope
    and a distinct-count that proves no collision across the
    existing/new boundary.  Existing members simulate as the %97
    complement (the etl_late_arriving_dim convention).

    Plan: the arrivals anti-join broadcasts the key side; the two
    row_number rankings run over key-sorted relations (the existing
    side would be a stored attribute in production, not recomputed);
    a dimension's cardinality bounds every stage — SK assignment is
    dimension-scale work, never fact-scale."""
    c = load(spark, sf_dir, "customer")
    existing = (
        c.filter(F.col("c_custkey") % 97 != 0)
        .select(F.col("c_custkey").alias("nk"))
        .select(
            "nk",
            F.row_number().over(Window.orderBy("nk")).alias("sk"),
        )
        # dimension-grain keyed relation referenced by hwm, the
        # arrivals anti-join and the output union — lazy checkpoint so
        # the scan + global rank window compiles once (r13
        # re-derivation sweep: 4 customer scans -> 2)
        .localCheckpoint(eager=False)
    )
    hwm = existing.agg(
        F.coalesce(F.max("sk"), F.lit(0)).cast("bigint").alias("high_water")
    )
    arrivals = c.select(F.col("c_custkey").alias("nk")).join(
        F.broadcast(existing.select("nk")), "nk", "left_anti"
    )
    new_assigned = (
        arrivals.select(
            "nk",
            F.row_number().over(Window.orderBy("nk")).alias("rk"),
        )
        .crossJoin(F.broadcast(hwm))
        .select(
            "nk",
            (F.col("high_water") + F.col("rk")).cast("bigint").alias("sk"),
            F.lit("new").alias("origin"),
        )
    )
    assigned = new_assigned.unionAll(
        existing.select(
            "nk",
            F.col("sk").cast("bigint").alias("sk"),
            F.lit("existing").alias("origin"),
        )
    )
    return (
        assigned.groupBy("origin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.min("sk").cast("bigint").alias("sk_min"),
            F.max("sk").cast("bigint").alias("sk_max"),
            F.countDistinct("sk").cast("bigint").alias("n_distinct_sk"),
            F.max("nk").cast("bigint").alias("nk_max"),
        )
        .orderBy("origin")
    )


# Shared Morton spelling for the incremental z-order pair of builders:
# identical interleave arithmetic in Spark (F.expr) and DuckDB.
_ZINC_INTERLEAVE = (
    "((zx >> 0) & 1) * 1   + ((zy >> 0) & 1) * 2"
    " + ((zx >> 1) & 1) * 4   + ((zy >> 1) & 1) * 8"
    " + ((zx >> 2) & 1) * 16  + ((zy >> 2) & 1) * 32"
    " + ((zx >> 3) & 1) * 64  + ((zy >> 3) & 1) * 128"
)


@query(
    "etl_zorder_incremental",
    oracle=f"""
        WITH old AS (
            SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
            FROM orders WHERE o_orderkey % 10 <> 0
        ), delta AS (
            SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
            FROM orders WHERE o_orderkey % 10 = 0
        ), b AS (
            SELECT min(o_custkey) AS ck0,
                   max(o_custkey) - min(o_custkey) + 1 AS ck_span,
                   min(od) AS d0,
                   date_diff('day', min(od), max(od)) + 1 AS d_span
            FROM old
        ), old_z AS (
            SELECT CAST(floor((o_custkey - b.ck0) * 16.0 / b.ck_span)
                        AS BIGINT) AS zx,
                   CAST(floor(date_diff('day', b.d0, od)
                              * 16.0 / b.d_span) AS BIGINT) AS zy
            FROM old CROSS JOIN b
        ), old_files AS (
            SELECT CAST({_ZINC_INTERLEAVE} AS BIGINT) AS file_id,
                   CAST(count(*) AS BIGINT) AS n_old
            FROM old_z GROUP BY 1
        ), delta_z AS (
            SELECT least(greatest(CAST(floor((o_custkey - b.ck0) * 16.0
                                             / b.ck_span) AS BIGINT),
                                  0), 15) AS zx,
                   least(greatest(CAST(floor(date_diff('day', b.d0, od)
                                             * 16.0 / b.d_span)
                                       AS BIGINT), 0), 15) AS zy
            FROM delta CROSS JOIN b
        ), delta_files AS (
            SELECT CAST({_ZINC_INTERLEAVE} AS BIGINT) AS file_id,
                   CAST(count(*) AS BIGINT) AS n_add
            FROM delta_z GROUP BY 1
        )
        SELECT coalesce(o.file_id, d.file_id) AS file_id,
               CASE WHEN o.file_id IS NULL THEN 'new'
                    WHEN d.file_id IS NULL THEN 'keep'
                    ELSE 'rewrite' END AS status,
               coalesce(o.n_old, 0) AS n_old,
               coalesce(d.n_add, 0) AS n_add,
               coalesce(o.n_old, 0) + coalesce(d.n_add, 0) AS n_total
        FROM old_files o FULL OUTER JOIN delta_files d
          ON o.file_id = d.file_id
        ORDER BY file_id
    """,
    phase="P3",
    tags=("etl", "layout", "zorder", "maintenance"),
)
def etl_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL z-order maintenance (VERDICT r7 Next #8) — the step
    that makes etl_zorder_layout a maintainable layout rather than a
    one-shot write: given the existing 256-cell Morton layout over the
    base data (orderkey % 10 != 0) and an arriving delta batch
    (orderkey % 10 = 0), only the cells whose envelope the delta
    actually touches are rewritten. Emits the rewrite plan: per file
    cell its status (`rewrite` = existing file gains rows, `keep` =
    untouched — at 100 TB the vast majority, which is the whole point,
    `new` = a cell only the delta populates), with old/added/resulting
    row counts.

    The delta ranks against the EXISTING layout's bounds (fixed at
    write time — the manifest is the contract), clamping out-of-range
    keys and dates into the edge cells with least/greatest exactly as
    a real incremental OPTIMIZE clamps rather than re-bounding (a
    re-bound would shift every cell and force a full rewrite).

    Plan shape: one aggregate row of bounds from the base broadcast
    into two map-only rank+interleave projections (pure integer bit
    arithmetic after one exact small-float multiply, the proven
    etl_zorder_layout spelling), each collapsing to a ≤256-row
    per-cell count; the FULL OUTER join and status CASE run at
    METADATA scale. Nothing data-sized ever shuffles more than the
    two 256-group aggregates."""
    o = load(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = o.filter(F.col("o_orderkey") % 10 == 0)
    b = old.agg(
        F.min("o_custkey").alias("ck0"),
        (F.max("o_custkey") - F.min("o_custkey") + 1).alias("ck_span"),
        F.min(F.to_date("o_orderdate")).alias("d0"),
        (
            F.datediff(
                F.max(F.to_date("o_orderdate")),
                F.min(F.to_date("o_orderdate")),
            )
            + 1
        ).alias("d_span"),
    ).localCheckpoint(eager=False)
    # 1-row bounds, cross-joined into BOTH cells() legs — the lazy
    # checkpoint keeps the bounds scan single in the compiled plan
    # (r13 re-derivation sweep: 4 orders scans -> 3)

    def cells(df: DataFrame, clamp: bool, out: str) -> DataFrame:
        zx = F.floor(
            (F.col("o_custkey") - F.col("ck0")) * 16.0 / F.col("ck_span")
        ).cast("bigint")
        zy = F.floor(
            F.datediff(F.to_date("o_orderdate"), F.col("d0"))
            * 16.0
            / F.col("d_span")
        ).cast("bigint")
        if clamp:
            zx = F.least(F.greatest(zx, F.lit(0)), F.lit(15))
            zy = F.least(F.greatest(zy, F.lit(0)), F.lit(15))
        return (
            df.crossJoin(F.broadcast(b))
            .select(zx.alias("zx"), zy.alias("zy"))
            .select(F.expr(_ZINC_INTERLEAVE).cast("bigint").alias("file_id"))
            .groupBy("file_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    old_files = cells(old, clamp=False, out="n_old")
    delta_files = cells(delta, clamp=True, out="n_add")
    joined = old_files.withColumnRenamed("file_id", "of").join(
        delta_files.withColumnRenamed("file_id", "df"),
        F.col("of") == F.col("df"),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("of"), F.col("df")).alias("file_id"),
        F.when(F.col("of").isNull(), "new")
        .when(F.col("df").isNull(), "keep")
        .otherwise("rewrite")
        .alias("status"),
        F.coalesce(F.col("n_old"), F.lit(0)).cast("bigint").alias("n_old"),
        F.coalesce(F.col("n_add"), F.lit(0)).cast("bigint").alias("n_add"),
        (
            F.coalesce(F.col("n_old"), F.lit(0))
            + F.coalesce(F.col("n_add"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_total"),
    ).orderBy("file_id")


@query(
    "etl_file_skipping_stats",
    oracle=f"""
        WITH b AS (
            SELECT min(o_custkey) AS ck0,
                   max(o_custkey) - min(o_custkey) + 1 AS ck_span,
                   min(CAST(o_orderdate AS DATE)) AS d0,
                   date_diff('day', min(CAST(o_orderdate AS DATE)),
                             max(CAST(o_orderdate AS DATE))) + 1 AS d_span
            FROM orders
        ), keyed AS (
            SELECT o_custkey,
                   date_diff('day', b.d0, CAST(o_orderdate AS DATE))
                       AS day_off,
                   CAST(floor((o_custkey - b.ck0) * 16.0 / b.ck_span)
                        AS BIGINT) AS zx,
                   CAST(floor(date_diff('day', b.d0,
                              CAST(o_orderdate AS DATE))
                              * 16.0 / b.d_span) AS BIGINT) AS zy
            FROM orders CROSS JOIN b
        ), manifest AS (
            SELECT CAST({_ZINC_INTERLEAVE} AS BIGINT) AS file_id,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
                   CAST(min(day_off) AS BIGINT) AS min_day,
                   CAST(max(day_off) AS BIGINT) AS max_day
            FROM keyed GROUP BY 1
        ), probes AS (
            SELECT i AS probe_id,
                   CASE WHEN i < 4 THEN 'custkey' ELSE 'date' END
                       AS probe_type,
                   CASE WHEN i < 4 THEN
                        b.ck0 + CAST(floor(i * b.ck_span / 8.0)
                                     AS BIGINT)
                        ELSE CAST(floor((i - 4) * b.d_span / 8.0)
                                  AS BIGINT) END AS lo,
                   CASE WHEN i < 4 THEN
                        b.ck0 + CAST(floor((i + 1) * b.ck_span / 8.0)
                                     AS BIGINT) - 1
                        ELSE CAST(floor((i - 3) * b.d_span / 8.0)
                                  AS BIGINT) - 1 END AS hi
            FROM (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS i)
            CROSS JOIN b
        ), scanned AS (
            SELECT p.probe_id, p.probe_type, p.lo, p.hi,
                   CAST(count(*) FILTER (WHERE
                        (p.probe_type = 'custkey'
                         AND m.min_ck <= p.hi AND m.max_ck >= p.lo)
                        OR
                        (p.probe_type = 'date'
                         AND m.min_day <= p.hi AND m.max_day >= p.lo))
                        AS BIGINT) AS n_scanned,
                   CAST(sum(n_rows) FILTER (WHERE
                        (p.probe_type = 'custkey'
                         AND m.min_ck <= p.hi AND m.max_ck >= p.lo)
                        OR
                        (p.probe_type = 'date'
                         AND m.min_day <= p.hi AND m.max_day >= p.lo))
                        AS BIGINT) AS rows_scanned,
                   CAST(count(*) AS BIGINT) AS n_files
            FROM probes p CROSS JOIN manifest m
            GROUP BY p.probe_id, p.probe_type, p.lo, p.hi
        )
        SELECT probe_id, probe_type, lo, hi, n_files, n_scanned,
               rows_scanned,
               CAST(floor(CAST(n_files - n_scanned AS DOUBLE) / n_files
                    * 1000000.0 + 0.5) AS BIGINT) AS skip_micro
        FROM scanned
        ORDER BY probe_id
    """,
    phase="P3",
    tags=("etl", "layout", "zorder", "skipping"),
)
def etl_file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping efficiency audit of the z-order layout — the
    proof step of the lake-maintenance family (etl_zorder_layout
    writes, etl_zorder_incremental maintains, THIS measures): for 8
    probe predicates (4 custkey ranges, 4 date ranges, each 1/8 of
    the respective domain), how many of the 256 Morton files would a
    min/max-stats reader scan vs skip, and how many rows does the
    scan touch. A good 2-D layout skips ~three quarters of the files
    on EITHER dimension — the number this query pins.

    All arithmetic is the proven etl_zorder_layout spelling (exact
    integer ranks/interleave after one small-float multiply; probe
    bounds are floor()-ed domain fractions); the probe×manifest
    overlap test is pure integer comparison, so every figure is
    exact. Plan: one data-sized scan into the 256-cell manifest agg,
    then an 8×256 METADATA-scale cross join folded per probe — at
    100 TB the manifest is what a table format's stats store already
    holds, and the audit costs nothing data-sized."""
    o = load(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey").alias("ck0"),
        (F.max("o_custkey") - F.min("o_custkey") + 1).alias("ck_span"),
        F.min(F.to_date("o_orderdate")).alias("d0"),
        (
            F.datediff(
                F.max(F.to_date("o_orderdate")),
                F.min(F.to_date("o_orderdate")),
            )
            + 1
        ).alias("d_span"),
    ).localCheckpoint(eager=False)
    # 1-row bounds, cross-joined into keyed AND the probe grid — lazy
    # checkpoint so the bounds scan compiles once (r13 sweep)
    keyed = o.crossJoin(F.broadcast(b)).select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.col("d0")).alias("day_off"),
        F.floor(
            (F.col("o_custkey") - F.col("ck0")) * 16.0 / F.col("ck_span")
        )
        .cast("bigint")
        .alias("zx"),
        F.floor(
            F.datediff(F.to_date("o_orderdate"), F.col("d0"))
            * 16.0
            / F.col("d_span")
        )
        .cast("bigint")
        .alias("zy"),
    )
    manifest = (
        keyed.select(
            F.expr(_ZINC_INTERLEAVE).cast("bigint").alias("file_id"),
            "o_custkey",
            "day_off",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_custkey").alias("min_ck"),
            F.max("o_custkey").alias("max_ck"),
            F.min("day_off").cast("bigint").alias("min_day"),
            F.max("day_off").cast("bigint").alias("max_day"),
        )
    )
    probes = (
        spark.range(0, 8)
        .select(F.col("id").cast("bigint").alias("i"))
        .crossJoin(F.broadcast(b))
        .select(
            F.col("i").alias("probe_id"),
            F.when(F.col("i") < 4, "custkey")
            .otherwise("date")
            .alias("probe_type"),
            F.when(
                F.col("i") < 4,
                F.col("ck0")
                + F.floor(F.col("i") * F.col("ck_span") / 8.0).cast(
                    "bigint"
                ),
            )
            .otherwise(
                F.floor((F.col("i") - 4) * F.col("d_span") / 8.0).cast(
                    "bigint"
                )
            )
            .alias("lo"),
            F.when(
                F.col("i") < 4,
                F.col("ck0")
                + F.floor((F.col("i") + 1) * F.col("ck_span") / 8.0).cast(
                    "bigint"
                )
                - 1,
            )
            .otherwise(
                F.floor((F.col("i") - 3) * F.col("d_span") / 8.0).cast(
                    "bigint"
                )
                - 1
            )
            .alias("hi"),
        )
    )
    hit = (
        (F.col("probe_type") == "custkey")
        & (F.col("min_ck") <= F.col("hi"))
        & (F.col("max_ck") >= F.col("lo"))
    ) | (
        (F.col("probe_type") == "date")
        & (F.col("min_day") <= F.col("hi"))
        & (F.col("max_day") >= F.col("lo"))
    )
    scanned = (
        F.broadcast(probes)
        .crossJoin(manifest)
        .groupBy("probe_id", "probe_type", "lo", "hi")
        .agg(
            F.count(F.when(hit, 1)).cast("bigint").alias("n_scanned"),
            F.sum(F.when(hit, F.col("n_rows")))
            .cast("bigint")
            .alias("rows_scanned"),
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
        )
    )
    return scanned.select(
        "probe_id",
        "probe_type",
        "lo",
        "hi",
        "n_files",
        "n_scanned",
        "rows_scanned",
        micro(
            (F.col("n_files") - F.col("n_scanned")).cast("double")
            / F.col("n_files")
        ).alias("skip_micro"),
    ).orderBy("probe_id")


# Bloom sizing formulas (target fpp 0.01), spelled once for both
# engines: m = ceil(-n ln p / ln^2 2), k = floor(m/n * ln 2 + 0.5).
_BL_BITS = "CAST(ceil(-(CAST(ndv AS DOUBLE)) * ln(0.01) "
_BL_BITS += "/ (ln(2.0) * ln(2.0))) AS BIGINT)"
_BL_HASHES = (
    "CAST(floor(CAST(bloom_bits AS DOUBLE) / ndv * ln(2.0) + 0.5)"
    " AS BIGINT)"
)


@query(
    "etl_bloom_index_plan",
    oracle=f"""
        WITH part_stats AS (
            SELECT date_trunc('month', l_shipdate) AS mth,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            GROUP BY 1
        ), sized AS (
            SELECT CAST(mth AS DATE) AS mth, n_rows, ndv,
                   {_BL_BITS} AS bloom_bits
            FROM part_stats
        )
        SELECT mth, n_rows, ndv, bloom_bits,
               CAST(ceil(CAST(bloom_bits AS DOUBLE) / 8.0) AS BIGINT)
                   AS bloom_bytes,
               {_BL_HASHES} AS n_hashes
        FROM sized
        ORDER BY mth
    """,
    phase="P4",
    tags=("etl", "layout", "index"),
)
def etl_bloom_index_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter index sizing plan per ship-month partition of the
    fact table, keyed on l_partkey at target fpp = 1% — the plan a
    lake writer executes to attach per-file bloom indexes (the
    point-lookup complement to etl_file_skipping_stats' min/max
    envelopes, which only prune RANGE predicates). Standard sizing:
    m = ceil(-n ln p / ln^2 2) bits, k = round(m/n * ln 2) hashes.

    Exactness: partition row counts and key NDVs are exact integers
    (count distinct per month grain); bit/hash sizing is ONE shared
    IEEE formula over those integers (ceil on both engines) — no
    accumulation crosses a float boundary.

    Plan: one combinable count-distinct aggregate to month grain
    (map-side partials on (month, partkey) then month) with the year
    filter pushed into the scan; output is partition-count bounded.
    The REAL filter build at 100 TB is join_bloom_prefilter's
    machinery; this query prices it per partition first."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    part_stats = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("mth")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("l_partkey").cast("bigint").alias("ndv"),
    )
    sized = part_stats.select(
        F.col("mth").cast("date").alias("mth"),
        "n_rows",
        "ndv",
        F.expr(_BL_BITS).alias("bloom_bits"),
    )
    return sized.select(
        "mth",
        "n_rows",
        "ndv",
        "bloom_bits",
        F.ceil(F.col("bloom_bits").cast("double") / F.lit(8.0))
        .cast("bigint")
        .alias("bloom_bytes"),
        F.expr(_BL_HASHES).alias("n_hashes"),
    ).orderBy("mth")


@query(
    "etl_wap_gate",
    oracle="""
        WITH latest AS (
            SELECT max(date_trunc('month', l_shipdate)) AS mx
            FROM lineitem
        ), monthly AS (
            SELECT date_trunc('month', l_shipdate) AS mth,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1
        ), hist AS (
            SELECT m.n_rows FROM monthly m, latest WHERE m.mth < mx
        ), med AS (
            SELECT CAST(quantile_disc(n_rows, 0.5) AS BIGINT) AS med
            FROM hist
        ), madr AS (
            SELECT CAST(quantile_disc(abs(n_rows - med), 0.5) AS BIGINT)
                       AS mad
            FROM hist, med
        ), batch AS (
            SELECT l.* FROM lineitem l, latest
            WHERE date_trunc('month', l.l_shipdate) = mx
        ), gates AS (
            SELECT 'volume_within_3mad' AS gate,
                   (SELECT CAST(count(*) AS BIGINT) FROM batch)
                       AS observed,
                   CAST(med + 3 * mad AS BIGINT) AS bound,
                   (SELECT count(*) FROM batch)
                       BETWEEN med - 3 * mad AND med + 3 * mad AS pass
            FROM med, madr
            UNION ALL
            SELECT 'no_orphan_orderkeys',
                   (SELECT CAST(count(*) AS BIGINT) FROM batch b
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = b.l_orderkey)),
                   CAST(0 AS BIGINT),
                   (SELECT count(*) FROM batch b
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = b.l_orderkey))
                       = 0
            UNION ALL
            SELECT 'domain_bounds_hold',
                   (SELECT CAST(count(*) AS BIGINT) FROM batch
                    WHERE l_quantity < 1 OR l_quantity > 50
                       OR l_discount < 0.0 OR l_discount > 0.1),
                   CAST(0 AS BIGINT),
                   (SELECT count(*) FROM batch
                    WHERE l_quantity < 1 OR l_quantity > 50
                       OR l_discount < 0.0 OR l_discount > 0.1) = 0
        ), verdict AS (
            SELECT CASE WHEN bool_and(pass) THEN 'publish'
                        ELSE 'rollback' END AS verdict
            FROM gates
        )
        SELECT g.gate, g.observed, g.bound, g.pass, v.verdict
        FROM gates g, verdict v
        ORDER BY g.gate
    """,
    phase="P4",
    tags=("etl", "write-audit-publish", "quality-gate"),
)
def etl_wap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish gate: treat the latest ship-month as the
    staged batch and run the three audits a lake pipeline runs before
    swapping a snapshot live — volume within 3 MAD of monthly history
    (half-load / double-load), zero orphan foreign keys, zero domain
    violations — folding into ONE publish/rollback verdict. This is
    the decision layer ON TOP of dq_volume_anomaly / dq_referential /
    dq_rules: those report, this gates.

    Exactness: all gate inputs are exact integer counts with discrete
    median/MAD (anomaly_mad rule); the verdict is pure boolean logic
    — nothing IEEE anywhere. A partial final month failing the volume
    gate is a CORRECT rollback verdict, identically on both engines.

    Plan: one month-grain combinable count + the batch-month scans;
    the anti-join orphan check broadcasts the batch-bounded key set
    or sort-merges at scale; gates are three 1-row folds UNION ALLed
    with a 1-row verdict cross-join. r13: the month-grain counts and
    the 3-row gates relation are LAZY localCheckpoints — the compiled
    plan previously re-derived every subtree at each reference
    (``latest`` rode 4 branches, ``gates`` fed both the output and the
    verdict fold), totalling 24 lineitem scans; ``latest`` is now an
    aggregate OVER the month-grain checkpoint instead of its own
    corpus pass, and the checkpoints cut the plan to 3 lineitem + 1
    orders scans — the guide §2.4 re-derivation fix, value-identical
    (oracle-exact at 3 SFs)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    mth = F.date_trunc("month", "l_shipdate")
    monthly = li.groupBy(mth.alias("m")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    ).localCheckpoint(eager=False)
    latest = monthly.agg(F.max("m").alias("mx"))
    hist = monthly.crossJoin(F.broadcast(latest)).filter(
        F.col("m") < F.col("mx")
    )
    med = hist.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_rows)")
        .cast("bigint")
        .alias("med")
    )
    madr = (
        hist.crossJoin(F.broadcast(med))
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP "
                "(ORDER BY abs(n_rows - med))"
            )
            .cast("bigint")
            .alias("mad")
        )
    )
    batch = li.crossJoin(F.broadcast(latest)).filter(mth == F.col("mx"))
    n_batch = batch.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    orphans = (
        batch.join(o, batch.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("no"))
    )
    domain = batch.filter(
        (F.col("l_quantity") < 1)
        | (F.col("l_quantity") > 50)
        | (F.col("l_discount") < 0.0)
        | (F.col("l_discount") > 0.1)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    g1 = (
        n_batch.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(madr))
        .select(
            F.lit("volume_within_3mad").alias("gate"),
            F.col("nb").alias("observed"),
            (F.col("med") + F.lit(3) * F.col("mad"))
            .cast("bigint")
            .alias("bound"),
            F.col("nb").between(
                F.col("med") - F.lit(3) * F.col("mad"),
                F.col("med") + F.lit(3) * F.col("mad"),
            ).alias("pass"),
        )
    )
    g2 = orphans.select(
        F.lit("no_orphan_orderkeys").alias("gate"),
        F.col("no").alias("observed"),
        F.lit(0).cast("bigint").alias("bound"),
        (F.col("no") == 0).alias("pass"),
    )
    g3 = domain.select(
        F.lit("domain_bounds_hold").alias("gate"),
        F.col("nd").alias("observed"),
        F.lit(0).cast("bigint").alias("bound"),
        (F.col("nd") == 0).alias("pass"),
    )
    gates = g1.unionAll(g2).unionAll(g3).localCheckpoint(eager=False)
    verdict = gates.agg(
        F.when(F.min(F.col("pass").cast("int")) == 1, "publish")
        .otherwise("rollback")
        .alias("verdict")
    )
    return (
        gates.crossJoin(F.broadcast(verdict))
        .select("gate", "observed", "bound", "pass", "verdict")
        .orderBy("gate")
    )


@query(
    "etl_deletion_vector_plan",
    oracle="""
        WITH flagged AS (
            SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mth,
                   CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END AS del
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        ), per_part AS (
            SELECT mth,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(del) AS BIGINT) AS n_deleted
            FROM flagged GROUP BY mth
        )
        SELECT mth, n_rows, n_deleted,
               CAST(floor(CAST(n_deleted AS DOUBLE) / n_rows
                    * 1000000.0 + 0.5) AS BIGINT) AS deleted_share_micro,
               CASE
                   WHEN n_deleted * 5 > n_rows THEN 'rewrite'
                   WHEN n_deleted > 0 THEN 'dv_only'
                   ELSE 'skip'
               END AS action
        FROM per_part
        ORDER BY mth
    """,
    phase="P4",
    tags=("etl", "lake-maintenance", "deletion-vectors"),
)
def etl_deletion_vector_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector maintenance plan per ship-month partition: rows
    soft-deleted (fixture proxy: l_quantity > 45 marks the delete
    set) vs partition size decide the action — REWRITE the partition
    when deletes exceed 20% (read amplification beats rewrite cost),
    keep a deletion vector when any deletes exist, SKIP otherwise.
    This is the merge-on-read vs copy-on-write decision every lake
    format (Delta DVs, Iceberg position deletes) makes per file;
    completes the maintenance family (compaction / vacuum / z-order /
    manifest / bloom).

    Exactness: counts are exact integers; the 20% fence is the
    integer cross-multiply n_deleted*5 > n_rows (no float compare);
    the reported share is one spelled division.

    Plan: ONE combinable aggregate to partition grain with the year
    filter pushed into the scan; output partition-count bounded."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    per_part = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("mth")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") > 45, 1).otherwise(0))
        .cast("bigint")
        .alias("n_deleted"),
    )
    return per_part.select(
        "mth",
        "n_rows",
        "n_deleted",
        micro(F.col("n_deleted").cast("double") / F.col("n_rows"))
        .alias("deleted_share_micro"),
        F.when(
            F.col("n_deleted") * F.lit(5) > F.col("n_rows"), "rewrite"
        )
        .when(F.col("n_deleted") > 0, "dv_only")
        .otherwise("skip")
        .alias("action"),
    ).orderBy("mth")


# Retention policy (days) per event class — conversion events are
# compliance-retained far longer than noise. Embedded identically in
# both engines.
_RETENTION_TTL_SQL = (
    "CASE event_type WHEN 'purchase' THEN 365 WHEN 'signup' THEN 365"
    " WHEN 'click' THEN 30 WHEN 'view' THEN 14 ELSE 7 END"
)
_RETENTION_US_PER_DAY = 86400000000


@query(
    "etl_retention_sweep",
    oracle=f"""
        WITH now_ AS (
            SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS now_us
            FROM events
        ),
        tagged AS (
            SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                   CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                        < now_us - ({_RETENTION_TTL_SQL})
                          * {_RETENTION_US_PER_DAY}
                        THEN 1 ELSE 0 END AS expired,
                   CAST(length(props) + length(event_type) + 28
                        AS BIGINT) AS row_bytes
            FROM events, now_
        )
        SELECT day,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(expired) AS BIGINT) AS n_expired,
               CAST(sum(CASE WHEN expired = 1 THEN row_bytes ELSE 0 END)
                    AS BIGINT) AS expired_bytes,
               CASE WHEN sum(expired) = count(*) THEN 'drop_partition'
                    WHEN sum(expired) > 0 THEN 'rewrite'
                    ELSE 'keep' END AS action
        FROM tagged
        GROUP BY day
        ORDER BY day
    """,
    phase="P3",
    tags=("etl", "retention", "lake-maintenance"),
)
def etl_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL retention sweep planner — the data-age sibling of
    etl_vacuum_plan (which retires superseded VERSIONS; this retires
    rows past their class retention, GDPR/cost-driven): per event
    class, purchase/signup keep 365 days, click 30, view 14,
    everything else 7, anchored at the table's max timestamp (a
    deterministic 'now'). The manifest is per DAY PARTITION with the
    three real actions: 'drop_partition' (all rows expired — a
    metadata-only delete), 'rewrite' (mixed TTL classes straddle the
    cutoff — copy survivors), 'keep'. Expired byte volume (props +
    type + fixed width) sizes the reclaim.

    Exactness: the age test is pure integer microsecond arithmetic
    (epoch_us < now_us − ttl·86400e6 — no interval types, whose
    day/month semantics differ across engines); counts and byte sums
    are exact BIGINTs; the action ladder is integer compares.

    Plan: one 1-row max aggregate broadcast back (the house
    broadcast-scalar crossJoin), then ONE combinable day-grain pass
    over the scan — at 100 TB the sweep reads partition stats, not
    rows, for the all-expired fast path; the row pass only prices
    'rewrite' partitions."""
    e = load(spark, sf_dir, "events")
    now = e.agg(F.max(F.unix_micros(F.col("ts"))).alias("now_us"))
    tagged = e.crossJoin(F.broadcast(now)).select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.when(
            F.unix_micros(F.col("ts"))
            < F.col("now_us")
            - F.expr(_RETENTION_TTL_SQL) * F.lit(_RETENTION_US_PER_DAY),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("expired"),
        (
            F.length("props") + F.length("event_type") + F.lit(28)
        )
        .cast("bigint")
        .alias("row_bytes"),
    )
    return (
        tagged.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("expired").cast("bigint").alias("n_expired"),
            F.sum(
                F.when(F.col("expired") == 1, F.col("row_bytes")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("expired_bytes"),
        )
        .select(
            "day",
            "n_rows",
            "n_expired",
            "expired_bytes",
            F.when(
                F.col("n_expired") == F.col("n_rows"), "drop_partition"
            )
            .when(F.col("n_expired") > 0, "rewrite")
            .otherwise("keep")
            .alias("action"),
        )
        .orderBy("day")
    )


# --- ANALYZE TABLE stats collection (r10) -----------------------------------

# (column, kind) pairs driving both engines' stat expressions; kind
# decides how min/max stringify so the melted schema stays uniform:
# ints print natively, doubles print as micro-quantized ints (double
# formatting differs between engines), timestamps print a pinned format.
_ANALYZE_COLS = (
    ("l_orderkey", "int"),
    ("l_partkey", "int"),
    ("l_suppkey", "int"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "ts"),
)


def _analyze_minmax_sql(col: str, kind: str, agg: str) -> str:
    if kind == "int":
        return f"CAST({agg}({col}) AS VARCHAR)"
    if kind == "double":
        return (
            f"CAST(CAST(floor({agg}({col}) * 1000000.0 + 0.5) AS BIGINT)"
            " AS VARCHAR)"
        )
    if kind == "ts":
        return f"strftime({agg}({col}), '%Y-%m-%d %H:%M:%S')"
    return f"{agg}({col})"


@query(
    "etl_analyze_table_stats",
    oracle=f"""
        WITH wide AS (
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   {", ".join(
                       f"CAST(count({c}) AS BIGINT) AS nn_{c},"
                       f" CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_{c},"
                       f" {_analyze_minmax_sql(c, k, 'min')} AS min_{c},"
                       f" {_analyze_minmax_sql(c, k, 'max')} AS max_{c}"
                       for c, k in _ANALYZE_COLS
                   )}
            FROM lineitem
        )
        {" UNION ALL ".join(
            f"SELECT '{c}' AS column_name, n_rows,"
            f" n_rows - nn_{c} AS n_nulls, ndv_{c} AS ndv,"
            f" min_{c} AS min_str, max_{c} AS max_str FROM wide"
            for c, _ in _ANALYZE_COLS
        )}
        ORDER BY column_name
    """,
    phase="P2",
    tags=("etl", "stats", "profiling"),
)
def etl_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE COMPUTE STATISTICS emulation over lineitem: one
    row per column with row count, null count, exact NDV, and min/max
    — the statistics a cost-based optimizer (and every warehouse's
    table catalog) keeps per column. dq_profile reads data QUALITY;
    this emits the CBO's planning inputs, the numbers that decide
    broadcast-vs-shuffle and join order at 100 TB.

    Exactness: counts and NDVs are exact integers; min/max stringify
    through type-pinned forms (ints natively, doubles as micro ints —
    double→string formatting differs across engines — timestamps via
    a pinned format string), so the melted schema is uniform and
    hash-stable.

    Plan: ONE wide aggregate over one scan computes every column's
    stats together (Spark plans the multi-distinct via Expand — the
    same one-pass shape ANALYZE runs); the melt to catalog rows
    happens on the single aggregate row, not on data. At scale you'd
    swap exact NDV for HLL sketches column-by-column (agg_hll_merge
    is the house primitive) — exact here so the oracle can verify."""
    li = load(spark, sf_dir, "lineitem")

    def mm(col: str, kind: str, agg_fn):
        a = agg_fn(F.col(col))
        if kind == "int":
            return a.cast("string")
        if kind == "double":
            return micro(a).cast("string")
        if kind == "ts":
            return F.date_format(a, "yyyy-MM-dd HH:mm:ss")
        return a

    # Counts/nulls/min/max: ONE wide aggregate, one scan, no distincts.
    # NDVs deliberately do NOT ride the same aggregate: N countDistinct
    # columns in one agg plan through Expand — every input row
    # replicates (N+1)x before the distinct hash agg (measured 22.8 s
    # vs 2.5 s at sf0.1 for 9 columns). Instead each column gets its
    # own column-pruned scan + 2-stage distinct (exactly how warehouse
    # ANALYZE jobs run: per-column passes that each read ONE column),
    # unioned into a 9-row (column_name, ndv) relation that broadcasts
    # onto the melted stats.
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c, k in _ANALYZE_COLS:
        aggs.append(F.count(F.col(c)).cast("bigint").alias(f"nn_{c}"))
        aggs.append(mm(c, k, F.min).alias(f"min_{c}"))
        aggs.append(mm(c, k, F.max).alias(f"max_{c}"))
    wide = li.agg(*aggs)
    ndv = None
    for c, _ in _ANALYZE_COLS:
        branch = li.select(F.col(c)).agg(
            F.lit(c).alias("ndv_col"),
            F.countDistinct(F.col(c)).cast("bigint").alias("ndv"),
        )
        ndv = branch if ndv is None else ndv.unionAll(branch)
    stack_args = []
    for c, _ in _ANALYZE_COLS:
        stack_args += [
            F.lit(c),
            F.col(f"nn_{c}"),
            F.col(f"min_{c}"),
            F.col(f"max_{c}"),
        ]
    melted = wide.select(
        "n_rows",
        F.stack(
            F.lit(len(_ANALYZE_COLS)), *stack_args
        ).alias("column_name", "nn", "min_str", "max_str"),
    )
    return (
        melted.join(
            F.broadcast(ndv), melted.column_name == F.col("ndv_col")
        )
        .select(
            "column_name",
            "n_rows",
            (F.col("n_rows") - F.col("nn")).cast("bigint").alias("n_nulls"),
            "ndv",
            "min_str",
            "max_str",
        )
        .orderBy("column_name")
    )


@query(
    "etl_stats_merge_bounds",
    oracle="""
        WITH parts AS (
            SELECT date_trunc('month', o_orderdate) AS part_month,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
                   CAST(min(o_custkey) AS BIGINT) AS mn,
                   CAST(max(o_custkey) AS BIGINT) AS mx
            FROM orders GROUP BY 1
        ),
        merged AS (
            SELECT CAST(count(*) AS BIGINT) AS n_partitions,
                   CAST(sum(n_rows) AS BIGINT) AS total_rows,
                   CAST(max(ndv) AS BIGINT) AS ndv_lower,
                   CAST(sum(ndv) AS BIGINT) AS ndv_upper,
                   CAST(min(mn) AS BIGINT) AS global_min,
                   CAST(max(mx) AS BIGINT) AS global_max
            FROM parts
        ),
        exact AS (
            SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact
            FROM orders
        )
        SELECT m.n_partitions, m.total_rows,
               m.global_min, m.global_max,
               m.ndv_lower, m.ndv_upper, e.ndv_exact,
               CAST(floor(CAST(m.ndv_upper - m.ndv_lower AS DOUBLE)
                    / e.ndv_exact * 1000000.0 + 0.5) AS BIGINT)
                   AS bound_width_micro,
               CAST(floor(CAST(m.ndv_upper AS DOUBLE) / e.ndv_exact
                    * 1000000.0 + 0.5) AS BIGINT)
                   AS upper_overcount_micro
        FROM merged m CROSS JOIN exact e
    """,
    phase="P3",
    tags=("etl", "planner", "statistics"),
)
def etl_stats_merge_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-statistics merge audit: per-month partition stats
    for orders.o_custkey (count / NDV / min / max) merged into global
    stats the way an incremental ANALYZE must — counts and min/max
    merge EXACTLY, but per-partition NDVs only bracket the global NDV
    (max ≤ NDV ≤ Σ), and this query measures that bracket against the
    exact answer. A wide bracket (customers recur across months, so Σ
    overcounts ~12×) is the quantitative case for keeping MERGEABLE
    sketches (agg_hll_merge) in the catalog instead of per-partition
    exact NDVs — this op prices that decision.

    Exactness: every statistic is an exact integer; the two bracket
    ratios are spelled once.

    Plan: one month-grain combinable aggregate (each partition's
    stats — at scale this is metadata-sized, one row per partition),
    one 1-row merge, plus ONE exact global distinct as the audit's
    ground truth (the expensive leg you run once to validate, then
    replace with sketch merges)."""
    o = load(spark, sf_dir, "orders")
    parts = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("part_month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("ndv"),
        F.min("o_custkey").cast("bigint").alias("mn"),
        F.max("o_custkey").cast("bigint").alias("mx"),
    )
    merged = parts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.max("ndv").cast("bigint").alias("ndv_lower"),
        F.sum("ndv").cast("bigint").alias("ndv_upper"),
        F.min("mn").cast("bigint").alias("global_min"),
        F.max("mx").cast("bigint").alias("global_max"),
    )
    exact = F.broadcast(
        o.agg(F.countDistinct("o_custkey").cast("bigint").alias("ndv_exact"))
    )
    return merged.crossJoin(exact).select(
        "n_partitions",
        "total_rows",
        "global_min",
        "global_max",
        "ndv_lower",
        "ndv_upper",
        "ndv_exact",
        micro(
            (F.col("ndv_upper") - F.col("ndv_lower")).cast("double")
            / F.col("ndv_exact")
        ).alias("bound_width_micro"),
        micro(F.col("ndv_upper").cast("double") / F.col("ndv_exact"))
        .alias("upper_overcount_micro"),
    )
