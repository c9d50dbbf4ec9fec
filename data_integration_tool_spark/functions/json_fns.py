"""JSON function family over events.props (SURVEY.md §2.8 fn_json).

``props`` holds JSON objects like ``{"k": 87}``. Extraction stays
JVM-side (``get_json_object`` / ``from_json``); results are cast to
concrete types so the DuckDB twin (``->>`` extraction + cast) matches
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exprs import cents
from ..io import load
from ..registry import query


@query(
    "fn_json",
    oracle="""
        SELECT event_id,
               CAST(props->>'$.k' AS BIGINT)  AS k_value,
               CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod10,
               (props->>'$.missing') IS NULL  AS missing_is_null
        FROM events
    """,
    phase="P2",
    tags=("function", "json"),
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object extraction with typed casts + missing-path null."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.select(
        "event_id",
        k.alias("k_value"),
        (k % 10).alias("k_mod10"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
    )


@query(
    "fn_json_agg",
    oracle="""
        SELECT event_type,
               avg(CAST(props->>'$.k' AS BIGINT)) AS avg_k,
               count(*) AS n
        FROM events
        WHERE CAST(props->>'$.k' AS BIGINT) > 50
        GROUP BY event_type
    """,
    phase="P2",
    tags=("function", "json", "agg"),
)
def fn_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema, filtered + aggregated."""
    e = load(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    k = F.from_json("props", schema).getField("k")
    return (
        e.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.avg("k").alias("avg_k"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "fn_struct",
    oracle="""
        SELECT o_orderkey,
               to_json(struct_pack(
                   status := o_orderstatus,
                   prio   := o_orderpriority,
                   yr     := CAST(year(o_orderdate) AS BIGINT)
               )) AS order_tag,
               to_json(struct_pack(
                   k := o_orderkey,
                   who := struct_pack(cust := o_custkey,
                                      ref := 'C' || CAST(o_custkey AS VARCHAR))
               )) AS order_nested,
               year(o_orderdate) AS tag_year
        FROM orders
        WHERE o_orderkey % 100 = 0
        ORDER BY o_orderkey
    """,
    phase="P3",
    tags=("function", "struct"),
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction / nesting / field access (SURVEY §2.8's
    composite-type family alongside array/map/json): build flat and
    nested structs from order columns, read a field back, and render
    the structs as JSON — the driver-hashable scalar form (harness
    contract: no struct columns in visible output either; Spark's
    pandas conversion would yield dicts, unhashable in the driver's
    canonicalizer). Field names and order are declared identically on
    both engines, and both render compact JSON with int/string leaves
    byte-identically (doubles deliberately excluded — float JSON
    formatting differs across engines). The struct ops run JVM-side in
    the scan stage; tag_year proves getField on a just-built struct
    (Catalyst collapses it to the column — zero materialization)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    tag = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    )
    nested = F.struct(
        F.col("o_orderkey").alias("k"),
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "ref"
            ),
        ).alias("who"),
    )
    return (
        o.select(
            "o_orderkey",
            F.to_json(tag).alias("order_tag"),
            F.to_json(nested).alias("order_nested"),
            tag.getField("yr").cast("int").alias("tag_year"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "fn_variant",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(min(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS min_k,
               CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS max_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    phase="P2",
    tags=("function", "variant", "semistructured"),
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` converts the props JSON string to the binary
    variant encoding ONCE, ``variant_get`` extracts typed fields
    without re-parsing — the engine-native path for JSON-heavy event
    data (vs ``fn_json``'s per-expression get_json_object string
    parsing, which re-tokenizes the document for every field
    touched). At 100 TB you'd persist the variant column in parquet
    (shredded storage) and every downstream extraction becomes a
    columnar read; the aggregate semantics here are oracled against
    DuckDB's JSON extraction so the variant path is value-verified,
    not just smoke-tested.
    """
    e = load(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "fn_xml",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY status
    """,
    phase="P2",
    tags=("function", "xml", "format"),
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via Spark 4's native ``from_xml``: every order is
    serialized to an XML document (integer cents inside the markup —
    no float-text round trip), parsed back with a typed schema, and
    aggregated FROM THE PARSED FIELDS ONLY. The oracle computes the
    same aggregate directly from the table — DuckDB has no XML, but it
    doesn't need any: parse(serialize(x)) must equal x, so any
    escaping/typing/structure mangling in the XML path surfaces as a
    value-hash mismatch (the etl_convert_roundtrip reconciliation
    trick, promoted to a FULL oracle).

    Scale: serialization and parse are scan-stage expressions
    (map-only); at 100 TB real XML feeds read via the spark-xml-
    descended ``from_xml``/XML source with the same typed-schema
    pushdown, and the aggregate is the ordinary two-phase shape.
    """
    o = load(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<order><key>"),
        F.col("o_orderkey"),
        F.lit("</key><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><cents>"),
        cents(F.col("o_totalprice")),
        F.lit("</cents></order>"),
    )
    parsed = o.select(
        F.from_xml(xml, "key BIGINT, status STRING, cents BIGINT").alias("p")
    ).select("p.key", "p.status", "p.cents")
    return (
        parsed.groupBy(F.col("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.min("key").cast("bigint").alias("min_key"),
        )
        .orderBy("status")
    )
