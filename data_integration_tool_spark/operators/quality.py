"""Data-quality operators — the profiling / validation / monitoring
surface of a data-integration tool (SURVEY.md §2.14).

Every check is a declarative single-plan DataFrame job with a DuckDB
oracle twin: column profiling, rule-based validation, referential
integrity, cross-field consistency, freshness, and statistical anomaly
detection. Scale notes per operator; none collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import MICRO_SQL, cents, micro
from ..io import load
from ..registry import query

_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")


@query(
    "dq_profile",
    oracle="""
        SELECT 'doc_id' AS col_name, count(*) AS n_rows,
               count(*) - count(doc_id) AS n_nulls,
               count(DISTINCT doc_id) AS n_distinct FROM documents
        UNION ALL
        SELECT 'text', count(*), count(*) - count(text),
               count(DISTINCT text) FROM documents
        UNION ALL
        SELECT 'lang', count(*), count(*) - count(lang),
               count(DISTINCT lang) FROM documents
        UNION ALL
        SELECT 'source', count(*), count(*) - count(source),
               count(DISTINCT source) FROM documents
        UNION ALL
        SELECT 'n_chars', count(*), count(*) - count(n_chars),
               count(DISTINCT n_chars) FROM documents
    """,
    phase="P3",
    tags=("quality", "profile"),
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents table: row count, null count,
    exact distinct count per column. One aggregate per column unioned
    (rather than one agg with N DISTINCTs, whose Expand operator
    multiplies every input row N-fold); each branch's scan prunes to a
    single parquet column, so the union reads each column exactly once.
    At 100 TB swap countDistinct for approx_count_distinct per branch —
    same shape, sketch merge instead of exact shuffle."""
    d = load(spark, sf_dir, "documents")
    parts = []
    for c in _DOC_COLS:
        parts.append(
            d.select(c).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(c).isNull().cast("bigint")).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "dq_rules",
    oracle="""
        WITH m AS (
            SELECT count(*) AS n_rows,
                   sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS v1,
                   sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS v2,
                   sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS v3,
                   sum(CASE WHEN l_shipdate <  TIMESTAMP '1995-01-01'
                             OR  l_shipdate >= TIMESTAMP '2002-01-01'
                            THEN 1 ELSE 0 END) AS v4
            FROM lineitem
        )
        SELECT r.rule, CAST(r.n_violations AS BIGINT) AS n_violations,
               r.n_violations / CAST(m.n_rows AS DOUBLE) AS violation_rate
        FROM m, LATERAL (
            VALUES ('quantity_le_45', m.v1),
                   ('discount_le_8pct', m.v2),
                   ('price_positive', m.v3),
                   ('ship_in_calendar', m.v4)
        ) AS r(rule, n_violations)
    """,
    phase="P3",
    tags=("quality", "rules"),
)
def dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based validation: each declarative rule compiles to one
    conditional sum, so N rules cost ONE pass over the fact table
    (map-side combinable), then a 4-row stack unpivots the single
    aggregate row into (rule, n_violations, violation_rate)."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_quantity") > 45).cast("bigint")).alias("v1"),
        F.sum((F.col("l_discount") > 0.08).cast("bigint")).alias("v2"),
        F.sum((F.col("l_extendedprice") <= 0).cast("bigint")).alias("v3"),
        F.sum(
            (
                (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
                | (F.col("l_shipdate") >= F.lit("2002-01-01").cast("timestamp"))
            ).cast("bigint")
        ).alias("v4"),
    )
    return agg.select(
        F.expr(
            "stack(4, 'quantity_le_45', v1, 'discount_le_8pct', v2,"
            " 'price_positive', v3, 'ship_in_calendar', v4)"
            " AS (rule, n_violations)"
        ),
        "n_rows",
    ).select(
        "rule",
        "n_violations",
        (F.col("n_violations") / F.col("n_rows").cast("double")).alias(
            "violation_rate"
        ),
    )


@query(
    "dq_referential",
    oracle="""
        SELECT 'orders->customer' AS relation, count(*) AS n_rows,
               CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM orders o
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
               ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem->orders', count(*),
               CAST(sum(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM lineitem l
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
               ON l.l_orderkey = ok.o_orderkey
        UNION ALL
        SELECT 'events->customer', count(*),
               CAST(sum(CASE WHEN c2.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM events e
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c2
               ON e.user_id = c2.c_custkey
    """,
    phase="P3",
    tags=("quality", "referential"),
)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for each FK relation, total rows
    and rows whose key has no match in the referenced table. Left join
    against the DISTINCT key set + null-count — one pass per relation,
    no row explosion on duplicate dim keys. Customer keys broadcast;
    the lineitem->orders branch shuffles on orderkey (at 100 TB the
    orders key set outgrows a broadcast, and that equi-shuffle is the
    right plan)."""
    c_keys = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey").distinct()
    )
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    o_keys = o.select("o_orderkey").distinct()

    def audit(fact: DataFrame, fk: str, keys: DataFrame, pk: str, name: str) -> DataFrame:
        return (
            fact.select(fk)
            .join(keys, F.col(fk) == F.col(pk), "left")
            .agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(pk).isNull().cast("bigint")).alias("n_orphans"),
            )
        )

    return (
        audit(o, "o_custkey", c_keys, "c_custkey", "orders->customer")
        .unionAll(audit(li, "l_orderkey", o_keys, "o_orderkey", "lineitem->orders"))
        .unionAll(audit(ev, "user_id", c_keys, "c_custkey", "events->customer"))
    )


@query(
    "dq_consistency",
    oracle="""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_len_mismatch,
               max(n_chars) AS max_chars
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    phase="P3",
    tags=("quality", "consistency"),
)
def dq_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field consistency: does the materialized n_chars column
    agree with length(text)? Grouped by source so a corrupted feed
    shows up as ITS row, not a global average. Single groupBy pass."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("n_chars") != F.length("text")).cast("bigint")
            ).alias("n_len_mismatch"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


@query(
    "dq_freshness",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               max(ts) AS last_ts,
               CAST(epoch(TIMESTAMP '2024-02-01 00:00:00') AS BIGINT)
                 - CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
                   AS seconds_behind
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    phase="P3",
    tags=("quality", "freshness"),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline freshness: per event stream, how stale is the newest
    event against a fixed anchor (2024-02-01, just past the fixture's
    range)? Both engines truncate to whole seconds before differencing
    so sub-second fractions can't straddle the boundary. One combinable
    groupBy — the shape of a freshness SLO dashboard query."""
    ev = load(spark, sf_dir, "events")
    anchor = F.unix_timestamp(F.lit("2024-02-01 00:00:00").cast("timestamp"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
            (anchor - F.unix_timestamp(F.max("ts"))).alias("seconds_behind"),
        )
        .orderBy("event_type")
    )


@query(
    "anomaly_zscore",
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   count(*) AS n_events
            FROM events
            GROUP BY user_id, date_trunc('day', ts)
        ),
        scored AS (
            SELECT user_id, day, n_events,
                   avg(n_events) OVER (PARTITION BY user_id) AS mu,
                   stddev_samp(n_events) OVER (PARTITION BY user_id) AS sigma
            FROM daily
        )
        SELECT user_id, day, n_events,
               (n_events - mu) / sigma AS zscore
        FROM scored
        WHERE sigma > 0 AND (n_events - mu) / sigma > 2.0
        ORDER BY user_id, day
    """,
    phase="P3",
    tags=("quality", "anomaly"),
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical anomaly detection: days where a user's event volume
    exceeds their own mean by >2 sigma. Reduce to user-day grain FIRST
    (events-sized shuffle once), then the avg/stddev windows run over
    the small daily relation partitioned by user — no second pass over
    raw events. The z>2 cut keeps the result actionable."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id")
    scored = daily.select(
        "user_id",
        "day",
        "n_events",
        F.avg("n_events").over(w).alias("mu"),
        F.stddev_samp("n_events").over(w).alias("sigma"),
    )
    return (
        scored.filter(
            (F.col("sigma") > 0)
            & ((F.col("n_events") - F.col("mu")) / F.col("sigma") > 2.0)
        )
        .select(
            "user_id",
            "day",
            "n_events",
            ((F.col("n_events") - F.col("mu")) / F.col("sigma")).alias("zscore"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "recon_checksum",
    oracle="""
        SELECT 'orders' AS table_name, count(*) AS n_rows,
               CAST(sum(CAST(concat('0x', substr(md5(
                   concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                             o_orderpriority)), 1, 8)) AS BIGINT)) AS BIGINT)
                   AS checksum
        FROM orders
        UNION ALL
        SELECT 'customer', count(*),
               CAST(sum(CAST(concat('0x', substr(md5(
                   concat_ws('|', c_custkey, c_nationkey, c_mktsegment)),
                   1, 8)) AS BIGINT)) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'lineitem', count(*),
               CAST(sum(CAST(concat('0x', substr(md5(
                   concat_ws('|', l_orderkey, l_linenumber, l_returnflag,
                             l_linestatus)), 1, 8)) AS BIGINT)) AS BIGINT)
        FROM lineitem
    """,
    phase="P3",
    tags=("quality", "reconciliation"),
)
def recon_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system reconciliation checksums — the migration-validation
    primitive: per table, row count plus an order-independent content
    checksum (sum of a 32-bit integer derived from each row's md5 over
    a canonical key-column string). Identical values on two systems
    prove table equality without moving rows; a mismatch localizes to
    the table. Only integer/string columns feed the canonical string
    so the text form is engine-independent; the sum is combinable, so
    each table costs one map-side-aggregated scan."""

    def cksum(df: DataFrame, name: str, cols: list[str]) -> DataFrame:
        canon = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        h = F.conv(
            F.substring(F.md5(F.col("c").cast("binary")), 1, 8), 16, 10
        )
        return df.select(canon.alias("c")).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h.cast("bigint")).alias("checksum"),
        )

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    return (
        cksum(o, "orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                            "o_orderpriority"])
        .unionAll(cksum(c, "customer",
                        ["c_custkey", "c_nationkey", "c_mktsegment"]))
        .unionAll(cksum(li, "lineitem",
                        ["l_orderkey", "l_linenumber", "l_returnflag",
                         "l_linestatus"]))
    )


@query(
    "anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type,
                   quantile_disc(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type,
                   quantile_disc(abs(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type
        )
        SELECT m.event_type, m.med, d.mad,
               count(CASE WHEN abs(e.value - m.med) > 3 * d.mad
                          THEN 1 END) AS n_outliers,
               count(*) AS n_total
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        GROUP BY m.event_type, m.med, d.mad
    """,
    phase="P3",
    tags=("quality", "anomaly", "robust"),
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe alternative to ``anomaly_zscore``: mean/stddev are
    themselves dragged by the outliers they're meant to find, while
    median and MAD have a 50% breakdown point.

    Hash-exact by construction: DISCRETE percentiles return actual data
    values (no interpolation to synthesize floats), abs/compare
    arithmetic is identical in both engines, and the outputs are two
    data-valued doubles plus integer counts. Plan: two grouped discrete
    medians (each one sort-based agg over event_type — 5 groups) with
    the tiny per-type relations broadcast back onto the event scan;
    the events table itself is scanned, never wide-shuffled beyond the
    keyed aggregates."""
    e = load(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
            "med"
        )
    ).localCheckpoint(eager=False)
    # 5-row medians feed dev, which is referenced twice (mad + final):
    # without the lazy checkpoint the sort-based grouped percentile
    # re-ran per reference (r13 re-derivation sweep)
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias(
            "mad"
        )
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(
                F.when(F.col("adev") > F.lit(3) * F.col("mad"), 1)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )


@query(
    "dq_drift_psi",
    oracle=f"""
        WITH bucketed AS (
            SELECT least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9)
                       AS bucket,
                   CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                        THEN 1 ELSE 0 END AS is_base
            FROM orders
        ), per_bucket AS (
            SELECT bucket,
                   sum(is_base)     AS base_n,
                   sum(1 - is_base) AS cur_n
            FROM bucketed GROUP BY bucket
        ), shares AS (
            SELECT bucket,
                   CAST(base_n AS BIGINT) AS base_n,
                   CAST(cur_n AS BIGINT)  AS cur_n,
                   (base_n + 1.0) / (sum(base_n) OVER () + 10.0) AS p_base,
                   (cur_n + 1.0)  / (sum(cur_n) OVER () + 10.0)  AS p_cur
            FROM per_bucket
        )
        SELECT bucket,
               base_n, cur_n,
               {MICRO_SQL.format(x="p_base")} AS base_share_micro,
               {MICRO_SQL.format(x="p_cur")} AS cur_share_micro,
               {MICRO_SQL.format(x="(p_cur - p_base) * ln(p_cur / p_base)")}
                   AS psi_term_micro
        FROM shares
        ORDER BY bucket
    """,
    phase="P3",
    tags=("quality", "drift", "monitoring"),
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two time slices of the order
    price distribution (baseline: pre-1998; current: 1998+) — THE
    production drift monitor for feature/label distributions feeding a
    training pipeline. Fixed-width buckets (50k-wide, capped at 10) so
    the binning is a pure expression on both engines — no quantile
    estimation, no cross-engine percentile drift; add-one smoothing
    keeps empty buckets finite. Consumers sum psi_term over buckets
    (>0.2 = actionable drift).

    Plan: ONE scan of orders → map-side bucket+period flags → a
    10-group conditional aggregate; the share denominators are windows
    over the 10-row bucket relation (an empty-partition window is the
    documented anti-pattern on fact-scale relations — here it runs on
    exactly 10 rows, post-reduction, which is the right place for it).
    PSI terms cross a ln() boundary → micro-quantized per the house
    rule."""
    o = load(spark, sf_dir, "orders")
    bucketed = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint"), F.lit(9)
        ).alias("bucket"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_base"),
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.sum("is_base").alias("base_n"),
        F.sum(1 - F.col("is_base")).alias("cur_n"),
    )
    w = Window.partitionBy()
    p_base = (F.col("base_n") + 1.0) / (F.sum("base_n").over(w) + 10.0)
    p_cur = (F.col("cur_n") + 1.0) / (F.sum("cur_n").over(w) + 10.0)
    return (
        per_bucket.select(
            "bucket",
            F.col("base_n").cast("bigint").alias("base_n"),
            F.col("cur_n").cast("bigint").alias("cur_n"),
            micro(p_base).alias("base_share_micro"),
            micro(p_cur).alias("cur_share_micro"),
            micro((p_cur - p_base) * F.log(p_cur / p_base)).alias(
                "psi_term_micro"
            ),
        )
        .orderBy("bucket")
    )


# Benford expected first-digit shares, micro-quantized — PRECOMPUTED in
# Python (floor(log10(1+1/d)*1e6+0.5)) and embedded as integer literals
# in BOTH engines: each engine's libm log10 could round constants
# differently, so neither engine computes them.
_BENFORD_MICRO = (
    301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757,
)


@query(
    "dq_benford",
    oracle=f"""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT) AS d
            FROM orders
            WHERE o_totalprice >= 1.0
        ),
        obs AS (
            SELECT d, count(*) AS n_obs
            FROM digits GROUP BY d
        ),
        expected(d, exp_micro) AS (VALUES
            {", ".join(f"({d}, {m})" for d, m in enumerate(_BENFORD_MICRO, 1))}
        )
        SELECT e.d, coalesce(o.n_obs, 0) AS n_obs, e.exp_micro,
               CAST(floor(CAST(coalesce(o.n_obs, 0) AS DOUBLE) * 1000000.0
                          / o2.n_total + 0.5) AS BIGINT) AS obs_micro,
               CAST(floor(
                   (CAST(coalesce(o.n_obs, 0) AS DOUBLE) * 1000000.0
                        / o2.n_total - e.exp_micro)
                   * (CAST(coalesce(o.n_obs, 0) AS DOUBLE) * 1000000.0
                        / o2.n_total - e.exp_micro)
                   / e.exp_micro + 0.5) AS BIGINT) AS chi2_term_micro
        FROM expected e
        LEFT JOIN obs o ON e.d = o.d
        CROSS JOIN (SELECT count(*) AS n_total FROM digits) o2
    """,
    phase="P3",
    tags=("quality", "benford", "drift"),
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformance check on order
    totals — the classic fabricated-data / upstream-corruption detector
    (natural multiplicative amounts follow P(d) = log10(1+1/d); a flat
    or spiked digit histogram flags synthetic or truncated feeds).
    Emits per digit: observed count, observed share, expected share,
    and the chi-squared contribution, all micro-quantized.

    Scale shape: digit extraction is a map-side string expression; the
    aggregation has AT MOST 9 groups (combinable), and the expected
    table is a 9-row literal relation joined broadcast — the whole
    check costs one scan at any scale. The expected shares are
    precomputed Python constants embedded in both engines: libm log10
    rounding is not cross-engine-stable, so neither engine computes
    them."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n_obs"))
    total = digits.agg(F.count(F.lit(1)).alias("n_total"))
    expected = spark.createDataFrame(
        [(d, m) for d, m in enumerate(_BENFORD_MICRO, 1)],
        "d bigint, exp_micro bigint",
    )
    obs_share = (
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("double")
        * F.lit(1000000.0)
        / F.col("n_total")
    )
    return (
        expected.join(obs, "d", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "d",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            "exp_micro",
            F.floor(obs_share + F.lit(0.5)).cast("bigint").alias("obs_micro"),
            F.floor(
                (obs_share - F.col("exp_micro"))
                * (obs_share - F.col("exp_micro"))
                / F.col("exp_micro")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("chi2_term_micro"),
        )
    )


@query(
    "win_hampel_outliers",
    oracle="""
        WITH framed AS (
            SELECT event_id, event_type,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm,
                   list_sort(list(CAST(floor(value * 1000000.0 + 0.5)
                                       AS BIGINT))
                             OVER (PARTITION BY event_type
                                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                                   ROWS BETWEEN 6 PRECEDING
                                        AND CURRENT ROW)) AS frame
            FROM events
        ),
        med AS (
            SELECT event_id, event_type, vm, frame,
                   frame[(len(frame) + 1) // 2] AS med_micro
            FROM framed
        )
        SELECT event_id, event_type, vm AS value_micro, med_micro,
               list_sort(list_transform(frame, v -> abs(v - med_micro)))
                   [(len(frame) + 1) // 2] AS mad_micro,
               CAST(abs(vm - med_micro) * 10000
                    > 44478 * list_sort(list_transform(frame,
                          v -> abs(v - med_micro)))
                          [(len(frame) + 1) // 2]
                    AS BIGINT) AS is_outlier
        FROM med
    """,
    phase="P3",
    tags=("quality", "outlier", "robust", "window"),
)
def win_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter: flag each event whose value sits more than
    3 x 1.4826 x MAD from the rolling median of its trailing 7-event
    frame per type — THE robust streaming outlier detector (immune to
    the outliers polluting their own threshold, unlike z-scores; see
    anomaly_zscore for the parametric cousin).

    All-integer construction: micro-quantized values, DISCRETE medians
    (lower-middle pick via floor division — Spark truncates double→int
    toward zero but DuckDB CAST rounds, so neither engine casts), and
    the 3 x 1.4826 threshold compared as |x - med| * 10000 > 44478 * MAD
    — exact BIGINT on both sides. Scale shape: same as
    win_rolling_median — bounded O(7) frame state inside JVM window
    codegen, one event_type partition exchange, no pandas; the frame
    materializes ONCE via withColumn and both robust statistics read
    it."""
    e = load(spark, sf_dir, "events")
    vm = micro(F.col("value"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = (
        e.select("event_id", "event_type", "ts", vm.alias("vm"))
        .withColumn("frame", F.array_sort(F.collect_list("vm").over(w)))
        .drop("ts")
    )
    n = F.size("frame")
    mid = F.floor((n + 1) / 2).cast("int")
    with_med = framed.withColumn(
        "med_micro", F.element_at("frame", mid)
    )
    diffs = F.array_sort(
        F.transform("frame", lambda v: F.abs(v - F.col("med_micro")))
    )
    with_mad = with_med.withColumn(
        "mad_micro",
        F.element_at(diffs, F.floor((F.size("frame") + 1) / 2).cast("int")),
    )
    return with_mad.select(
        "event_id",
        "event_type",
        F.col("vm").alias("value_micro"),
        "med_micro",
        "mad_micro",
        (
            F.abs(F.col("vm") - F.col("med_micro")) * F.lit(10000)
            > F.lit(44478) * F.col("mad_micro")
        )
        .cast("bigint")
        .alias("is_outlier"),
    )


SKEW_TOP = 10  # heaviest keys reported


@query(
    "dq_skew_report",
    oracle=f"""
        WITH per_key AS (
            SELECT l_suppkey AS key, count(*) AS cnt
            FROM lineitem GROUP BY l_suppkey
        ),
        tot AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS total,
                   count(*) AS n_keys,
                   CAST(max(cnt) AS BIGINT) AS max_cnt
            FROM per_key
        )
        SELECT CAST(r.rnk AS BIGINT) AS rnk, r.key,
               CAST(r.cnt AS BIGINT) AS cnt,
               CAST(floor(r.cnt * 1000000.0 / t.total + 0.5) AS BIGINT)
                   AS share_micro,
               CAST(floor(r.cnt * t.n_keys * 1000000.0 / t.total + 0.5)
                    AS BIGINT) AS skew_ratio_micro
        FROM (
            SELECT key, cnt,
                   row_number() OVER (ORDER BY cnt DESC, key) AS rnk
            FROM per_key
        ) r CROSS JOIN tot t
        WHERE r.rnk <= {SKEW_TOP}
        ORDER BY rnk
    """,
    phase="P3",
    tags=("quality", "skew", "planning"),
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic for a join/aggregation key: the
    {SKEW_TOP} heaviest l_suppkey values with their row count, corpus
    share, and skew ratio (count ÷ mean count per key, in micro units —
    1_000_000 = perfectly uniform). This is the planning query you run
    BEFORE a 100 TB join to decide whether the key needs salting or
    AQE's skew-join split: a skew_ratio over ~5_000_000 (5× the mean)
    on a hot key is the standard salting trigger.

    Plan: one partial-agg shuffle keyed on l_suppkey to build the
    per-key counts (map-side combine collapses the fixture's ~60 rows
    per key before the exchange), a single-row global roll-up of those
    counts (tiny: one row per distinct key enters it), broadcast back
    over the top-K. Nothing here scales with raw row count except the
    first partial agg — exactly the profile a planning probe needs.
    """
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = per_key.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    ranked = per_key.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("key"))),
    ).filter(F.col("rnk") <= SKEW_TOP)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            "key",
            "cnt",
            F.floor(F.col("cnt") * 1000000.0 / F.col("total") + F.lit(0.5))
            .cast("bigint")
            .alias("share_micro"),
            F.floor(
                F.col("cnt") * F.col("n_keys") * 1000000.0 / F.col("total")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("skew_ratio_micro"),
        )
        .orderBy("rnk")
    )


# Expected schema contract for the orders feed. 'o_comment' is expected
# but absent in the fixture — deliberately, so the 'missing' disposition
# path is exercised and driver-visible, not just dead code.
_ORDERS_CONTRACT: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
    ("o_comment", "string"),
)

_CONTRACT_VALUES_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, '{t}' AS expected_type"
    for c, t in _ORDERS_CONTRACT
)

# DuckDB type name → the engine-neutral canonical name shared with
# Spark's DataFrame.dtypes strings.
_DUCK_CANON_SQL = """
    CASE column_type
        WHEN 'BIGINT' THEN 'bigint'
        WHEN 'INTEGER' THEN 'int'
        WHEN 'DOUBLE' THEN 'double'
        WHEN 'VARCHAR' THEN 'string'
        WHEN 'TIMESTAMP' THEN 'timestamp'
        WHEN 'DATE' THEN 'date'
        WHEN 'BOOLEAN' THEN 'boolean'
        ELSE lower(column_type)
    END
"""


@query(
    "dq_schema_contract",
    oracle=f"""
        WITH expected AS ({_CONTRACT_VALUES_SQL}),
        actual AS (
            SELECT column_name AS col_name,
                   {_DUCK_CANON_SQL} AS actual_type
            FROM (DESCRIBE orders)
        )
        SELECT coalesce(e.col_name, a.col_name) AS col_name,
               coalesce(e.expected_type, '-') AS expected_type,
               coalesce(a.actual_type, '-') AS actual_type,
               CASE
                   WHEN a.col_name IS NULL THEN 'missing'
                   WHEN e.col_name IS NULL THEN 'unexpected'
                   WHEN e.expected_type <> a.actual_type
                       THEN 'type_mismatch'
                   ELSE 'ok'
               END AS status
        FROM expected e FULL OUTER JOIN actual a
          ON e.col_name = a.col_name
        ORDER BY col_name
    """,
    phase="P3",
    tags=("quality", "schema", "contract"),
)
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract validation — the ingest gate a data-integration
    tool runs before accepting a feed: every expected column must exist
    with the contracted type; extra columns are flagged, not silently
    passed. Dispositions: ok / type_mismatch / missing / unexpected
    (the contract deliberately expects an absent ``o_comment`` so the
    missing path is live).

    This is a pure METADATA query: the actual schema comes from the
    parquet footer (``DataFrame.dtypes`` — no data scan, the same
    sanctioned driver-side class as file manifests), joined full-outer
    against the contract literal. Cost is O(columns) at any data scale
    — the 100 TB feed validates in milliseconds, which is why schema
    gates run on every single batch.
    """
    # Spark 4 infers parquet timestamps as TIMESTAMP_NTZ; the contract
    # speaks engine-neutral 'timestamp' (DuckDB's TIMESTAMP is NTZ too).
    actual_pairs = [
        (c, "timestamp" if t == "timestamp_ntz" else t)
        for c, t in load(spark, sf_dir, "orders").dtypes
    ]
    actual = spark.createDataFrame(actual_pairs, ["col_name", "actual_type"])
    expected = spark.createDataFrame(
        list(_ORDERS_CONTRACT), ["col_name", "expected_type"]
    )
    e, a = expected.alias("e"), actual.alias("a")
    status = (
        F.when(F.col("a.col_name").isNull(), "missing")
        .when(F.col("e.col_name").isNull(), "unexpected")
        .when(F.col("e.expected_type") != F.col("a.actual_type"), "type_mismatch")
        .otherwise("ok")
    )
    return (
        e.join(a, F.col("e.col_name") == F.col("a.col_name"), "full_outer")
        .select(
            F.coalesce(F.col("e.col_name"), F.col("a.col_name")).alias("col_name"),
            F.coalesce(F.col("e.expected_type"), F.lit("-")).alias("expected_type"),
            F.coalesce(F.col("a.actual_type"), F.lit("-")).alias("actual_type"),
            status.alias("status"),
        )
        .orderBy("col_name")
    )


@query(
    "dq_ks_test",
    oracle="""
        WITH tagged AS (
            SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v,
                   CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                        THEN 1 ELSE 0 END AS in_a
            FROM orders
        ),
        counts AS (
            SELECT v,
                   CAST(sum(in_a) AS BIGINT) AS c_a,
                   CAST(sum(1 - in_a) AS BIGINT) AS c_b
            FROM tagged GROUP BY v
        ),
        tot AS (
            SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
                   CAST(sum(c_b) AS BIGINT) AS n_b
            FROM counts
        ),
        cdf AS (
            SELECT CAST(sum(c_a) OVER w AS BIGINT) AS cum_a,
                   CAST(sum(c_b) OVER w AS BIGINT) AS cum_b
            FROM counts
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
        )
        SELECT t.n_a, t.n_b,
               CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS BIGINT)
                   AS max_scaled_gap,
               CAST(floor(CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a))
                               AS DOUBLE)
                          / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS ks_micro
        FROM cdf c CROSS JOIN tot t
        GROUP BY t.n_a, t.n_b
    """,
    phase="P3",
    tags=("quality", "drift", "ks"),
)
def dq_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the order-price
    distributions of two time slices (pre/post 1998) — the
    NON-PARAMETRIC drift monitor beside ``dq_drift_psi``: no binning
    choice, sensitive to any CDF divergence, with the textbook
    D = max|F_a − F_b| semantics.

    All-integer until the final ratio: prices quantize to cents, the
    per-value slice counts aggregate combinably, and the ECDF gap is
    computed as |cum_a·n_b − cum_b·n_a| (cross-multiplied BIGINTs — no
    per-row float division anywhere), so D's argmax is exact and the
    single output division is identical on both engines.

    Scale: one combinable (value, slice) count collapses the table to
    its distinct-value grain; the running-sum window sorts that reduced
    relation once (range-partitionable at 100 TB — same contract as
    hist_equidepth); output is one row.
    """
    o = load(spark, sf_dir, "orders")
    tagged = o.select(
        cents(F.col("o_totalprice")).alias("v"),
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .cast("bigint")
        .alias("in_a"),
    )
    counts = tagged.groupBy("v").agg(
        F.sum("in_a").cast("bigint").alias("c_a"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("c_b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = counts.select(
        F.sum("c_a").over(w).cast("bigint").alias("cum_a"),
        F.sum("c_b").over(w).cast("bigint").alias("cum_b"),
    )
    tot = counts.agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    gap = F.abs(
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    )
    return (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(F.max(gap).cast("bigint").alias("max_scaled_gap"))
        .select(
            "n_a",
            "n_b",
            "max_scaled_gap",
            micro(
                F.col("max_scaled_gap").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("ks_micro"),
        )
    )


@query(
    "dq_join_fanout",
    oracle="""
        WITH l AS (
            SELECT l_orderkey AS k, count(*) AS m FROM lineitem GROUP BY 1
        ),
        r AS (
            SELECT o_orderkey AS k, count(*) AS m FROM orders GROUP BY 1
        ),
        joined AS (
            SELECT l.m AS lm, r.m AS rm
            FROM l JOIN r ON l.k = r.k
        ),
        stats AS (
            SELECT CAST((SELECT sum(m) FROM l) AS BIGINT) AS left_rows,
                   CAST((SELECT sum(m) FROM r) AS BIGINT) AS right_rows,
                   CAST(sum(lm * rm) AS BIGINT) AS result_rows,
                   CAST(max(lm) AS BIGINT) AS max_left_mult,
                   CAST(max(rm) AS BIGINT) AS max_right_mult,
                   CAST(count(*) AS BIGINT) AS n_matched_keys
            FROM joined
        )
        SELECT left_rows, right_rows, result_rows,
               max_left_mult, max_right_mult, n_matched_keys,
               CAST(floor(CAST(result_rows AS DOUBLE)
                          / CAST(left_rows AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT)
                   AS fanout_micro
        FROM stats
    """,
    phase="P3",
    tags=("quality", "join", "fanout"),
)
def dq_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-multiplicity audit — "why did my join explode": BEFORE
    running lineitem⋈orders, predict its exact output cardinality and
    the worst per-key multiplicities from the two key histograms
    (result rows = Σ_k m_left(k)·m_right(k)). A max multiplicity > 1
    on BOTH sides means many-to-many fan-out; fanout_micro is the blow-
    up factor relative to the left input. This is the diagnostic a
    data-integration tool runs when row counts jump after a merge —
    and at 100 TB it costs two key-grain aggregations instead of
    materializing the (possibly exploded) join itself.

    Plan: two combinable per-key counts, an equi-join of the two
    HISTOGRAMS (one row per key — far smaller than the fact tables),
    one global roll-up. All integer arithmetic; the single ratio is
    the only double.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    # NOTE (r13 re-derivation sweep): each key histogram is referenced
    # twice (histogram join + its own total), so the totals legs
    # re-derive the key-grain aggregates. Lazy-checkpointing l and r
    # was A/B'd and REJECTED: materializing two key-grain histograms
    # (rows = distinct keys) costs more locally than the saved
    # re-aggregation (0.60/0.82 -> 0.76/1.00 s min/med), and the
    # re-derived legs are combinable partial aggs over pruned
    # single-column scans — the cheap kind of second pass.
    l = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("lm")
    )
    r = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("rm")
    )
    joined = l.join(r, "k")
    stats = joined.agg(
        F.sum(F.col("lm") * F.col("rm")).cast("bigint").alias("result_rows"),
        F.max("lm").cast("bigint").alias("max_left_mult"),
        F.max("rm").cast("bigint").alias("max_right_mult"),
        F.count(F.lit(1)).cast("bigint").alias("n_matched_keys"),
    )
    totals = l.agg(F.sum("lm").cast("bigint").alias("left_rows")).crossJoin(
        r.agg(F.sum("rm").cast("bigint").alias("right_rows"))
    )
    return stats.crossJoin(F.broadcast(totals)).select(
        "left_rows",
        "right_rows",
        "result_rows",
        "max_left_mult",
        "max_right_mult",
        "n_matched_keys",
        micro(
            F.col("result_rows").cast("double")
            / F.col("left_rows").cast("double")
        ).alias("fanout_micro"),
    )


@query(
    "dq_pseudonymize",
    oracle="""
        WITH masked AS (
            SELECT c_custkey,
                   'cust_' || substr(md5(c_name), 1, 12) AS pseudonym
            FROM customer WHERE c_custkey < 500
        ),
        counts AS (
            SELECT o_custkey, count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT m.c_custkey AS custkey, m.pseudonym,
               CAST(coalesce(c.n_orders, 0) AS BIGINT) AS n_orders
        FROM masked m LEFT JOIN counts c ON c.o_custkey = m.c_custkey
        ORDER BY custkey
    """,
    phase="P3",
    tags=("quality", "privacy", "pseudonymization"),
)
def dq_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization — the privacy transform BESIDE
    ``pii_redact``: redaction destroys the value, pseudonymization
    replaces it with a stable surrogate (`cust_` + md5 prefix) so
    analytics and JOINS keep working on the masked data. Determinism
    is the point and the risk: the same name always maps to the same
    token (referential integrity across tables and runs — verified by
    joining order counts through the masked dimension), which is why
    production adds a secret salt to the digest; the fixture uses the
    unsalted form so the oracle can reproduce it.

    Scale: the mask is a scan-stage expression (map-only — no shuffle
    added to whatever the query already did); the surrogate is
    fixed-width, so masked tables are narrower than the originals.
    Collision risk at 48 bits is ~n²/2^49 — negligible below ~10^7
    distinct values, and a uniqueness audit (distinct names == distinct
    pseudonyms) is pinned in pytest.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    masked = c.select(
        "c_custkey",
        F.concat(
            F.lit("cust_"),
            F.substring(F.md5(F.col("c_name").cast("binary")), 1, 12),
        ).alias("pseudonym"),
    )
    counts = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        masked.join(counts, masked.c_custkey == counts.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("custkey"),
            "pseudonym",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias(
                "n_orders"
            ),
        )
        .orderBy("custkey")
    )


_UNIQ_TABLES = (
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"),
    ("events", "user_id"),
)

_UNIQ_ORACLE_LEG = """
        SELECT '{t}' AS tbl, '{k}' AS key_col,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS n_dup_keys,
               CAST(max(c) AS BIGINT) AS max_multiplicity,
               CAST(floor(CAST(sum(c) AS DOUBLE) * 1000000.0
                          / count(*) + 0.5) AS BIGINT) AS dup_factor_micro
        FROM (SELECT {k}, count(*) AS c FROM {t} GROUP BY {k})"""


@query(
    "dq_uniqueness",
    oracle=" UNION ALL ".join(
        _UNIQ_ORACLE_LEG.format(t=t, k=k) for t, k in _UNIQ_TABLES
    )
    + " ORDER BY tbl",
    phase="P3",
    tags=("quality", "uniqueness"),
)
def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-uniqueness audit across the lake in one report — the
    first check every ingest contract runs ("is this column actually a
    primary key?"): per (table, declared key) the row count, distinct
    key count, number of violated keys, worst multiplicity, and the
    duplication factor (rows per key, micro-units). orders/customer
    must come out exactly unique; lineitem (line grain under order
    keys) and events (event grain under user keys) quantify their
    expected fan-out.

    Scale shape: one combinable two-level aggregate per table — the
    inner per-key count shuffles once on the key, the outer roll-up is
    a single-row reduce; tables audit independently (a UNION ALL of
    per-table plans, trivially parallel across the lake at 100 TB).
    Integer everywhere; the one ratio ships in micro-units."""
    legs = []
    for t, k in _UNIQ_TABLES:
        per_key = (
            load(spark, sf_dir, t)
            .groupBy(F.col(k))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        legs.append(
            per_key.agg(
                F.lit(t).alias("tbl"),
                F.lit(k).alias("key_col"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.sum((F.col("c") > 1).cast("bigint"))
                .cast("bigint")
                .alias("n_dup_keys"),
                F.max("c").cast("bigint").alias("max_multiplicity"),
                F.floor(
                    F.sum("c").cast("double")
                    * F.lit(1000000.0)
                    / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("dup_factor_micro"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("tbl")


@query(
    "dq_outlier_iqr",
    oracle="""
        WITH vals AS (
            SELECT l_returnflag,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS vc
            FROM lineitem
        ), fences AS (
            SELECT l_returnflag,
                   quantile_disc(vc, 0.25) AS q1c,
                   quantile_disc(vc, 0.75) AS q3c
            FROM vals GROUP BY l_returnflag
        )
        SELECT v.l_returnflag,
               CAST(f.q1c AS BIGINT)          AS q1_cents,
               CAST(f.q3c AS BIGINT)          AS q3_cents,
               CAST(f.q3c - f.q1c AS BIGINT)  AS iqr_cents,
               CAST(count(*) FILTER (
                    WHERE 2 * v.vc < 2 * f.q1c - 3 * (f.q3c - f.q1c))
                    AS BIGINT)                AS n_low,
               CAST(count(*) FILTER (
                    WHERE 2 * v.vc > 2 * f.q3c + 3 * (f.q3c - f.q1c))
                    AS BIGINT)                AS n_high,
               CAST(count(*) AS BIGINT)       AS n_total
        FROM vals v JOIN fences f USING (l_returnflag)
        GROUP BY v.l_returnflag, f.q1c, f.q3c
        ORDER BY v.l_returnflag
    """,
    phase="P5",
    tags=("quality", "outliers", "iqr"),
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot (IQR-fence) outlier audit per group — the
    quartile-based member of the robust-detector family
    (anomaly_zscore: moment-based; anomaly_mad: median-absolute;
    win_hampel_outliers: windowed): values beyond Q1 − 1.5·IQR or
    Q3 + 1.5·IQR count as outliers. Quartiles are DISCRETE (actual
    data points, the agg_percentile_disc rule) over cents-quantized
    values, and the fences compare in HALF-CENTS (2·v vs 2·Q1 − 3·IQR)
    so the ×1.5 never leaves integer arithmetic — every column is
    hash-exact cross-engine.

    Plan: quartiles come from agg_approx_percentile's two-phase
    distributed selection (ONE combinable (group, bucket) histogram →
    rank location over the tiny bucket relation → broadcast
    semi-filter re-scan of only the boundary buckets) — NOT from
    value-buffering percentile_disc aggregates, which serialize each
    group's full value set through one buffer (the exact plan defect
    the r6 review flagged on agg_approx_percentile; measured here:
    2.1 s → ~1.4 s under bench conditions, and unlike the buffering
    plan every stage stays parallel when groups multiply). The fences then broadcast
    back onto one combinable fence-count pass."""
    vals = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents(F.col("l_extendedprice")).alias("vc"),
        F.floor(cents(F.col("l_extendedprice")) / F.lit(3200))
        .cast("bigint")
        .alias("bkt"),
    )
    hist = vals.groupBy("l_returnflag", "bkt").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy("bkt")
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "bkt",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    ).localCheckpoint(eager=False)
    # bucket-grain cumulative histogram, referenced by BOTH quartile
    # selector legs — the lazy checkpoint keeps the corpus histogram
    # pass single in the compiled plan (r13 re-derivation sweep)
    selectors = None
    for p_lbl, q in ((1, 0.25), (3, 0.75)):
        r = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        sel = cum.where(
            (F.col("cum") >= r) & (F.col("cum") - F.col("c") < r)
        ).select(
            "l_returnflag",
            "bkt",
            (r - (F.col("cum") - F.col("c"))).alias("within_rank"),
            F.lit(p_lbl).alias("pq"),
        )
        selectors = sel if selectors is None else selectors.unionAll(sel)
    cand = vals.join(F.broadcast(selectors), ["l_returnflag", "bkt"])
    w_pick = Window.partitionBy("l_returnflag", "pq").orderBy("vc")
    picked = cand.withColumn("rn", F.row_number().over(w_pick)).where(
        F.col("rn") == F.col("within_rank")
    )
    fences = picked.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("pq") == 1, F.col("vc")))
        .cast("bigint")
        .alias("q1c"),
        F.min(F.when(F.col("pq") == 3, F.col("vc")))
        .cast("bigint")
        .alias("q3c"),
    )
    iqr = F.col("q3c") - F.col("q1c")
    low = 2 * F.col("vc") < 2 * F.col("q1c") - 3 * iqr
    high = 2 * F.col("vc") > 2 * F.col("q3c") + 3 * iqr
    return (
        vals.join(F.broadcast(fences), "l_returnflag")
        .groupBy("l_returnflag", "q1c", "q3c")
        .agg(
            F.count(F.when(low, 1)).cast("bigint").alias("n_low"),
            F.count(F.when(high, 1)).cast("bigint").alias("n_high"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
        .select(
            "l_returnflag",
            F.col("q1c").alias("q1_cents"),
            F.col("q3c").alias("q3_cents"),
            iqr.cast("bigint").alias("iqr_cents"),
            "n_low",
            "n_high",
            "n_total",
        )
        .orderBy("l_returnflag")
    )


# Candidate functional dependencies (table, lhs, rhs): a mix of true
# FDs (keys, the nation→region hierarchy) and expected violations, so
# the report proves the checker in both directions.
_FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_custkey"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("events", "user_id", "event_type"),
)

_FD_ORACLE_LEG = """
        SELECT '{t}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
               CAST(count(*) AS BIGINT) AS n_lhs,
               CAST(count(*) FILTER (WHERE d > 1) AS BIGINT)
                   AS n_violating_lhs,
               CAST(max(d) AS BIGINT) AS max_rhs_per_lhs,
               CAST(CASE WHEN max(d) = 1 THEN 1 ELSE 0 END AS BIGINT)
                   AS holds
        FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS d
              FROM {t} GROUP BY {lhs})"""


@query(
    "dq_fd_discovery",
    oracle=" UNION ALL ".join(
        _FD_ORACLE_LEG.format(t=t, lhs=lhs, rhs=rhs)
        for t, lhs, rhs in _FD_CANDIDATES
    )
    + " ORDER BY tbl, lhs, rhs",
    phase="P5",
    tags=("quality", "profiling", "functional-dependency"),
)
def dq_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency checker over declared candidates — the
    Metanome-style profiling primitive behind schema normalization,
    key inference, and mapping validation in data-integration work:
    A→B holds iff every A value maps to exactly one B value. Each
    candidate reports its LHS cardinality, how many LHS values
    violate, the worst fan-out, and the verdict — a mix of true FDs
    (keys, the nation→region hierarchy) and known violations keeps
    both branches honest.

    Plan: per candidate, ONE two-level aggregate (groupBy lhs with
    count(DISTINCT rhs) → single summary row); the report is a
    UNION ALL of one-row results, so at lake scale every candidate
    audits independently — same posture as dq_uniqueness. Exhaustive
    column-pair search would square the candidate set; the operator
    takes the declared list instead, which is how production FD
    checks run (profile once, re-verify declared FDs per ingest)."""
    legs = []
    for t, lhs, rhs in _FD_CANDIDATES:
        per_lhs = (
            load(spark, sf_dir, t)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("d"))
        )
        legs.append(
            per_lhs.agg(
                F.lit(t).alias("tbl"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
                F.count(F.when(F.col("d") > 1, 1))
                .cast("bigint")
                .alias("n_violating_lhs"),
                F.max("d").cast("bigint").alias("max_rhs_per_lhs"),
                (F.max("d") == 1).cast("bigint").alias("holds"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("tbl", "lhs", "rhs")


@query(
    "dq_feed_gaps",
    oracle="""
        WITH mins AS (
            SELECT DISTINCT event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 AS m
            FROM events
        ), seq AS (
            SELECT event_type, m,
                   lead(m) OVER (PARTITION BY event_type ORDER BY m)
                       AS nxt
            FROM mins
        ), gaps AS (
            SELECT event_type, m + 1 AS gap_start_min,
                   nxt - 1 AS gap_end_min, nxt - m - 1 AS dark_minutes
            FROM seq WHERE nxt IS NOT NULL AND nxt - m > 1
        )
        SELECT event_type,
               CAST(gap_start_min AS BIGINT) AS gap_start_min,
               CAST(gap_end_min AS BIGINT) AS gap_end_min,
               CAST(dark_minutes AS BIGINT) AS dark_minutes,
               CAST((SELECT count(*) FROM gaps g2
                     WHERE g2.event_type = gaps.event_type) AS BIGINT)
                   AS n_gaps,
               CAST((SELECT sum(dark_minutes) FROM gaps g3
                     WHERE g3.event_type = gaps.event_type) AS BIGINT)
                   AS total_dark_minutes
        FROM gaps
        ORDER BY dark_minutes DESC, event_type, gap_start_min
        LIMIT 20
    """,
    phase="P5",
    tags=("quality", "sequence", "gaps", "freshness"),
)
def dq_feed_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-outage detection — "did the clickstream go dark, and for
    how long?": per event type, the minutes-grain activity timeline is
    scanned for interruptions via ONE lead() pass over the DISTINCT
    active minutes, reporting the 20 longest dark windows with
    per-type gap totals (the SLA evidence behind dq_freshness's
    point-in-time staleness check).

    Plan: the data-sized stage is the DISTINCT (type, minute)
    reduction — combinable, output bounded by types × span-minutes
    regardless of event volume; the gap window then runs at timeline
    grain, PARTITIONED by type (never a global sort), and the per-type
    totals attach as window sums over the metadata-sized gap
    relation. Minute ids are exact integer division of epoch
    microseconds on both engines. The top-20 is deterministically
    tied by (dark_minutes DESC, type, gap_start)."""
    e = load(spark, sf_dir, "events")
    mins = e.select(
        "event_type",
        F.expr("unix_micros(ts) div 60000000").alias("m"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("m")
    gaps = (
        mins.select(
            "event_type", "m", F.lead("m").over(w).alias("nxt")
        )
        .filter(F.col("nxt").isNotNull() & (F.col("nxt") - F.col("m") > 1))
        .select(
            "event_type",
            (F.col("m") + 1).cast("bigint").alias("gap_start_min"),
            (F.col("nxt") - 1).cast("bigint").alias("gap_end_min"),
            (F.col("nxt") - F.col("m") - 1)
            .cast("bigint")
            .alias("dark_minutes"),
        )
    )
    w_type = Window.partitionBy("event_type")
    return (
        gaps.select(
            "event_type",
            "gap_start_min",
            "gap_end_min",
            "dark_minutes",
            F.count(F.lit(1)).over(w_type).cast("bigint").alias("n_gaps"),
            F.sum("dark_minutes")
            .over(w_type)
            .cast("bigint")
            .alias("total_dark_minutes"),
        )
        .orderBy(
            F.col("dark_minutes").desc(), "event_type", "gap_start_min"
        )
        .limit(20)
    )


@query(
    "dq_k_anonymity",
    oracle="""
        WITH grp AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS sz
            FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CAST(count(*) AS BIGINT)  AS n_groups,
               CAST(sum(sz) AS BIGINT)   AS n_rows,
               CAST(min(sz) AS BIGINT)   AS k_anonymity,
               CAST(count(*) FILTER (WHERE sz < 10) AS BIGINT)
                   AS groups_below_10,
               CAST(coalesce(sum(sz) FILTER (WHERE sz < 10), 0)
                    AS BIGINT) AS rows_below_10,
               CAST(floor(CAST(coalesce(sum(sz) FILTER (WHERE sz < 10),
                          0) AS DOUBLE) * 1000000.0 / sum(sz) + 0.5)
                    AS BIGINT) AS pct_below_micro
        FROM grp
    """,
    phase="P3",
    tags=("quality", "privacy", "k-anonymity"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (nation,
    market segment) — the re-identification risk gate run before a
    dataset release: k is the SMALLEST equivalence-class size (an
    attacker can narrow any record to no fewer than k people), and
    the below-threshold counts size the suppression/generalization
    work needed to reach k ≥ 10.  Companion to dq_pseudonymize
    (which transforms identifiers; this measures whether the
    remaining quasi-identifiers still leak).

    Plan: ONE combinable groupBy to equivalence-class grain followed
    by a single-row FILTER-clause reduce — the class relation is
    bounded by the QI-value product, never by table size, so the
    audit is two map-side-combined exchanges at any corpus scale.
    All outputs are exact BIGINTs; the one ratio ships micro-
    quantized beside its exact numerator/denominator."""
    c = load(spark, sf_dir, "customer")
    grp = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    below = F.col("sz") < 10
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.min("sz").cast("bigint").alias("k_anonymity"),
        F.count(F.when(below, 1)).cast("bigint").alias("groups_below_10"),
        F.coalesce(F.sum(F.when(below, F.col("sz"))), F.lit(0))
        .cast("bigint")
        .alias("rows_below_10"),
        F.floor(
            F.coalesce(F.sum(F.when(below, F.col("sz"))), F.lit(0))
            .cast("double")
            * F.lit(1000000.0)
            / F.sum("sz")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("pct_below_micro"),
    )


@query(
    "dq_l_diversity",
    oracle="""
        WITH grp AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS sz,
                   CAST(count(DISTINCT CAST(floor(c_acctbal / 2000.0)
                        AS BIGINT)) AS BIGINT) AS l
            FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(sz) AS BIGINT)  AS n_rows,
               CAST(min(l) AS BIGINT)   AS l_diversity,
               CAST(count(*) FILTER (WHERE l < 3) AS BIGINT)
                   AS classes_below_3,
               CAST(coalesce(sum(sz) FILTER (WHERE l < 3), 0)
                    AS BIGINT) AS rows_below_3,
               CAST(floor(CAST(coalesce(sum(sz) FILTER (WHERE l < 3),
                          0) AS DOUBLE) * 1000000.0 / sum(sz) + 0.5)
                    AS BIGINT) AS pct_below_micro
        FROM grp
    """,
    phase="P3",
    tags=("quality", "privacy", "l-diversity"),
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — dq_k_anonymity's stronger sibling: a
    k-anonymous class is still unsafe if everyone in it SHARES the
    sensitive value (the homogeneity attack), so l counts DISTINCT
    sensitive values (account-balance band, 2000-wide) per
    quasi-identifier class and reports the worst class plus the
    population exposed below l = 3.  Run together, the pair gates a
    release on both class size AND class heterogeneity.

    Plan: ONE combinable groupBy with a distinct-count to
    equivalence-class grain (the distinct folds inside the same
    exchange — Spark expands it to a two-level aggregate, still one
    shuffle family), then a single-row FILTER-clause reduce.
    Bounded by the QI-value product; all outputs exact BIGINTs with
    the one ratio micro-quantized beside num/den."""
    c = load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(2000.0)).cast("bigint")
    grp = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.countDistinct(band).cast("bigint").alias("l"),
    )
    low = F.col("l") < 3
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.min("l").cast("bigint").alias("l_diversity"),
        F.count(F.when(low, 1)).cast("bigint").alias("classes_below_3"),
        F.coalesce(F.sum(F.when(low, F.col("sz"))), F.lit(0))
        .cast("bigint")
        .alias("rows_below_3"),
        F.floor(
            F.coalesce(F.sum(F.when(low, F.col("sz"))), F.lit(0))
            .cast("double")
            * F.lit(1000000.0)
            / F.sum("sz")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("pct_below_micro"),
    )


@query(
    "dq_expectation_suite",
    oracle="""
        SELECT * FROM (
            SELECT 'lineitem_row_count_range' AS expectation,
                   CAST(count(*) AS BIGINT) AS observed,
                   'between 1e3 and 1e12' AS threshold,
                   count(*) BETWEEN 1000 AND 1000000000000 AS pass
            FROM lineitem
            UNION ALL
            SELECT 'orders_custkey_not_null',
                   CAST(count(*) FILTER (WHERE o_custkey IS NULL)
                        AS BIGINT),
                   '= 0',
                   count(*) FILTER (WHERE o_custkey IS NULL) = 0
            FROM orders
            UNION ALL
            SELECT 'customer_custkey_unique',
                   CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
                   '= 0',
                   count(*) - count(DISTINCT c_custkey) = 0
            FROM customer
            UNION ALL
            SELECT 'orders_customer_referential',
                   CAST(count(*) AS BIGINT),
                   '= 0',
                   count(*) = 0
            FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL
            UNION ALL
            SELECT 'events_freshness_min_date',
                   CAST(date_diff('day', DATE '1970-01-01',
                        CAST(max(ts) AS DATE)) AS BIGINT),
                   'max(ts) >= 2024-01-01',
                   CAST(max(ts) AS DATE) >= DATE '2024-01-01'
            FROM events
            UNION ALL
            SELECT 'events_type_in_domain',
                   CAST(count(*) FILTER (WHERE event_type NOT IN
                        ('click','view','purchase','signup','error'))
                        AS BIGINT),
                   '= 0',
                   count(*) FILTER (WHERE event_type NOT IN
                        ('click','view','purchase','signup','error'))
                        = 0
            FROM events
        )
        ORDER BY expectation
    """,
    phase="P3",
    tags=("quality", "expectations", "suite"),
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite — the Great-Expectations-style
    contract run as ONE query: six expectations (volume range,
    not-null, uniqueness, referential integrity, freshness, value
    domain) each emit a (name, observed, threshold, pass) audit row,
    so a scheduler gates a load on `bool_and(pass)` and a human reads
    WHICH contract broke and by how much — the one-stop alternative
    to running dq_profile/dq_rules/dq_referential/dq_freshness
    separately when all you need is the gate.

    Plan: a UNION of six independent combinable audits — each is one
    map-side-combined aggregate over exactly the columns it needs
    (the referential check is a broadcast anti-join count); Spark
    runs the branches as independent stages, so the suite's wall
    clock is the slowest single audit, and each audit's exchange
    carries one row.  Observations are exact BIGINTs; thresholds are
    static strings so the report is self-describing."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    e = load(spark, sf_dir, "events")
    known = ("click", "view", "purchase", "signup", "error")
    r1 = li.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("lineitem_row_count_range").alias("expectation"),
        F.col("n").cast("bigint").alias("observed"),
        F.lit("between 1e3 and 1e12").alias("threshold"),
        F.col("n").between(1000, 1000000000000).alias("pass"),
    )
    r2 = o.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n")
    ).select(
        F.lit("orders_custkey_not_null").alias("expectation"),
        F.col("n").cast("bigint").alias("observed"),
        F.lit("= 0").alias("threshold"),
        (F.col("n") == 0).alias("pass"),
    )
    r3 = c.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("n")
    ).select(
        F.lit("customer_custkey_unique").alias("expectation"),
        F.col("n").cast("bigint").alias("observed"),
        F.lit("= 0").alias("threshold"),
        (F.col("n") == 0).alias("pass"),
    )
    r4 = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("orders_customer_referential").alias("expectation"),
            F.col("n").cast("bigint").alias("observed"),
            F.lit("= 0").alias("threshold"),
            (F.col("n") == 0).alias("pass"),
        )
    )
    r5 = e.agg(F.max(F.col("ts").cast("date")).alias("d")).select(
        F.lit("events_freshness_min_date").alias("expectation"),
        F.unix_date(F.col("d")).cast("bigint").alias("observed"),
        F.lit("max(ts) >= 2024-01-01").alias("threshold"),
        (F.col("d") >= F.lit("2024-01-01").cast("date")).alias("pass"),
    )
    r6 = e.agg(
        F.count(F.when(~F.col("event_type").isin(*known), 1)).alias("n")
    ).select(
        F.lit("events_type_in_domain").alias("expectation"),
        F.col("n").cast("bigint").alias("observed"),
        F.lit("= 0").alias("threshold"),
        (F.col("n") == 0).alias("pass"),
    )
    return (
        r1.unionAll(r2)
        .unionAll(r3)
        .unionAll(r4)
        .unionAll(r5)
        .unionAll(r6)
        .orderBy("expectation")
    )


@query(
    "dq_volume_anomaly",
    oracle="""
        WITH monthly AS (
            SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mth,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1
        ), med AS (
            SELECT CAST(quantile_disc(n_rows, 0.5) AS BIGINT) AS med
            FROM monthly
        ), devs AS (
            SELECT mth, n_rows, med,
                   CAST(abs(n_rows - med) AS BIGINT) AS dev
            FROM monthly, med
        ), madr AS (
            SELECT CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad
            FROM devs
        )
        SELECT d.mth, d.n_rows, d.med AS median_rows, d.dev,
               m.mad AS mad_rows,
               CAST(d.dev > 3 * m.mad AS BOOLEAN) AS is_anomaly
        FROM devs d, madr m
        ORDER BY d.mth
    """,
    phase="P3",
    tags=("quality", "feed-health", "anomaly"),
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month row-volume anomaly gate: flag months whose line-item
    count deviates from the median by more than 3 MAD — the robust
    feed-health check (dq_feed_gaps finds SILENT months; this finds
    half-loads and double-loads, the failure mode gaps can't see).
    Median/MAD instead of mean/stddev so one bad month can't mask
    another.

    All-integer end to end: monthly counts, DISCRETE median (an
    actual stored count — the anomaly_mad house rule), absolute
    deviations, discrete MAD, and the 3x fence compare never touch a
    float — every column hash-exact by construction.

    Plan: ONE combinable count to month grain (time-span cardinality,
    not rows); median/MAD run on that ~84-row relation with 1-row
    broadcast cross-joins back — the data-sized stage is only the
    first rollup."""
    li = load(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("mth")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    # month-grain relation referenced by med + devs (and devs by madr +
    # final) — lazy checkpoint so the corpus rollup compiles once, not
    # 4x (r13 re-derivation sweep)
    monthly = monthly.localCheckpoint(eager=False)
    med = monthly.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_rows)")
        .cast("bigint")
        .alias("med")
    )
    devs = monthly.crossJoin(F.broadcast(med)).select(
        "mth",
        "n_rows",
        "med",
        F.abs(F.col("n_rows") - F.col("med")).cast("bigint").alias("dev"),
    )
    madr = devs.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .cast("bigint")
        .alias("mad")
    )
    return (
        devs.crossJoin(F.broadcast(madr))
        .select(
            "mth",
            "n_rows",
            F.col("med").alias("median_rows"),
            "dev",
            F.col("mad").alias("mad_rows"),
            (F.col("dev") > F.lit(3) * F.col("mad")).alias("is_anomaly"),
        )
        .orderBy("mth")
    )


@query(
    "dq_cardinality_drift",
    oracle="""
        WITH per_col AS (
            SELECT 'l_partkey' AS col,
                   CAST(count(DISTINCT l_partkey)
                        FILTER (WHERE l_shipdate < TIMESTAMP
                            '1998-01-01') AS BIGINT) AS ndv_a,
                   CAST(count(DISTINCT l_partkey)
                        FILTER (WHERE l_shipdate >= TIMESTAMP
                            '1998-01-01') AS BIGINT) AS ndv_b,
                   CAST(count(*) FILTER (WHERE l_shipdate
                        < TIMESTAMP '1998-01-01') AS BIGINT) AS n_a,
                   CAST(count(*) FILTER (WHERE l_shipdate
                        >= TIMESTAMP '1998-01-01') AS BIGINT) AS n_b
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT 'l_suppkey',
                   CAST(count(DISTINCT l_suppkey)
                        FILTER (WHERE l_shipdate < TIMESTAMP
                            '1998-01-01') AS BIGINT),
                   CAST(count(DISTINCT l_suppkey)
                        FILTER (WHERE l_shipdate >= TIMESTAMP
                            '1998-01-01') AS BIGINT),
                   CAST(count(*) FILTER (WHERE l_shipdate
                        < TIMESTAMP '1998-01-01') AS BIGINT),
                   CAST(count(*) FILTER (WHERE l_shipdate
                        >= TIMESTAMP '1998-01-01') AS BIGINT)
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT 'l_orderkey',
                   CAST(count(DISTINCT l_orderkey)
                        FILTER (WHERE l_shipdate < TIMESTAMP
                            '1998-01-01') AS BIGINT),
                   CAST(count(DISTINCT l_orderkey)
                        FILTER (WHERE l_shipdate >= TIMESTAMP
                            '1998-01-01') AS BIGINT),
                   CAST(count(*) FILTER (WHERE l_shipdate
                        < TIMESTAMP '1998-01-01') AS BIGINT),
                   CAST(count(*) FILTER (WHERE l_shipdate
                        >= TIMESTAMP '1998-01-01') AS BIGINT)
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        )
        SELECT col, ndv_a, ndv_b, n_a, n_b,
               CAST(floor(CAST(ndv_a AS DOUBLE) / n_a * 1000000.0
                    + 0.5) AS BIGINT) AS density_a_micro,
               CAST(floor(CAST(ndv_b AS DOUBLE) / n_b * 1000000.0
                    + 0.5) AS BIGINT) AS density_b_micro,
               CAST(2 * abs(floor(CAST(ndv_a AS DOUBLE) / n_a
                        * 1000000.0 + 0.5)
                    - floor(CAST(ndv_b AS DOUBLE) / n_b
                        * 1000000.0 + 0.5))
                    > floor(CAST(ndv_a AS DOUBLE) / n_a
                        * 1000000.0 + 0.5) AS BOOLEAN) AS drifted
        FROM per_col
        ORDER BY col
    """,
    phase="P3",
    tags=("quality", "drift", "cardinality"),
)
def dq_cardinality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-cardinality drift between two periods (1997 vs 1998): NDV
    and NDV-per-row density for the fact table's three key columns,
    flagged when density shifts by more than 50% — the dimension-
    explosion / key-collapse detector (a suddenly-denser partkey
    means a feed started sending dupes; a sparser one means an
    upstream started collapsing keys). The cardinality sibling of
    dq_drift_psi's value-distribution drift.

    Exactness: NDVs and counts are exact integers from FILTER-clause
    count-distincts; densities micro-quantize before the drift
    compare and the 50% fence is an integer cross-multiply on the
    QUANTIZED densities — no raw-float compare anywhere.

    Plan: three FILTER-clause count-distinct aggregates over one
    year-pruned scan each (Spark: one pass per key column at
    (key, period) grain then fold — count(DISTINCT x) FILTER
    compiles to expand+two-phase agg); output is 3 rows."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    in_b = F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    out = None
    for col in ["l_orderkey", "l_partkey", "l_suppkey"]:
        g = li.select(F.col(col).alias("k"), in_b.alias("b")).agg(
            F.lit(col).alias("col"),
            F.countDistinct(F.when(~F.col("b"), F.col("k")))
            .cast("bigint")
            .alias("ndv_a"),
            F.countDistinct(F.when(F.col("b"), F.col("k")))
            .cast("bigint")
            .alias("ndv_b"),
            F.count(F.when(~F.col("b"), 1)).cast("bigint").alias("n_a"),
            F.count(F.when(F.col("b"), 1)).cast("bigint").alias("n_b"),
        )
        out = g if out is None else out.unionAll(g)
    da = micro(F.col("ndv_a").cast("double") / F.col("n_a"))
    db = micro(F.col("ndv_b").cast("double") / F.col("n_b"))
    return out.select(
        "col",
        "ndv_a",
        "ndv_b",
        "n_a",
        "n_b",
        da.alias("density_a_micro"),
        db.alias("density_b_micro"),
        (F.lit(2) * F.abs(da - db) > da).alias("drifted"),
    ).orderBy("col")


GRID_THIN_THRESHOLD = 5


@query(
    "dq_grid_completeness",
    oracle=f"""
        WITH srcs AS (SELECT DISTINCT source FROM documents),
        langs AS (SELECT DISTINCT lang FROM documents),
        grid AS (SELECT source, lang FROM srcs CROSS JOIN langs),
        cell AS (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source, lang
        )
        SELECT g.source, g.lang,
               CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs,
               CASE WHEN c.n_docs IS NULL THEN 'missing'
                    WHEN c.n_docs < {GRID_THIN_THRESHOLD} THEN 'thin'
                    ELSE 'ok' END AS status
        FROM grid g LEFT JOIN cell c
          ON c.source = g.source AND c.lang = g.lang
        ORDER BY g.source, g.lang
    """,
    phase="P3",
    tags=("quality", "completeness", "coverage"),
)
def dq_grid_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-grid completeness: every (source, language) cell
    the observed dimension values span, with its count and a
    missing / thin / ok status — the coverage audit a multilingual
    corpus runs to catch a crawler that silently stopped fetching a
    language from a source (dq_feed_gaps finds holes in TIME; this
    finds holes in the CATEGORY grid, which volume-level checks
    can't see because the source total still looks healthy).

    Exactness: the grid is the cross product of observed distinct
    values (deterministic), cells are exact counts, statuses are
    integer compares on a fixed threshold.

    Plan: ONE combinable (source, lang) aggregate over the corpus;
    the dimension distincts reduce from that same cell relation —
    never a second corpus pass; the grid join runs at cell scale
    (|sources| × |langs|)."""
    d = load(spark, sf_dir, "documents")
    cell = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .localCheckpoint(eager=True)  # three consumers: one corpus pass
    )
    srcs = cell.select("source").distinct()
    langs = cell.select("lang").distinct()
    grid = srcs.crossJoin(F.broadcast(langs))
    return (
        grid.join(cell, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            F.coalesce(F.col("n_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_docs"),
            F.when(F.col("n_docs").isNull(), "missing")
            .when(F.col("n_docs") < GRID_THIN_THRESHOLD, "thin")
            .otherwise("ok")
            .alias("status"),
        )
        .orderBy("source", "lang")
    )


# Per-class arrival-delay SLA (seconds): conversions are latency-
# critical, diagnostics tolerate more. Embedded identically in both
# engines; the delay rides in props (same regexp as the watermark
# audit).
_SLA_SQL = (
    "CASE event_type WHEN 'purchase' THEN 30 WHEN 'signup' THEN 30"
    " WHEN 'click' THEN 60 WHEN 'view' THEN 120 ELSE 15 END"
)


@query(
    "dq_arrival_sla",
    oracle=f"""
        WITH tagged AS (
            SELECT event_type,
                   CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
                       AS delay_sec,
                   {_SLA_SQL} AS sla_sec
            FROM events
        )
        SELECT event_type,
               CAST(min(sla_sec) AS BIGINT) AS sla_sec,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (WHERE delay_sec <= sla_sec)
                    AS BIGINT) AS n_within,
               CAST(floor(CAST(count(*) FILTER (WHERE delay_sec
                    <= sla_sec) AS DOUBLE) / count(*) * 1000000.0
                    + 0.5) AS BIGINT) AS within_micro,
               CAST(max(delay_sec) AS BIGINT) AS max_delay_sec,
               CASE WHEN 20 * count(*) FILTER (WHERE delay_sec
                    <= sla_sec) < 19 * count(*)
                    THEN 'breach' ELSE 'ok' END AS verdict
        FROM tagged
        GROUP BY event_type
        ORDER BY event_type
    """,
    phase="P3",
    tags=("quality", "timeliness", "sla"),
)
def dq_arrival_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-latency SLA compliance per event class: the delivery
    delay each event carries (props) against its class SLA
    (conversions 30 s, clicks 60 s, views 120 s, diagnostics 15 s),
    with the compliant share, worst observed delay, and a breach
    verdict at the 95% fence — the TIMELINESS leg of the dq family
    (dq_freshness asks 'when did data last arrive'; this asks
    'does it arrive fast enough, per class, per contract'). Pairs
    with stream_watermark_audit: the SLA bounds what watermark delay
    is even negotiable.

    Exactness: delays and SLAs are exact integers; the breach fence
    is the all-integer 20·n_ok < 19·n compare; the share is one
    spelled division.

    Plan: ONE combinable class-grain conditional aggregate over the
    scan — nothing else."""
    e = load(spark, sf_dir, "events")
    tagged = e.select(
        "event_type",
        F.regexp_extract(F.col("props"), r"([0-9]+)", 1)
        .cast("bigint")
        .alias("delay_sec"),
        F.expr(_SLA_SQL).alias("sla_sec"),
    )
    ok = F.col("delay_sec") <= F.col("sla_sec")
    return (
        tagged.groupBy("event_type")
        .agg(
            F.min("sla_sec").cast("bigint").alias("sla_sec"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count(F.when(ok, F.lit(1))).cast("bigint").alias("n_within"),
            micro(
                F.count(F.when(ok, F.lit(1))).cast("double")
                / F.count(F.lit(1))
            ).alias("within_micro"),
            F.max("delay_sec").cast("bigint").alias("max_delay_sec"),
            F.when(
                F.lit(20) * F.count(F.when(ok, F.lit(1)))
                < F.lit(19) * F.count(F.lit(1)),
                "breach",
            )
            .otherwise("ok")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )
