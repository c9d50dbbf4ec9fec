"""Model-evaluation operators (SURVEY.md §2.14 evaluation family).

Offline evaluation of a scored dataset is the last mile of every
training-data pipeline: ranking quality (NDCG), probability calibration
(reliability bins), targeting efficiency (lift/gains deciles), and
threshold-free retrieval quality (average precision).  The family
shares one scale contract with ``eval_auc_rank`` (similarity.py): the
corpus collapses to a COMBINABLE reduced grain first (per-user top-k,
distinct-score groups, fixed bins), every rank statistic is computed
from exact BIGINT counts at that grain, and any float that crosses a
transcendental or division boundary ships micro-quantized beside its
exact integer numerator/denominator.  No formula uses engine-native
statistical aggregates (var/corr/ntile) whose internal update order or
tie placement differs between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import micro
from ..io import load
from ..registry import query

# Shared Spark/DuckDB formula: the per-position DCG gain term.  Both
# engines evaluate the SAME spelled expression ((2^rel - 1) / log2(pos
# + 1)) and quantize to micro BIGINT immediately, so the per-user DCG is
# an ORDER-FREE integer sum (the quantize-then-sum house rule) and the
# ~1 ulp libm difference in log2 cannot leak past the 1e-6 grain.
_DCG_GAIN = (
    "CAST(floor((pow(2.0, CAST({rel} AS DOUBLE)) - 1.0)"
    " / log2(CAST({pos} AS DOUBLE) + 1.0)"
    " * 1000000.0 + 0.5) AS BIGINT)"
)

# Graded relevance for the event-ranking fixture: conversion events
# are worth more than engagement; noise events are irrelevant.
_REL = (
    "CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2"
    " WHEN 'click' THEN 1 ELSE 0 END"
)

_NDCG_K = 10


@query(
    "eval_ndcg_at_k",
    oracle=f"""
        WITH scored AS (
            SELECT user_id, event_id,
                   {_REL} AS rel,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS s
            FROM events
        ), ranked AS (
            SELECT user_id, rel,
                   row_number() OVER (PARTITION BY user_id
                        ORDER BY s DESC, event_id) AS rn,
                   row_number() OVER (PARTITION BY user_id
                        ORDER BY rel DESC, event_id) AS irn
            FROM scored
        ), per_user AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(coalesce(sum(CASE WHEN rn <= {_NDCG_K} THEN
                        {_DCG_GAIN.format(rel="rel", pos="rn")} END), 0)
                        AS BIGINT) AS dcg_num,
                   CAST(coalesce(sum(CASE WHEN irn <= {_NDCG_K} THEN
                        {_DCG_GAIN.format(rel="rel", pos="irn")} END), 0)
                        AS BIGINT) AS idcg_num
            FROM ranked GROUP BY user_id
        )
        SELECT user_id, n_events, dcg_num, idcg_num,
               CASE WHEN idcg_num > 0 THEN
                    CAST(floor(CAST(dcg_num AS DOUBLE) / idcg_num
                               * 1000000.0 + 0.5) AS BIGINT)
               END AS ndcg_micro
        FROM per_user
        ORDER BY user_id
    """,
    phase="P4",
    tags=("evaluation", "ranking", "ndcg"),
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per user over the event stream — the graded ranking
    metric for recommender/retrieval evaluation.  The "model" ranks a
    user's events by value (ties broken by event_id); graded relevance
    comes from the event type (purchase 3 > signup 2 > click 1 >
    view/error 0).  DCG divides each gain by log2(position+1); the
    ideal ordering (relevance-descending) gives IDCG, and
    NDCG = DCG/IDCG.

    Cross-engine exactness: each position's gain term is quantized to
    a micro BIGINT THE MOMENT it is computed (shared `_DCG_GAIN`
    spelling), so per-user DCG/IDCG are order-free integer sums and
    the final ratio is one IEEE division of two exact integers.  Users
    whose events are all irrelevant (IDCG 0) yield NULL, not a 0/0.

    Plan: both rankings come from TWO row_number windows over the SAME
    per-user sort exchange (Catalyst reuses the partitioning; no
    self-join), then one combinable per-user aggregate.  Cost is one
    shuffle on user_id regardless of corpus size; k bounds nothing in
    the frame (the CASE keeps the window one-pass) but caps the gain
    terms that survive the sum."""
    e = load(spark, sf_dir, "events")
    scored = e.select(
        "user_id",
        "event_id",
        F.expr(_REL).alias("rel"),
        micro(F.col("value")).alias("s"),
    )
    w_model = Window.partitionBy("user_id").orderBy(
        F.col("s").desc(), "event_id"
    )
    w_ideal = Window.partitionBy("user_id").orderBy(
        F.col("rel").desc(), "event_id"
    )
    ranked = scored.select(
        "user_id",
        "rel",
        F.row_number().over(w_model).alias("rn"),
        F.row_number().over(w_ideal).alias("irn"),
    )
    gain_rn = F.expr(_DCG_GAIN.format(rel="rel", pos="rn"))
    gain_irn = F.expr(_DCG_GAIN.format(rel="rel", pos="irn"))
    per_user = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.coalesce(
            F.sum(F.when(F.col("rn") <= _NDCG_K, gain_rn)), F.lit(0)
        )
        .cast("bigint")
        .alias("dcg_num"),
        F.coalesce(
            F.sum(F.when(F.col("irn") <= _NDCG_K, gain_irn)), F.lit(0)
        )
        .cast("bigint")
        .alias("idcg_num"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "dcg_num",
        "idcg_num",
        F.when(
            F.col("idcg_num") > 0,
            micro(F.col("dcg_num").cast("double") / F.col("idcg_num")),
        ).alias("ndcg_micro"),
    ).orderBy("user_id")


@query(
    "eval_calibration_bins",
    oracle="""
        WITH scored AS (
            SELECT CAST(least(greatest(
                       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0)
                       AS DOUBLE) AS p,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), binned AS (
            SELECT CAST(least(floor(p * 10.0), 9.0) AS BIGINT) AS bin,
                   CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS pm,
                   pos
            FROM scored
        )
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(pm) AS BIGINT)  AS sum_pred_micro,
               CAST(floor(CAST(sum(pm) AS DOUBLE) / count(*) + 0.5)
                    AS BIGINT) AS avg_pred_micro,
               CAST(floor(CAST(sum(pos) AS DOUBLE) * 1000000.0
                          / count(*) + 0.5) AS BIGINT) AS obs_micro,
               CAST(floor(CAST(sum(pm) AS DOUBLE) / count(*) + 0.5)
                    - floor(CAST(sum(pos) AS DOUBLE) * 1000000.0
                            / count(*) + 0.5) AS BIGINT) AS gap_micro
        FROM binned
        GROUP BY bin
        ORDER BY bin
    """,
    phase="P4",
    tags=("evaluation", "calibration", "classification"),
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-calibration reliability bins — the diagram behind
    ECE/Brier diagnostics: bucket predicted probabilities into 10
    equal-width bins and compare the mean prediction against the
    observed positive rate per bin.  The fixture "model" maps the
    first embedding dimension to a clamped [0,1] score for the
    label-0 class (same score convention as eval_auc_rank).

    Every per-bin statistic is derived from three exact integers
    (count, positives, quantize-THEN-summed prediction micros), so
    bin contents hash identically on both engines; the signed
    calibration gap (predicted − observed, micro) ships per bin so a
    consumer can fold ECE = Σ n_b/N·|gap_b| at any weighting without
    re-scanning.

    Plan: ONE combinable groupBy over a fixed 10-key space — a
    map-side-combined single exchange of ≤10 rows at any corpus
    size."""
    e = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            F.element_at("embedding", 1).cast("double") + F.lit(0.5),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    binned = e.select(
        F.least(F.floor(p * F.lit(10.0)), F.lit(9.0))
        .cast("bigint")
        .alias("bin"),
        micro(p).alias("pm"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("pm").cast("bigint").alias("sum_pred_micro"),
    )
    avg_pred = F.floor(
        F.col("sum_pred_micro").cast("double") / F.col("n") + F.lit(0.5)
    )
    obs = F.floor(
        F.col("n_pos").cast("double") * F.lit(1000000.0) / F.col("n")
        + F.lit(0.5)
    )
    return g.select(
        "bin",
        "n",
        "n_pos",
        "sum_pred_micro",
        avg_pred.cast("bigint").alias("avg_pred_micro"),
        obs.cast("bigint").alias("obs_micro"),
        (avg_pred - obs).cast("bigint").alias("gap_micro"),
    ).orderBy("bin")


@query(
    "eval_lift_deciles",
    oracle="""
        WITH scored AS (
            SELECT CAST(floor(CAST(embedding[1] AS DOUBLE)
                              * 1000000.0 + 0.5) AS BIGINT) AS s,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), grp AS (
            SELECT s, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(pos) AS BIGINT) AS pos_s
            FROM scored GROUP BY s
        ), cum AS (
            SELECT s, cnt, pos_s,
                   CAST(sum(cnt) OVER (ORDER BY s DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
                   CAST(sum(cnt) OVER () AS BIGINT) AS n_total
            FROM grp
        ), dec AS (
            SELECT CAST(floor((c - 1) * 10.0 / n_total) AS BIGINT)
                       AS decile,
                   cnt, pos_s
            FROM cum
        ), per AS (
            SELECT decile, CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(pos_s) AS BIGINT) AS n_pos
            FROM dec GROUP BY decile
        ), cum2 AS (
            SELECT decile, n, n_pos,
                   CAST(sum(n) OVER (ORDER BY decile
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                   CAST(sum(n_pos) OVER (ORDER BY decile
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_pos,
                   CAST(sum(n) OVER () AS BIGINT)     AS nn,
                   CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
            FROM per
        )
        SELECT decile, n, n_pos, cum_n, cum_pos,
               CAST(floor(CAST(cum_pos AS DOUBLE) * nn
                          / cum_n / tot_pos * 1000000.0 + 0.5)
                    AS BIGINT) AS lift_micro,
               CAST(floor(CAST(cum_pos AS DOUBLE) * 1000000.0
                          / tot_pos + 0.5) AS BIGINT) AS gain_micro
        FROM cum2
        ORDER BY decile
    """,
    phase="P4",
    tags=("evaluation", "lift", "targeting"),
)
def eval_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table by score decile — the targeting-
    efficiency view of a classifier ("the top 20% of scores capture
    X% of positives, lift Y×").  Scores are the first embedding
    dimension, positives are label 0 (the eval_auc_rank convention).

    Deciles are assigned at DISTINCT-SCORE grain with ties kept
    together: a score group lands in the decile of its LAST member
    (floor((cum−1)·10/N)), the deterministic upper-boundary rule —
    never ntile(), whose tie placement is engine-specific.  All
    counts stay exact BIGINTs; lift = (cum_pos/cum_n)/(tot_pos/N)
    and gain are each ONE spelled IEEE expression over those
    integers, micro-quantized.

    Plan: combinable (score) aggregate first (corpus → distinct-score
    grain), one running window at that reduced grain, a ≤10-row
    re-aggregate, and a second ≤10-row window — the eval_auc_rank
    reduced-grain rule, so the only full-width work is the initial
    map-side-combined groupBy."""
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        micro(F.element_at("embedding", 1).cast("double")).alias("s"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("pos_s"),
    )
    w_desc = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = grp.select(
        "cnt",
        "pos_s",
        F.sum("cnt").over(w_desc).cast("bigint").alias("c"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n_total"),
    )
    dec = cum.select(
        F.floor(
            (F.col("c") - 1) * F.lit(10.0) / F.col("n_total")
        )
        .cast("bigint")
        .alias("decile"),
        "cnt",
        "pos_s",
    )
    per = dec.groupBy("decile").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("pos_s").cast("bigint").alias("n_pos"),
    )
    w_dec = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum2 = per.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(w_dec).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w_dec).cast("bigint").alias("cum_pos"),
        F.sum("n").over(w_all).cast("bigint").alias("nn"),
        F.sum("n_pos").over(w_all).cast("bigint").alias("tot_pos"),
    )
    return cum2.select(
        "decile",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        micro(
            F.col("cum_pos").cast("double")
            * F.col("nn")
            / F.col("cum_n")
            / F.col("tot_pos")
        ).alias("lift_micro"),
        F.floor(
            F.col("cum_pos").cast("double")
            * F.lit(1000000.0)
            / F.col("tot_pos")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("gain_micro"),
    ).orderBy("decile")


@query(
    "eval_pr_auc",
    oracle="""
        WITH scored AS (
            SELECT CAST(floor(CAST(embedding[1] AS DOUBLE)
                              * 1000000.0 + 0.5) AS BIGINT) AS s,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), grp AS (
            SELECT s, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(pos) AS BIGINT) AS pos_s
            FROM scored GROUP BY s
        ), cum AS (
            SELECT s, cnt, pos_s,
                   CAST(sum(cnt) OVER (ORDER BY s DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                   CAST(sum(pos_s) OVER (ORDER BY s DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
            FROM grp
        ), terms AS (
            SELECT CAST(floor(CAST(cum_pos AS DOUBLE) * pos_s / cum_n
                              * 1000000.0 + 0.5) AS BIGINT)
                       AS term_micro,
                   cnt, pos_s
            FROM cum
        )
        SELECT CAST(sum(pos_s) AS BIGINT)       AS n_pos,
               CAST(sum(cnt - pos_s) AS BIGINT) AS n_neg,
               CAST(count(*) AS BIGINT)         AS n_thresholds,
               CAST(sum(term_micro) AS BIGINT)  AS ap_num_micro,
               CAST(floor(CAST(sum(term_micro) AS DOUBLE)
                          / sum(pos_s) + 0.5) AS BIGINT) AS ap_micro
        FROM terms
    """,
    phase="P4",
    tags=("evaluation", "ranking", "average-precision"),
)
def eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve) —
    the threshold-free retrieval metric that, unlike ROC-AUC, stays
    informative under heavy class imbalance (the ~10% label-0 rate
    here; at web-corpus positive rates of 1e-4 it is the ONLY usable
    ranking summary).  AP = Σ_t precision(t)·Δrecall(t) over distinct
    score thresholds descending, the tie-correct step definition.

    Each threshold's term precision·Δpos = cum_pos·pos_s/cum_n is
    micro-quantized at the threshold (shared spelling), making the AP
    numerator an ORDER-FREE integer sum; ap_micro is one IEEE
    division by n_pos.  Int64 headroom: Σterm ≤ n_pos·1e6, safe to
    ~9e12 positives.

    Plan: identical shape to eval_auc_rank — one combinable (score)
    aggregate to distinct-score grain, one running window at that
    reduced grain (two cumulative sums share the single sort), and a
    single-row reduce.  At extreme score cardinality the same
    bucket-the-scores swap applies."""
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        micro(F.element_at("embedding", 1).cast("double")).alias("s"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("pos_s"),
    )
    w_desc = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "cnt",
        "pos_s",
        F.sum("cnt").over(w_desc).cast("bigint").alias("cum_n"),
        F.sum("pos_s").over(w_desc).cast("bigint").alias("cum_pos"),
    )
    terms = cum.select(
        "cnt",
        "pos_s",
        micro(
            F.col("cum_pos").cast("double") * F.col("pos_s") / F.col("cum_n")
        ).alias("term_micro"),
    )
    return terms.agg(
        F.sum("pos_s").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos_s"))
        .cast("bigint")
        .alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_thresholds"),
        F.sum("term_micro").cast("bigint").alias("ap_num_micro"),
        F.floor(
            F.sum("term_micro").cast("double") / F.sum("pos_s")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ap_micro"),
    )


# Regression-metric formulas spelled once over the exact integer
# moments.  SSE/SST use UNIT-grain integers (the Welch quantization —
# micro-grain squared residuals would overflow int64 within ~40 rows);
# MAE uses micro grain (|r| sums stay linear).
_REG_SST = "(CAST(q_tot AS DOUBLE) - CAST(s_tot AS DOUBLE) * s_tot / n)"
_REG_R2 = f"(1.0 - CAST(sse_units AS DOUBLE) / {_REG_SST})"


@query(
    "eval_regression_metrics",
    oracle=f"""
        WITH vals AS (
            SELECT event_type,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm,
                   CAST(floor(value + 0.5) AS BIGINT) AS v
            FROM events
        ), fit AS (
            SELECT event_type,
                   CAST(floor(CAST(sum(vm) AS DOUBLE) / count(*) + 0.5)
                        AS BIGINT) AS pred_micro,
                   CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) + 0.5)
                        AS BIGINT) AS pred_u
            FROM vals GROUP BY event_type
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(abs(vm - pred_micro)) AS BIGINT)
                       AS sae_micro,
                   CAST(sum((v - pred_u) * (v - pred_u)) AS BIGINT)
                       AS sse_units,
                   CAST(sum(v) AS BIGINT)     AS s_tot,
                   CAST(sum(v * v) AS BIGINT) AS q_tot
            FROM vals JOIN fit USING (event_type)
        )
        SELECT n, sse_units, sae_micro, s_tot, q_tot,
               CAST(floor(CAST(sae_micro AS DOUBLE) / n + 0.5)
                    AS BIGINT) AS mae_micro,
               CAST(floor(sqrt(CAST(sse_units AS DOUBLE) / n)
                          * 1000000.0 + 0.5) AS BIGINT) AS rmse_micro,
               CAST(floor({_REG_R2} * 1000000.0 + 0.5) AS BIGINT)
                   AS r2_micro
        FROM m
    """,
    phase="P4",
    tags=("evaluation", "regression"),
)
def eval_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression evaluation — MAE, RMSE, and R² for a predictor
    against a continuous target, completing the evaluation family
    (classification: eval_confusion_threshold; ranking:
    eval_auc_rank/eval_ndcg_at_k; calibration: eval_calibration_bins).
    The fixture "model" is the per-event-type conditional mean (the
    in-sample group-mean baseline), so R² here measures exactly how
    much variance the categorical feature explains — the same
    quantity ANOVA's SSB/SST tests.

    Grain split for exactness: squared terms (SSE, SST moments) use
    UNIT-grain integers — micro-grain squares overflow int64 within
    ~40 rows — while MAE's linear |residual| sum keeps full micro
    precision; both ship exact beside the rounded metrics, and
    RMSE/R² are shared spelled IEEE expressions.

    Plan: one combinable (group) aggregate fits the means, a
    BROADCAST join-back scores rows (never a per-group window — the
    feat_target_encode rule), one combinable global reduce collects
    the five moments.  Two map-side-combined exchanges, k rows of
    traffic, at any corpus size."""
    e = load(spark, sf_dir, "events")
    vals = e.select(
        "event_type",
        micro(F.col("value")).alias("vm"),
        F.floor(F.col("value") + F.lit(0.5)).cast("bigint").alias("v"),
    )
    fit = vals.groupBy("event_type").agg(
        F.floor(
            F.sum("vm").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("pred_micro"),
        F.floor(
            F.sum("v").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("pred_u"),
    )
    m = (
        vals.join(F.broadcast(fit), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.abs(F.col("vm") - F.col("pred_micro")))
            .cast("bigint")
            .alias("sae_micro"),
            F.sum(
                (F.col("v") - F.col("pred_u"))
                * (F.col("v") - F.col("pred_u"))
            )
            .cast("bigint")
            .alias("sse_units"),
            F.sum("v").cast("bigint").alias("s_tot"),
            F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q_tot"),
        )
    )
    return m.select(
        "n",
        "sse_units",
        "sae_micro",
        "s_tot",
        "q_tot",
        F.floor(F.col("sae_micro").cast("double") / F.col("n") + F.lit(0.5))
        .cast("bigint")
        .alias("mae_micro"),
        micro(F.sqrt(F.col("sse_units").cast("double") / F.col("n")))
        .alias("rmse_micro"),
        micro(F.expr(_REG_R2)).alias("r2_micro"),
    )


# Brier decomposition terms over exact bin/total moments, spelled once.
_BR_PQ = "(CAST(pm AS DOUBLE) / 1000000.0)"
_BR_ROW = f"(({_BR_PQ} - pos) * ({_BR_PQ} - pos))"
_BR_PBAR = "(CAST(spm AS DOUBLE) / n / 1000000.0)"
_BR_OBIN = "(CAST(npos AS DOUBLE) / n)"
_BR_OBAR = "(CAST(pos_tot AS DOUBLE) / ntot)"
_BR_RELT = (
    f"(n * ({_BR_PBAR} - {_BR_OBIN}) * ({_BR_PBAR} - {_BR_OBIN}))"
)
_BR_REST = (
    f"(n * ({_BR_OBIN} - {_BR_OBAR}) * ({_BR_OBIN} - {_BR_OBAR}))"
)
_BR_UNC = f"({_BR_OBAR} * (1.0 - {_BR_OBAR}))"


@query(
    "eval_brier_decomposition",
    oracle=f"""
        WITH binned AS (
            SELECT CAST(least(floor(least(greatest(
                       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0)
                       * 10.0), 9.0) AS BIGINT) AS bin,
                   CAST(floor(least(greatest(
                       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0)
                       * 1000000.0 + 0.5) AS BIGINT) AS pm,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), rowsum AS (
            SELECT CAST(sum(CAST(floor({_BR_ROW} * 1000000000000.0
                        + 0.5) AS BIGINT)) AS BIGINT) AS bsum
            FROM binned
        ), bins AS (
            SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pm) AS BIGINT) AS spm,
                   CAST(sum(pos) AS BIGINT) AS npos
            FROM binned GROUP BY bin
        ), tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS ntot,
                   CAST(sum(npos) AS BIGINT) AS pos_tot
            FROM bins
        ), binsum AS (
            SELECT CAST(sum(CAST(floor({_BR_RELT} * 1000000000000.0
                        + 0.5) AS BIGINT)) AS BIGINT) AS relsum,
                   CAST(sum(CAST(floor({_BR_REST} * 1000000000000.0
                        + 0.5) AS BIGINT)) AS BIGINT) AS ressum,
                   CAST(count(*) AS BIGINT) AS n_bins
            FROM bins, tot
        )
        SELECT ntot AS n, pos_tot AS n_pos, n_bins,
               CAST(floor(CAST(bsum AS DOUBLE) / ntot / 1000000.0
                    + 0.5) AS BIGINT) AS brier_micro,
               CAST(floor(CAST(relsum AS DOUBLE) / ntot / 1000000.0
                    + 0.5) AS BIGINT) AS reliability_micro,
               CAST(floor(CAST(ressum AS DOUBLE) / ntot / 1000000.0
                    + 0.5) AS BIGINT) AS resolution_micro,
               CAST(floor({_BR_UNC} * 1000000.0 + 0.5) AS BIGINT)
                   AS uncertainty_micro
        FROM rowsum, binsum, tot
    """,
    phase="P4",
    tags=("evaluation", "calibration", "classification"),
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability
    (calibration error), resolution (discrimination), uncertainty
    (base-rate entropy) — over the same fixture score as
    eval_calibration_bins, with the RAW unbinned Brier alongside so a
    consumer sees the within-bin variance the 10-bin decomposition
    absorbs (raw ~ REL - RES + UNC up to that residual). This is the
    one-row scorecard a model-eval pipeline logs per run.

    Exactness: the score quantizes ONCE at row grain (micro, the
    calibration-bins convention); the raw Brier term and each bin's
    reliability/resolution term pico-quantize the moment they're
    computed, so every sum that crosses a grain is an order-free
    BIGINT; final divisions are shared IEEE formula strings. int64
    bound: row terms <= 1e12 each -> safe to ~9e6 rows (pico grain);
    rescale to nano for bigger corpora (documented).

    Plan: one row-grain projection feeds TWO combinable aggregates
    (raw-term sum and 10-bin moments); everything downstream runs on
    <= 10 rows with 1-row broadcast cross-joins — a single full-data
    scan either way at 100 TB."""
    e = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            F.element_at("embedding", 1).cast("double") + F.lit(0.5),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    binned = e.select(
        F.least(F.floor(p * F.lit(10.0)), F.lit(9.0))
        .cast("bigint")
        .alias("bin"),
        micro(p).alias("pm"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    ).localCheckpoint(eager=False)
    # row-grain binned scores feed rowsum AND the bin rollup (which
    # feeds tot/binsum) — lazy checkpoint so the score scan compiles
    # once (r13 re-derivation sweep: 4 embeddings scans -> 1).
    # Scale/recovery note (ADVICE r13 #2): binned is one row per
    # scored input row, so the checkpoint materializes a row-grain
    # relation at MEMORY_AND_DISK with lineage truncated — at 100x
    # the bench SF, trade off against re-scanning (the saved work is
    # a full input scan + projection per extra reader) per the
    # SCALE.md §6k napkin; key-grain checkpoints are unambiguously
    # safe, row-grain ones are a measured local win (quiet-host A/B
    # r14: 0.64/0.79 vs 0.71/0.78 inlined).
    rowsum = binned.agg(
        F.sum(
            F.floor(F.expr(_BR_ROW) * F.lit(1e12) + F.lit(0.5)).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("bsum")
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pm").cast("bigint").alias("spm"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    tot = bins.agg(
        F.sum("n").cast("bigint").alias("ntot"),
        F.sum("npos").cast("bigint").alias("pos_tot"),
    )
    binsum = (
        bins.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(F.expr(_BR_RELT) * F.lit(1e12) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("relsum"),
            F.sum(
                F.floor(F.expr(_BR_REST) * F.lit(1e12) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("ressum"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        )
    )
    return (
        rowsum.crossJoin(F.broadcast(binsum))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ntot").alias("n"),
            F.col("pos_tot").alias("n_pos"),
            "n_bins",
            F.floor(
                F.col("bsum").cast("double")
                / F.col("ntot")
                / F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("brier_micro"),
            F.floor(
                F.col("relsum").cast("double")
                / F.col("ntot")
                / F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("reliability_micro"),
            F.floor(
                F.col("ressum").cast("double")
                / F.col("ntot")
                / F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("resolution_micro"),
            micro(F.expr(_BR_UNC)).alias("uncertainty_micro"),
        )
    )


@query(
    "eval_ks_separation",
    oracle="""
        WITH tagged AS (
            SELECT CAST(floor(least(greatest(
                       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0)
                       * 1000000.0 + 0.5) AS BIGINT) AS v,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ),
        counts AS (
            SELECT v,
                   CAST(sum(pos) AS BIGINT) AS c_p,
                   CAST(sum(1 - pos) AS BIGINT) AS c_n
            FROM tagged GROUP BY v
        ),
        tot AS (
            SELECT CAST(sum(c_p) AS BIGINT) AS n_pos,
                   CAST(sum(c_n) AS BIGINT) AS n_neg
            FROM counts
        ),
        cdf AS (
            SELECT v,
                   CAST(sum(c_p) OVER w AS BIGINT) AS cum_p,
                   CAST(sum(c_n) OVER w AS BIGINT) AS cum_n
            FROM counts
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
        ),
        gaps AS (
            SELECT v,
                   CAST(abs(cum_p * t.n_neg - cum_n * t.n_pos) AS BIGINT)
                       AS gap
            FROM cdf CROSS JOIN tot t
        ),
        mx AS (SELECT CAST(max(gap) AS BIGINT) AS mg FROM gaps),
        th AS (
            SELECT CAST(min(v) AS BIGINT) AS v_at_max
            FROM gaps, mx WHERE gap = mg
        )
        SELECT n_pos, n_neg, mg AS max_scaled_gap,
               CAST(floor(CAST(mg AS DOUBLE)
                          / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS ks_micro,
               v_at_max AS threshold_micro
        FROM tot, mx, th
    """,
    phase="P4",
    tags=("evaluation", "classification", "ks"),
)
def eval_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation between the model-score
    distributions of positives and negatives — the discrimination
    metric credit-scoring pipelines quote beside AUC — plus the score
    threshold where the max separation occurs (the KS-optimal
    operating point, which eval_confusion_threshold can then expand).
    Same fixture score convention as eval_auc_rank/calibration_bins.

    All-integer until the final ratio (the dq_ks_test discipline):
    scores quantize once to micro at row grain, per-score class
    counts aggregate combinably, the ECDF gap is the cross-multiplied
    BIGINT |cum_p*n_neg - cum_n*n_pos| so the argmax is exact, and
    the threshold picks min(v) among maximizing scores — no IEEE
    anywhere near a comparison.

    Scale: one combinable (score, class) count collapses the corpus
    to distinct-score grain (<= 1e6+1 rows by construction — the
    micro quantization bounds the window input at ANY corpus size);
    the running sum sorts that bounded relation once."""
    e = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            F.element_at("embedding", 1).cast("double") + F.lit(0.5),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    tagged = e.select(
        micro(p).alias("v"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    counts = tagged.groupBy("v").agg(
        F.sum("pos").cast("bigint").alias("c_p"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("c_n"),
    )
    tot = counts.agg(
        F.sum("c_p").cast("bigint").alias("n_pos"),
        F.sum("c_n").cast("bigint").alias("n_neg"),
    )
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = counts.select(
        "v",
        F.sum("c_p").over(w).cast("bigint").alias("cum_p"),
        F.sum("c_n").over(w).cast("bigint").alias("cum_n"),
    )
    gaps = cdf.crossJoin(F.broadcast(tot)).select(
        "v",
        F.abs(
            F.col("cum_p") * F.col("n_neg") - F.col("cum_n") * F.col("n_pos")
        )
        .cast("bigint")
        .alias("gap"),
    )
    mx = gaps.agg(F.max("gap").cast("bigint").alias("mg"))
    th = (
        gaps.crossJoin(F.broadcast(mx))
        .filter(F.col("gap") == F.col("mg"))
        .agg(F.min("v").cast("bigint").alias("v_at_max"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(th))
        .select(
            "n_pos",
            "n_neg",
            F.col("mg").alias("max_scaled_gap"),
            micro(
                F.col("mg").cast("double")
                / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            ).alias("ks_micro"),
            F.col("v_at_max").alias("threshold_micro"),
        )
    )


@query(
    "eval_mcnemar_paired",
    oracle="""
        WITH paired AS (
            SELECT CASE WHEN (CAST(embedding[1] AS DOUBLE) >= 0.0)
                             = (label = 0) THEN 1 ELSE 0 END AS ok1,
                   CASE WHEN (CAST(embedding[2] AS DOUBLE) >= 0.0)
                             = (label = 0) THEN 1 ELSE 0 END AS ok2
            FROM embeddings
        ), cells AS (
            SELECT CAST(sum(ok1 * ok2) AS BIGINT) AS both_ok,
                   CAST(sum(ok1 * (1 - ok2)) AS BIGINT) AS only1,
                   CAST(sum((1 - ok1) * ok2) AS BIGINT) AS only2,
                   CAST(sum((1 - ok1) * (1 - ok2)) AS BIGINT)
                       AS neither
            FROM paired
        )
        SELECT both_ok, only1, only2, neither,
               CAST(floor(CAST((only1 - only2) * (only1 - only2)
                        AS DOUBLE) / (only1 + only2) * 1000000.0
                        + 0.5) AS BIGINT) AS chi2_micro,
               CAST(floor(CAST((abs(only1 - only2) - 1)
                        * (abs(only1 - only2) - 1) AS DOUBLE)
                        / (only1 + only2) * 1000000.0 + 0.5)
                    AS BIGINT) AS chi2_cc_micro
        FROM cells
    """,
    phase="P4",
    tags=("evaluation", "hypothesis-test", "classification"),
)
def eval_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED classifier comparison — are two
    models' error rates different on the SAME examples? Uses the two
    fixture models 'dimension 1 sign' vs 'dimension 2 sign' against
    the label-0 class. Only the discordant cells (one right, one
    wrong) carry signal; the test is chi2 = (b-c)^2/(b+c), shipped
    with the Edwards continuity-corrected variant. This is the gate
    a model-eval pipeline runs before declaring a new model better —
    unpaired accuracy comparison wastes the pairing.

    Exactness: all four contingency cells are exact integer sums of
    0/1 products from engine-identical sign/label predicates; the
    statistics are one spelled IEEE division each over those
    BIGINTs.

    Plan: ONE combinable aggregate — a single scan collapsing to a
    1-row contingency at any corpus size."""
    e = load(spark, sf_dir, "embeddings")
    pos = F.col("label") == 0
    ok1 = (
        F.when(
            (F.element_at("embedding", 1).cast("double") >= 0.0) == pos, 1
        )
        .otherwise(0)
        .alias("ok1")
    )
    ok2 = (
        F.when(
            (F.element_at("embedding", 2).cast("double") >= 0.0) == pos, 1
        )
        .otherwise(0)
        .alias("ok2")
    )
    cells = e.select(ok1, ok2).agg(
        F.sum(F.col("ok1") * F.col("ok2")).cast("bigint").alias("both_ok"),
        F.sum(F.col("ok1") * (F.lit(1) - F.col("ok2")))
        .cast("bigint")
        .alias("only1"),
        F.sum((F.lit(1) - F.col("ok1")) * F.col("ok2"))
        .cast("bigint")
        .alias("only2"),
        F.sum((F.lit(1) - F.col("ok1")) * (F.lit(1) - F.col("ok2")))
        .cast("bigint")
        .alias("neither"),
    )
    d = F.col("only1") - F.col("only2")
    s = F.col("only1") + F.col("only2")
    dc = F.abs(d) - F.lit(1)
    return cells.select(
        "both_ok",
        "only1",
        "only2",
        "neither",
        micro((d * d).cast("double") / s).alias("chi2_micro"),
        micro((dc * dc).cast("double") / s).alias("chi2_cc_micro"),
    )


_RBO_P = 0.9
_RBO_DEPTH = 50


@query(
    "eval_rank_overlap",
    oracle=f"""
        WITH scored AS (
            SELECT vec_id,
                   CAST(embedding[1] AS DOUBLE) AS s1,
                   CAST(embedding[2] AS DOUBLE) AS s2
            FROM embeddings
        ),
        r1 AS (
            SELECT vec_id, row_number() OVER (
                       ORDER BY s1 DESC, vec_id) AS rk
            FROM scored QUALIFY rk <= {_RBO_DEPTH}
        ),
        r2 AS (
            SELECT vec_id, row_number() OVER (
                       ORDER BY s2 DESC, vec_id) AS rk
            FROM scored QUALIFY rk <= {_RBO_DEPTH}
        ),
        depths AS (SELECT unnest(range(1, {_RBO_DEPTH} + 1)) AS d),
        ovl AS (
            SELECT d.d,
                   CAST((SELECT count(*) FROM r1 a JOIN r2 b
                         ON a.vec_id = b.vec_id
                         WHERE a.rk <= d.d AND b.rk <= d.d)
                        AS BIGINT) AS ov
            FROM depths d
        ),
        terms AS (
            SELECT d, ov,
                   CAST(floor(CAST(ov AS DOUBLE) / d
                        * power({_RBO_P}, d - 1)
                        * 1000000000000.0 + 0.5) AS BIGINT) AS t_pico
            FROM ovl
        )
        SELECT CAST(count(*) AS BIGINT) AS depth,
               CAST(max(CASE WHEN d = {_RBO_DEPTH} THEN ov END)
                    AS BIGINT) AS overlap_at_k,
               CAST(floor(CAST(max(CASE WHEN d = {_RBO_DEPTH} THEN ov
                        END) AS DOUBLE) / {_RBO_DEPTH} * 1000000.0
                        + 0.5) AS BIGINT) AS jaccard_at_k_micro,
               CAST(floor((1.0 - {_RBO_P})
                        * (CAST(sum(t_pico) AS DOUBLE)
                           / 1000000000000.0) * 1000000.0 + 0.5)
                    AS BIGINT) AS rbo_micro
        FROM terms
    """,
    phase="P4",
    tags=("evaluation", "ranking"),
)
def eval_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-stability between the two fixture models (dim-1 vs dim-2
    scores): top-50 overlap, overlap@k ratio, and truncated
    Rank-Biased Overlap (p = 0.9) — the metric a retrieval team
    watches across model versions because plain top-k overlap
    over-weights the tail while RBO's geometric weights match where
    users actually look. RBO_trunc = (1-p) * sum_d (ov_d/d) p^(d-1).

    Exactness: both rankings use explicit vec_id tiebreaks on
    bit-identical doubles; per-depth overlaps are exact integers;
    each RBO term pico-quantizes at DEPTH grain so the fold is an
    order-free BIGINT sum (power(0.9, d) is a shared IEEE call on
    integer exponents). The final scale-backs are spelled once.

    Plan: two bounded top-k rankings (TakeOrdered shape), a 50-row
    depth spine, and per-depth overlap counts over 50x50 bounded
    relations — past the two score scans nothing is data-sized. At
    real scale the rankings come from partial TakeOrdered, exactly
    as sim_knn_batch."""
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("s1"),
        F.element_at("embedding", 2).cast("double").alias("s2"),
    )
    w1 = Window.orderBy(F.desc("s1"), "vec_id")
    w2 = Window.orderBy(F.desc("s2"), "vec_id")
    r1 = (
        scored.select("vec_id", F.row_number().over(w1).alias("rk"))
        .filter(F.col("rk") <= _RBO_DEPTH)
    )
    r2 = (
        scored.select("vec_id", F.row_number().over(w2).alias("rk"))
        .filter(F.col("rk") <= _RBO_DEPTH)
    )
    joined = r1.alias("a").join(
        r2.alias("b"), F.col("a.vec_id") == F.col("b.vec_id")
    ).select(
        F.greatest(F.col("a.rk"), F.col("b.rk")).alias("entry_d")
    )
    depths = spark.range(1, _RBO_DEPTH + 1).select(
        F.col("id").alias("d")
    )
    overlaps = (
        depths.join(
            F.broadcast(joined), F.col("entry_d") <= F.col("d"), "left"
        )
        .groupBy("d")
        .agg(
            F.count(F.col("entry_d")).cast("bigint").alias("ov")
        )
    )
    terms = overlaps.select(
        "d",
        "ov",
        F.floor(
            F.col("ov").cast("double")
            / F.col("d")
            * F.pow(F.lit(_RBO_P), F.col("d") - F.lit(1))
            * F.lit(1e12)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("t_pico"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("depth"),
        F.max(F.when(F.col("d") == _RBO_DEPTH, F.col("ov")))
        .cast("bigint")
        .alias("overlap_at_k"),
        micro(
            F.max(F.when(F.col("d") == _RBO_DEPTH, F.col("ov")))
            .cast("double")
            / F.lit(float(_RBO_DEPTH))
        ).alias("jaccard_at_k_micro"),
        micro(
            F.lit(1.0 - _RBO_P)
            * (F.sum("t_pico").cast("double") / F.lit(1e12))
        ).alias("rbo_micro"),
    )


_COST_FP = 1
_COST_FN = 5


@query(
    "eval_cost_optimal_threshold",
    oracle=f"""
        WITH tagged AS (
            SELECT CAST(floor(least(greatest(
                       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0)
                       * 1000000.0 + 0.5) AS BIGINT) AS v,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ),
        counts AS (
            SELECT v,
                   CAST(sum(pos) AS BIGINT) AS c_p,
                   CAST(sum(1 - pos) AS BIGINT) AS c_n
            FROM tagged GROUP BY v
        ),
        tot AS (
            SELECT CAST(sum(c_p) AS BIGINT) AS n_pos,
                   CAST(sum(c_n) AS BIGINT) AS n_neg
            FROM counts
        ),
        cdf AS (
            SELECT v,
                   CAST(sum(c_p) OVER w AS BIGINT) AS cum_p,
                   CAST(sum(c_n) OVER w AS BIGINT) AS cum_n
            FROM counts
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
        ),
        costs AS (
            -- predict positive when score > v: FP = negs above v,
            -- FN = positives at or below v
            SELECT v,
                   CAST({_COST_FP} * (t.n_neg - cum_n)
                        + {_COST_FN} * cum_p AS BIGINT) AS cost
            FROM cdf CROSS JOIN tot t
        ),
        best AS (SELECT CAST(min(cost) AS BIGINT) AS mc FROM costs),
        pick AS (
            SELECT CAST(min(v) AS BIGINT) AS v_best
            FROM costs, best WHERE cost = mc
        )
        SELECT t.n_pos, t.n_neg, b.mc AS min_cost,
               p.v_best AS threshold_micro,
               CAST({_COST_FN} * t.n_pos AS BIGINT)
                   AS cost_all_negative,
               CAST({_COST_FP} * t.n_neg AS BIGINT)
                   AS cost_all_positive
        FROM tot t, best b, pick p
    """,
    phase="P4",
    tags=("evaluation", "classification", "decision"),
)
def eval_cost_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-optimal decision threshold under an asymmetric cost matrix
    (FP = 1, FN = 5 — the fraud/triage shape where missing a positive
    is 5x worse): sweep every distinct score, cost(v) = c_fp * FP(v)
    + c_fn * FN(v), pick the argmin with a min-score tiebreak. Ships
    the two degenerate baselines (predict-all-negative /
    all-positive) so the threshold's value over no-model is visible.
    This turns eval_ks_separation's statistical optimum into the
    BUSINESS optimum — they differ whenever costs are asymmetric.

    All-integer: micro-quantized scores bound the sweep at <= 1e6+1
    distinct points at any corpus size; FP/FN come from the exact
    integer ECDF (the dq_ks_test discipline); costs are integer
    arithmetic so the argmin is exact — no IEEE anywhere.

    Plan: one combinable (score, class) count, one running-sum window
    over the bounded score grain, two 1-row folds broadcast back."""
    e = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            F.element_at("embedding", 1).cast("double") + F.lit(0.5),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    tagged = e.select(
        micro(p).alias("v"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    counts = tagged.groupBy("v").agg(
        F.sum("pos").cast("bigint").alias("c_p"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("c_n"),
    )
    tot = counts.agg(
        F.sum("c_p").cast("bigint").alias("n_pos"),
        F.sum("c_n").cast("bigint").alias("n_neg"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = counts.select(
        "v",
        F.sum("c_p").over(w).cast("bigint").alias("cum_p"),
        F.sum("c_n").over(w).cast("bigint").alias("cum_n"),
    )
    costs = cdf.crossJoin(F.broadcast(tot)).select(
        "v",
        (
            F.lit(_COST_FP) * (F.col("n_neg") - F.col("cum_n"))
            + F.lit(_COST_FN) * F.col("cum_p")
        )
        .cast("bigint")
        .alias("cost"),
    )
    best = costs.agg(F.min("cost").cast("bigint").alias("mc"))
    pick = (
        costs.crossJoin(F.broadcast(best))
        .filter(F.col("cost") == F.col("mc"))
        .agg(F.min("v").cast("bigint").alias("v_best"))
    )
    return (
        tot.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(pick))
        .select(
            "n_pos",
            "n_neg",
            F.col("mc").alias("min_cost"),
            F.col("v_best").alias("threshold_micro"),
            (F.lit(_COST_FN) * F.col("n_pos"))
            .cast("bigint")
            .alias("cost_all_negative"),
            (F.lit(_COST_FP) * F.col("n_neg"))
            .cast("bigint")
            .alias("cost_all_positive"),
        )
    )


@query(
    "eval_gauc",
    oracle="""
        WITH scored AS (
            SELECT user_id,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS pos
            FROM events
        ),
        grp AS (
            SELECT user_id, s,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(pos) AS BIGINT) AS np
            FROM scored GROUP BY user_id, s
        ),
        cum AS (
            SELECT user_id, s, cnt, np, cnt - np AS nn,
                   CAST(coalesce(sum(cnt - np) OVER (
                       PARTITION BY user_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS cneg
            FROM grp
        ),
        per_user AS (
            SELECT user_id,
                   CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(nn) AS BIGINT) AS n_neg,
                   CAST(sum(np * (2 * cneg + nn)) AS BIGINT) AS num2
            FROM cum GROUP BY user_id
        ),
        eligible AS (
            SELECT * FROM per_user WHERE n_pos > 0 AND n_neg > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_pos * n_neg) AS BIGINT) AS n_pairs,
               CAST(sum(num2) AS BIGINT) AS sum_num2,
               CAST(floor(CAST(sum(num2) AS DOUBLE)
                    / (2.0 * sum(n_pos * n_neg))
                    * 1000000.0 + 0.5) AS BIGINT) AS gauc_micro
        FROM eligible
    """,
    phase="P4",
    tags=("evaluation", "ranking", "auc"),
)
def eval_gauc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped AUC (GAUC) — the CTR-ranking industry metric: per-user
    AUC of the value score against the purchase label, pair-weighted
    across users (w_u = pos_u·neg_u, so the aggregate is exactly
    'probability a random within-user (pos, neg) pair ranks
    correctly'). Global AUC (eval_auc_rank) rewards models that
    merely rank heavy users above light ones; GAUC cancels the
    between-user component — the difference between the two is the
    leakage a ranking model gets from user identity.

    Exactness: the doubled rank-sum numerator 2U = Σ np·(2·cneg + nn)
    per user is an exact integer (ties get their nn half-credit
    without fractions), weights are exact integer pair counts, and
    the single division folds the weighted mean in one spelled
    expression.

    Plan: collapse to (user, score) grain in ONE combinable pass,
    cumulate negatives per user (keyed window — never global), fold
    to user grain, then one 1-row reduce. Same scale contract as
    eval_auc_rank with user_id as the partition key throughout."""
    e = load(spark, sf_dir, "events")
    scored = e.select(
        "user_id",
        micro(F.col("value")).alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("pos"),
    )
    grp = scored.groupBy("user_id", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("np"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grp.select(
        "user_id",
        "np",
        (F.col("cnt") - F.col("np")).alias("nn"),
        F.coalesce(F.sum(F.col("cnt") - F.col("np")).over(w), F.lit(0))
        .cast("bigint")
        .alias("cneg"),
    )
    per_user = cum.groupBy("user_id").agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.sum(F.col("np") * (F.lit(2) * F.col("cneg") + F.col("nn")))
        .cast("bigint")
        .alias("num2"),
    )
    eligible = per_user.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    return eligible.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("n_pos") * F.col("n_neg"))
        .cast("bigint")
        .alias("n_pairs"),
        F.sum("num2").cast("bigint").alias("sum_num2"),
        micro(
            F.sum("num2").cast("double")
            / (F.lit(2.0) * F.sum(F.col("n_pos") * F.col("n_neg")))
        ).alias("gauc_micro"),
    )


@query(
    "eval_calibration_isotonic",
    oracle="""
        WITH scored AS (
            SELECT CAST(least(greatest(
                       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0)
                       AS DOUBLE) AS p,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        ), binned AS (
            SELECT CAST(least(floor(p * 10.0), 9.0) AS BIGINT) AS bin,
                   CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS pm,
                   pos
            FROM scored
        ), bins AS (
            SELECT bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(pm) AS BIGINT) AS sum_pred_micro
            FROM binned GROUP BY bin
        ), cum AS (
            SELECT bin, n, n_pos, sum_pred_micro,
                   CAST(sum(n) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
                   CAST(sum(n_pos) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
            FROM bins
        ), iv AS (
            SELECT j.bin AS jb, k.bin AS kb,
                   CAST(floor(CAST(k.cpos - (j.cpos - j.n_pos) AS DOUBLE)
                        / (k.cn - (j.cn - j.n)) * 1000000.0 + 0.5)
                        AS BIGINT) AS rate_micro
            FROM cum j JOIN cum k ON j.bin <= k.bin
        ), inner_min AS (
            SELECT b.bin, iv.jb,
                   CAST(min(iv.rate_micro) AS BIGINT) AS mn
            FROM bins b JOIN iv
              ON iv.jb <= b.bin AND iv.kb >= b.bin
            GROUP BY b.bin, iv.jb
        ), iso AS (
            SELECT bin, CAST(max(mn) AS BIGINT) AS iso_micro
            FROM inner_min GROUP BY bin
        )
        SELECT b.bin, b.n, b.n_pos,
               CAST(floor(CAST(b.sum_pred_micro AS DOUBLE) / b.n + 0.5)
                    AS BIGINT) AS avg_pred_micro,
               CAST(floor(CAST(b.n_pos AS DOUBLE) * 1000000.0 / b.n
                    + 0.5) AS BIGINT) AS obs_micro,
               i.iso_micro,
               CAST(i.iso_micro
                    - floor(CAST(b.n_pos AS DOUBLE) * 1000000.0 / b.n
                            + 0.5) AS BIGINT) AS pool_shift_micro
        FROM bins b JOIN iso i USING (bin)
        ORDER BY b.bin
    """,
    phase="P4",
    tags=("evaluation", "calibration", "classification"),
)
def eval_calibration_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the reliability bins — what the
    eval_calibration_bins diagram feeds in practice: the
    monotone-non-decreasing fit to the per-bin observed rates,
    weighted by bin population. Bins where the raw observed rate
    DROPS as the score rises (the calibration pathology isotonic
    exists to fix) get pooled; pool_shift_micro per bin shows exactly
    how far the fit moved each observed rate.

    Method: the max–min characterization of isotonic regression —
    iso_i = max_{j≤i} min_{k≥i} pooledRate(j..k) — instead of the
    sequential pool-adjacent-violators sweep: over B bins it is a
    B²-interval enumeration (B = 10, so 55 intervals), every interval
    rate derives from two exact cumulative integers and quantizes to
    micro AT INTERVAL GRAIN, and the min/max reduction is then pure
    integer — no sequential state, no fp ordering anywhere, and both
    engines spell it identically. pytest pins the result against a
    classic python PAV sweep.

    Plan: ONE combinable 10-key aggregate is the only corpus-sized
    stage; the interval lattice, min/max folds, and final join all
    run at ≤55-row grain regardless of corpus size."""
    e = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            F.element_at("embedding", 1).cast("double") + F.lit(0.5),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    binned = e.select(
        F.least(F.floor(p * F.lit(10.0)), F.lit(9.0))
        .cast("bigint")
        .alias("bin"),
        micro(p).alias("pm"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("pm").cast("bigint").alias("sum_pred_micro"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin",
        "n",
        "n_pos",
        "sum_pred_micro",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("n_pos").over(w).cast("bigint").alias("cpos"),
    ).localCheckpoint(eager=False)
    j = cum.alias("j")
    k = cum.alias("k")
    iv = j.join(k, F.col("j.bin") <= F.col("k.bin")).select(
        F.col("j.bin").alias("jb"),
        F.col("k.bin").alias("kb"),
        micro(
            (
                F.col("k.cpos") - (F.col("j.cpos") - F.col("j.n_pos"))
            ).cast("double")
            / (F.col("k.cn") - (F.col("j.cn") - F.col("j.n")))
        ).alias("rate_micro"),
    )
    inner_min = (
        cum.select("bin")
        .join(
            iv,
            (F.col("jb") <= F.col("bin")) & (F.col("kb") >= F.col("bin")),
        )
        .groupBy("bin", "jb")
        .agg(F.min("rate_micro").cast("bigint").alias("mn"))
    )
    iso = inner_min.groupBy("bin").agg(
        F.max("mn").cast("bigint").alias("iso_micro")
    )
    avg_pred = F.floor(
        F.col("sum_pred_micro").cast("double") / F.col("n") + F.lit(0.5)
    )
    obs = F.floor(
        F.col("n_pos").cast("double") * F.lit(1000000.0) / F.col("n")
        + F.lit(0.5)
    )
    return (
        bins.join(iso, "bin")
        .select(
            "bin",
            "n",
            "n_pos",
            avg_pred.cast("bigint").alias("avg_pred_micro"),
            obs.cast("bigint").alias("obs_micro"),
            "iso_micro",
            (F.col("iso_micro") - obs).cast("bigint").alias(
                "pool_shift_micro"
            ),
        )
        .orderBy("bin")
    )


@query(
    "eval_fairness_audit",
    oracle="""
        WITH scored AS (
            SELECT CASE WHEN label % 2 = 0 THEN 0 ELSE 1 END AS grp,
                   CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0.0
                        THEN 1 ELSE 0 END AS pred,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
            FROM embeddings
        )
        SELECT CAST(grp AS BIGINT) AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pred) AS BIGINT) AS n_pred_pos,
               CAST(floor(CAST(sum(pred) AS DOUBLE) / count(*)
                    * 1000000.0 + 0.5) AS BIGINT) AS selection_micro,
               CASE WHEN sum(pos) > 0 THEN
                   CAST(floor(CAST(sum(pred * pos) AS DOUBLE) / sum(pos)
                        * 1000000.0 + 0.5) AS BIGINT)
               END AS tpr_micro,
               CASE WHEN count(*) - sum(pos) > 0 THEN
                   CAST(floor(CAST(sum(pred * (1 - pos)) AS DOUBLE)
                        / (count(*) - sum(pos)) * 1000000.0 + 0.5)
                        AS BIGINT)
               END AS fpr_micro,
               CAST(floor(CAST(sum(pred) AS DOUBLE) / count(*)
                    * 1000000.0 + 0.5)
                    - min(CAST(floor(CAST(sum(pred) AS DOUBLE) / count(*)
                          * 1000000.0 + 0.5) AS BIGINT))
                          OVER () AS BIGINT) AS parity_gap_micro
        FROM scored
        GROUP BY grp
        ORDER BY grp
    """,
    phase="P4",
    tags=("evaluation", "fairness", "classification"),
)
def eval_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the fixture classifier (threshold-0 on
    embedding dim 1, positive class = label 0; protected-group
    stand-in = label parity): per group the selection rate
    (demographic parity), TPR (equal opportunity), and FPR (equalized
    odds' second leg), with each group's selection-rate gap to the
    least-selected group — the three gaps every production model
    audit reports before shipping a classifier that gates people or
    content. The four-fifths rule reads directly off
    selection_micro ratios.

    Exactness: all counts exact BIGINTs from ONE group-grain
    aggregate; every rate is one spelled division micro-quantized;
    groups without positives (negatives) yield NULL TPR (FPR), never
    0/0; the gap subtracts two already-quantized integers via a
    window min over the 2-row result.

    Plan: one combinable group-grain aggregate over the corpus —
    map-side-combined, ≤|groups| rows after the exchange; the gap
    window runs at group grain."""
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        (F.col("label") % 2).cast("bigint").alias("grp"),
        F.when(
            F.element_at("embedding", 1).cast("double") >= 0.0, 1
        )
        .otherwise(0)
        .alias("pred"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    g = scored.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pred").cast("bigint").alias("n_pred_pos"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("pred") * F.col("pos")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("pos")))
        .cast("bigint")
        .alias("fp"),
    )
    sel = micro(F.col("n_pred_pos").cast("double") / F.col("n"))
    w_all = Window.partitionBy()
    return (
        g.select(
            "grp",
            "n",
            "n_pred_pos",
            sel.alias("selection_micro"),
            F.when(
                F.col("n_pos") > 0,
                micro(F.col("tp").cast("double") / F.col("n_pos")),
            ).alias("tpr_micro"),
            F.when(
                F.col("n") - F.col("n_pos") > 0,
                micro(
                    F.col("fp").cast("double") / (F.col("n") - F.col("n_pos"))
                ),
            ).alias("fpr_micro"),
        )
        .select(
            "*",
            (
                F.col("selection_micro")
                - F.min("selection_micro").over(w_all)
            )
            .cast("bigint")
            .alias("parity_gap_micro"),
        )
        .orderBy("grp")
    )
