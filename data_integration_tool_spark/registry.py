"""Query registry — the single source of truth for the driver contract.

Each operator registers its Spark plan builder and (when SQL-expressible)
its DuckDB oracle SQL in ONE place, so ``queries()`` and ``oracle_sql()``
(``__spark_entry__.py``) can never drift apart, and the parity test suite
iterates the same registry. Hash-stability rules (SURVEY.md §5) are
enforced by convention here: every computed column is aliased identically
in the DataFrame code and the SQL; LIMIT queries carry a unique
tiebreaker; ordered containers (collect_list) are sorted on both sides.

HARSH HARNESS CONTRACT (learned from driver rounds 3 and 5; enforced by
the schema guard in tests/test_oracle_parity.py and the dtype-family
gate in tests/oracle_check.py):

1. **No array/map columns in driver-visible output — ever, including
   rows-only queries.** The driver canonicalizes every result with
   pandas ``sort_values`` BEFORE the oracle branch, and list/map cells
   raise ``TypeError: unhashable type`` there (5 queries crashed in
   r05). Render arrays as deterministic strings (``array_join`` /
   ``to_json``) or explode to long form; maps as sorted ``k=v`` concat.
   Array/map construction inside the plan is fine — only the final
   projection must be scalar.
2. **DuckDB aggregate results must be cast to a concrete type.**
   ``sum(BIGINT)`` returns HUGEINT, which ``fetchdf()`` renders as
   float64 — the driver's value hash treats int64-vs-float64 as red
   even on equal values (r03 ``362`` vs ``362.0``; r05
   etl_incremental_agg / orders_cohort_ltv). Wrap integer sums in
   ``CAST(... AS BIGINT)`` in the oracle.
3. **Floats that cross a ln()/summation-order boundary ship as
   micro-unit BIGINTs** (``floor(x*1e6 + 0.5)`` on both engines, cents
   at x100 for money). Builders call ``exprs.micro`` / ``exprs.cents``;
   ``exprs.MICRO_SQL`` / ``exprs.CENTS_SQL`` spell the same rule in SQL.
4. **Builders run SERIALLY, one at a time per session.** A handful of
   builders scope a session conf around their work and restore it in
   ``finally`` (sources/pysource.py drops shuffle partitions for the
   stream drain; operators/joins.py's join_bucketed disables the
   broadcast threshold around planning). A driver that ever runs
   registered builders CONCURRENTLY in one session would let those
   scoped values leak mid-query — that driver must give each builder
   its own session (``spark.newSession()``) instead.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryFn
    oracle: str | None  # DuckDB SQL twin; None → driver does rows-only check
    phase: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import. Order is phase order (§7).
_QUERY_MODULES: tuple[str, ...] = (
    "data_integration_tool_spark.operators.scans",
    "data_integration_tool_spark.operators.filters",
    "data_integration_tool_spark.operators.aggregates",
    "data_integration_tool_spark.operators.joins",
    "data_integration_tool_spark.operators.windows",
    "data_integration_tool_spark.operators.sort_limit",
    "data_integration_tool_spark.operators.setops",
    "data_integration_tool_spark.operators.subqueries",
    "data_integration_tool_spark.operators.reshape",
    "data_integration_tool_spark.operators.analytics",
    "data_integration_tool_spark.functions.strings",
    "data_integration_tool_spark.functions.dates",
    "data_integration_tool_spark.functions.math_fns",
    "data_integration_tool_spark.functions.arrays",
    "data_integration_tool_spark.functions.json_fns",
    "data_integration_tool_spark.functions.maps",
    "data_integration_tool_spark.operators.udfs",
    "data_integration_tool_spark.sources.multimodal",
    "data_integration_tool_spark.streaming.event_windows",
    "data_integration_tool_spark.streaming.structured",
    "data_integration_tool_spark.operators.text",
    "data_integration_tool_spark.operators.dedup",
    "data_integration_tool_spark.operators.similarity",
    "data_integration_tool_spark.operators.docprep",
    "data_integration_tool_spark.operators.curation",
    "data_integration_tool_spark.operators.quality",
    "data_integration_tool_spark.operators.graph",
    "data_integration_tool_spark.operators.evaluation",
    "data_integration_tool_spark.sources.etl",
    "data_integration_tool_spark.plans.advisor",
    "data_integration_tool_spark.sources.pysource",
)

_loaded = False

# Driver-facing ordering. The driver records CORRECTNESS rows for only
# the FIRST 50 entries of queries() (dict insertion order), so these
# names lead it; every other query follows in registration order. The
# list is frozen — no per-run rotation — so the driver records the same
# 50 queries every time and its rows stay comparable run to run.
_DRIVER_PRIORITY: tuple[str, ...] = (
    "dedup_components",
    "agg_concentration_hhi",
    "agg_count_min",
    "agg_cuped",
    "agg_jackknife_ratio",
    "agg_raking_ipf",
    "agg_theil_index",
    "anomaly_mad",
    "decon_report",
    "dedup_cross_source_matrix",
    "dedup_simhash",
    "dq_join_fanout",
    "dq_outlier_iqr",
    "dq_volume_anomaly",
    "emb_kmeans_lloyd",
    "etl_file_skipping_stats",
    "etl_surrogate_key_plan",
    "etl_wap_gate",
    "etl_zorder_incremental",
    "eval_brier_decomposition",
    "eval_cluster_purity",
    "funnel_3step",
    "graph_adamic_adar",
    "graph_bfs_hops",
    "graph_degree_assortativity",
    "graph_kcore",
    "join_asof",
    "join_asof_tolerance",
    "join_skew_aqe",
    "mixture_kl_divergence",
    "pii_redact",
    "plan_join_strategy",
    "sample_ess_reweight",
    "seq_time_to_convert",
    "text_boilerplate_strip",
    "text_char_bigram_entropy",
    "text_pmi_pairs",
    "text_tfidf",
    "ts_anomaly_residual",
    "ts_hurst_exponent",
    "ts_seasonal_strength",
    "udtf_sentence_split",
    "win_concurrency_sweep",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_profit_by_nation_year",
    "agg_mode",
    "agg_percentile_disc",
    "agg_product",
)


def _driver_order(reg: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    """Registry re-keyed so _DRIVER_PRIORITY names come first."""
    out: dict[str, QuerySpec] = {}
    for name in _DRIVER_PRIORITY:
        if name in reg:
            out[name] = reg[name]
    for name, spec in reg.items():
        if name not in out:
            out[name] = spec
    return out


def query(
    name: str, oracle: str | None = None, phase: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the builder for query ``name`` with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, phase, tuple(tags))
        return fn

    return deco


def load_all_modules() -> None:
    """Import every operator module so their @query decorators run."""
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True


def specs() -> dict[str, QuerySpec]:
    load_all_modules()
    return _driver_order(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {n: s.builder for n, s in specs().items()}


def oracles() -> dict[str, str]:
    return {n: s.oracle for n, s in specs().items() if s.oracle is not None}
