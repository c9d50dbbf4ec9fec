"""Plan-shape regression guards: the queries must not just be correct —
they must compile to the physical plans that survive 100× scale
(pushdown at the scan, broadcast for dims, TakeOrderedAndProject for
top-k, whole-stage codegen in the hot path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_tool_spark.io import load
from data_integration_tool_spark.operators.filters import filter_cmp
from data_integration_tool_spark.operators.joins import join_broadcast, join_multiway
from data_integration_tool_spark.operators.scans import scan_projected
from data_integration_tool_spark.operators.sort_limit import topk
from data_integration_tool_spark.plans import tuning


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = filter_cmp(spark, sf_dir)
    assert tuning.has_pushed_filter(df, "GreaterThan(l_discount"), tuning.explain_str(df)
    assert tuning.has_pushed_filter(df, "LessThan(l_shipdate"), tuning.explain_str(df)


def test_projection_prunes_columns(spark, sf_dir):
    df = scan_projected(spark, sf_dir)
    schema = tuning.scan_read_schema(df)
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_extendedprice" not in schema, schema


def test_dim_joins_broadcast(spark, sf_dir):
    assert tuning.uses_broadcast_join(join_broadcast(spark, sf_dir))
    assert tuning.uses_broadcast_join(join_multiway(spark, sf_dir))


def test_topk_fuses_sort_limit(spark, sf_dir):
    assert tuning.uses_take_ordered(topk(spark, sf_dir))


def test_flagship_uses_codegen_and_partial_agg(spark, sf_dir):
    from data_integration_tool_spark.operators.aggregates import agg_group

    plan = tuning.explain_str(agg_group(spark, sf_dir), mode="simple", run=True)
    # simple mode marks whole-stage-codegen spans with "*(n)"
    assert "*(" in plan, plan
    # two-phase aggregate: partial before the exchange, final after
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_salted_join_matches_plain(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    plain = (
        o.join(n, o.o_custkey == n.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        tuning.salted_join(
            o.withColumnRenamed("o_custkey", "c_custkey"), n, "c_custkey"
        )
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {(r.c_nationkey, r.n) for r in plain.collect()} == {
        (r.c_nationkey, r.n) for r in salted.collect()
    }


def test_colocate_reuses_partitioning(spark, sf_dir):
    o = tuning.colocate(load(spark, sf_dir, "orders"), "o_custkey", n=8)
    agged = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    # groupBy on the same key reuses the repartition exchange: no second
    # hash-partitioning exchange on o_custkey above the aggregate
    plan = tuning.explain_str(agged, mode="simple")
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1, plan


def test_registry_wide_no_row_python_no_cartesian(spark, sf_dir):
    """Every registered query must compile to a distributed plan:
    - BatchEvalPython (row-at-a-time Python UDF) is forbidden outright —
      the engine's design rule allows only Arrow-batched Python
      (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas).
    - CartesianProduct (non-broadcast cross product) is forbidden: the
      deliberate tiny-side cross joins must plan as
      BroadcastNestedLoopJoin, which caps the replicated side."""
    from data_integration_tool_spark import registry

    for name, spec in registry.specs().items():
        plan = (
            spec.builder(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan, f"{name}: row-python in plan"
        assert "CartesianProduct" not in plan, f"{name}: unbroadcast cartesian"


def test_no_collect_inside_operators():
    """Operators are lazy plan builders: nothing in the package may
    materialize results on the driver (collect/toPandas/toLocalIterator
    outside tests/bench). The ONE sanctioned exception class is a
    driver-side CONVERGENCE SCALAR in an iterative algorithm (a 1-row
    aggregate steering loop termination, never result data) — such
    lines must carry the `# driver-scalar:` marker and are counted here
    so a new unmarked collect still fails."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    marked = 0
    for py in (root / "data_integration_tool_spark").rglob("*.py"):
        if py.parent.name == "plans":
            # plans/tuning.py is the diagnostics module: explain_str
            # deliberately executes a frame to finalize AQE plans
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            for bad in (".collect(", ".toPandas(", ".toLocalIterator("):
                if bad in line:
                    if "# driver-scalar:" in line:
                        marked += 1
                    else:
                        offenders.append(f"{py.name}:{i}:{bad}")
    assert not offenders, offenders
    assert marked == 9, (
        "expected exactly the 2 dedup_components convergence scalars, "
        "the emb_pca_project moment row, the join_skew_aqe flag "
        "materialization, the 2 emb_kmeans_lloyd centroid round-trips, "
        "the seq_markov_stationary transition-count collect, the "
        "eval_cluster_purity centroid round-trip, and the "
        "dedup_semantic_clusters convergence scalar, "
        f"found {marked}"
    )


def test_tpch_composites_broadcast_dims_and_take_ordered(spark, sf_dir):
    """The composite analytics plans must broadcast their dimension
    sides and fuse sort+limit into TakeOrderedAndProject."""
    from data_integration_tool_spark.operators import analytics

    q5 = analytics.tpch_q5_local_supplier_volume(spark, sf_dir)
    plan5 = tuning.explain_str(q5, mode="simple")
    assert plan5.count("BroadcastHashJoin") >= 3, plan5
    q3 = analytics.tpch_q3_shipping_priority(spark, sf_dir)
    assert tuning.uses_take_ordered(q3)
    q18 = analytics.tpch_q18_large_orders(spark, sf_dir)
    assert tuning.uses_take_ordered(q18)


def test_bench_summary_line_fits_driver_tail():
    """The driver json-parses the FINAL stdout line from a ~4 KB tail
    buffer: build bench.py's summary line for the current registry with
    worst-case timings and assert it stays under the window — or, if it
    ever outgrows the 3500-byte guard, that the guard's file-pointer
    fallback produces a small valid line."""
    import json

    import bench
    from data_integration_tool_spark import registry

    # worst-case realistic timings: three digits + two decimals each
    fake = {name: 999.99 for name in registry.specs()}
    line = bench.summary_line(
        fake, 0.1, duckdb_total_sec=99999.99, ratio_spark_over_duckdb=9.999
    )
    assert len(line) < 3900, len(line)
    summary = json.loads(line)  # stays parseable either way
    assert {"metric", "value", "unit", "queries", "sf"} <= set(summary)


def test_join_strategy_advisor_consistent(spark, sf_dir):
    """Advisor output must pick the smaller side and agree with what
    Catalyst itself would do at fixture scale: every table is far below
    the 10 MB broadcast threshold, so all 7 joins must be broadcast
    with the smaller side chosen as the build side."""
    from data_integration_tool_spark.io import load
    from data_integration_tool_spark.plans.advisor import plan_join_strategy

    rows = plan_join_strategy(spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        assert r.strategy.startswith("broadcast_"), r
        smaller = "left" if r.left_bytes <= r.right_bytes else "right"
        assert r.strategy.endswith(smaller), r
    by_pair = {(r.left_tbl, r.right_tbl): r for r in rows}
    li_orders = by_pair[("lineitem", "orders")]
    assert li_orders.left_rows == load(spark, sf_dir, "lineitem").count()
    assert li_orders.strategy == "broadcast_right"


def test_plan_fingerprint_gate_matches_pins(spark, sf_dir):
    """The gate's measured fingerprints must equal the pinned constants
    at the test SF (SF-stability was verified at all three SFs before
    pinning) — and every gated builder must stay side-effect-free at
    build time, or the gate itself would execute work per compile."""
    import inspect

    from data_integration_tool_spark import registry
    from data_integration_tool_spark.plans.advisor import (
        _FP_PINNED,
        plan_fingerprint_gate,
    )

    rows = plan_fingerprint_gate(spark, sf_dir).collect()
    measured = {
        r.query_name: (
            r.n_shuffle_exchanges,
            r.n_broadcast_exchanges,
            r.n_parquet_scans,
        )
        for r in rows
    }
    pinned = {name: (sh, bc, sc) for name, sh, bc, sc in _FP_PINNED}
    assert measured == pinned
    for name in pinned:
        src = inspect.getsource(registry.specs()[name].builder)
        for effect in (
            ".collect()",
            ".write.",
            "eager=True",
            ".count()",
            "conf.set",
        ):
            assert effect not in src, f"{name} builder gained {effect}"


def test_graph_iterative_joins_carry_no_hard_broadcast_hints(spark, sf_dir):
    """r13: graph_kcore's per-round degree joins and graph_adamic_adar's
    term join used to hard-hint F.broadcast on NODE-grain relations —
    graph-scale at 100 TB, and a hard hint can never be demoted.
    adamic_adar leaves the strategy to stats/AQE (measured -13% at
    sf0.1); kcore (r14, VERDICT r13 Next #3) hints deg ONLY under a
    size guard on the round's materialized edge checkpoint — at graph
    scale the guard fails and the joins stay AQE-driven. Pin both at
    the source: adamic_adar must not invoke F.broadcast at all, and
    kcore must not invoke it when the guard threshold is 0 (i.e. the
    hint is provably conditional on the measured size, never hard).
    (kcore's hinted joins run inside eager-checkpoint build jobs, so
    no plan-string assertion on the returned DataFrame could catch a
    regression there.)"""
    from data_integration_tool_spark import registry
    from data_integration_tool_spark.operators import graph as graph_mod

    calls: list[int] = []
    real = graph_mod.F.broadcast
    graph_mod.F.broadcast = lambda df: (calls.append(1), real(df))[1]
    real_thresh = graph_mod._KCORE_BCAST_EDGE_BYTES
    graph_mod._KCORE_BCAST_EDGE_BYTES = 0
    try:
        for name in ("graph_kcore", "graph_adamic_adar"):
            df = registry.specs()[name].builder(spark, sf_dir)
            assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
            assert not calls, f"{name} builder re-grew a hard broadcast hint"
        # conditionality, other direction: at the test SF the guard
        # passes and the hint IS applied — the size check is live, not
        # dead code.
        graph_mod._KCORE_BCAST_EDGE_BYTES = real_thresh
        registry.specs()["graph_kcore"].builder(spark, sf_dir)
        assert calls, "kcore size guard never fired at test SF"
    finally:
        graph_mod.F.broadcast = real
        graph_mod._KCORE_BCAST_EDGE_BYTES = real_thresh


def test_dedup_components_broadcast_is_size_guarded(spark, sf_dir):
    """r14: dedup_components' per-round left join hints nbr_min ONLY
    while the previous round's materialized labels checkpoint is under
    the size guard (the graph_kcore finding: AQE promotes the join to
    BHJ only after the initial plan has shuffled labels as a query
    stage — one wasted doc-grain shuffle per round). Pin the
    conditionality: threshold 0 ⇒ the builder never calls F.broadcast
    (no hard hint on a corpus-scale relation); default threshold ⇒ the
    hint fires at test SF (the guard is live). The builder executes its
    convergence loop, so this also re-proves value stability under
    both settings."""
    from data_integration_tool_spark import registry
    from data_integration_tool_spark.operators import dedup as dedup_mod

    calls: list[int] = []
    real_f = dedup_mod.F

    class _FProxy:
        """Counts F.broadcast calls made from dedup.py ONLY — patching
        the shared functions module would also count the legitimate
        bounded broadcast inside pair_blocks.tile_pair_blocks."""

        def __getattr__(self, name):
            if name == "broadcast":
                return lambda df: (calls.append(1), real_f.broadcast(df))[1]
            return getattr(real_f, name)

    dedup_mod.F = _FProxy()
    real_thresh = dedup_mod._COMPONENTS_BCAST_MAX_BYTES
    dedup_mod._COMPONENTS_BCAST_MAX_BYTES = 0
    try:
        guarded_off = registry.specs()["dedup_components"].builder(
            spark, sf_dir
        ).collect()
        assert not calls, "components re-grew a hard broadcast hint"
        dedup_mod._COMPONENTS_BCAST_MAX_BYTES = real_thresh
        guarded_on = registry.specs()["dedup_components"].builder(
            spark, sf_dir
        ).collect()
        assert calls, "components size guard never fired at test SF"
        assert sorted(map(tuple, guarded_off)) == sorted(
            map(tuple, guarded_on)
        )
    finally:
        dedup_mod.F = real_f
        dedup_mod._COMPONENTS_BCAST_MAX_BYTES = real_thresh


def test_ckpt_bytes_reads_its_own_checkpoint(spark):
    """The kcore and components size guards read the bytes of the
    checkpoint they just made. A larger frame persisted and
    materialized afterwards must not change the answer, for an eager
    checkpoint and for a lazy one an action has materialized."""
    from data_integration_tool_spark.operators.graph import _ckpt_bytes

    eager = spark.range(200).localCheckpoint(eager=True)
    lazy = spark.range(300).localCheckpoint(eager=False)
    assert _ckpt_bytes(lazy) == 0
    lazy.count()
    want = (_ckpt_bytes(eager), _ckpt_bytes(lazy))
    assert min(want) > 0
    big = spark.range(20_000).withColumn("r", F.rand(7)).persist()
    try:
        big.count()
        big_rdd = max(
            spark.sparkContext._jsc.sc().getRDDStorageInfo(),
            key=lambda i: i.id(),
        )
        assert big_rdd.memSize() + big_rdd.diskSize() > want[1]
        assert (_ckpt_bytes(eager), _ckpt_bytes(lazy)) == want
    finally:
        big.unpersist()


def test_udtf_sentence_split_checkpoints_under_the_sort(spark, sf_dir):
    """r13: the final global sort's range-partitioner samples its child
    before sorting it — with the lateral directly underneath, the
    Python UDTF executed twice per action (measured 1.64 s -> 0.91 s
    min-of-5 after the fix). Pin the shape: the sort's child must be a
    checkpointed RDD scan (ExistingRDD), not the lateral itself."""
    from data_integration_tool_spark.operators.udfs import udtf_sentence_split

    df = udtf_sentence_split(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "EvalPython" not in plan and "ArrowUDTF" not in plan, plan


def test_pii_redact_projects_after_the_sort(spark, sf_dir):
    """r13: the range-partitioned sort samples its child before sorting
    — with the 4-regex projection underneath, the regex pass ran twice
    per action (0.55 -> 0.25 s min-of-7 after reordering). Pin the
    shape: the regex projection must sit ABOVE the Sort, so the
    sampling pass only re-runs the cheap concat."""
    from data_integration_tool_spark.operators.curation import pii_redact

    df = pii_redact(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sort_at = plan.index("Sort")
    regex_at = plan.index("regexp_replace")
    assert regex_at < sort_at, plan[:800]


def test_rederivation_fixes_keep_shared_subtrees_single(spark, sf_dir):
    """r13 re-derivation sweep: builders that reference a relation from
    N branches compile N copies of its subtree unless the shared
    relation is checkpointed. Pin the fixed shapes by counting parquet
    scans in the compiled plan (simple mode prints the full tree, so
    duplicated subtrees show up as repeated scans). Ceilings, not
    exact counts, so unrelated plan changes don't false-positive —
    before the fixes these plans compiled 8-24 scans each."""
    from data_integration_tool_spark.registry import specs

    ceilings = {
        "etl_wap_gate": 4,          # was 24 lineitem + 2 orders
        "ts_hurst_exponent": 2,     # was 12 orders
        "agg_jackknife_ratio": 2,   # was 8 lineitem + 8 supplier
        "ts_anomaly_residual": 2,   # was 8 orders
        "ts_seasonal_strength": 2,  # was 8 orders
        # post-fix outer plan shows 0 scans (all 7 per-table stat scans
        # live inside the checkpointed subtree — see the inlined test
        # below, which still sees all 14); was 2 per table (14 total).
        # ADVICE r13 #3: ceiling tightened from 8 to the real count.
        "plan_join_strategy": 1,
        "text_boilerplate_strip": 2,  # was 3 documents
    }
    reg = specs()
    for name, ceiling in ceilings.items():
        df = reg[name].builder(spark, sf_dir)
        plan = tuning.explain_str(df, mode="simple")
        n = plan.count("Scan parquet")
        assert n <= ceiling, f"{name}: {n} parquet scans (> {ceiling})"


def test_checkpointed_subtrees_stay_single_when_inlined(spark, sf_dir):
    """ADVICE r13 #1: a lazy localCheckpoint makes its subtree
    INVISIBLE to the outer-plan scan guards (the outer plan prints the
    checkpoint as a leaf), so a regression inside a checkpointed
    subtree — e.g. a double corpus scan re-grown under bg_counts or a
    stats relation — would no longer trip any gate. Re-count with
    localCheckpoint no-op'd (the documented A/B monkeypatch on the
    classic DataFrame): the inlined plan compiles every reader's copy
    of the shared subtree, so the ceiling watches the work that
    normally lives inside the checkpoint. Ceilings are the measured
    inlined counts at sf0.01 (ceiling, not exact, so unrelated plan
    changes don't false-positive); compile-only, nothing executes."""
    from pyspark.sql.classic.dataframe import DataFrame

    from data_integration_tool_spark.registry import specs

    inlined_ceilings = {
        "etl_wap_gate": 26,
        "agg_jackknife_ratio": 16,
        "plan_join_strategy": 14,
        "ts_hurst_exponent": 12,
        "ts_anomaly_residual": 8,
        "agg_theil_index": 8,
        "funnel_3step": 6,
        "text_pmi_pairs": 5,
        "text_char_bigram_entropy": 4,
        "ts_seasonal_strength": 4,
        "eval_brier_decomposition": 4,
        "win_concurrency_sweep": 4,
        "agg_cuped": 4,
        "anomaly_mad": 4,
        "etl_surrogate_key_plan": 4,
        "dq_outlier_iqr": 4,
        "text_boilerplate_strip": 3,
        "text_tfidf": 3,
        "agg_count_min": 3,
        "seq_time_to_convert": 3,
    }
    reg = specs()
    real = DataFrame.localCheckpoint
    DataFrame.localCheckpoint = lambda self, eager=True: self
    try:
        for name, ceiling in inlined_ceilings.items():
            df = reg[name].builder(spark, sf_dir)
            n = tuning.explain_str(df, mode="simple").count("Scan parquet")
            assert n <= ceiling, (
                f"{name}: {n} inlined parquet scans (> {ceiling}) — a "
                "subtree inside the checkpoint re-grew a scan"
            )
    finally:
        DataFrame.localCheckpoint = real


def test_knn_batch_runs_the_top_k_plan(spark, sf_dir):
    """``similarity.top_k``'s documented plan, bottom-up: the corpus
    streams through ``BroadcastNestedLoopJoin BuildRight``, a partial
    ``WindowGroupLimit`` keeps k rows per query in each task, and only
    then does ``Exchange hashpartitioning(query_id)`` shuffle, ahead of
    the final ``WindowGroupLimit``. No TakeOrdered is involved."""
    from data_integration_tool_spark.operators.similarity import sim_knn_batch

    plan = sim_knn_batch(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()

    def first(*marks):
        return next(i for i, ln in enumerate(lines) if all(m in ln for m in marks))

    # the plan string prints the root first, so execution order reverses
    top_down = [
        first("WindowGroupLimit", "Final"),
        first("Exchange hashpartitioning(query_id"),
        first("WindowGroupLimit", "Partial"),
        first("BroadcastNestedLoopJoin BuildRight"),
    ]
    assert top_down == sorted(top_down), plan
    assert "TakeOrdered" not in plan, plan
