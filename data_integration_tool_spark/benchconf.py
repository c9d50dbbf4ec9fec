"""Per-query bench-session configuration.

Every timing harness applies ONE per-query conf split (shuffle
partitions, AQE), and it lives here: ``bench.py`` (default run and
``--duck``) and ``perfbench/`` both call ``apply_query_conf`` with the
sets below, so their timings compare like for like.

The rule, for a session with ``cpus`` Spark slots:

- heavy (``heavy_set``): ``cpus`` shuffle partitions, AQE on;
- AQE-pinned (``aqe_pinned_set``): 8 shuffle partitions, AQE on;
- every other query: ``min(8, cpus)`` shuffle partitions, AQE off.

At bench scale a light query's cost is per-task scheduling, not data.
With AQE off nothing coalesces the reduce side at runtime, so each
partition past the slot count is one more task, shuffle block and
scheduling round that buys no parallelism. AQE-pinned queries keep 8
because AQE coalesces them anyway and some of their outputs depend on
the adaptive plan. At ``cpus >= 8`` (bench.py's 32 slots) the rule is
the plain 8 / ``cpus`` split. The classification rationale (measured
at sf0.1) lives with the sets here; see BASELINE.md for the numbers.
"""

from __future__ import annotations

import re


def heavy_set(specs) -> set[str]:
    """Queries that want full shuffle parallelism + AQE.

    Pair-generating dedup/similarity/decontamination queries shuffle
    millions of rows and want one shuffle partition per slot; everything
    else at bench scale is dominated by task-scheduling overhead and
    wants at most 8 partitions, and no more than the slots when AQE is
    off (see ``apply_query_conf``). Measured at sf0.1: light queries
    ~1.8x faster at 8 than at 32, dedup_minhash ~1.4x faster at 32.
    "decontamination" joined in r10 (same pair-generating gram joins
    as dedup; its r9 misfiling as light was the only >1.5x shared-set
    regression of r9).
    """
    return {
        name
        for name, spec in specs.items()
        if {"dedup", "similarity", "decontamination"} & set(spec.tags)
    }


def aqe_pinned_set(specs) -> set[str]:
    """Queries that keep default (on) AQE even when not heavy.

    AQE is a big-shuffle optimizer: on sub-second queries its per-stage
    re-optimization rounds are pure overhead (light sweep 0.28 -> 0.22
    s/query with AQE off at sf0.1). Keep it ON for graph/iterative/join
    shapes (where coalescing and skew handling earn their keep — and
    exactly what you'd run at 100 TB) and for queries whose OUTPUT
    depends on the adaptive plan.

    INVARIANT (ADVICE r11): any query that INTROSPECTS the physical
    plan (reads executedPlan / pins plan shapes) MUST carry the
    "regression-gate" tag — that tag is what keeps it on default AQE
    here, matching the driver's conf. A plan-introspecting query
    without it would silently run AQE-off in bench while the driver
    runs AQE-on, diverging the measured shape from the pinned one.

    plan_join_strategy is excluded: its "join" tag is topical (it
    ADVISES join strategies); the query itself is 7 tiny table-stat
    aggregates + 2 broadcast joins — no adaptive decision to make,
    only adaptive overhead (1.23 -> 0.90 s min at sf0.1 with AQE off).
    """
    return (
        {
            name
            for name, spec in specs.items()
            if {"regression-gate", "graph", "iterative", "join"}
            & set(spec.tags)
        }
        | {"join_skew_aqe", "join_bucketed"}
    ) - {"plan_join_strategy"}


def aqe_off_partitions(cpus: str) -> int:
    """Shuffle partitions of an AQE-off query: at most 8, and no more
    than the session's ``cpus`` slots."""
    return min(8, int(cpus))


def apply_query_conf(spark, name: str, heavy: set[str],
                     aqe_pinned: set[str], cpus: str) -> None:
    """Set the per-query runtime conf exactly as both harnesses must.

    Heavy queries get ``cpus`` shuffle partitions, AQE-pinned ones 8,
    both with AQE on. The rest run AQE off at ``min(8, cpus)``: with
    nothing to coalesce the reduce side, a partition past the slot
    count only adds a task per shuffle stage. ``cpus`` is the session's
    slot count as a string.
    """
    aqe = name in heavy or name in aqe_pinned
    if name in heavy:
        parts = str(cpus)
    elif aqe:
        parts = "8"
    else:
        parts = str(aqe_off_partitions(cpus))
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    spark.conf.set("spark.sql.adaptive.enabled", "true" if aqe else "false")


def silence_dagscheduler_accumulator_spew(spark) -> None:
    """Drop the DAGScheduler logger to FATAL for this session.

    Root cause of the bench-tail ERROR spew (VERDICT r12 Next #3):
    a known-benign Spark race — a straggler task reports its SQL-metric
    accumulators after the stage's registration was dropped, and
    DAGScheduler logs "Failed to update accumulator ... non-existent
    accumulator" at ERROR. More frequent since r12's lazy
    localCheckpoints (their RDDs materialize inside final jobs, so
    more stages retire while stragglers are still in flight). rc and
    results are unaffected, but the driver parses the LAST line of a
    ~4 KB output tail — ERROR lines landing near the summary JSON are
    a parse hazard. FATAL on this one logger keeps the tail clean;
    real failures still surface as exceptions on the query itself.
    """
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )


def parse_sf(sf_dir: str) -> float | None:
    """Scale factor from a .../sfN.NN dir name; None when it doesn't
    match the convention (ADVICE r12 #3 — don't crash the summary on
    an unconventional path)."""
    m = re.search(r"sf(\d+(?:\.\d+)?)/?$", sf_dir)
    return float(m.group(1)) if m else None
