"""Metric names, units and the pure summaries behind them."""

from __future__ import annotations

import math
import statistics

# The walls of a pass are in the run record, not here: on a VM whose
# cores other tenants share, the walls of identical work (set-up, the
# same list on the same data) spread by a quarter to a third across ten
# runs, while the CPU seconds of those passes spread by about a tenth.
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "jvm_peak_rss_mb": "MB",
}

# per-layer metrics of the traced run; sums over one pass of the list
PER_LAYER = {
    "build.s": "s",
    "build.self_s": "s",
    "build.py4j_calls": "count",
    "build.py4j_calls_spread": "ratio",
    "build.eager_jobs": "count",
    "exprs.calls": "count",
    "exprs.py4j_calls": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.idle_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "pair_blocks.calls": "count",
    "io.load_calls": "count",
    "io.cache_hit_ratio": "ratio",
    "cold.build.self_s": "s",
    "cold.exec.cpu_s": "s",
    "session.get_spark_s": "s",
    "registry.specs_s": "s",
    "shipping.ship_package_s": "s",
    "trace.overhead_s": "s",
    "trace.reconcile_max_frac": "ratio",
}

MIN_TAIL_BEYOND = 10


def tail_percentile(n_samples: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    return max(0, math.floor(100 * (n_samples - MIN_TAIL_BEYOND) / n_samples))


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def end_to_end(setup_s: float, cold: dict[str, tuple],
               warm: list[dict[str, tuple]], min_warm: int,
               rss_mb: float, cpu: list[float]) -> tuple[dict[str, float], dict]:
    """End-to-end metrics from the set-up time, the cold pass and the warm
    passes (each a {query: (build, plan, exec, wall)} map) and the CPU
    seconds of each pass, cold first. Returns the metrics and notes
    printed beside them."""
    names = [n for n in cold if all(n in p_ for p_ in warm)]
    samples = [p_[n][3] for p_ in warm for n in names]
    # the percentile is fixed by the guaranteed pass count, so it does not
    # move with how many extra passes fit in the run
    p = tail_percentile(len(names) * min_warm)
    per_query = [statistics.median(p_[n][3] for p_ in warm) for n in names]
    values = {
        "setup_s": setup_s,
        "cold_cpu_s": cpu[0],
        "warm_cpu_s": statistics.median(cpu[1:]),
        "jvm_peak_rss_mb": rss_mb,
    }
    # A run's list is a handful of queries a few tenths of a second apart,
    # so its median and tail jump between neighbouring queries from run to
    # run: they go in the run record, with the tail's percentile and
    # sample count, not in the metrics.
    notes = {"cold_wall_s": sum(cold[n][3] for n in names),
             "warm_wall_s": statistics.median(
                 sum(p_[n][3] for n in names) for p_ in warm),
             "query_p50_s": statistics.median(per_query),
             "query_tail_s": percentile(samples, p), "query_tail_pct": p,
             "query_tail_samples": len(samples), "warm_passes": len(warm)}
    return values, notes


def render(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}
