"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. The line also carries "cpus",
"aqe_off_shuffle_partitions" (the shuffle partitions of the AQE-off
queries, min(8, cpus); see benchconf) and how the driver JVM sized
itself for them: "jvm_processors" (its availableProcessors()) and
"jvm_gc" (its garbage collectors).

Output contract: the driver keeps only the ~4 KB TAIL of stdout and
json-parses the final line, so the final line must be compact —
per-query timings are rounded to 2 decimals and the line is kept well
under 4 KB. Full-precision per-run timings go to bench_detail.json next
to this file; it is not load-bearing for the driver.

Each query is timed over BENCH_ITERS runs (default 2) and the MINIMUM is
reported: single-run numbers carry JVM/GC spikes (8 s for a 15 k-row
INTERSECT that reruns at <0.5 s) that say nothing about the plan.
Execution is forced with the noop sink (computes every row, writes
nothing) so lazy plans can't cheat, and session/JVM warmup is excluded
via a separate warmup run.

Flags:
  --only NAME...  time only the named queries.
  --duck          time only the oracled queries, each followed at once by
                  its DuckDB twin (fetchall, min of BENCH_ITERS). A host
                  load burst then hits both columns nearly equally, so
                  the ratio holds even when the totals drift. The
                  summary gains duckdb_total_sec and
                  ratio_spark_over_duckdb; bench_detail.json gains the
                  "duckdb" runs.

The heavy class at 10x scale (data from tools/upsample.py):
  SPARK_GRAFT_SF_DIR=scratch/sf1 python bench.py --only <names>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_integration_tool_spark import benchconf, registry
from data_integration_tool_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
)


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_runs(iters: int, fn) -> list[float]:
    runs = []
    for _ in range(iters):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return runs


def summary_line(timings: dict[str, float], sf: float | None,
                 **extra) -> str:
    """The final stdout line the driver parses: compact JSON that fits
    the ~4 KB tail window, falling back to a pointer at the detail file
    when the per-query map would outgrow it."""
    summary = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # 1/5/15-min load average at measurement time: co-tenant load
        # inflates totals uniformly, so each run carries its own evidence
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        **extra,
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 3500:
        summary["queries"] = {"detail": DETAIL_PATH}
        line = json.dumps(summary, separators=(",", ":"))
    return line


def jvm_sizing(spark) -> dict:
    """How the driver JVM sized itself: the processor count its
    ergonomics read (``session.get_spark`` caps it at the Spark slots)
    and the garbage collectors that count picked."""
    jvm = spark.sparkContext._jvm
    gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {
        "jvm_processors": jvm.java.lang.Runtime.getRuntime().availableProcessors(),
        "jvm_gc": [b.getName() for b in gcs],
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Time registered queries; print one JSON line."
    )
    ap.add_argument("--only", nargs="+", metavar="NAME",
                    help="time only these queries")
    ap.add_argument("--duck", action="store_true",
                    help="interleave each oracled query's DuckDB twin")
    args = ap.parse_args(argv)

    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    # one session, hundreds of queries: persist each base table once
    # instead of re-scanning parquet per query (io.load honors this flag)
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    specs = registry.specs()
    skipped = [n for n, s in specs.items() if "bench-skip" in s.tags]
    names = sorted(set(specs) - set(skipped))
    if args.only:
        unknown = sorted(set(args.only) - set(names))
        if unknown:
            ap.error(f"not timed queries: {unknown}")
        names = sorted(set(args.only))
    if args.duck:
        names = [n for n in names if specs[n].oracle is not None]
    if not names:
        ap.error("no queries to time")

    spark = get_spark(app_name="bench", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    sizing = jvm_sizing(spark)
    # keep the driver's stdout-tail parse window clean of the benign
    # accumulator-race ERROR spew (see benchconf for the root cause)
    benchconf.silence_dagscheduler_accumulator_spew(spark)

    # warmup: JVM + parquet footer caches, excluded from timings
    _run(specs["agg_group"].builder(spark, SF_DIR))
    con = None
    if args.duck:
        from tests.oracle_check import duck_connect

        con = duck_connect(SF_DIR)
        con.execute(specs["agg_group"].oracle).fetchall()

    # Per-workload conf split (shuffle partitions + AQE); the sets and
    # their measured rationale live in benchconf.
    heavy = benchconf.heavy_set(specs)
    aqe_pinned = benchconf.aqe_pinned_set(specs)

    iters = max(1, int(os.environ.get("BENCH_ITERS", "2")))
    if skipped:
        # no silent caps: correctness-harness queries (they run the
        # operator AND its twin plus staging I/O) are excluded from the
        # throughput total, visibly
        print(f"bench-skip (verification harnesses, not timed): {skipped}",
              file=sys.stderr)
    per_run: dict[str, list[float]] = {}
    duck_run: dict[str, list[float]] = {}
    for name in names:
        spec = specs[name]
        benchconf.apply_query_conf(spark, name, heavy, aqe_pinned, CPUS)
        per_run[name] = _timed_runs(
            iters, lambda: _run(spec.builder(spark, SF_DIR))
        )
        if con is not None:
            duck_run[name] = _timed_runs(
                iters, lambda: con.execute(spec.oracle).fetchall()
            )

    timings = {name: round(min(runs), 2) for name, runs in per_run.items()}
    # None (not a crash) when the dir does not follow the sf<N> convention
    sf = benchconf.parse_sf(SF_DIR)
    cpus = int(CPUS) if CPUS.isdigit() else CPUS
    extra = {"cpus": cpus,
             "aqe_off_shuffle_partitions": benchconf.aqe_off_partitions(CPUS),
             **sizing}
    detail = {
        "iters": iters,
        "sf": sf,
        **extra,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "runs": per_run,
    }
    if con is not None:
        detail["duckdb"] = duck_run
        sp_total = sum(min(r) for r in per_run.values())
        du_total = sum(min(r) for r in duck_run.values())
        extra |= {
            "duckdb_total_sec": round(du_total, 2),
            "ratio_spark_over_duckdb": round(sp_total / du_total, 3),
        }
    with open(DETAIL_PATH, "w") as f:
        json.dump(detail, f, indent=1)
    sys.stdout.flush()
    print(summary_line(timings, sf, **extra))


if __name__ == "__main__":
    main()
