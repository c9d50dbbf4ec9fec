"""Cold and warm query wall of the registry, split into build, plan and
exec layers.

    python3 perfbench/run.py --workload etl-light --seed 7 --seconds 10 --trace 0

Run from the repository root. One run is one fresh process on
``local[1]`` (see ``CPUS``): it generates the workload's tables from the seed,
puts the workload's query list in the seed's order, sets up (session,
registry, one warm-up query), makes one cold pass and then warm passes
over the list until ``--seconds`` have passed since the cold pass began
(at least ``MIN_WARM``), and finally checks every query against its
DuckDB twin. Per-query conf and the noop sink are those of ``bench.py``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes the
same run with tracing (see ``tracing.py``) and prints the per-layer
metrics. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the run
record (versions, cores, load average, the list and its hash, the warm
tail percentile with its sample count, and each failure).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

WARMUP_QUERY = "agg_group"
MIN_WARM = 1  # warm passes every run makes, whatever --seconds says
# Spark slots. On a 4-vCPU VM whose cores other tenants share, keeping
# all four busy drew 18-28% CPU steal against ~1% with one busy core;
# one slot, plus the JVM's JIT and GC threads, stays near the latter.
CPUS = 1


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def setup(cpus: int, conf: dict, sf_dir: str, run_id: str | None = None):
    """Session, registry and the warm-up query. With ``run_id`` the
    tracer is installed before the warm-up, so set-up spans are kept."""
    t0 = time.perf_counter()
    sess = harness.Session(cpus, conf)
    tracer = None
    if run_id is not None:
        from tracing import Tracer

        tracer = Tracer(sess.spark, run_id)
        tracer.install()
    sess.run(WARMUP_QUERY, sf_dir)
    return sess, tracer, time.perf_counter() - t0


def run_pass(sess, names: list[str], sf_dir: str, failures: dict[str, str],
             tracer=None, phase: str = "warm") -> dict[str, tuple]:
    """Run the list once. A query that raises is recorded in ``failures``
    and left out of later passes; the pass goes on."""
    out: dict[str, tuple] = {}
    for name in names:
        if name in failures:
            continue
        try:
            if tracer is None:
                out[name] = sess.run(name, sf_dir)
            else:
                with tracer.query(name, phase) as span:
                    out[name] = sess.run(name, sf_dir, tracer)
                tracer.finish_query(span)
        except Exception as e:  # noqa: BLE001 - counted, never fatal
            failures[name] = f"{type(e).__name__}: {str(e)[:300]}"
    return out


def check_all(sess, names: list[str], sf_dir: str, failures: dict[str, str]) -> None:
    duck = harness.duck_for(sf_dir)
    try:
        for name in names:
            if name in failures:
                continue
            try:
                problems = sess.check(name, sf_dir, duck)
            except Exception as e:  # noqa: BLE001 - counted, never fatal
                problems = [f"{type(e).__name__}: {str(e)[:300]}"]
            if problems:
                failures[name] = problems[0][:300]
    finally:
        duck.close()


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    try:
        harness.check_checkout()
    except harness.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(harness.WORK, f"tmp-{os.getpid()}")
    conf = harness.isolate(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1" if w.cache_tables else "0"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        load_before = os.getloadavg()[0]
        sf_dir = datagen.ensure(os.path.join(harness.WORK, "data"), args.seed, w.sf)
        names = workloads.select(w, args.seed, workloads.load_pool(w.name))
        if args.trace:
            result, record = traced_run(args, w, cpus, conf, sf_dir, names)
        else:
            result, record = timed_run(args, w, cpus, conf, sf_dir, names)
        record.update({
            "workload": w.name, "seed": args.seed, "sf": w.sf,
            "cache_tables": w.cache_tables, "nproc": len(os.sched_getaffinity(0)),
            "master": f"local[{cpus}]", "list_hash": workloads.list_hash(names),
            "queries": names, "loadavg_before": load_before,
            "loadavg_after": os.getloadavg()[0],
        })
    finally:
        harness.cleanup(tmp)
    print("perfbench record: " + json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def _versions(sess) -> dict:
    import pyspark

    java = sess.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {"pyspark": pyspark.__version__, "java": java}


def timed_run(args, w, cpus, conf, sf_dir, names) -> tuple[dict, dict]:
    sess, _, took = setup(cpus, conf, sf_dir)
    failures: dict[str, str] = {}
    try:
        t0, c0 = time.perf_counter(), sess.cpu_s()
        cold = run_pass(sess, names, sf_dir, failures, phase="cold")
        cpu = [sess.cpu_s() - c0]
        warm = []
        while len(warm) < MIN_WARM or time.perf_counter() - t0 < args.seconds:
            c0 = sess.cpu_s()
            warm.append(run_pass(sess, names, sf_dir, failures))
            cpu.append(sess.cpu_s() - c0)
        check_all(sess, names, sf_dir, failures)
        rss = sess.jvm_peak_rss_mb()
        record = _versions(sess)
    finally:
        sess.stop()
    values, notes = metrics.end_to_end(took, cold, warm, MIN_WARM, rss, cpu)
    record.update(notes, failures=failures)
    return _result(names, failures, metrics.render(values, metrics.END_TO_END)), record


def traced_run(args, w, cpus, conf, sf_dir, names) -> tuple[dict, dict]:
    from tracing import summarize_pass

    run_id = f"{w.name}-{args.seed}-{os.getpid()}"
    sess, tracer, _ = setup(cpus, conf, sf_dir, run_id)
    failures: dict[str, str] = {}
    try:
        setup_spans = list(tracer.spans)
        t0 = time.perf_counter()
        mark = len(tracer.spans)
        cold = run_pass(sess, names, sf_dir, failures, tracer, phase="cold")
        cold_sum = summarize_pass(tracer.spans[mark:], cold, cpus)
        traced, plain = [], []
        while (min(len(traced), len(plain)) < 2
               or time.perf_counter() - t0 < args.seconds):
            if len(traced) <= len(plain):
                mark = len(tracer.spans)
                recs = run_pass(sess, names, sf_dir, failures, tracer)
                traced.append(summarize_pass(tracer.spans[mark:], recs, cpus))
            else:
                tracer.remove()
                recs = run_pass(sess, names, sf_dir, failures)
                plain.append(sum(r[3] for r in recs.values()))
                tracer.install()
        tracer.remove()
        check_all(sess, names, sf_dir, failures)
        record = _versions(sess)
        record["traced_pass_walls"] = [t["wall_s"] for t in traced]
        record["plain_pass_walls"] = plain
    finally:
        sess.stop()
    values = {k: statistics.median(t[k] for t in traced)
              for k in metrics.PER_LAYER if k in traced[0]}
    py4j = [t["build.py4j_calls"] for t in traced]
    values.update({
        "build.py4j_calls_spread": (max(py4j) - min(py4j)) / max(1, statistics.median(py4j)),
        "cold.build.self_s": cold_sum["build.self_s"],
        "cold.exec.cpu_s": cold_sum["exec.cpu_s"],
        "session.get_spark_s": sess.times["session.get_spark_s"],
        "registry.specs_s": sess.times["registry.specs_s"],
        "shipping.ship_package_s": sum(
            s["end"] - s["start"] for s in setup_spans
            if s["name"] == "shipping.ship_package"),
        "trace.overhead_s": statistics.median(t["wall_s"] for t in traced)
        - statistics.median(plain),
        "trace.reconcile_max_frac": max(t["reconcile_max_frac"] for t in traced),
    })
    os.makedirs(os.path.join(harness.WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(harness.WORK, "traces", f"{run_id}.json"),
                {"names": names, "failures": failures})
    return _result(names, failures, metrics.render(values, metrics.PER_LAYER)), record


def _result(names: list[str], failures: dict[str, str], rendered: dict) -> dict:
    return {"correct": not failures, "attempted": len(names),
            "failed": len(failures), "metrics": rendered}


if __name__ == "__main__":
    sys.exit(main())
