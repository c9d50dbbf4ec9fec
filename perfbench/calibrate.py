"""Rebuild ``pool/<workload>.json``: the queries a workload may draw from.

Runs every candidate of every workload once on generated data at the
workload's scale and cache setting, timing it, then makes the DuckDB
check; the check is repeated on the data of each further seed.
A query stays in the pool only if it never raised or mismatched; its
wall is kept for the cost strata and the workload's ``keep`` share.
Excluded queries are kept in the file with the reason.

    python3 perfbench/calibrate.py --seeds 101 202 [--workload NAME]

Run it from the repository root after the registry changes; the pool is
part of the benchmark's definition, so a change to it is a change to
the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402

CHECK_LIMIT_S = 10.0  # run plus DuckDB check of one query, per seed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[101, 202])
    ap.add_argument("--workload", action="append", choices=sorted(workloads.WORKLOADS))
    args = ap.parse_args()
    harness.check_checkout()
    tmp = os.path.join(harness.WORK, f"tmp-{os.getpid()}")
    conf = harness.isolate(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.makedirs(workloads.POOL_DIR, exist_ok=True)
    sess = harness.Session(os.cpu_count(), conf)
    try:
        for wname in args.workload or sorted(workloads.WORKLOADS):
            pool = calibrate(sess, workloads.WORKLOADS[wname], args.seeds)
            with open(workloads.pool_path(wname), "w") as f:
                json.dump(pool, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        sess.stop()
        harness.cleanup(tmp)


def _cancel(sess: harness.Session, duck) -> None:
    duck.interrupt()
    sess.spark.sparkContext.cancelAllJobs()


def calibrate(sess: harness.Session, w: workloads.Workload, seeds: list[int]) -> dict:
    from data_integration_tool_spark import benchconf

    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1" if w.cache_tables else "0"
    cands = workloads.candidates(w, sess.specs, benchconf.heavy_set(sess.specs))
    excluded: dict[str, str] = {}
    cost: dict[str, float] = {}
    for i, seed in enumerate(seeds):
        sf_dir = datagen.ensure(os.path.join(harness.WORK, "data"), seed, w.sf)
        duck = harness.duck_for(sf_dir)
        for names in cands.values():
            for name in names:
                if name in excluded:
                    continue
                # a check that cannot finish inside the limit would not fit
                # in a run either: cancel it and leave the query out
                timer = threading.Timer(CHECK_LIMIT_S, _cancel, (sess, duck))
                timer.start()
                try:
                    if i == 0:
                        cost[name] = sess.run(name, sf_dir)[3]
                    t0 = time.perf_counter()
                    problems = sess.check(name, sf_dir, duck)
                    if time.perf_counter() - t0 > CHECK_LIMIT_S:
                        problems = [f"check took over {CHECK_LIMIT_S} s"]
                except Exception as e:  # noqa: BLE001 - recorded, not fatal
                    problems = [f"{type(e).__name__}: {str(e)[:200]}"]
                finally:
                    timer.cancel()
                if problems:
                    excluded[name] = f"seed {seed}: {problems[0][:200]}"
                print(f"{w.name} seed={seed} {name} "
                      f"{cost.get(name, 0):.3f} {excluded.get(name, 'ok')}",
                      flush=True)
        duck.close()
    out: dict = {cls: {n: round(cost[n], 4) for n in names if n not in excluded}
                 for cls, names in cands.items()}
    out["excluded"] = excluded
    return out


if __name__ == "__main__":
    t0 = time.time()
    main()
    print(f"calibrated in {time.time() - t0:.0f} s")
