"""Driver-faithful smoke check: run registered queries on a VANILLA
SparkSession (no engine configs — the per-round driver supplies its own
plain session) and compare against the DuckDB oracle exactly like the
t2 harness. Usage:

    python tools/check.py [sf_dir] name1 name2 ...
    python tools/check.py            # all queries + entry(), sf0.01

Exit code 0 = every requested query matches (or is rows-only and
returned rows).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    from pyspark.sql import SparkSession

    # Deliberately vanilla: master only, nothing else — any conf the
    # engine needs must be set at runtime by the engine itself.
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from oracle_check import TOLERANT_QUERIES, compare_frames, duck_connect

    from data_integration_tool_spark import registry

    specs = registry.specs()
    names = args or list(specs)
    con = duck_connect(sf_dir)
    failed = []
    for name in names:
        spec = specs[name]
        try:
            df = spec.builder(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                print(f"{name}: rows-only, {n} rows")
                if n == 0:
                    failed.append(name)
                continue
            sp = df.toPandas()
            du = con.execute(spec.oracle).fetchdf()
            # Mirror the parity suite (and the driver's rounding hash):
            # the calibrated TOLERANT_QUERIES list opts into rtol=1e-7
            # for its documented last-ULP float-sum/libm divergences.
            problems = compare_frames(
                sp, du, name, exact=name not in TOLERANT_QUERIES
            )
            print(f"{name}: {'OK' if not problems else 'MISMATCH'}")
            for p in problems:
                print("   ", p)
            if problems:
                failed.append(name)
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            failed.append(name)
    # entry() must also run on the vanilla session
    if not args:
        res = entry.entry(spark)
        print(f"entry(): {res.count()} rows")
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print(f"all {len(names)} ok at {sf_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
