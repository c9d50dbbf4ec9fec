"""The timing harness and the sf1 generator, run as shipped: bench.py as
a subprocess (its stdout contract is what the driver parses) and
tools/upsample.py's function on the smallest fixture."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb

from tools.upsample import COPY_ASIS, FACTOR, KEYS, upsample

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_duck_only_prints_summary_line(sf_dir, tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2",
               BENCH_ITERS="1")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"),
         "--only", "agg_group", "join_multiway", "--duck"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        check=True,
    )
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert {"metric", "value", "unit", "queries", "sf", "duckdb_total_sec",
            "ratio_spark_over_duckdb", "cpus", "aqe_off_shuffle_partitions",
            "jvm_processors", "jvm_gc"} <= set(summary)
    assert summary["cpus"] == 2
    assert summary["aqe_off_shuffle_partitions"] == 2
    assert summary["jvm_processors"] == min(2, len(os.sched_getaffinity(0)))
    assert summary["jvm_gc"] and all(isinstance(g, str) for g in summary["jvm_gc"])
    assert set(summary["queries"]) == {"agg_group", "join_multiway"}
    assert summary["ratio_spark_over_duckdb"] > 0


def test_upsample_keys_rows_and_joins(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "sf1")
    upsample(spark, sf_dir, dst)
    # checked from DuckDB: an engine independent of the writer
    con = duckdb.connect()
    tables = list(KEYS) + list(COPY_ASIS)
    for schema, path in (("src", f"{sf_dir}/{{}}.parquet"),
                         ("dst", f"{dst}/{{}}.parquet/*.parquet")):
        con.execute(f"CREATE SCHEMA {schema}")
        for t in tables:
            con.execute(f"CREATE VIEW {schema}.{t} AS "
                        f"SELECT * FROM read_parquet('{path.format(t)}')")

    def count(sql):
        return con.execute(f"SELECT count(*) FROM {sql}").fetchone()[0]

    for t in tables:
        factor = 1 if t in COPY_ASIS else FACTOR
        assert count(f"dst.{t}") == factor * count(f"src.{t}"), t
    for t, keys in KEYS.items():
        types = {r[0]: r[1] for r in con.execute(f"DESCRIBE dst.{t}").fetchall()}
        assert all(types[c] == "BIGINT" for c in keys), (t, types)

    def joins(s):
        return (count(f"{s}.orders JOIN {s}.lineitem ON o_orderkey = l_orderkey"),
                count(f"{s}.orders JOIN {s}.customer ON o_custkey = c_custkey"))

    src_counts = joins("src")
    assert all(n > 0 for n in src_counts)
    assert joins("dst") == tuple(FACTOR * n for n in src_counts)
