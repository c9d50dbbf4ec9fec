"""The core gate: every registered query with an oracle must match its
DuckDB twin on the same parquet (row count + columns + values). Queries
without an oracle must at least execute and return a stable schema.

Run with SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the full
driver-scale check (default sf0.001 for speed).
"""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from data_integration_tool_spark import registry

from .conftest import TEST_SF_DIR
from .oracle_check import TOLERANT_QUERIES, compare_frames, duck_connect

SPECS = registry.specs()
# Live Structured Streaming harnesses: collected once per session and
# shared with test_streaming.py's reconciliation asserts.
LIVE = {n for n, s in SPECS.items() if {"streaming", "engine"} <= set(s.tags)}


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(TEST_SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_parity(name, spark, sf_dir, duck, collected):
    spec = SPECS[name]
    if name in LIVE:
        schema, rows = collected(name)
        df = spark.createDataFrame(rows, schema)
    else:
        df = spec.builder(spark, sf_dir)
    # Harness contract (CORRECTNESS_r05): the driver's pandas
    # canonicalizer crashes on list/map cells — BEFORE the oracle
    # branch, so even rows-only queries must ship scalar columns only.
    # Arrays/maps must be rendered (array_join / sorted k=v / long form).
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType))
    ]
    assert not bad, (
        f"{name}: driver-visible array/map columns {bad} — render scalar"
    )
    if spec.oracle is None:
        # rows-only contract: runs, has a schema, row count is sane
        n = df.count()
        assert n >= 0
        assert df.columns
        return
    sp = df.toPandas()
    du = duck.execute(spec.oracle).fetchdf()
    # raw-cell exact by default (the driver's hash is exact); a query may
    # opt into rtol=1e-7 only via a documented TOLERANT_QUERIES entry
    problems = compare_frames(sp, du, name, exact=name not in TOLERANT_QUERIES)
    assert not problems, "\n".join(problems)
