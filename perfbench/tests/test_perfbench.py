"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_selection_is_deterministic_per_seed(name):
    w = workloads.WORKLOADS[name]
    pool = workloads.load_pool(name)
    a = workloads.select(w, 7, pool)
    assert a == workloads.select(w, 7, pool)
    assert workloads.list_hash(a) == workloads.list_hash(list(a))
    assert len(a) == len(set(a)) == sum(w.picks.values())
    lists = [workloads.select(w, s, pool) for s in range(7, 14)]
    assert len({tuple(x) for x in lists}) > 1  # the seed reorders
    assert all(set(x) == set(a) for x in lists)  # the set is fixed


def test_every_metric_is_declared_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    cold = {"a": (0.1, 0.01, 0.2, 0.32), "b": (0.2, 0.02, 0.4, 0.63)}
    warm = [{"a": (0.05, 0.01, 0.1, 0.17), "b": (0.1, 0.01, 0.2, 0.32)}] * 3
    values, notes = metrics.end_to_end(1.1, cold, warm, 3, 900.0, [2.0, 1.0, 1.2, 1.1])
    rendered = metrics.render(values, metrics.END_TO_END)
    assert set(rendered) == set(metrics.END_TO_END)
    for name, m in rendered.items():
        assert m["unit"] == metrics.END_TO_END[name]
        assert isinstance(m["value"], float) and m["value"] > 0
    assert values["setup_s"] == 1.1
    assert notes["query_tail_samples"] == 6


class _FlakySession:
    """Stands in for harness.Session: one builder raises, one twin differs."""

    def run(self, name, sf_dir, tracer=None):
        if name == "broken":
            raise ValueError("deliberate builder failure")
        return (0.1, 0.01, 0.2, 0.31)

    def check(self, name, sf_dir, duck):
        return ["wrong: row count spark=1 duck=2"] if name == "wrong" else []


def test_failing_builder_is_counted_not_fatal(monkeypatch):
    class _Duck:
        def close(self):
            pass

    monkeypatch.setattr(run.harness, "duck_for", lambda sf_dir: _Duck())
    names = ["ok1", "broken", "wrong", "ok2"]
    failures: dict[str, str] = {}
    sess = _FlakySession()
    cold = run.run_pass(sess, names, "sf", failures)
    warm = [run.run_pass(sess, names, "sf", failures) for _ in range(3)]
    run.check_all(sess, names, "sf", failures)
    assert set(cold) == {"ok1", "wrong", "ok2"}
    assert all(set(p) == {"ok1", "wrong", "ok2"} for p in warm)
    assert set(failures) == {"broken", "wrong"}
    result = run._result(names, failures, {})
    assert result["correct"] is False
    assert (result["attempted"], result["failed"]) == (4, 2)


def test_traced_layers_reconcile_with_query_wall():
    """One short traced run end to end: every per-layer metric is printed
    and build + plan + exec is within 5% of each query's traced wall."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl-light",
           "--seed", "3", "--seconds", "1", "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(metrics.PER_LAYER)
    assert result["metrics"]["trace.reconcile_max_frac"]["value"] < 0.05
    assert result["metrics"]["build.s"]["value"] > 0
