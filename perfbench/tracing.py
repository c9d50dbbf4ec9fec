"""Tracing for the ``--trace 1`` run: spans, counts and Spark counters.

Spans are recorded only from the benchmark's side: around the three
layer calls of each query, and around ``io.load``, the ``exprs``
helpers, ``pair_blocks.tile_pair_blocks`` and ``shipping.ship_package``,
which are rebound (by identity) in every package module that imported
them. py4j round trips are counted by wrapping the gateway client's
``send_command``. Each query runs under its own Spark job group; after
its wall ends, its jobs and stages are read from the status tracker and
the status store (the UI stays off), and each job goes to the layer
span it was submitted in. Everything stays in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time

PACKAGE = "data_integration_tool_spark"
EXPRS = ("micro", "cents", "hash_cutoff")

STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_s": "executorRunTime",  # ms
    "cpu_s": "executorCpuTime",  # ns
    "gc_s": "jvmGcTime",  # ms
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
_SCALE = {"run_s": 1e-3, "gc_s": 1e-3, "cpu_s": 1e-9}
_NO_JOBS = {"jobs": 0, "stages": 0, "job_s": 0.0, **{k: 0.0 for k in STAGE_FIELDS}}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.py4j = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "run": self.run_id,
            "name": name,
            "start": time.perf_counter(),
            "py4j0": self.py4j,
            **attrs,
        }
        self.spans.append(span)
        self.stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["py4j"] = self.py4j - span.pop("py4j0")
        self.stack.pop()

    @contextlib.contextmanager
    def query(self, name: str, phase: str):
        """A query span with the query's own job group. The group is set
        before the span opens, so no Spark call falls between layers."""
        group = f"perfbench-{self.run_id}-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        span = self._open("query", query=name, phase=phase, group=group)
        try:
            yield span
        finally:
            self._close(span)

    @contextlib.contextmanager
    def layer(self, query: str, layer: str):
        span = self._open(layer, wall0=time.time())
        try:
            yield span
        finally:
            span["wall1"] = time.time()
            self._close(span)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {}
            if name == "io.load":
                from data_integration_tool_spark import io

                key = (id(args[0]), *args[1:3]) if len(args) >= 3 else None
                attrs["hit"] = (os.environ.get("SPARK_GRAFT_CACHE_TABLES") == "1"
                                and key in io._TABLE_CACHE)
            span = self._open(name, **attrs)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span)

        return traced

    # -- install / remove ----------------------------------------------
    def install(self) -> None:
        from data_integration_tool_spark import exprs, io, shipping
        from data_integration_tool_spark.operators import pair_blocks

        originals = {io.load: "io.load",
                     shipping.ship_package: "shipping.ship_package",
                     pair_blocks.tile_pair_blocks: "pair_blocks.tile_pair_blocks"}
        originals.update({getattr(exprs, n): f"exprs.{n}" for n in EXPRS})
        wrappers = {fn: self._wrap(label, fn) for fn, label in originals.items()}
        for mod in [m for k, m in sys.modules.items()
                    if k == PACKAGE or k.startswith(PACKAGE + ".")]:
            for attr, value in list(vars(mod).items()):
                if callable(value) and _hashable(value) and value in wrappers:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrappers[value])
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._patched.append((client, "send_command", None))

    def remove(self) -> None:
        for obj, attr, value in reversed(self._patched):
            if value is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, value)
        self._patched.clear()

    # -- Spark counters --------------------------------------------------
    def finish_query(self, query_span: dict) -> None:
        """After a query's wall has ended: read its jobs and stages, give
        each job to the layer span it was submitted in, and count the
        exchanges of its plan."""
        layers = [s for s in self.spans[query_span["id"] + 1:]
                  if s["parent"] == query_span["id"]]
        for span in layers:
            span["spark"] = dict(_NO_JOBS)
            span["_intervals"] = []
            plan = span.pop("plan", None)
            if plan is not None:
                span["exchanges"] = count_exchanges(plan)
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(query_span["group"]):
            info = tracker.getJobInfo(jid)
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if info is None or not sub.isDefined():
                continue
            t_sub = sub.get().getTime() / 1000.0
            # the last layer that began before the job was submitted
            span = max((s for s in layers if s["wall0"] <= t_sub + 0.002),
                       key=lambda s: s["wall0"], default=layers[0])
            out = span["spark"]
            out["jobs"] += 1
            if done.isDefined():
                span["_intervals"].append((t_sub, done.get().getTime() / 1000.0))
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                out["stages"] += 1
                for key, field in STAGE_FIELDS.items():
                    out[key] += getattr(st, field)() * _SCALE.get(key, 1)
        for span in layers:
            span["spark"]["job_s"] = _union(span.pop("_intervals"))

    def dump(self, path: str, extra: dict) -> None:
        spans = [{k: v for k, v in s.items() if k != "plan"} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans, **extra}, f)


def _hashable(value) -> bool:
    try:
        hash(value)
    except TypeError:
        return False
    return True


def summarize_pass(spans: list[dict], recs: dict[str, tuple], cpus: int) -> dict:
    """Per-layer totals over one traced pass. ``recs`` holds each query's
    (build, plan, exec, wall) as timed from outside."""
    t = {k: 0.0 for k in (
        "build.s", "build.self_s", "build.py4j_calls", "build.eager_jobs",
        "exprs.calls", "exprs.py4j_calls", "plan.s", "plan.exchanges",
        "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
        "exec.cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
        "pair_blocks.calls", "io.load_calls")}
    names = {s["id"]: s["name"] for s in spans}
    hits = 0
    for s in spans:
        if "end" not in s:  # left open by a query that raised
            continue
        name, dur = s["name"], s["end"] - s["start"]
        if name == "build":
            t["build.s"] += dur
            t["build.self_s"] += dur - s.get("spark", _NO_JOBS)["job_s"]
            t["build.py4j_calls"] += s["py4j"]
            t["build.eager_jobs"] += s.get("spark", _NO_JOBS)["jobs"]
        elif name == "plan":
            t["plan.s"] += dur
            t["plan.exchanges"] += s.get("exchanges", 0)
        elif name == "exec":
            sp = s.get("spark", _NO_JOBS)
            t["exec.s"] += dur
            t["exec.jobs"] += sp["jobs"]
            t["exec.stages"] += sp["stages"]
            for key in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                        "shuffle_write_bytes", "input_bytes"):
                t[f"exec.{key}"] += sp[key]
            t["exec.spill_bytes"] += sp["memory_spill_bytes"] + sp["disk_spill_bytes"]
        elif name.startswith("exprs."):
            t["exprs.calls"] += 1
            if not names.get(s["parent"], "").startswith("exprs."):
                t["exprs.py4j_calls"] += s["py4j"]
        elif name == "pair_blocks.tile_pair_blocks":
            t["pair_blocks.calls"] += 1
        elif name == "io.load":
            t["io.load_calls"] += 1
            hits += s["hit"]
    t["exec.idle_s"] = cpus * t["exec.s"] - t["exec.run_s"]
    t["io.cache_hit_ratio"] = hits / t["io.load_calls"] if t["io.load_calls"] else 0.0
    t["wall_s"] = sum(r[3] for r in recs.values())
    t["reconcile_max_frac"] = max(
        (abs(sum(r[:3]) - r[3]) / r[3] for r in recs.values()), default=0.0)
    return t


def _union(intervals: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def count_exchanges(plan) -> int:
    """Exchange nodes in an executed (or initial adaptive) plan."""
    return sum(
        1 for line in plan.toString().splitlines()
        if "Exchange " in line and "ReusedExchange" not in line)
