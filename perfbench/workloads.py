"""The workloads: which registry queries each draws from, at which
scale and cache setting, and how a seed orders the query list.

Each workload has a candidate class defined by registry tags (the
``benchconf`` heavy set, the graph/iterative tags, everything else),
thinned to every ``stride``-th query in registry order to bound
calibration time. ``calibrate.py`` runs every candidate on generated
data and keeps, in ``pool/<workload>.json``, those that match their
DuckDB twin, with their measured wall. The list is the middle query of each
of ``n`` equal-count cost strata of the cheapest ``keep`` share of the
pool (per sub-class where a workload has two). Drawing a different
list per seed made the walls of ten seeds spread by more than any
useful bound, so a seed changes the data and the order only.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

POOL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    cache_tables: bool
    picks: dict[str, int]  # sub-class -> queries in the list
    stride: int  # every stride-th candidate in registry order is calibrated
    keep: float  # share of each sub-class's pool, cheapest first, drawn from
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "etl-light", 0.01, True, {"light": 5}, 4, 0.75,
            "light class at sf0.01, tables cached: build and plan are a "
            "large share, exec is mostly the per-job floor",
        ),
        Workload(
            "shuffle-heavy", 0.02, True, {"pair": 1, "graph": 1}, 1, 0.35,
            "pair-generating and iterative graph queries at sf0.02: shuffle "
            "bytes and eager per-round jobs dominate",
        ),
    )
}


def subclass(spec, heavy: set[str]) -> str | None:
    """The candidate sub-class of one registry query, or None."""
    tags = set(spec.tags)
    if spec.oracle is None or "bench-skip" in tags:
        return None
    if spec.name in heavy:
        return "pair"
    if {"graph", "iterative"} & tags:
        return "graph"
    return "light"


def candidates(workload: Workload, specs, heavy: set[str]) -> dict[str, list[str]]:
    """Candidate names per sub-class, in registry order."""
    out: dict[str, list[str]] = {k: [] for k in workload.picks}
    for name, spec in specs.items():
        cls = subclass(spec, heavy)
        if cls in out:
            out[cls].append(name)
    return {cls: names[::workload.stride] for cls, names in out.items()}


def pool_path(workload: str) -> str:
    return os.path.join(POOL_DIR, f"{workload}.json")


def load_pool(workload: str) -> dict:
    with open(pool_path(workload)) as f:
        return json.load(f)


def select(workload: Workload, seed: int, pool: dict) -> list[str]:
    """The query list for a seed: the middle query of each cost stratum,
    in an order shuffled by the seed. The set is the same for every seed,
    so runs with different seeds differ only in data and order."""
    rng = np.random.default_rng([seed, _stable_int(workload.name)])
    chosen: list[str] = []
    for cls, n in workload.picks.items():
        ranked = sorted(pool[cls].items(), key=lambda kv: (kv[1], kv[0]))
        names = [k for k, _ in ranked][: max(n, round(len(ranked) * workload.keep))]
        if len(names) < n:
            raise ValueError(f"{workload.name}/{cls}: pool has {len(names)} < {n}")
        bounds = np.linspace(0, len(names), n + 1).round().astype(int)
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            chosen.append(names[(lo + hi - 1) // 2])
    order = rng.permutation(len(chosen))
    return [chosen[i] for i in order]


def list_hash(names: list[str]) -> str:
    return hashlib.sha256("\n".join(names).encode()).hexdigest()[:12]


def _stable_int(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:4], "little")
