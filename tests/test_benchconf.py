"""The per-query bench conf split, checked against a recording stub of
``spark.conf``: no JVM is started."""

from __future__ import annotations

import pytest

from data_integration_tool_spark import benchconf, registry

PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


class _Conf:
    def __init__(self):
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        self.values[key] = value


class _Spark:
    def __init__(self):
        self.conf = _Conf()


@pytest.fixture(scope="module")
def classes():
    specs = registry.specs()
    return specs, benchconf.heavy_set(specs), benchconf.aqe_pinned_set(specs)


def _conf(name: str, classes, cpus: str) -> dict[str, str]:
    _, heavy, pinned = classes
    spark = _Spark()
    benchconf.apply_query_conf(spark, name, heavy, pinned, cpus)
    return spark.conf.values


def test_aqe_off_queries_fan_out_at_most_to_the_slots(classes):
    specs, heavy, pinned = classes
    off, on, hv = "agg_group", "join_skew_aqe", "dedup_minhash"
    assert off in specs and off not in heavy | pinned
    assert on in pinned - heavy and hv in heavy
    assert _conf(off, classes, "1") == {PARTS: "1", AQE: "false"}
    assert _conf(on, classes, "1") == {PARTS: "8", AQE: "true"}
    assert _conf(hv, classes, "1") == {PARTS: "1", AQE: "true"}
    assert _conf(off, classes, "4") == {PARTS: "4", AQE: "false"}
    assert _conf(off, classes, "8") == {PARTS: "8", AQE: "false"}


def test_conf_at_32_slots_is_the_plain_8_or_slots_split(classes):
    """At 32 slots (bench.py's default) every query gets the conf it got
    before the AQE-off cap: the slots when heavy, else 8, with AQE on for
    heavy and AQE-pinned queries."""
    specs, heavy, pinned = classes
    for name in specs:
        want = {
            PARTS: "32" if name in heavy else "8",
            AQE: "true" if name in heavy | pinned else "false",
        }
        assert _conf(name, classes, "32") == want, name
