"""The driver JVM is sized to the Spark slots that get_spark gives it,
and builders that scope session conf put it back as they found it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from data_integration_tool_spark.session import scoped_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from data_integration_tool_spark.session import get_spark

spark = get_spark(app_name="jvm-probe", extra_conf={
    "spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
print(json.dumps({
    "procs": jvm.java.lang.Runtime.getRuntime().availableProcessors(),
    "gc": [b.getName() for b in mf.getGarbageCollectorMXBeans()],
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "probe": jvm.java.lang.System.getProperty("graft.probe"),
}))
spark.stop()
"""


def test_driver_jvm_sized_to_spark_slots(spark, tmp_path):
    """One slot: the JVM sees one processor, so its ergonomics pick
    SerialGC (young ``Copy``, old ``MarkSweepCompact``), and the
    caller's own driver Java options survive next to the one flag.
    The session fixture's JVM sees min(slots, usable CPUs): at Tier-1's
    ``SPARK_GRAFT_CPUS=nproc`` that is every usable CPU, as unsized."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    assert probe["procs"] == 1, probe
    assert probe["gc"] == ["Copy", "MarkSweepCompact"], probe
    sized = [a for a in probe["args"] if a.startswith("-XX:ActiveProcessorCount")]
    assert sized == ["-XX:ActiveProcessorCount=1"], probe["args"]
    assert "-Dgraft.probe=1" in probe["args"] and probe["probe"] == "1", probe

    usable = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    slots = int(cpus) if cpus.isdigit() else usable
    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    assert runtime.availableProcessors() == min(slots, usable)


def test_scoped_conf_unsets_unset_keys_and_restores_set_ones(spark):
    """After the block, also one that raises, a key that was unset is
    unset again, not pinned to the default ``spark.conf.get`` shows
    for it, and a key that was set has its old value back."""
    unset, preset = "spark.sql.autoBroadcastJoinThreshold", "spark.sql.shuffle.partitions"
    assert spark.conf.get(unset, None) is None
    before = spark.conf.get(preset)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {unset: "-1", preset: "3"}):
            assert (spark.conf.get(unset), spark.conf.get(preset)) == ("-1", "3")
            raise RuntimeError("the block failed")
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(preset) == before
