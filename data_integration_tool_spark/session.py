"""SparkSession construction with scale-aware defaults.

At test scale (sf0.001–sf0.1, single JVM ``local[N]``) the dominant cost
is per-task scheduling overhead, so shuffle partitions stay small; at
cluster scale the same code runs with the defaults left alone (AQE
coalesces partitions at runtime). Operators are plan builders that run
under whatever session the driver supplies, but some do touch session
conf: ``io.load`` sets ``spark.sql.session.timeZone`` and
``spark.sql.legacy.parquet.nanosAsLong`` and leaves them set, and
``join_bucketed``, ``join_skew_aqe`` and ``stream_python_source`` set
confs only inside ``scoped_conf``, which puts each key back as it was:
unset if it was unset, else at its prior value.

The local driver JVM is sized to its Spark slots: when
``SPARK_GRAFT_CPUS`` is an integer N, ``get_spark`` starts the JVM with
``-XX:ActiveProcessorCount=min(N, usable CPUs)``. HotSpot's ergonomics
read the host, not the slots, so without the flag a ``local[1]``
session on a 4-CPU host still gets G1 with 4 GC threads and 3 JIT
compiler threads, which cost more CPU and memory than one task slot
needs. At one slot the JVM picks SerialGC and 2 compiler threads;
at N >= usable CPUs its flags are the same as without the flag.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data-integration-tool-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    When it is an integer, it also sizes the driver JVM's GC and JIT
    thread pools: ``-XX:ActiveProcessorCount=min(N, usable CPUs)`` goes
    at the front of ``spark.driver.extraJavaOptions``, ahead of any
    value passed in ``extra_conf`` (see the module docstring for why).
    The flag only acts when this call starts the JVM.
    AQE is enabled so partition counts / join strategies / skew handling
    re-plan at runtime — the main lever that lets the same plans run at
    sf0.001 locally and at 100 TB on a real cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep stdout clean: the driver json-parses bench.py's final
        # stdout line, and the console progress bar writes \r frames
        # that can interleave with it
        .config("spark.ui.showConsoleProgress", "false")
    )
    conf = dict(extra_conf or {})
    if cpus.isdigit():
        procs = min(int(cpus), len(os.sched_getaffinity(0)))
        opts = "spark.driver.extraJavaOptions"
        conf[opts] = f"-XX:ActiveProcessorCount={procs} {conf.get(opts, '')}".rstrip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the ``with`` block, then restore
    each key, also when the block raises. ``spark.conf.get(key, None)``
    is None only for a key nobody set; such a key is unset again, not
    pinned to the engine default that ``spark.conf.get(key)`` shows."""
    prior = {key: spark.conf.get(key, None) for key in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
