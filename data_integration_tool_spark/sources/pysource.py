"""Custom Python Data Source (Spark 4 DataSource API).

The extensibility surface a data-integration tool lives on: when a feed
has no built-in connector (an internal service, a device protocol, a
synthetic generator), Spark 4's Python DataSource API plugs a pure-
Python reader into the normal ``spark.read.format(...)`` pipeline —
with real partition-parallel reads (each ``InputPartition`` is read by
a separate task) and the full Catalyst treatment downstream.

The demo source generates a deterministic "sensor" table from integer
arithmetic only (a Lehmer-style multiplier mod 2^16), so the whole
custom-connector path gets a FULL DuckDB value oracle via ``range()``:
the query below proves rows produced by user Python code flow through
partition-parallel scan → shuffle → aggregate exactly like parquet
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import scoped_conf

N_ROWS = 10_000
N_PARTS = 8
N_SENSORS = 8


def _reading(i: int) -> int:
    """Deterministic pseudo-reading — pure integer arithmetic, shared
    semantically with the oracle SQL (Lehmer multiplier mod 2^16)."""
    return (i * 48271) % 65536


def _register(spark: SparkSession) -> None:
    # Everything the WORKER executes is defined inside this closure
    # with literal constants: cloudpickle then ships the classes BY
    # VALUE, so the source runs even when this package is not
    # importable on the worker (the driver harness imports us by path,
    # not by installed name — module-level references would make the
    # pickled reader try `import data_integration_tool_spark` there).
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SensorReader(DataSourceReader):
        """Partitioned reader: each partition generates its own id
        slice — Spark schedules one task per partition, so the custom
        source scans in parallel exactly like a multi-file parquet
        read."""

        def __init__(self, options):
            self.n = int(options.get("n", 10_000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            return [InputPartition(p) for p in range(self.parts)]

        def read(self, partition):
            p = partition.value
            per = (self.n + self.parts - 1) // self.parts
            for i in range(p * per, min((p + 1) * per, self.n)):
                yield (i, i % 8, (i * 48271) % 65536)

    class SensorSource(DataSource):
        @classmethod
        def name(cls):
            return "sensorgen"

        def schema(self):
            return "id bigint, sensor bigint, reading bigint"

        def reader(self, schema):
            return SensorReader(self.options)

    spark.dataSource.register(SensorSource)


@query(
    "source_python_datasource",
    oracle=f"""
        WITH gen AS (
            SELECT CAST(u.i AS BIGINT) AS id,
                   CAST(u.i % {N_SENSORS} AS BIGINT) AS sensor,
                   CAST((u.i * 48271) % 65536 AS BIGINT) AS reading
            FROM unnest(range(0, {N_ROWS})) AS u(i)
        )
        SELECT sensor,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(reading) AS BIGINT) AS sum_reading,
               CAST(min(reading) AS BIGINT) AS min_reading,
               CAST(max(reading) AS BIGINT) AS max_reading
        FROM gen
        GROUP BY sensor
        ORDER BY sensor
    """,
    phase="P4",
    tags=("source", "datasource-api", "connector"),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-connector round trip: register the pure-Python
    ``sensorgen`` source (module docstring), read it partition-parallel
    through ``spark.read.format``, aggregate per sensor. The oracle
    regenerates the same integer stream with ``range()`` — value-
    verifying that a user-written Python connector feeds Catalyst
    exactly like a native source. At 100 TB the same API wraps real
    external feeds; throughput then hinges on partitions() exposing
    enough splits, which this reader demonstrates (one id slice per
    InputPartition → one task each).
    """
    _register(spark)
    df = spark.read.format("sensorgen").option("n", N_ROWS).option(
        "parts", N_PARTS
    ).load()
    return (
        df.groupBy("sensor")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("reading").cast("bigint").alias("sum_reading"),
            F.min("reading").cast("bigint").alias("min_reading"),
            F.max("reading").cast("bigint").alias("max_reading"),
        )
        .orderBy("sensor")
    )


STREAM_BATCHES = 4
STREAM_ROWS_PER_BATCH = 2_500  # 4 × 2 500 = the batch source's N_ROWS


def _register_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class SensorStreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked generator: offset = next row id. The engine
        checkpoints {"id": n}; read(start) emits one micro-batch slice
        and the new offset — replayable, so exactly-once holds even if
        a batch is re-run (readBetweenOffsets regenerates the same
        deterministic rows). Literal constants only (2500-row batches
        over 10k ids) — see _register on worker-side self-containment."""

        def initialOffset(self):
            return {"id": 0}

        def read(self, start):
            lo = start["id"]
            hi = min(lo + 2_500, 10_000)
            return (
                [(i, i % 8, (i * 48271) % 65536) for i in range(lo, hi)],
                {"id": hi},
            )

        def readBetweenOffsets(self, start, end):
            return [
                (i, i % 8, (i * 48271) % 65536)
                for i in range(start["id"], end["id"])
            ]

    class SensorStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "sensorstream"

        def schema(self):
            return "id bigint, sensor bigint, reading bigint"

        def simpleStreamReader(self, schema):
            return SensorStreamReader()

    spark.dataSource.register(SensorStreamSource)


@query(
    "stream_python_source",
    oracle=None,  # rows-only: live streaming engine run (house rule for
    # the stream_* harnesses); the per-sensor values reconcile against
    # the BATCH custom source inside the query itself (all_match) and
    # in tests/test_etl.py
    phase="P4",
    tags=("source", "datasource-api", "streaming", "bench-skip"),
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector on the STREAMING side: the same pure-Python
    sensor generator exposed through ``simpleStreamReader`` — Spark's
    offset-checkpointed micro-batch protocol drives a user Python
    source ({STREAM_BATCHES} batches of {STREAM_ROWS_PER_BATCH} rows,
    availableNow drain), aggregated per sensor, then reconciled
    full-outer against the BATCH DataSource twin
    (``source_python_datasource``): all_match=1 proves the streaming
    protocol delivered exactly the batch row set — no loss, no
    duplication — across restart-replayable offsets.

    This closes the connector story: one generator, both Spark
    ingestion protocols, value-reconciled. The drain is a RESTART
    LOOP: each availableNow run consumes one prefetched micro-batch
    and terminates; re-starting against the SAME checkpoint resumes
    from the committed offset with the aggregation state intact — so
    the query also proves offsets AND state survive restarts (the
    exactly-once story), not just in-flight delivery. State at scale:
    one row per sensor; source parallelism comes from the engine
    scheduling reads per offset range.
    """
    import shutil
    import tempfile

    _register_stream(spark)
    ckpt = tempfile.mkdtemp(prefix="pysrc_ckpt_")
    # The state-store partition count is frozen by shuffle.partitions at
    # the checkpoint's FIRST run; under a vanilla 200-partition session
    # the 4-restart drain schedules ~thousands of empty state tasks.
    # The checkpoint is fresh per call, so scope the knob down for the
    # drain (serial execution contexts only).
    try:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
            total, runs = 0, 0
            while total < N_ROWS and runs < 3 * STREAM_BATCHES:
                stream = spark.readStream.format("sensorstream").load()
                agg = stream.groupBy("sensor").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("reading").alias("sum_reading"),
                )
                q = (
                    agg.writeStream.format("memory")
                    .queryName("stream_python_source_out")
                    .outputMode("complete")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(120)
                runs += 1
                total = (
                    spark.table("stream_python_source_out")
                    .agg(F.sum("n"))
                    .first()[0]
                    or 0
                )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    got = spark.table("stream_python_source_out").select(
        "sensor",
        F.col("n").alias("s_n"),
        F.col("sum_reading").alias("s_sum"),
    )
    want = source_python_datasource(spark, sf_dir).select(
        "sensor",
        F.col("n").alias("b_n"),
        F.col("sum_reading").alias("b_sum"),
    )
    joined = got.join(want, "sensor", "full_outer")
    ok = (
        F.col("s_n").isNotNull()
        & F.col("b_n").isNotNull()
        & (F.col("s_n") == F.col("b_n"))
        & (F.col("s_sum") == F.col("b_sum"))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sensors"),
        F.sum(ok.cast("bigint")).cast("bigint").alias("n_match"),
        (F.count(F.lit(1)) == F.sum(ok.cast("bigint")))
        .cast("bigint")
        .alias("all_match"),
    )
