"""Session set-up, timed query execution and the oracle check.

Every query is timed from outside at three calls into the program:
the builder (build layer), ``executedPlan()`` on the DataFrame's query
execution (plan layer) and the noop write (exec layer). The noop sink
computes every row and writes nothing, as ``bench.py`` does. Note that
the write plans its own command, so some optimizer work lands in exec.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "data_integration_tool_spark"


class BenchError(RuntimeError):
    """The checkout cannot run the benchmark."""


def check_checkout() -> None:
    for rel in (f"{PACKAGE}/registry.py", f"{PACKAGE}/session.py",
                "tests/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise BenchError(f"run from the repository root: {rel} is missing")


def isolate(tmp: str) -> dict[str, str]:
    """Point every scratch write of the program, Spark and the JVM at
    ``tmp`` inside the checkout. Returns the extra Spark conf."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


class Session:
    """One Spark session with the registry loaded, timed per step."""

    def __init__(self, cpus: int, extra_conf: dict[str, str]):
        self.cpus = cpus
        self.times: dict[str, float] = {}
        t = time.perf_counter()
        from data_integration_tool_spark import benchconf, registry
        from data_integration_tool_spark.session import get_spark
        self.times["import_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", shuffle_partitions=cpus,
                               extra_conf=extra_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        benchconf.silence_dagscheduler_accumulator_spew(self.spark)
        self.times["session.get_spark_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.specs = registry.specs()
        self.times["registry.specs_s"] = time.perf_counter() - t
        self._benchconf = benchconf
        self._heavy = benchconf.heavy_set(self.specs)
        self._aqe = benchconf.aqe_pinned_set(self.specs)

    def apply_conf(self, name: str) -> None:
        self._benchconf.apply_query_conf(
            self.spark, name, self._heavy, self._aqe, str(self.cpus))

    def run(self, name: str, sf_dir: str, tracer=None) -> tuple[float, ...]:
        """Build, plan and execute one query. Returns the build, plan and
        exec walls and the query's whole wall, which also holds the
        tracer's bookkeeping between layers."""
        self.apply_conf(name)
        builder = self.specs[name].builder
        layer = tracer.layer if tracer is not None else _no_layer
        start = time.perf_counter()
        with layer(name, "build"):
            t0 = time.perf_counter()
            df = builder(self.spark, sf_dir)
            t1 = time.perf_counter()
        with layer(name, "plan") as span:
            t2 = time.perf_counter()
            plan = df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            if span is not None:
                span["plan"] = plan
        with layer(name, "exec"):
            t4 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t5 = time.perf_counter()
        return t1 - t0, t3 - t2, t5 - t4, t5 - start

    def check(self, name: str, sf_dir: str, duck) -> list[str]:
        """Compare the query's rows with its DuckDB twin, exactly unless
        the oracle check lists the query as tolerant."""
        from tests.oracle_check import TOLERANT_QUERIES, compare_frames

        spec = self.specs[name]
        self.apply_conf(name)
        sp = spec.builder(self.spark, sf_dir).toPandas()
        du = duck.execute(spec.oracle).fetchdf()
        return compare_frames(sp, du, name, exact=name not in TOLERANT_QUERIES)

    @property
    def jvm_pid(self) -> int:
        if not hasattr(self, "_jvm_pid"):
            self._jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self._jvm_pid

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the JVM's
        descendants (the Python workers). Unlike a wall, this does not
        count time a virtual CPU spent stolen by other tenants."""
        stats = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                # after the command: state ppid ... utime(12) stime(13)
                stats[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
        tree, frontier = set(), {self.jvm_pid}
        while frontier:
            tree |= frontier
            frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - tree
        ticks = sum(stats[p][1] for p in tree if p in stats)
        own = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise BenchError("no VmHWM for the JVM")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


class _NoLayer:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NO_LAYER = _NoLayer()


def _no_layer(name: str, layer: str) -> _NoLayer:
    return _NO_LAYER


def duck_for(sf_dir: str):
    from tests.oracle_check import duck_connect

    return duck_connect(sf_dir)


def cleanup(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
