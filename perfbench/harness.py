"""Session lifecycle and the timed query loop.

A run launches one JVM. Its first session runs the queries; later
sessions stop the SparkSession and start a new one in the same JVM, so
that set-up (session start, JVM and Python-worker warm-up, bucketed
layout build) can be timed several times in one run.
Shutting the JVM down waits until it has exited, so a run leaves no
process behind. Timings are taken here, around the benchmark's calls
into the program: construction is the `Query.fn(spark, data_dir)` call,
execution is the noop-sink write of the DataFrame it returns.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time
import traceback
from dataclasses import dataclass


def configure_environment(work: str, repo: str, cpus: int, driver_mem: str,
                          event_log_dir: str | None = None) -> None:
    """Point every path the engine, Spark and the JVM write to inside
    `work`, and make the repository importable by Python workers.

    Must run before the JVM launches: it reads PYSPARK_SUBMIT_ARGS once.
    With `event_log_dir`, the first session writes an event log there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYTHONPATH=repo,
        # the launcher JVM that spark-submit runs first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    conf = [
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
        f"-Dderby.system.home={tmp}",
    ]
    args = [
        f"--conf spark.driver.extraJavaOptions={' '.join(conf)!r}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


@dataclass
class SetUp:
    """Wall time of one session set-up, by part."""

    start_s: float
    warmup_s: float
    layout_s: float

    @property
    def total_s(self) -> float:
        return self.start_s + self.warmup_s + self.layout_s


def _warm_python_workers(spark, cpus: int) -> None:
    """One trivial pandas UDF per worker slot, so the first query that
    uses Python workers is not charged for starting the pool."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    (spark.range(256).repartition(cpus).select(_warm(F.col("id")).alias("x"))
     .write.format("noop").mode("overwrite").save())


def launch_jvm() -> float:
    """Launch the JVM (and its Py4J gateway) without starting a
    session; returns the seconds it took."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    SparkContext._ensure_initialized()
    return time.perf_counter() - t0


def set_up(data_dir: str, cpus: int, workload):
    """Start a SparkSession in the running JVM, warm the JVM (a lineitem
    count) and, where the workload uses them, the Python workers, and
    build the bucketed layout where a query reads it. Returns
    (spark, SetUp)."""
    from data_framework_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")).count()
    if workload.needs_pyworkers:
        _warm_python_workers(spark, cpus)
    t2 = time.perf_counter()
    if workload.needs_layout:
        from data_framework_spark.operators.bucketed import bucketed_tables

        bucketed_tables(spark, data_dir)
    t3 = time.perf_counter()
    return spark, SetUp(t1 - t0, t2 - t1, t3 - t2)


def stop_session(spark) -> None:
    """Stop the SparkSession and keep the JVM; the next session started
    in it writes no event log."""
    from pyspark import SparkContext

    spark.stop()
    SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return gateway.proc.pid if gateway is not None else None


def shutdown_jvm() -> None:
    """Stop any active session, shut the JVM down and wait until it has
    exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(root, n)).st_size
                files += 1
            except FileNotFoundError:
                pass
    return size, files


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Sample:
    query: str
    tag: str
    construct_s: float
    execute_s: float
    #: wall-clock (epoch ms) at the start of construction, the start of
    #: execution and the end, for the trace
    marks: tuple[float, float, float]
    error: str | None = None

    @property
    def total_s(self) -> float:
        return self.construct_s + self.execute_s


@dataclass
class Runner:
    """Runs registry queries one at a time (closed loop, one client).

    Before each run it evicts the query's own cached routes
    (`Query.cached_routes`), so a warm run executes the query instead
    of reading back a result another run persisted."""

    spark: object
    data_dir: str
    traced: bool = False

    def run(self, name: str, tag: str, collect: bool = False):
        """One timed execution. Returns (sample, collected rows or None,
        column names or None); a query that raises is returned as a
        sample with `error` set."""
        from data_framework_spark.registry import QUERIES
        from data_framework_spark.similarity.ann import evict_route

        q = QUERIES[name]
        sc = self.spark.sparkContext
        for route in q.cached_routes:
            evict_route(self.spark, self.data_dir, route)
        rows = columns = None
        w0 = time.time() * 1000
        t0 = t1 = time.perf_counter()
        try:
            if self.traced:
                sc.setJobGroup(f"{tag}|{name}|construct", "construct")
            df = q.fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            w1 = time.time() * 1000
            if self.traced:
                sc.setJobGroup(f"{tag}|{name}|execute", "execute")
            if collect:
                rows, columns = df.collect(), list(df.columns)
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            sample = Sample(name, tag, t1 - t0, t2 - t1, (w0, w1, time.time() * 1000))
        except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
            t2 = time.perf_counter()
            sample = Sample(name, tag, t1 - t0, t2 - t1, (w0, w0, time.time() * 1000),
                            traceback.format_exc(limit=4)[-800:])
        finally:
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        return sample, rows, columns

    def warm_loop(self, names, seconds: float, rounds: int = 1) -> list[Sample]:
        """Complete rounds over `names`, at least `rounds`, until
        `seconds` have passed, so every query gets the same number of
        samples."""
        out: list[Sample] = []
        t0 = time.perf_counter()
        done = 0
        while done < rounds or time.perf_counter() - t0 < seconds:
            out += [self.run(n, f"warm{done}")[0] for n in names]
            done += 1
        return out
