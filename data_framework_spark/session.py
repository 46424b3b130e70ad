"""SparkSession factory.

Single place that encodes the session conventions the whole engine
assumes: UTC session timezone (so timestamp comparisons against
external engines are stable), AQE on (runtime re-planning / skew
handling), Arrow enabled (Pandas-UDF fast path), and shuffle
partitions sized to the local core count rather than the 200 default.

On a real cluster the same factory applies; only `master` and the
shuffle-partition count change (cores × executors × 2-3 is the usual
starting point — AQE coalescing trims the excess at runtime).

Python workers start from the engine's worker daemon
(`spark.python.daemon.module = data_framework_spark.worker_daemon`).
Spark puts `$SPARK_HOME/python/lib/pyspark.zip` first on every
worker's `sys.path`; that zip has no bytecode, so each daemon start
compiles pyspark from source, which is most of a new session's
worker-pool start. The daemon moves the zip behind an installed
pyspark of the same version, when there is one, and then runs Spark's
own daemon, so workers run the driver's byte-compiled pyspark
(otherwise the path is left as Spark set it). This relies on workers
being able to import `data_framework_spark` when the daemon starts,
from the working directory or `PYTHONPATH`; the engine's kernels,
which workers import by reference, already require that. Sessions the
engine did not build (`ensure_session_conventions` on a vanilla
session) keep Spark's own daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Runtime-settable SQLConf every entry point pins before touching data.
#: These are the session conventions the whole engine assumes; they are
#: safe to set on ANY session (idempotent, documented):
#:   - UTC session timezone: timestamp literals, NTZ casts, and collected
#:     timestamps must agree with the UTC-assuming DuckDB oracle
#:     regardless of the machine's local TZ or the events.ts encoding.
#:   - nanosAsLong: some driver generations write events.ts as parquet
#:     TIMESTAMP(NANOS), which Spark otherwise refuses to read
#:     (PARQUET_TYPE_ILLEGAL) on a vanilla session.
#:   - TIMESTAMP_MICROS parquet writes: the INT96 legacy default
#:     carries NO min/max column statistics, which silently disables
#:     row-group/file skipping on every timestamp-sorted layout the
#:     engine writes (compaction, export).
RUNTIME_CONVENTIONS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def _pin_process_utc() -> None:
    """Pin the PYTHON process timezone to UTC (POSIX tzset).

    `spark.sql.session.timeZone` does NOT govern `collect()`:
    TimestampType.fromInternal uses `datetime.fromtimestamp`, i.e. the
    process-local zone, so on a non-UTC machine every collected
    timestamp is local wall time while the DuckDB oracle returns UTC —
    a false hash red on every timestamp query despite the session pin
    (round-9 review). No-op where TZ is already UTC (this container)
    or tzset is unavailable (non-POSIX).

    CAUTION — PROCESS-GLOBAL MUTATION: this sets ``os.environ["TZ"]``
    and calls ``time.tzset()``, switching datetime behavior for the
    WHOLE host process, not just this library. A host application
    embedding the engine that relies on local-time semantics can opt
    out by setting ``SPARK_GRAFT_NO_TZSET=1`` (any non-empty value);
    collected timestamps then carry the host's local zone and the
    caller owns reconciling them (round-10 advisory)."""
    import time

    if os.environ.get("SPARK_GRAFT_NO_TZSET"):
        return
    if os.environ.get("TZ") != "UTC" and hasattr(time, "tzset"):
        os.environ["TZ"] = "UTC"
        time.tzset()


def ensure_session_conventions(spark: SparkSession) -> SparkSession:
    """Pin the engine's runtime session conventions on `spark`.

    Called unconditionally at every driver-facing entry point (registry
    query wrappers, `load_table`, streaming sources) so behavior is
    deterministic rather than encoding- or call-order-dependent.
    Sessions built by `get_spark()` already satisfy these; for vanilla
    sessions (the correctness driver's) this is the single sanctioned
    place that mutates session-global conf.

    Side effect: also pins the host PROCESS timezone to UTC via
    `_pin_process_utc` (required for collect() parity); embedders can
    opt out with ``SPARK_GRAFT_NO_TZSET=1`` — see that docstring.
    """
    _pin_process_utc()
    for k, v in RUNTIME_CONVENTIONS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark


def get_spark(app_name: str = "data_framework_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The test data's events.ts is parquet TIMESTAMP(NANOS), which
        # Spark refuses by default; read it as long and convert in the
        # table loader (sources/tables.py) — DuckDB truncates ns→µs the
        # same way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # workers run the installed, byte-compiled pyspark when it
        # matches Spark's zipped copy (see the module docstring)
        .config("spark.python.daemon.module", "data_framework_spark.worker_daemon")
    )
    # apply the full runtime convention set at build time too, so a
    # get_spark() session satisfies every convention even on code
    # paths that never hit an entry-point wrapper or load_table
    for k, v in RUNTIME_CONVENTIONS.items():
        builder = builder.config(k, v)
    _pin_process_utc()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
