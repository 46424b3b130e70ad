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
Spark puts `pyspark.zip`, the py4j zip and the spark-core jar first
on every worker's `sys.path`. Each daemon start would compile pyspark
from the source-only zip, and each task would re-read the archives'
directories when Spark invalidates the import caches (about 110 ms a
task on a 4-core host). The daemon drops the jar, and the zips when the
installed pyspark has their version, before it forks, so workers run
the driver's byte-compiled pyspark (see its module docstring). This
relies on workers being able to import `data_framework_spark` when
the daemon starts, from the working directory or `PYTHONPATH`; the
engine's kernels, which workers import by reference, already require
that. Sessions the engine did not build (`ensure_session_conventions`
on a vanilla session) keep Spark's own daemon.

The JVM talks to its Python workers over a Unix socket in a private
directory under `tempfile.gettempdir()` (`socket_dir`,
`spark.python.unix.domain.socket.*`). Over TCP, the JVM does not set
`TCP_NODELAY` on the worker channel, so each task's input waits for
the worker's delayed ACK, about 40 ms on Linux.
Measured on a 4-core host, a one-task identity `rdd.map` on a reused
worker takes 63-117 ms of executor run time with neither change,
46-60 ms with the daemon alone, 64-119 ms with the socket alone and
3-10 ms with both. The session keeps TCP only when a socket path in
that directory would pass AF_UNIX's 107-byte limit, where the daemon
could not bind it.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Iterator

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


_SCOPED_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set the session-global `confs` for the body of the `with`, and
    restore each one's previous value (or unset it) on exit, also on
    an exception.

    One process-wide re-entrant lock is held for the whole scope: two
    scopes on one session would otherwise restore each other's
    transient values. A scope opened from another thread waits for
    the open one to close; a nested scope on the same thread does
    not."""
    with _SCOPED_CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


#: AF_UNIX's limit on a socket path, in bytes (108 with the NUL).
UNIX_SOCKET_PATH_MAX = 107


def worker_socket_conf(socket_dir: str) -> dict[str, str]:
    """The conf that puts Python-worker traffic on a Unix socket in
    `socket_dir`, or keeps TCP when the socket path Spark makes there,
    `<dir>/.<uuid4>.sock`, would not fit AF_UNIX."""
    path = os.path.join(socket_dir, f".{uuid.uuid4()}.sock")
    if len(os.fsencode(path)) > UNIX_SOCKET_PATH_MAX:
        return {"spark.python.unix.domain.socket.enabled": "false"}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": socket_dir,
    }


@functools.cache
def socket_dir() -> str:
    """This process's directory for the Unix sockets Spark binds (the
    accumulator server's, the worker daemon's), made once under
    `tempfile.gettempdir()` and removed at exit. A process that exits
    without stopping its session would otherwise leave both socket
    files behind in the shared temporary directory; being private
    (mode 0700), it also keeps other users off the sockets."""
    path = tempfile.mkdtemp(prefix="spark-py-")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


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
        # workers start without Spark's archives on their path (see
        # the module docstring)
        .config("spark.python.daemon.module", "data_framework_spark.worker_daemon")
    )
    # apply the full runtime convention set at build time too, so a
    # get_spark() session satisfies every convention even on code
    # paths that never hit an entry-point wrapper or load_table
    for k, v in RUNTIME_CONVENTIONS.items():
        builder = builder.config(k, v)
    # Python-worker traffic on a Unix socket (see the module docstring)
    for k, v in worker_socket_conf(socket_dir()).items():
        builder = builder.config(k, v)
    _pin_process_utc()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
