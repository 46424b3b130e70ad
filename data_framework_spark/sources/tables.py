"""Parquet table sources for the test star schema.

The driver test data (/root/testdata/sf*/..., see TESTDATA.md) is one
parquet file per table. Reads are parquet scans, so column pruning
and predicate pushdown reach the scan (verify with
`df.explain("formatted")` → `PushedFilters` / `ReadSchema`).

Reads of stable paths skip schema inference. `spark.read.parquet(path)`
without a schema runs one Spark job that reads the file footers
(`ParquetFileFormat.inferSchema` → `mergeSchemasInParallel`), 60–70 ms
on the driver for every table a query loads. `read_parquet` infers a
path's schema once and replays it as an explicit schema for as long as
the files (by their (relpath, mtime_ns, size) stamp) and the confs that
steer inference are unchanged. The memo holds DDL strings only, so it
needs no session pruning or unpersist and stays valid across session
restarts.

At 100 TB these tables would be directory-partitioned (e.g. orders by
o_orderdate month); nothing in the query layer assumes single-file
inputs — paths are opaque to every operator.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

from data_framework_spark.session import ensure_session_conventions

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are fixed-cardinality; supplier/part/customer grow with
# SF but stay orders of magnitude below the fact tables).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

#: session confs that change the schema Spark infers from parquet files;
#: their values are part of the schema memo's key
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: absolute path -> ((stamp, conf values), inferred schema as DDL); one
#: entry per path, replaced when its files or the confs change
_PARQUET_SCHEMAS: dict[str, tuple[tuple, str]] = {}


def _sf_fingerprint(path: str) -> tuple:
    """Cheap content stamp of a parquet file or a data directory:
    sorted (relpath, mtime_ns, size) over its parquet files (one
    os.walk, no data read); a single file is stamped as
    ((basename, mtime_ns, size),). A file that vanishes between the
    walk and the stat (a concurrent overwrite-mode rewrite — exactly
    the scenario the stamp exists for) is skipped rather than
    crashing: the changed stamp then triggers the rebuild (round-9
    review). A missing path stamps as ()."""
    try:
        st = os.stat(path)
    except OSError:
        return ()
    if stat.S_ISREG(st.st_mode):
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out.append((os.path.relpath(p, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without the schema-inference job on
    every call after the first: the inferred schema is memoized as DDL
    under (absolute path, `_sf_fingerprint` stamp, the values of
    `_PARQUET_SCHEMA_CONFS`) and replayed with `spark.read.schema`.
    A rewritten file or a flipped conf misses and is re-inferred. Use
    it for paths that outlive one call (tables, index directories); a
    scratch path written fresh on every call could only miss."""
    stamp = _sf_fingerprint(path)
    if not stamp:
        # nothing to stamp (a missing path raises here, as before)
        return spark.read.parquet(path)
    apath = os.path.abspath(path)
    key = (stamp, tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS))
    hit = _PARQUET_SCHEMAS.get(apath)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _PARQUET_SCHEMAS[apath] = (key, df._jdf.schema().toDDL())
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_between: tuple[str, str] | None = None,
) -> DataFrame:
    """Load one star-schema table from `sf_dir`.

    `ts_between=("YYYY-MM-DD HH:MM:SS", ...)` (events only, UTC,
    inclusive) installs a coarse range predicate on the RAW nanosecond
    column BEFORE the µs conversion. The converted `ts` is an
    expression (`timestamp_micros(ts div 1000)`), so predicates
    against it never reach the parquet scan — explain shows only
    `PushedFilters: [IsNotNull(ts)]` and every row group is read. The
    raw-attribute filter pushes down and prunes row groups by their
    min/max statistics — on a 100 TB time-ordered events table this is
    the difference between reading the queried window and scanning
    everything. The bounds are widened to the enclosing-µs edges
    (+999 ns), so the coarse filter admits a superset of the exact
    µs predicate: callers keep their exact filter, semantics are
    unchanged.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Unconditional, table- and encoding-independent: UTC session TZ +
    # nanosAsLong are pinned for EVERY load, so downstream timestamp
    # literals and NTZ casts behave identically no matter which table
    # loads first or how events.ts is encoded (round-4 advisory: the
    # NTZ-branch-only pin made results encoding-dependent on non-UTC
    # vanilla sessions).
    ensure_session_conventions(spark)
    if ts_between is not None and name != "events":
        # refuse rather than silently returning the UNFILTERED table —
        # a caller relying on the range predicate would get a superset
        # with no warning (round-9 review)
        raise ValueError(
            f"ts_between is only supported for the events table, not {name!r}"
        )
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_ts(spark, df, ts_between=ts_between)
    return df


def widen_scan(df: DataFrame) -> DataFrame:
    """Repartition a scan whose split count is below the session's
    core count, so heavy PER-ROW kernels downstream (gram builds,
    explodes, Arrow batches) run at full width instead of being
    serialized behind the scan's task count.

    Honest scale note: at 100 TB every table has thousands of
    row-group splits and this is a structural NO-OP — the condition
    fails and no exchange is added, preserving the shuffle-free plans
    the per-doc passes are designed around. It only fires on
    small-file layouts (the test corpus ships documents as ONE
    594 KB row group, so every "shuffle-free corpus pass" was
    actually a single-core pass; measured 4.5-4.7 s → ~1 s for the
    heavy text queries), where exchanging the raw rows costs ~nothing
    relative to the compute it parallelizes. Do NOT apply it before
    filters that must reach the parquet scan — an exchange above the
    scan blocks pushdown.

    SCAN-ONLY precondition, enforced: the `df.rdd` partition-count
    probe materializes every upstream query stage eagerly when the
    plan contains an exchange under AQE (the probe RDD is then
    discarded and the real query re-executes those stages — silent
    2× work). The guard is a POSITIVE allowlist over the analyzed
    plan's node names — only Project / Filter / scan relations (plus
    aliases) may appear; anything else (Join, Aggregate, Window,
    Generate, Sort, Repartition, but also Deduplicate, Distinct, or
    any future exchange-introducing node a blocklist would miss —
    round-8 advisory) returns the frame UNCHANGED: the fail-safe is a
    no-op, never a double execution."""
    import re

    # exact node names, not prefixes: a future Relation*/Project*
    # wrapper node that DOES introduce an exchange must fail the
    # allowlist, so the extracted name is compared whole (round-10
    # advisory), with the name cut at the first space/bracket/paren
    # ("Relation[...]" and "Project [...]" both extract cleanly)
    allowed = {"Project", "Filter", "Relation", "LogicalRelation", "SubqueryAlias"}
    analyzed = df._jdf.queryExecution().analyzed().toString()
    for line in analyzed.splitlines():
        node = re.sub(r"^[:+\-| ]*", "", line)
        if not node:
            continue
        name = re.split(r"[\s\[\(]", node, maxsplit=1)[0]
        if name not in allowed:
            return df
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def collect_bounded(df: DataFrame, max_rows: int, key: str) -> list:
    """Collect a frame that is small by construction to the driver,
    sorted by its unique column `key` — the replacement for a bounded
    `orderBy(key).collect()`.

    The sort runs on the driver over at most `max_rows` rows, so the
    plan has no range exchange and no sampling job. The collect is a
    plain `collect()`, not a `limit`/`take`, which would re-scan in
    extra jobs. Past `max_rows` it raises instead of letting a
    mis-sized frame (a wrong filter, a grown index) fill the driver:
    the bound is declared at the call site rather than argued in a
    comment."""
    rows = df.collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"collect_bounded: {len(rows)} rows exceed the declared "
            f"bound of {max_rows}"
        )
    return sorted(rows, key=lambda r: r[key])


def normalize_ts(
    spark: SparkSession,
    df: DataFrame,
    col: str = "ts",
    ts_between: tuple[str, str] | None = None,
) -> DataFrame:
    """Normalize an event-time column to session-TZ TIMESTAMP (UTC).

    The driver has generated events.ts under two parquet encodings
    across rounds; both must land on the identical TIMESTAMP the rest
    of the engine (unix_micros, watermarks, epoch casts) assumes:

    - TIMESTAMP(NANOS) → (nanosAsLong) long nanoseconds. Convert with
      INTEGER division (ns ≈ 1.7e18 exceeds double's 53-bit mantissa);
      truncation toward zero matches DuckDB's ns→µs for post-epoch data.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ. Cast
      under the UTC session timezone, so the naive wall-clock is read
      as UTC — exactly how DuckDB's epoch_us() treats the same naive
      value.

    This function ASSERTS the UTC pin rather than setting it: the
    session-global is mutated only by `ensure_session_conventions`
    (called by `load_table` and every registry entry point), never as
    a branch-dependent side effect of a conversion.

    `ts_between` (UTC, inclusive) is applied to the RAW column BEFORE
    conversion so the range predicate pushes down to the parquet scan
    and prunes row groups by min/max stats — a predicate against the
    converted expression never reaches the scan. For the ns encoding
    the bounds widen to the enclosing-µs edges (+999 ns): a superset
    of the exact µs predicate, callers keep their exact filter.
    """
    from pyspark.sql import functions as F

    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz != "UTC":
        raise RuntimeError(
            "normalize_ts requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}); call ensure_session_conventions(spark) at "
            "the entry point before loading tables"
        )
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        if ts_between is not None:
            lo_ns, hi_ns = (_utc_ns(b) for b in ts_between)
            df = df.filter(
                (F.col(col) >= F.lit(lo_ns)) & (F.col(col) <= F.lit(hi_ns + 999))
            )
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        if ts_between is not None:
            lo, hi = ts_between
            df = df.filter(
                (F.col(col) >= F.lit(lo).cast("timestamp_ntz"))
                & (F.col(col) <= F.lit(hi).cast("timestamp_ntz"))
            )
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    elif ts_between is not None:
        lo, hi = ts_between
        df = df.filter(
            (F.col(col) >= F.lit(lo).cast("timestamp"))
            & (F.col(col) <= F.lit(hi).cast("timestamp"))
        )
    return df


def _utc_ns(bound: str) -> int:
    """'YYYY-MM-DD HH:MM:SS[.ffffff]' (UTC) → integer epoch
    nanoseconds, EXACT: computed by timedelta arithmetic, never
    `int(d.timestamp())`, which truncated fractional seconds and made
    the coarse ns prefilter EXCLUDE rows the caller's exact predicate
    admits (e.g. an upper bound of ...:15.75 cut off at ...:15.000 —
    silent row loss violating the documented superset guarantee;
    round-9 review)."""
    import datetime as _dt

    d = _dt.datetime.fromisoformat(bound)
    if d.tzinfo is not None:
        raise ValueError(f"ts_between bounds must be naive UTC: {bound!r}")
    delta = d - _dt.datetime(1970, 1, 1)
    return (delta // _dt.timedelta(microseconds=1)) * 1_000


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to all of them."""
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}
