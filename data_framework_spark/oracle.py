"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, sorted column names, and
an order-insensitive value digest. Used by tests/test_oracle_parity.py
so hash mismatches surface during development, not at round end.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
from pyspark.sql import SparkSession

from data_framework_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the star-schema tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    """Normalize a cell to an engine-independent comparable form."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # deliberately DO NOT collapse -0.0: the driver's digest
        # distinguishes signed zeros (round-6 `heaps_fit` red proved
        # it), so the local replica must be at least as strict —
        # `%.10g` renders -0.0 as "-0" vs "0". Queries stabilize the
        # sign at the projection (functions/numeric.stable_round),
        # never the comparator.
        return f"{v:.10g}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def _digest(rows: list[tuple], colnames: list[str]) -> int:
    """Order-insensitive digest: hash each row (columns sorted by
    name), SUM-combine mod 2^64 so row order is irrelevant. Sum, not
    XOR: XOR cancels PAIRED duplicates, so [A, A, B] vs [B, C, C]
    (a wrongly duplicated row plus a dropped one) XOR to the same
    value at equal row counts — a false green (round-9 review).
    Under summation a multiset collision requires equal row-hash
    sums, not mere pairing. Rows hash with an 8-byte blake2b, not the
    builtin `hash()`, which is salted per process
    (`PYTHONHASHSEED`): the digest of a result is the same in every
    process, so it can be committed and compared across runs."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    acc = 0
    for row in rows:
        key = "|".join(_norm(row[i]) for i in order)
        h = hashlib.blake2b(key.encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 64)
    return acc


def compare(spark: SparkSession, sf_dir: str, name: str) -> dict:
    """Run query `name` on Spark and DuckDB; return a comparison report."""
    from data_framework_spark.registry import QUERIES

    q = QUERIES[name]
    sdf = q.fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)

    report = {
        "name": name,
        "spark_rows": len(spark_rows),
        "spark_cols": sorted(spark_cols),
    }
    if q.oracle is None:
        report["mode"] = "rows_only"
        # the old `>= 0` was vacuously true; a 0-row rows-only result
        # verifies nothing, so require non-empty (round-9 review)
        report["ok"] = len(spark_rows) > 0
        return report

    con = duckdb_connection(sf_dir)
    res = con.execute(q.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    report.update(
        mode="oracle",
        duck_rows=len(duck_rows),
        duck_cols=sorted(duck_cols),
        rows_match=len(spark_rows) == len(duck_rows),
        cols_match=sorted(spark_cols) == sorted(duck_cols),
        hash_match=_digest(spark_rows, spark_cols) == _digest(duck_rows, duck_cols),
    )
    report["ok"] = (
        report["rows_match"] and report["cols_match"] and report["hash_match"]
    )
    return report


def diff_sample(spark: SparkSession, sf_dir: str, name: str, limit: int = 5):
    """Debug helper: rows present in one engine's result but not the other."""
    from data_framework_spark.registry import QUERIES

    q = QUERIES[name]
    if q.oracle is None:
        raise ValueError(
            f"{name} is a rows-only query (no oracle SQL to diff against)"
        )
    sdf = q.fn(spark, sf_dir)
    cols = list(sdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    s_keys = {"|".join(_norm(r[i]) for i in order): tuple(r) for r in sdf.collect()}
    con = duckdb_connection(sf_dir)
    res = con.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    d_keys = {"|".join(_norm(r[i]) for i in dorder): tuple(r) for r in res.fetchall()}
    only_spark = [s_keys[k] for k in list(s_keys.keys() - d_keys.keys())[:limit]]
    only_duck = [d_keys[k] for k in list(d_keys.keys() - s_keys.keys())[:limit]]
    return {"spark_cols": cols, "duck_cols": dcols, "only_spark": only_spark, "only_duck": only_duck}
