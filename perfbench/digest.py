"""Stable, order-insensitive digest of a query result.

Each row is rendered with `oracle._norm` over the columns sorted by
name, hashed with blake2b, and the row hashes are summed mod 2^64, so
row order does not matter and the value is the same in every process
(unlike `oracle._digest`, whose `hash()` is salted per process).
"""

from __future__ import annotations

import hashlib

from data_framework_spark.oracle import _norm


def digest(rows, columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for row in rows:
        key = "|".join(_norm(row[i]) for i in order).encode()
        acc = (acc + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")) % (1 << 64)
    return f"{acc:016x}"


def result(rows, columns: list[str]) -> dict:
    """What the output check compares: row count, column names, digest."""
    rows = list(rows)
    return {"rows": len(rows), "columns": sorted(columns), "digest": digest(rows, columns)}
