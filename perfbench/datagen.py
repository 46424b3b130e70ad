"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table of the engine's star schema
(`data_framework_spark.sources.tables.TABLES`) with the column names,
types and value distributions of the repository's test data: uniform keys,
uniform categorical columns, dates uniform over fixed ranges, events
time-ordered over January 2024 with exponential values, a 31-word
document vocabulary and unit-norm 64-dim float32 embeddings; only
lineitem prices differ, whole dollars instead of cents. Row counts
scale with `sf` exactly as the test data's do; `corpus_scale`
multiplies the documents and embeddings only, as
`scripts/gen_scale_corpus.py` does for its 10x corpus.

The same (seed, sf, corpus_scale) always writes the same tables.

Usage: python3 perfbench/datagen.py OUT_DIR SEED SF [CORPUS_SCALE]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = [
    ["blue", "cold", "hot", "large", "new", "old", "red", "small"],
    ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"],
]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: share of documents that end in the rare token "dup"
DUP_TOKEN_FRAC = 0.05
#: share of documents that repeat an earlier document's text exactly
EXACT_DUP_FRAC = 0.0016


def row_counts(sf: float, corpus_scale: int = 1) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)) * corpus_scale,
        "embeddings": max(500, round(20_000 * sf)) * corpus_scale,
    }


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), size=n, p=p)])


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n), pa.int64())


def tables(seed: int, sf: float, corpus_scale: int = 1) -> dict[str, pa.Table]:
    """Build every table in memory; one child generator per table so a
    table's contents do not depend on the row counts of the others."""
    n = row_counts(sf, corpus_scale)
    rngs = dict(
        zip(n, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(n))))
    )
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r, k = rngs["customer"], n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": _ids(k),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(r.integers(0, 25, size=k), pa.int32()),
            "c_acctbal": _cents(r, -999.99, 9999.99, k),
            "c_mktsegment": _choice(r, SEGMENTS, k),
        }
    )

    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": _ids(k),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(r.integers(0, 25, size=k), pa.int32()),
            "s_acctbal": _cents(r, -999.99, 9999.99, k),
        }
    )

    r, k = rngs["part"], n["part"]
    first = np.asarray(PART_WORDS[0])[r.integers(0, 8, size=k)]
    second = np.asarray(PART_WORDS[1])[r.integers(0, 8, size=k)]
    out["part"] = pa.table(
        {
            "p_partkey": _ids(k),
            "p_name": pa.array(np.char.add(np.char.add(first, " "), second)),
            "p_brand": pa.array(
                np.char.add("Brand#", r.integers(1, 26, size=k).astype(str))
            ),
            "p_type": _choice(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, size=k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
        }
    )

    r, k = rngs["orders"], n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": _ids(k),
            "o_custkey": pa.array(r.integers(0, n["customer"], size=k), pa.int64()),
            "o_orderstatus": _choice(r, ["F", "O", "P"], k),
            "o_totalprice": _cents(r, 1000.0, 500_000.0, k),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", k),
            "o_orderpriority": _choice(r, PRIORITIES, k),
        }
    )

    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], size=k), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], size=k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], size=k), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, size=k), pa.int32()),
            "l_quantity": r.integers(1, 51, size=k).astype(np.float64),
            # whole dollars: price * (1 - discount) then has at most two
            # decimals, so a rounded revenue sum never sits on a half
            # cent, where float summation order would decide the result
            "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, size=k)),
            "l_discount": np.round(r.uniform(0.0, 0.1, size=k), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, size=k), 2),
            "l_returnflag": _choice(r, ["A", "N", "R"], k),
            "l_linestatus": _choice(r, ["F", "O"], k),
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", k),
        }
    )

    r, k = rngs["events"], n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": _ids(k),
            "ts": pa.array(start + np.sort(r.integers(0, span_us, size=k))),
            "user_id": pa.array(
                r.integers(0, max(1, round(15_000 * sf)), size=k), pa.int64()
            ),
            "event_type": _choice(r, EVENT_TYPES, k),
            "value": np.round(r.exponential(50.0, size=k), 2),
            "props": pa.array(
                [json.dumps({"k": int(v)}) for v in r.integers(0, 100, size=k)]
            ),
        }
    )

    r, k = rngs["documents"], n["documents"]
    lens = r.integers(10, 101, size=k)
    words = np.asarray(VOCAB)[r.integers(0, len(VOCAB), size=int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(k)]
    for i in r.choice(k, size=round(k * DUP_TOKEN_FRAC), replace=False):
        texts[i] += " dup"
    n_exact = int(k * EXACT_DUP_FRAC)
    if n_exact:
        for i in r.choice(np.arange(1, k), size=n_exact, replace=False):
            texts[i] = texts[r.integers(0, i)]
    out["documents"] = pa.table(
        {
            "doc_id": _ids(k),
            "text": pa.array(texts),
            "lang": _choice(r, LANGS, k, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(k)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r, k = rngs["embeddings"], n["embeddings"]
    x = r.standard_normal((k, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": _ids(k),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, 64 * k + 1, 64), pa.int32()),
                pa.array(x.reshape(-1)),
            ),
            "label": pa.array(r.integers(0, 10, size=k), pa.int32()),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float, corpus_scale: int = 1) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf, corpus_scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
          int(sys.argv[4]) if len(sys.argv) > 4 else 1)
