"""Writes a run's inputs and the reference results its output check uses.

Runs in its own process, so neither the generator's arrays nor DuckDB
count toward the benchmark process's peak memory.

Usage: python3 perfbench/prepare.py OUT_DIR SEED SF CORPUS_SCALE QUERY...
Writes OUT_DIR/data/<table>.parquet and OUT_DIR/oracle.json, which maps
each query that has oracle SQL to its DuckDB result (rows, columns,
digest) on those inputs.
"""

from __future__ import annotations

import json
import os
import sys
import time

import datagen
from digest import result


#: DuckDB's memory cap; the box is shared with the Spark run after it
DUCKDB_MEMORY = "2GB"


def oracle_results(data_dir: str, names: list[str]) -> dict[str, dict]:
    from data_framework_spark.oracle import duckdb_connection
    from data_framework_spark.registry import QUERIES

    con = duckdb_connection(data_dir)
    con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
    con.execute(f"SET temp_directory='{os.path.join(data_dir, 'duckdb_tmp')}'")
    out = {}
    for name in names:
        sql = QUERIES[name].oracle
        if sql is None:
            continue
        res = con.execute(sql)
        out[name] = result(res.fetchall(), [d[0] for d in res.description])
    con.close()
    return out


def main(out_dir: str, seed: int, sf: float, corpus_scale: int,
         names: list[str]) -> None:
    data_dir = os.path.join(out_dir, "data")
    t0 = time.perf_counter()
    datagen.write(data_dir, seed, sf, corpus_scale)
    gen_s = time.perf_counter() - t0
    oracle = oracle_results(data_dir, names)
    with open(os.path.join(out_dir, "oracle.json"), "w") as f:
        json.dump({"gen_s": gen_s, "oracle_s": time.perf_counter() - t0 - gen_s,
                   "results": oracle}, f)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4]),
         sys.argv[5:])
