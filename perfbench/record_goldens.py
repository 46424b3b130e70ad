"""Records the output-check goldens of workloads at the default seed.

    python3 perfbench/record_goldens.py mesh_tpch_sf01 corpus_10x

Runs each workload once at DEFAULT_SEED and writes the digest of every
query's result to perfbench/goldens/<workload>.json. Every result is
confirmed against its DuckDB oracle first, including the queries in
`Workload.heavy_oracles`, whose oracles a benchmark run skips; a
mismatch or a failed query writes nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run as bench
from workloads import DEFAULT_SEED, WORKLOADS


def heavy_oracle_mismatches(w, digests: dict) -> list[str]:
    """Queries of `w.heavy_oracles` whose result differs from DuckDB's."""
    import datagen
    import prepare

    base = os.path.join(bench.REPO, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=base) as data_dir:
        datagen.write(data_dir, DEFAULT_SEED, w.sf, w.corpus_scale)
        oracle = prepare.oracle_results(data_dir, list(w.heavy_oracles))
    return [q for q in w.heavy_oracles if oracle[q] != digests[q]]


def record(name: str) -> None:
    w = WORKLOADS[name]
    r = bench.Run(w, DEFAULT_SEED, 0.0, False, use_goldens=False)
    try:
        detail = r.execute()["detail"]
    finally:
        r.stop()
        os.chdir(bench.REPO)
        shutil.rmtree(r.work, ignore_errors=True)
    if detail["failures"]:
        raise SystemExit(f"{name}: not recorded, failures: {detail['failures']}")
    bad = heavy_oracle_mismatches(w, detail["digests"])
    if bad:
        raise SystemExit(f"{name}: not recorded, differs from DuckDB: {bad}")
    out = {
        "seed": DEFAULT_SEED,
        "sf": w.sf,
        "corpus_scale": w.corpus_scale,
        "queries": detail["digests"],
    }
    path = os.path.join(bench.HERE, "goldens", f"{name}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    sys.path.insert(0, bench.REPO)
    for workload in sys.argv[1:]:
        record(workload)
