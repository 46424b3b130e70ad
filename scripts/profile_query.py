"""Per-query job/stage profiler (r17 optimization round).

Runs one or more registry queries under a session with the Spark
event log enabled, then parses the event log into a per-job timing
breakdown (job wall time, stage names from call sites) so the time
inside a multi-job query can be attributed to its internal phases —
the guide §1 "empirical" loop without a live UI.

Usage: python scripts/profile_query.py <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.

Each query runs twice (cold + warm); the warm pass is the one profiled
(event-log jobs are tagged by query via setJobGroup). Output: per
query, total wall, and the warm pass's jobs sorted by duration with
their stage names and the first frame of their call site (a
`DataFrameReader.parquet` frame is a schema-inference job).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py <query> [...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import shutil

    log_dir = "/tmp/spark-events-profile"
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    # the event-log confs reach the JVM through the launcher, as in
    # perfbench/harness.py, so the session is the engine's own
    # (session.get_spark), not a second copy of its configuration
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{log_dir}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    from data_framework_spark.session import get_spark

    spark = get_spark("profile_query")

    from data_framework_spark.operators.bucketed import bucketed_tables
    from data_framework_spark.registry import QUERIES
    from data_framework_spark.similarity.ann import evict_route

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    bucketed_tables(spark, sf_dir)

    sc = spark.sparkContext
    results = {}
    for name in names:
        q = QUERIES[name]
        for phase in ("cold", "warm"):
            for route in q.cached_routes:
                evict_route(spark, sf_dir, route)
            sc.setJobGroup(f"{name}::{phase}", f"{name} {phase}")
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            results[(name, phase)] = time.perf_counter() - t0
            sc.setJobGroup("", "")
    spark.stop()

    # parse the event log: jobs with group-id tags
    jobs = {}
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        for fn in files:
            if "appstatus" not in fn:
                paths.append(os.path.join(root, fn))
    for path in paths:
        with open(path, errors="ignore") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    infos = ev.get("Stage Infos", [])
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id", ""),
                        "start": ev.get("Submission Time", 0),
                        "n_stages": len(infos),
                        # "Details" is the stage's call site, innermost
                        # frame first
                        "frame": infos[0].get("Details", "").partition("\n")[0][:110]
                        if infos else "",
                        "stages": [s.get("Stage Name", "")[:70] for s in infos],
                    }
                elif e == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["dur"] = (
                            ev.get("Completion Time", 0) - jobs[jid]["start"]
                        ) / 1000.0

    for name in names:
        print(f"\n=== {name}: cold {results[(name, 'cold')]:.3f}s  "
              f"warm {results[(name, 'warm')]:.3f}s ===")
        tagged = [
            j for j in jobs.values()
            if j["group"] == f"{name}::warm" and "dur" in j
        ]
        tagged.sort(key=lambda j: -j["dur"])
        tot = sum(j["dur"] for j in tagged)
        print(f"  warm pass: {len(tagged)} jobs, {tot:.3f}s total job time")
        for j in tagged[:25]:
            label = " | ".join(dict.fromkeys(j["stages"]))[:150]
            print(f"   {j['dur']:7.3f}s  [{j['n_stages']:2d} stages]  {label}")
            print(f"             at {j['frame']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
