"""Benchmark runner: every registry query at $SPARK_GRAFT_SF_DIR.

Prints TWO JSON lines:
  1. the full record {"metric": ..., "queries": {name: sec, ...}, ...}
  2. a compact summary (same record minus the per-query dict, plus the
     count) — printed LAST because the driver keeps only the final
     ~2000 chars of stdout: with 91 queries the full line is >2.6 KB,
     so its prefix falls outside the captured tail and the round
     artifact ends up unparseable (BENCH_r02.json "parsed": null).
     The short last line always survives the tail capture intact.
The full record is also written to BENCH_DETAIL.json next to this
file so per-query timings stay recoverable from the repo.

Each query is materialized with the noop sink (full computation, no
driver-side collect) after a warm-up of the session itself. The loop
runs THREE times: the first (cold) pass is the headline — the regime
the driver measures — and two warm passes follow; the recorded warm
figure is the per-query MIN of the two with the |a-b| spread kept
alongside (this VM's wall times swing up to 10× on identical code, so
a single warm sample can't separate noise from regression). Most
cold-query cost is codegen/JIT charged to whichever queries happen to
run first. Both passes iterate a FIXED sorted query
order, decoupled from registry insertion order, so per-query cold
deltas are comparable across rounds. The one-time bucketed
table layout is materialized BEFORE timing (reported separately as
layout_build_s): queries should measure the exchange-free join the
layout buys, not mkdir+write.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _warm_python_workers(spark) -> None:
    """Measurement fix (r18, VERDICT item 5; guide §1.4 'measure the
    computation'): the session warm-up covered the JVM and parquet
    footers but NOT the Python worker pool or the Arrow UDF
    serialization path, so the alphabetically-FIRST Python-touching
    query (ann_hamming_rerank in every pass, including the cold3
    re-run) absorbed a ~1-2 s per-session daemon/worker spin-up that
    is a session constant, not that query's plan cost — its cold
    entries have been unreadable across rounds. One trivial
    pandas_udf evaluation per fresh session moves that constant into
    the (untimed) warm-up, exactly like the existing lineitem.count()
    does for the JVM. Change documented in OPTIMIZATION_r18.md; the
    timed protocol (3 passes + cold2/cold3, noop sink) is unchanged
    and prior-round records keep their recorded values."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    (
        spark.range(256)
        .repartition(32)
        .select(_warm(F.col("id")).alias("x"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from data_framework_spark.registry import QUERIES
    from data_framework_spark.session import get_spark

    spark = get_spark("data_framework_spark-bench")
    # warm the JVM + parquet footers once so the first query isn't
    # charged for session startup
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    _warm_python_workers(spark)
    # one-time bucketed layout build, outside the per-query timings
    from data_framework_spark.operators.bucketed import bucketed_tables

    t0 = time.perf_counter()
    bucketed_tables(spark, sf_dir)
    layout_build_s = round(time.perf_counter() - t0, 4)

    # The ANN route queries memoize their (tiny) results in a session
    # cache so the recall contracts can compose them cheaply. Timing a
    # memoized route would measure a dict lookup (round-5 verdict
    # finding 2, reintroduced twice by later additions), so the bench
    # evicts each route's OWN entries right before timing that route —
    # entries built by other queries stay, preserving the contracts'
    # internal reuse. Which routes belong to which query is declared
    # ON the registry entry (Query.cached_routes) so a new shared-plan
    # query cannot silently skip eviction (r9 verdict ask 6); a test
    # asserts every cached_route key in the codebase is declared.
    from data_framework_spark.similarity.ann import evict_route

    def run_subset(names: list[str]) -> dict[str, float]:
        # THE timing loop (run_all delegates here — one copy of the
        # eviction/sink/rounding protocol, round-9 review). Canonical
        # sorted order, NOT registry insertion order: a registry
        # edit would otherwise re-shuffle which queries absorb the
        # cold codegen/JIT charge and make cross-round cold deltas
        # unreadable (round-4 postmortem). Binds `spark` late,
        # so the cold2/cold3 blocks below reuse it after their
        # session swap.
        t: dict[str, float] = {}
        for name in sorted(names):
            if name not in QUERIES:
                continue
            for route in QUERIES[name].cached_routes:
                evict_route(spark, sf_dir, route)
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            t[name] = round(time.perf_counter() - t0, 4)
        return t

    def run_all() -> dict[str, float]:
        return run_subset(list(QUERIES))

    timings = run_all()  # cold: the driver-comparable headline
    # Warm protocol (round-5 verdict finding 6: this VM's wall times
    # swing up to 10× on identical code): TWO warm passes; the
    # per-query warm figure is the MIN of the two (closest to true
    # plan cost on a noisy box) and the per-query spread is recorded
    # so a reader can tell noise from regression. Round-9 extension
    # (round-8 verdict #6: warm spread doubled and became the main
    # obstacle to reading regressions): queries whose first-two
    # spread exceeds 0.4 s get a targeted THIRD run — warm-min over
    # 3 samples where it matters, bounded extra cost where it
    # doesn't.
    warm_a = run_all()
    warm_b = run_all()
    timings_warm = {k: min(warm_a[k], warm_b[k]) for k in warm_a}
    warm_spread = {
        k: round(abs(warm_a[k] - warm_b[k]), 4) for k in warm_a
    }
    noisy = [k for k, s in warm_spread.items() if s > 0.4]
    if noisy:
        warm_c = run_subset(noisy)
        for k, v in warm_c.items():
            timings_warm[k] = min(timings_warm[k], v)
            warm_spread[k] = round(
                max(warm_a[k], warm_b[k], v) - min(warm_a[k], warm_b[k], v),
                4,
            )

    # Cold-noise instrumentation (round-6 verdict #7): the headline
    # baseline ratio reads the r1-subset cold subtotal, which inherits
    # whatever VM noise hit the full-suite cold pass. A SECOND cold
    # pass over the frozen r1 subset ONLY (cheap), in a FRESH
    # SparkSession so per-session codegen/plan caches are genuinely
    # cold again (the JVM's JIT stays warm — stated, not hidden), and
    # the recorded r1_subset_cold_min = per-query min of the two cold
    # passes stops a single noisy pass from defining the ratio.
    # (run_subset is defined next to run_all above.)
    out = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_warm": timings_warm,
        "queries_warm_spread": warm_spread,
        "warm_value": round(sum(timings_warm.values()), 4),
        "warm_protocol": (
            "min of 2 warm passes, plus a targeted 3rd pass for "
            "queries whose first-two spread > 0.4 s (min of 3, "
            "spread = max-min over all samples)"
        ),
        "warm_spread_total": round(sum(warm_spread.values()), 4),
        "layout_build_s": layout_build_s,
        "sf": sf,
    }
    # apples-to-apples subtotal over the round-1 query set: the
    # registry grows every round, so the headline total is not
    # comparable across rounds; this is.
    here = os.path.dirname(os.path.abspath(__file__))
    # bench_subsets.json freezes the registry's query set as of each
    # past round, so cross-round totals compare identical work.
    try:
        with open(os.path.join(here, "bench_subsets.json")) as f:
            subsets = json.load(f)
        for rnd, names in subsets.items():
            nameset = set(names)
            out[f"{rnd}_subset_value"] = round(
                sum(v for k, v in timings.items() if k in nameset), 4
            )
            out[f"{rnd}_subset_n"] = sum(1 for k in timings if k in nameset)
        if "r1" in subsets:
            spark.stop()
            spark = get_spark("data_framework_spark-bench-cold2")
            spark.read.parquet(
                os.path.join(sf_dir, "lineitem.parquet")
            ).count()
            _warm_python_workers(spark)
            cold2 = run_subset(subsets["r1"])
            out["r1_subset_cold2_value"] = round(sum(cold2.values()), 4)
            out["r1_subset_cold_min"] = round(
                sum(
                    min(timings.get(k, cold2[k]), cold2[k]) for k in cold2
                ),
                4,
            )
            out["cold2_protocol"] = (
                "fresh SparkSession (codegen/plan caches cold, JVM JIT "
                "warm); r1_subset_cold_min = per-query min of the two "
                "cold passes"
            )
    except Exception as exc:  # noqa: BLE001 — degrade, don't lose the run
        # round-9 review: the old (OSError, KeyError, JSONDecodeError,
        # TypeError) tuple did not cover Spark/Py4J errors, so a
        # transient failure in the session swap or the 50-query re-run
        # aborted main() AFTER three full passes and lost the whole
        # bench artifact — the exact mode the cold3 block guards
        out["cold2_error"] = repr(exc)[:200]

    # Per-query cold isolation for the slowest queries (round-7
    # verdict #8): slowest5 cold entries keep flapping on one-shot VM
    # noise (e.g. dup_ngram_fraction 8.57 s cold vs 4.85 s warm on
    # unchanged code), so cross-round cold comparisons inherited
    # whatever noise hit the single full-suite pass. Re-run the TEN
    # slowest-cold queries in a fresh SparkSession (codegen/plan
    # caches cold again; JVM JIT stays warm — stated, not hidden) and
    # record per-query cold-min, the number cross-round comparisons
    # should read.
    # Guarded like the cold2 block: a transient failure in the
    # instrumentation must degrade to a missing key, never abort
    # main() after three full passes and lose the whole bench artifact
    # (the tail-capture failure mode the module docstring documents).
    try:
        top10 = [
            k for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:10]
        ]
        spark.stop()
        spark = get_spark("data_framework_spark-bench-cold3")
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        _warm_python_workers(spark)
        if any(k.startswith("bucketed_") for k in top10):
            bucketed_tables(spark, sf_dir)  # layout stays outside timings
        cold3 = run_subset(top10)
        out["top10_cold_min"] = {
            k: round(min(timings[k], cold3[k]), 4) for k in cold3
        }
        out["top10_cold_protocol"] = (
            "10 slowest-cold queries re-run in a fresh session; "
            "per-query min of the two cold passes"
        )
    except Exception as exc:  # noqa: BLE001 — degrade, don't lose the run
        out["top10_cold_error"] = repr(exc)[:200]
    print(json.dumps(out))

    # guarded: an OSError here (disk full / read-only FS) must not
    # suppress the compact line below — the driver's ~2000-char tail
    # capture NEEDS the compact record last (the BENCH_r02
    # unparseable-tail failure the module docstring documents)
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(out, f, indent=1)
    except OSError as exc:
        out["detail_write_error"] = repr(exc)[:200]

    compact = {
        k: v
        for k, v in out.items()
        # drop the big dicts AND the static protocol prose (it lives
        # in BENCH_DETAIL.json): the driver keeps only the final
        # ~2000 chars of stdout and top10_cold_min must fit
        if k
        not in (
            "queries",
            "queries_warm",
            "queries_warm_spread",
            "warm_protocol",
            "cold2_protocol",
            "top10_cold_protocol",
        )
    }
    compact["n_queries"] = len(timings)
    compact["slowest5"] = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    )
    # Top per-query warm movers vs the committed PREVIOUS-round record
    # (BENCH_PREV_DETAIL.json, refreshed each round from the prior
    # round's BENCH_DETAIL.json): the driver's ~2000-char stdout tail
    # cannot see the full per-query dict, so its PERF comparator has
    # had per_query: {} every round — this keyed addition (r17 verdict
    # ask 9; additions-only, existing keys byte-compatible) puts the
    # eight largest round-over-round warm deltas where the tail
    # capture can see them (eight, not more: the compact line must
    # stay under the ~2000-char tail or its PREFIX gets cut and the
    # whole record is unparseable — the BENCH_r02 failure mode).
    # Guarded: a missing/stale prev file degrades to an absent key,
    # never a lost bench artifact.
    try:
        with open(os.path.join(here, "BENCH_PREV_DETAIL.json")) as f:
            prev_warm = json.load(f)["queries_warm"]
        movers = sorted(
            (
                (k, round(timings_warm[k] - prev_warm[k], 2))
                for k in timings_warm
                if k in prev_warm
            ),
            key=lambda kv: -abs(kv[1]),
        )[:8]
        compact["warm_movers_vs_prev"] = {
            k: f"{prev_warm[k]:.2f}->{timings_warm[k]:.2f}" for k, _ in movers
        }
    except Exception as exc:  # noqa: BLE001 — instrumentation only
        compact["warm_movers_error"] = repr(exc)[:100]
    print(json.dumps(compact))


if __name__ == "__main__":
    sys.exit(main())
