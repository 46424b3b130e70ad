"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload mesh_tpch_sf01 --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --query tpch_q3 [--seed 1]

A run writes its inputs from --seed in a child process while it launches
one JVM on local[<cores>]. The first session runs the workload's queries
in a closed loop with one client: a cold pass on an empty index cache
that collects each result for the output check, then complete warm
rounds, at least the workload's `rounds`, until --seconds have passed.
Then the session is stopped and started again in the same JVM, three
times, to time set-up. With --trace 1 the first session writes an event
log, every job tagged with its query and phase, and one restarted
session makes an untimed round and then repeats the warm loop untraced,
the base of the tracing overhead. The last line of standard output is
the JSON result; the line before it is the detail record, which is also
written to .perfbench_work/ in the checkout.

--query prints the per-layer table of one registry query instead, on the
inputs of the workload that lists it (sf0.01 for any other query).

Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: driver heap: leaves room on a 15 GB box for the Python workers
DRIVER_MEM = "4g"
#: session set-ups timed per run; setup_s is their median
SETUPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 use_goldens: bool = True):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.use_goldens = use_goldens
        base = os.path.join(REPO, ".perfbench_work")
        self.detail_path = os.path.join(
            base, f"{workload.name}-seed{seed}-trace{int(trace)}.json"
        )
        self.work = os.path.join(base, f"{workload.name}-{seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.launched = False

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> subprocess.Popen:
        """Start writing the inputs and the oracle results (see
        prepare.py) in a child process."""
        env = dict(os.environ, PYTHONPATH=REPO, TMPDIR=self.work)
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "prepare.py"), self.work,
             str(self.seed), str(self.w.sf), str(self.w.corpus_scale),
             *[q for q in self.w.queries if q not in self.w.heavy_oracles]],
            env=env, stdout=subprocess.DEVNULL,
        )

    def prepared(self, child: subprocess.Popen) -> dict:
        if child.wait() != 0:
            raise RuntimeError(f"prepare.py exited with code {child.returncode}")
        with open(os.path.join(self.work, "oracle.json")) as f:
            return json.load(f)

    # -- output check ---------------------------------------------------
    def check(self, name: str, rows, columns, oracle: dict, goldens: dict) -> str | None:
        """None when the result is right, else why not."""
        from digest import result

        from data_framework_spark.registry import QUERIES

        got = result(rows, columns)
        full = ("rows", "columns", "digest")
        want = []
        if name in oracle:
            want.append(("oracle", oracle[name], full))
        golden = goldens.get("queries", {}).get(name)
        if golden and self.seed == goldens["seed"]:
            want.append(("golden", golden, full))
        elif golden and name in self.w.heavy_oracles:
            # the shape of these results does not depend on the seed
            want.append(("golden", golden, ("rows", "columns")))
        for source, exp, keys in want:
            for key in keys:
                if got[key] != exp[key]:
                    return f"{key} differs from {source}: {got[key]} != {exp[key]}"
        if got["rows"] == 0 and (QUERIES[name].oracle is None or name in self.w.heavy_oracles):
            return "empty result"
        return None

    # -- the run --------------------------------------------------------
    def cold_pass(self, runner, oracle: dict, goldens: dict):
        """Cold pass, collecting each result; returns (samples, digests,
        failures). The check runs after the timed call returns."""
        from digest import result

        samples, digests, failures = [], {}, {}
        for name in self.w.queries:
            s, rows, cols = runner.run(name, "cold", collect=True)
            samples.append(s)
            if s.error:
                failures[name] = s.error
                continue
            digests[name] = result(rows, cols)
            why = self.check(name, rows, cols, oracle, goldens)
            if why:
                failures[name] = why
        return samples, digests, failures

    def execute(self) -> dict:
        import harness
        import stats
        from workloads import layer_of

        from data_framework_spark.registry import QUERIES

        began = time.perf_counter()
        os.makedirs(self.work, exist_ok=True)
        child = self.prepare()
        golden_path = os.path.join(HERE, "goldens", f"{self.w.name}.json")
        goldens = {}
        if self.use_goldens and os.path.exists(golden_path):
            with open(golden_path) as f:
                goldens = json.load(f)
        cwd = os.path.join(self.work, "cwd")
        os.makedirs(cwd)
        os.chdir(cwd)
        event_dir = os.path.join(self.work, "eventlog") if self.trace else None
        harness.configure_environment(self.work, REPO, _cpus(), DRIVER_MEM, event_dir)
        index_cache = os.path.join(self.work, "index")
        os.makedirs(index_cache)
        os.environ["SPARK_GRAFT_INDEX_CACHE"] = index_cache

        # the JVM launches while the inputs are written; its first session
        # (traced with --trace 1) runs a cold pass on the empty index cache
        # and the warm loop
        self.launched = True
        try:
            jvm_launch_s = harness.launch_jvm()
        finally:
            prep = self.prepared(child)
        oracle = prep["results"]
        spark, first = harness.set_up(self.data_dir, _cpus(), self.w)
        runner = harness.Runner(spark, self.data_dir, traced=self.trace)
        cold, digests, failures = self.cold_pass(runner, oracle, goldens)
        warm = runner.warm_loop(self.w.queries, self.seconds, self.w.rounds)
        failed = len(failures)
        jvm_mb = harness.vm_hwm_mb(harness.jvm_pid())
        if self.trace:
            import tracing

            artifacts = tracing.artifacts(spark, index_cache)
            app_id = spark.sparkContext.applicationId
        else:
            artifacts = app_id = None

        # untraced set-ups in the same JVM; with --trace 1 there is one,
        # and it runs an untraced warm loop, the base of the overhead
        setups, untraced_warm = [], []
        for _ in range(1 if self.trace else SETUPS):
            harness.stop_session(spark)
            spark, s = harness.set_up(self.data_dir, _cpus(), self.w)
            setups.append(s)
            if self.trace:
                base = harness.Runner(spark, self.data_dir)
                # an untimed round fills the new session's caches, as the
                # cold pass did for the traced warm loop
                base.warm_loop(self.w.queries, 0)
                untraced_warm = base.warm_loop(
                    self.w.queries, self.seconds, self.w.rounds)
        stopping = time.perf_counter()
        self.stop()
        stopped = time.perf_counter()

        attempted = len(cold) + len(warm) + len(untraced_warm)
        for s in warm + untraced_warm:
            if s.error:
                failed += 1
                failures.setdefault(s.query, s.error)
        ok = [s for s in warm if not s.error]
        per_query = {}
        for name in self.w.queries:
            mine = [s for s in ok if s.query == name]
            c = next(s for s in cold if s.query == name)
            q1, q2, q3 = stats.quartiles([s.total_s for s in mine]) if mine else (0, 0, 0)
            per_query[name] = {
                "layer": layer_of(QUERIES[name].fn),
                "cold_construct_s": c.construct_s,
                "cold_execute_s": c.execute_s,
                "warm_samples": len(mine),
                "warm_q1_s": q1, "warm_median_s": q2, "warm_q3_s": q3,
                "warm_construct_median_s": _median([s.construct_s for s in mine]),
                "warm_execute_median_s": _median([s.execute_s for s in mine]),
            }
        totals = [s.total_s for s in ok]
        tail_s, tail_p, tail_n = stats.tail(totals) if totals else (0.0, 0.0, 0)
        warm_pass_s = sum(p["warm_median_s"] for p in per_query.values())
        setup = sorted(setups, key=lambda s: s.total_s)[len(setups) // 2]
        detail = {
            "workload": self.w.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "cpus": _cpus(),
            "driver_mem": DRIVER_MEM,
            "sf": self.w.sf,
            "corpus_scale": self.w.corpus_scale,
            "gen_s": prep["gen_s"],
            "oracle_s": prep["oracle_s"],
            "failed_frac": failed / attempted,
            "failures": failures,
            "query_p50_s": _median(totals),
            "query_tail_s": tail_s,
            "query_tail_percentile": tail_p,
            "query_tail_samples": tail_n,
            "warm_rounds": len(warm) // len(self.w.queries),
            "run_s": stopped - began,
            "jvm_launch_s": jvm_launch_s,
            "shutdown_s": stopped - stopping,
            "jvm_peak_rss_mb": jvm_mb,
            "artifacts": artifacts,
            "first_setup": vars(first),
            "setups": [vars(s) for s in setups],
            "session": vars(setup),
            "queries": per_query,
            "digests": digests,
        }
        metrics = {
            "setup_s": (setup.total_s, "s"),
            "cold_pass_s": (sum(s.total_s for s in cold), "s"),
            "warm_pass_s": (warm_pass_s, "s"),
            "driver_peak_rss_mb": (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"
            ),
        }
        # with --trace 1 these figures come from the traced session
        detail["traced_pass" if self.trace else "end_to_end"] = {
            k: v for k, (v, _) in metrics.items()}
        if self.trace:
            import eventlog

            groups = eventlog.read(os.path.join(event_dir, app_id))
            untraced = [s for s in untraced_warm if not s.error]
            metrics = tracing.per_layer(self.w, cold, ok, groups, untraced, detail)
        return {
            "detail": detail,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }

    def stop(self) -> None:
        import harness

        if self.launched:
            self.launched = False
            harness.shutdown_jvm()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--query", help="print the per-layer table of one registry query")
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "data_framework_spark", "registry.py")):
        _fail(f"no data_framework_spark package next to {HERE}; run from a full checkout")
    sys.path[:0] = [HERE, REPO]
    from workloads import DEFAULT_SEED, WORKLOADS, Workload

    seed = DEFAULT_SEED if args.seed is None else args.seed
    if args.query:
        from data_framework_spark.registry import QUERIES

        if args.query not in QUERIES:
            _fail(f"unknown query {args.query!r}")
        home = next((w for w in WORKLOADS.values() if args.query in w.queries), None)
        if home is not None:
            workload = dataclasses.replace(home, name=args.query, queries=(args.query,))
        else:
            workload = Workload(args.query, (args.query,),
                                needs_layout=args.query.startswith("bucketed_"))
        trace = True
    else:
        if args.workload not in WORKLOADS:
            _fail(f"--workload must be one of {sorted(WORKLOADS)}")
        workload, trace = WORKLOADS[args.workload], bool(args.trace)

    run = Run(workload, seed, args.seconds, trace)
    # a terminated run still shuts down its JVM and removes its work
    # directory, in the `finally` below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run.execute()
    finally:
        run.stop()
        os.chdir(REPO)
        shutil.rmtree(run.work, ignore_errors=True)
    with open(run.detail_path, "w") as f:
        json.dump(out["detail"], f, indent=1)
    if args.query:
        import tracing

        print(tracing.layer_table(out["detail"]))
        return 0
    print(json.dumps(out["detail"], separators=(",", ":")))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
