"""The per-layer metrics of a traced run.

Spans come from the benchmark's own calls into the program (the
construction and execution marks of every `harness.Sample`); counts and
busy times come from Spark's event log, attributed to those spans by job
group. Per-pass figures are sums over the workload's queries of each
query's median over the traced warm rounds.
"""

from __future__ import annotations

import os
import statistics

import eventlog
import harness
from workloads import LAYERS, layer_of

SPARK_METRICS = (
    ("construct_jobs", "count"), ("execute_jobs", "count"), ("stages", "count"),
    ("skipped_stages", "count"), ("tasks", "count"), ("first_job_delay_s", "s"),
    ("driver_gap_s", "s"), ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("shuffle_fetch_wait_s", "s"), ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
    ("output_bytes", "bytes"), ("peak_exec_memory_bytes", "bytes"),
)
PYWORKER_METRICS = (
    ("sent_bytes", "bytes"), ("received_bytes", "bytes"), ("rows_received", "count"),
    ("boot_s", "s"), ("init_s", "s"), ("run_s", "s"),
)
ARTIFACT_METRICS = (
    ("index_bytes", "bytes"), ("index_files", "count"), ("persisted_rdds", "count"),
    ("persisted_bytes", "bytes"), ("local_dir_bytes", "bytes"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.construct_s", "s"), (f"{layer}.execute_s", "s")]
    out += [(f"session.{k}", "s") for k in
            ("start_s", "warmup_s", "layout_s", "jvm_launch_s", "first_setup_s")]
    out += [(f"cold.{k}", u) for k, u in
            (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))]
    out += [(f"spark.{k}", u) for k, u in SPARK_METRICS]
    out += [(f"pyworker.{k}", u) for k, u in PYWORKER_METRICS]
    out += [(f"artifacts.{k}", u) for k, u in ARTIFACT_METRICS]
    out += [("memory.jvm_peak_rss_mb", "MB"), ("trace.overhead_frac", "ratio")]
    return out


def execution_stats(sample: harness.Sample, groups: dict) -> dict:
    """Counters of one query execution, both phases together."""
    none = eventlog.GroupStats()
    c = groups.get(f"{sample.tag}|{sample.query}|construct", none)
    e = groups.get(f"{sample.tag}|{sample.query}|execute", none)
    w0, w1, w2 = sample.marks
    delay = gap = 0.0
    for g, lo, hi in ((c, w0, w1), (e, w1, w2)):
        gap += (hi - lo) - eventlog.covered_ms(g.job_spans, lo, hi)
        if g.job_spans:
            delay += max(0.0, min(s for s, _ in g.job_spans) - lo)
    both = lambda attr: getattr(c, attr) + getattr(e, attr)  # noqa: E731
    return {
        "construct_jobs": c.jobs,
        "execute_jobs": e.jobs,
        "stages": both("stages"),
        "skipped_stages": both("skipped_stages"),
        "tasks": both("tasks"),
        "first_job_delay_s": delay / 1000,
        "driver_gap_s": gap / 1000,
        "task_run_s": both("task_run_ms") / 1000,
        "task_cpu_s": both("task_cpu_ns") / 1e9,
        "gc_s": both("gc_ms") / 1000,
        "shuffle_read_bytes": both("shuffle_read_bytes"),
        "shuffle_write_bytes": both("shuffle_write_bytes"),
        "shuffle_fetch_wait_s": both("shuffle_fetch_wait_ms") / 1000,
        "spill_bytes": both("spill_bytes"),
        "input_bytes": both("input_bytes"),
        "output_bytes": both("output_bytes"),
        "peak_exec_memory_bytes": max(c.peak_exec_memory_bytes, e.peak_exec_memory_bytes),
        "py.sent_bytes": both("py_sent_bytes"),
        "py.received_bytes": both("py_received_bytes"),
        "py.rows_received": both("py_rows_received"),
        "py.boot_s": both("py_boot_ms") / 1000,
        "py.init_s": both("py_init_ms") / 1000,
        "py.run_s": both("py_run_ms") / 1000,
        "construct_s": sample.construct_s,
        "execute_s": sample.execute_s,
        "total_s": sample.total_s,
    }


def artifacts(spark, index_cache: str) -> dict:
    """What the pass left behind: the index cache, persisted RDDs and
    the Spark local directories."""
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    index_bytes, index_files = harness.du(index_cache)
    return {
        "index_bytes": index_bytes,
        "index_files": index_files,
        "persisted_rdds": len(storage),
        "persisted_bytes": sum(r.memSize() + r.diskSize() for r in storage),
        "local_dir_bytes": harness.du(os.environ["SPARK_LOCAL_DIRS"])[0],
    }


def per_layer(workload, cold, warm, groups, untraced, detail) -> dict:
    """Per-layer metrics as name -> (value, unit), from the traced cold
    pass and warm loop (`cold`, `warm`), their event log (`groups`) and
    the run's detail record, to which it adds per-query counts.
    `untraced` is the warm loop of an untraced session, the base of the
    tracing overhead."""
    from data_framework_spark.registry import QUERIES

    cold_stats = [execution_stats(s, groups) for s in cold]
    per_query = {}
    for name in workload.queries:
        rows = [execution_stats(s, groups) for s in warm if s.query == name]
        med = {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
        per_query[name] = med
        detail["queries"][name]["traced_warm_median"] = med
        detail["queries"][name]["traced_cold"] = next(
            st for st, s in zip(cold_stats, cold) if s.query == name)

    def pass_sum(key: str, names=workload.queries) -> float:
        return sum(per_query[n].get(key, 0) for n in names)

    m: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        names = [n for n in workload.queries if layer_of(QUERIES[n].fn) == layer]
        m[f"{layer}.construct_s"] = (pass_sum("construct_s", names), "s")
        m[f"{layer}.execute_s"] = (pass_sum("execute_s", names), "s")
    for k in ("start_s", "warmup_s", "layout_s"):
        m[f"session.{k}"] = (detail["session"][k], "s")
    m["session.jvm_launch_s"] = (detail["jvm_launch_s"], "s")
    m["session.first_setup_s"] = (sum(detail["first_setup"].values()), "s")
    m["cold.construct_s"] = (sum(s["construct_s"] for s in cold_stats), "s")
    m["cold.execute_s"] = (sum(s["execute_s"] for s in cold_stats), "s")
    m["cold.jobs"] = (sum(s["construct_jobs"] + s["execute_jobs"] for s in cold_stats), "count")
    for k, unit in SPARK_METRICS:
        if k == "peak_exec_memory_bytes":
            m[f"spark.{k}"] = (max((q.get(k, 0) for q in per_query.values()), default=0), unit)
        else:
            m[f"spark.{k}"] = (pass_sum(k), unit)
    for k, unit in PYWORKER_METRICS:
        m[f"pyworker.{k}"] = (pass_sum(f"py.{k}"), unit)
    for k, unit in ARTIFACT_METRICS:
        m[f"artifacts.{k}"] = (detail["artifacts"][k], unit)
    m["memory.jvm_peak_rss_mb"] = (detail["jvm_peak_rss_mb"], "MB")
    # a query that failed every untraced execution adds nothing
    base = sum(statistics.median([s.total_s for s in untraced if s.query == n] or [0.0])
               for n in workload.queries)
    m["trace.overhead_frac"] = (pass_sum("total_s") / base - 1 if base else 0.0, "ratio")
    return m


def layer_table(detail: dict) -> str:
    """Plain-text per-layer table of every query in a detail record."""
    lines = []
    for name, q in detail["queries"].items():
        med, cold = q.get("traced_warm_median", {}), q.get("traced_cold", {})
        lines.append(f"{name}  (layer {q['layer']}, {q['warm_samples']} warm samples)")
        lines.append(f"  {'metric':<24}{'cold':>14}{'warm median':>14}")
        for key in cold:
            lines.append(f"  {key:<24}{cold[key]:>14.4g}{med.get(key, 0):>14.4g}")
    lines.append(f"failures: {detail.get('failures') or 'none'}")
    return "\n".join(lines)
