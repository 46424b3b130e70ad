"""Reads a Spark event log back into per-job-group statistics.

The benchmark tags every job with `setJobGroup("<pass>|<query>|<phase>")`
before it calls into the program, so each group is one phase
(construction or execution) of one query execution. Stages and tasks
are attributed to the group through the properties of the stage that
ran them.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

#: plan nodes that run Python workers (pandas/Arrow UDFs, Python UDFs)
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

_PYTHON_ACCUMS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_received_bytes",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    #: (submission, completion) epoch ms of every job in the group
    job_spans: list[tuple[int, int]] = field(default_factory=list)
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_ms: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    peak_exec_memory_bytes: int = 0
    py_sent_bytes: int = 0
    py_received_bytes: int = 0
    py_rows_received: int = 0
    py_boot_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0


def _walk_plan(node: dict, python_row_ids: set[int]) -> None:
    if _PYTHON_NODE.search(node.get("nodeName", "")):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                python_row_ids.add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(child, python_row_ids)


def parse(lines) -> dict[str, GroupStats]:
    """Statistics per job group id from the JSON lines of one event log.
    Jobs run outside any group are kept under the empty string."""
    events = [json.loads(line) for line in lines if line.strip()]
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    job_submitted: dict[int, int] = {}
    submitted_stages: set[int] = set()
    python_row_ids: set[int] = set()

    def group(gid) -> GroupStats:
        return groups.setdefault(gid or "", GroupStats())

    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e.get("sparkPlanInfo", {}), python_row_ids)
        elif kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = e["Job ID"]
            job_group[jid] = gid
            job_stages[jid] = list(e.get("Stage IDs", []))
            job_submitted[jid] = e["Submission Time"]
            g = group(gid)
            g.jobs += 1
            g.stages += len(job_stages[jid])
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            submitted_stages.add(sid)
            props = e.get("Properties") or {}
            stage_group[sid] = props.get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            g = group(job_group.get(jid))
            g.job_spans.append((job_submitted.get(jid, e["Completion Time"]),
                                e["Completion Time"]))
            g.skipped_stages += sum(
                1 for s in job_stages.get(jid, []) if s not in submitted_stages
            )
        elif kind == "SparkListenerTaskEnd":
            g = group(stage_group.get(e["Stage ID"]))
            g.tasks += 1
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            g.task_run_ms += m.get("Executor Run Time", 0)
            g.task_cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g.shuffle_fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            g.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            g.peak_exec_memory_bytes = max(
                g.peak_exec_memory_bytes, m.get("Peak Execution Memory", 0)
            )
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in _PYTHON_ACCUMS:
                    attr = _PYTHON_ACCUMS[name]
                    setattr(g, attr, getattr(g, attr) + int(acc.get("Update", 0)))
                elif acc.get("ID") in python_row_ids:
                    g.py_rows_received += int(acc.get("Update", 0))
    return groups


def read(path: str) -> dict[str, GroupStats]:
    with open(path) as f:
        return parse(f)


def covered_ms(spans: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `spans`."""
    total, end = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total
