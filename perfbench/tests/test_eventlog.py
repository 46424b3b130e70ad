"""The event-log parser, on a log recorded from a traced session that
ran gaussian_smooth_grid (Python workers) and tpch_q3 (JVM only) once,
trimmed to the fields the parser reads."""

import os

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_jobs_stages_tasks_per_group():
    g = eventlog.read(LOG)
    assert set(g) == {
        "",  # session warm-up, outside any query
        "cold|gaussian_smooth_grid|construct",
        "cold|gaussian_smooth_grid|execute",
        "cold|tpch_q3|construct",
        "cold|tpch_q3|execute",
    }
    q3 = g["cold|tpch_q3|execute"]
    assert (q3.jobs, q3.stages, q3.skipped_stages, q3.tasks) == (4, 5, 1, 4)
    assert len(q3.job_spans) == q3.jobs
    assert all(s <= e for s, e in q3.job_spans)
    grid = g["cold|gaussian_smooth_grid|execute"]
    assert (grid.jobs, grid.stages, grid.skipped_stages, grid.tasks) == (5, 13, 8, 5)
    assert g["cold|tpch_q3|construct"].jobs == 3


def test_python_worker_metrics_only_where_python_runs():
    g = eventlog.read(LOG)
    grid = g["cold|gaussian_smooth_grid|execute"]
    assert (grid.py_sent_bytes, grid.py_received_bytes) == (25744, 25408)
    assert grid.py_rows_received == 512  # two Python nodes, 256 grid cells each
    assert grid.py_run_ms > 0
    q3 = g["cold|tpch_q3|execute"]
    assert q3.py_sent_bytes == q3.py_received_bytes == q3.py_rows_received == 0
    assert q3.input_bytes == 6992 and q3.shuffle_read_bytes == 3260


def test_task_counts_match_task_end_events():
    with open(LOG) as f:
        lines = f.readlines()
    g = eventlog.parse(lines)
    assert sum(s.tasks for s in g.values()) == sum(
        '"SparkListenerTaskEnd"' in line for line in lines
    )


def test_covered_ms_merges_overlapping_spans_and_clips():
    spans = [(0, 10), (5, 20), (30, 40), (90, 200)]
    assert eventlog.covered_ms(spans, 0, 100) == 20 + 10 + 10
    assert eventlog.covered_ms(spans, 15, 35) == 5 + 5
    assert eventlog.covered_ms([], 0, 100) == 0
