"""The traced run reports exactly the per-layer metrics BENCHMARK.json
lists, with the same units."""

import json
import os

import harness
import tracing
from workloads import WORKLOADS

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..",
                         "BENCHMARK.json")


def _samples(queries, tag, construct_s, execute_s):
    return [harness.Sample(q, tag, construct_s, execute_s,
                           (0.0, construct_s * 1000, (construct_s + execute_s) * 1000))
            for q in queries]


def test_benchmark_json_lists_the_per_layer_metrics():
    with open(BENCHMARK) as f:
        listed = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    assert listed == tracing.per_layer_metrics()


def test_per_layer_reports_every_listed_metric():
    w = WORKLOADS["mesh_tpch_sf01"]
    warm = _samples(w.queries, "warm0", 0.5, 0.5) + _samples(w.queries, "warm1", 0.5, 0.7)
    detail = {
        "queries": {q: {} for q in w.queries},
        "session": {"start_s": 0.2, "warmup_s": 0.5, "layout_s": 2.0},
        "jvm_launch_s": 3.0,
        "first_setup": {"start_s": 5.0, "warmup_s": 6.0, "layout_s": 4.0},
        "artifacts": {k: 0 for k, _ in tracing.ARTIFACT_METRICS},
        "jvm_peak_rss_mb": 900.0,
    }
    m = tracing.per_layer(w, _samples(w.queries, "cold", 1.0, 2.0), warm, {},
                          _samples(w.queries, "warm0", 0.5, 0.5), detail)
    assert sorted((k, unit) for k, (_, unit) in m.items()) == sorted(
        tracing.per_layer_metrics())
    n = len(w.queries)
    assert m["cold.execute_s"][0] == 2.0 * n
    assert m["session.first_setup_s"][0] == 15.0
    assert abs(m["trace.overhead_frac"][0] - 0.1) < 1e-9  # 1.1 s traced vs 1.0 s
    assert m["kernels.execute_s"][0] == 0
