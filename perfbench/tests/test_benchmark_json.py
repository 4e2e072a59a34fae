"""BENCHMARK.json declares exactly the metrics the benchmark measures."""

import json
import os

from perfbench.workloads import E2E, per_layer_names

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")


def test_declared_metrics_match_the_code():
    with open(SPEC) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(E2E)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
