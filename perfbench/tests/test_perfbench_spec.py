"""BENCHMARK.json lists exactly the workloads and metrics the harness runs
and prints."""

import json
import os

import workload
from spec import END_TO_END, per_layer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    names = [w["name"] for w in _bench()["workloads"]]
    assert sorted(names) == sorted(workload.WORKLOADS)


def test_end_to_end_metrics_match():
    got = {m["name"]: (m["unit"], m["better"]) for m in _bench()["end_to_end"]}
    assert got == END_TO_END


def test_per_layer_metrics_match():
    got = {m["name"]: (m["unit"], m["better"]) for m in _bench()["per_layer"]}
    assert got == per_layer()
    assert len(got) <= 128
