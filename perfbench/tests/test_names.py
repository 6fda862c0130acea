"""Every metric the benchmark prints is declared in BENCHMARK.json, with the
same unit, and every declared metric is printed."""

import json
import os

from perfbench.layers import END_TO_END, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units_match():
    declared = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert declared == END_TO_END


def test_per_layer_names_and_units_match():
    declared = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert declared == PER_LAYER


def test_declared_workloads_exist():
    assert {w["name"] for w in spec()["workloads"]} <= set(WORKLOADS)
