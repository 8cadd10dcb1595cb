"""BENCHMARK.json lists the per-layer metrics a traced run reports.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                           "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert listed == [(n, run._unit(n)) for n in run.per_layer_names()]
    assert [w["name"] for w in bench["workloads"]] == sorted(run.WORKLOADS)
