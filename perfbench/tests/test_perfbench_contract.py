"""BENCHMARK.json names exactly what the benchmark prints."""

from __future__ import annotations

import json
import os

import workloads
from conftest import ROOT


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(workloads.WORKLOADS)


def test_metric_lists_match():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        workloads.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        workloads.PER_LAYER)
