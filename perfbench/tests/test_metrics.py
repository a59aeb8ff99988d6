"""BENCHMARK.json and the result line name the same metrics."""

from __future__ import annotations

import json
import os

import pytest

from perfbench.metrics import END_TO_END, per_layer

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


@pytest.fixture(scope="module")
def spec():
    with open(SPEC) as f:
        return json.load(f)


def test_end_to_end_matches(spec):
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END


def test_per_layer_matches(spec):
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == per_layer()
    assert len(spec["per_layer"]) <= 128


def test_setup_has_the_largest_bound(spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_workloads_exist(spec):
    from perfbench.gen import DEDUP_SHAPE  # noqa: F401  (gen imports cleanly)

    names = [w["name"] for w in spec["workloads"]]
    assert names == ["validate_batches", "dedup_corpus", "media_shards"]
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
