"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os
import re

from perfbench import layers, run

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec():
    with open(SPEC) as f:
        return json.load(f)


def test_per_layer_catalogue_matches_spec():
    cat = layers.catalogue()
    assert len(cat) == 118
    assert all(NAME.match(n) for n in cat)
    assert {m["name"]: m["unit"] for m in _spec()["per_layer"]} == cat


def test_end_to_end_matches_spec():
    assert {m["name"]: m["unit"] for m in _spec()["end_to_end"]} == run.END_TO_END


def test_workloads_match_spec():
    assert tuple(w["name"] for w in _spec()["workloads"]) == run.WORKLOADS
