"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os

import _paths
import run

SPEC = os.path.join(os.path.dirname(_paths.BENCH), "BENCHMARK.json")


def test_benchmark_json_matches_the_runner():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(run.PER_LAYER) <= 128
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
