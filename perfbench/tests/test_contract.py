"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os

from layers import PER_LAYER
from workload import END_TO_END, WORKLOADS

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_matches_the_code():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    traced = dict(PER_LAYER)
    traced.update({f"traced.{k}": u for k, u in END_TO_END.items()})
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == traced
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
