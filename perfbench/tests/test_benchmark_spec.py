"""design.json describes what BENCHMARK.json and the runner name."""

import json
import os
import re

from workloads import LLM_QUERIES, WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_design_covers_every_workload_and_metric():
    spec = _load(os.path.join(ROOT, "BENCHMARK.json"))
    design = _load(os.path.join(HERE, "design.json"))
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert set(design["workloads"]) == set(WORKLOADS)
    assert design["workloads"]["llm_corpus"]["queries"] == list(LLM_QUERIES)
    described = design["per_layer"]
    for m in spec["per_layer"]:
        generic = re.sub(r"^(plans\.(build|exec)_s)\..+$", r"\1.<query>",
                         m["name"])
        assert generic in described, m["name"]
    assert {m["name"] for m in spec["end_to_end"]} <= set(design["end_to_end"])
