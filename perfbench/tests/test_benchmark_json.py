import json
from pathlib import Path

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS

SPEC = Path(run.ROOT) / "BENCHMARK.json"


@pytest.fixture
def spec():
    if not SPEC.exists():
        pytest.skip("no BENCHMARK.json at the checkout root")
    return json.loads(SPEC.read_text())


def test_metric_tables_match_the_runner(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_gated_workloads_exist(spec):
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
