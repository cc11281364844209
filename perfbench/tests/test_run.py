import json
import os

from perfbench import run

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


def test_reported_metrics_are_those_of_record():
    with open(BENCHMARK, encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    layers = {
        "session.start_s": "s", "unattributed_jobs": "count", "audit_failures": "count",
        "trace_overhead_s": "s",
        **{k: u for k, u in run.LAYER_UNITS.items() if k not in run.WRITE_LAYERS},
    }
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers
