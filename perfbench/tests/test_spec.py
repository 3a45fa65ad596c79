"""``BENCHMARK.json`` against the code that produces its metrics: the names
the benchmark prints are the names the file declares, with the same units,
and every name is valid."""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers, run, stats, workloads  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_are_the_ones_the_benchmark_runs(spec):
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_end_to_end_metrics_match_the_untraced_result(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_per_layer_metrics_match_the_traced_result(spec):
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER


def test_every_name_is_valid_and_used_once(spec):
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in spec[key]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)
    assert all(m["better"] in ("lower", "higher")
               for key in ("end_to_end", "per_layer") for m in spec[key])
