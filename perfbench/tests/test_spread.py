"""The spread report counts failed runs and leaves them out of the figures."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import spread  # noqa: E402

SPEC = {"end_to_end": [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]}


def test_failed_runs_are_counted_and_left_out():
    runs = [{"setup_s": v, "failed_ratio": 0.0, "exit": 0} for v in (10.0, 11.0, 12.0)]
    runs += [
        {"setup_s": 99.0, "failed_ratio": 0.1, "exit": 1},  # wrong output
        {"seed": 7, "exit": 1},  # crashed before printing a detail line
    ]
    lines = spread.report(SPEC, runs)
    assert "median      11.0000" in lines[0]
    assert lines[-1] == "  runs 5, runs with failures 2"


def test_report_without_a_good_run():
    assert spread.report(SPEC, [{"seed": 1, "exit": 1}]) == ["  runs 1, runs with failures 1"]
