"""``tools/ab_bench.py``: the interleaved run order and the summary of
paired results, on canned benchmark result lines."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab_bench", os.path.join(os.path.dirname(__file__), "..", "tools", "ab_bench.py"))
ab_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_bench)

METRICS = [{"name": "setup_s", "unit": "s", "better": "lower"},
           {"name": "io_kb_per_op", "unit": "KiB", "better": "lower"}]


def _line(setup: float, io: float, failed: int = 0) -> str:
    return json.dumps({"correct": failed == 0, "attempted": 10, "failed": failed, "metrics": {
        "setup_s": {"value": setup, "unit": "s"}, "io_kb_per_op": {"value": io, "unit": "KiB"}}})


def test_schedule_alternates_which_side_runs_first():
    order = ab_bench.schedule([1, 2, 3], ["serve_read", "batch_hourly"])
    assert order == [
        ("serve_read", 1, "base"), ("serve_read", 1, "head"),
        ("batch_hourly", 1, "base"), ("batch_hourly", 1, "head"),
        ("serve_read", 2, "head"), ("serve_read", 2, "base"),
        ("batch_hourly", 2, "head"), ("batch_hourly", 2, "base"),
        ("serve_read", 3, "base"), ("serve_read", 3, "head"),
        ("batch_hourly", 3, "base"), ("batch_hourly", 3, "head"),
    ]


def test_parse_result_takes_the_last_line_or_none():
    assert ab_bench.parse_result('{"detail": 1}\n' + _line(30.0, 550.0))["failed"] == 0
    assert ab_bench.parse_result("Traceback (most recent call last):\n  boom") is None
    assert ab_bench.parse_result("") is None


def test_summary_pairs_by_seed_and_counts_failures():
    stdout = {  # (side, seed) -> result line; head seed 4 printed none
        ("base", 1): _line(30.0, 550.0), ("head", 1): _line(33.0, 0.002),
        ("base", 2): _line(40.0, 552.0), ("head", 2): _line(36.0, 0.003, failed=2),
        ("base", 3): _line(35.0, 556.0), ("head", 3): _line(35.0, 0.004),
        ("base", 4): _line(50.0, 560.0), ("head", 4): "killed",
    }
    runs = [{"workload": "serve_read", "seed": seed, "side": side,
             "result": ab_bench.parse_result(out)} for (side, seed), out in stdout.items()]
    setup, io = ab_bench.summarize(runs, METRICS)
    assert (setup["base_median"], setup["head_median"]) == (37.5, 35.0)
    assert setup["pairs"] == 3 and setup["head_wins"] == 1  # 36 < 40; 35 == 35 is no win
    assert setup["ratio_median"] == pytest.approx(1.0)  # ratios 1.1, 0.9, 1.0
    assert setup["ratio_iqr"] == pytest.approx(0.1)
    assert setup["base_iqr"] == pytest.approx(42.5 - 33.75)  # inclusive quartiles of 30, 35, 40, 50
    assert io["head_wins"] == 3 and io["ratio_median"] == pytest.approx(0.003 / 552.0)
    assert (io["failed_base"], io["failed_head"]) == (0, 3)  # 2 wrong answers + 1 run without a result
    table = ab_bench.format_rows([setup, io])
    assert table.splitlines()[1].split()[:4] == ["serve_read", "setup_s", "(s)", "37.5"]
