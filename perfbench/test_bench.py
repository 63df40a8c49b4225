"""Tests of the benchmark's own parts: the seeded generator, the
synthetic forecast artifacts, the self-time arithmetic and which reason
codes count as known defects.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import synth_models as sm  # noqa: E402
from spans import self_times  # noqa: E402

ANCHOR_H = 1_760_000_400_000 // gen.HOUR_MS * gen.HOUR_MS


def _write_all(root: Path, seed: int, anchor_h: int) -> None:
    syms = gen.symbols(3)
    hist = gen.price_series(seed, syms, 50, anchor_h - 50 * gen.HOUR_MS, gen.HOUR_MS)
    gen.write_history_csvs(str(root / "csv"), hist, last=40)
    gen.write_update_csvs(str(root / "csv"), hist, 40)
    live = gen.price_series(seed + 1, syms, 60, anchor_h - 60 * gen.MINUTE_MS, gen.MINUTE_MS)
    (root / "src").mkdir()
    for j, rows in enumerate(gen.stream_files(seed, live, per_file=6)):
        gen.publish(str(root / "src" / f"part-{j:04d}.json"), [gen.stream_message(*r) for r in rows])


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_same_seed_same_inputs(tmp_path):
    _write_all(tmp_path / "a", 7, ANCHOR_H)
    _write_all(tmp_path / "b", 7, ANCHOR_H)
    a, b = _tree(tmp_path / "a"), _tree(tmp_path / "b")
    assert a and a == b
    _write_all(tmp_path / "c", 8, ANCHOR_H)
    assert _tree(tmp_path / "c") != a


def test_anchor_only_shifts_time():
    syms = gen.symbols(4)
    s1 = gen.price_series(3, syms, 30, ANCHOR_H, gen.MINUTE_MS)
    s2 = gen.price_series(3, syms, 30, ANCHOR_H + 7 * gen.HOUR_MS, gen.MINUTE_MS)
    f1, f2 = gen.stream_files(3, s1, 5), gen.stream_files(3, s2, 5)
    shifted = [[(sym, ts + 7 * gen.HOUR_MS, c) for sym, ts, c in rows] for rows in f1]
    assert shifted == f2


def test_stream_files_keep_every_candle_and_disorder_some():
    syms = gen.symbols(50)
    s = gen.price_series(5, syms, 200, ANCHOR_H, gen.MINUTE_MS)
    files = gen.stream_files(5, s, per_file=5)
    rows = [r for f in files for r in f]
    assert sorted((sym, ts) for sym, ts, _ in rows) == sorted(
        (sym, s.ts(i)) for sym in syms for i in range(200))
    seen: dict[str, int] = {}
    behind = []
    for sym, ts, _ in rows:
        behind.append(ts < seen.get(sym, 0))
        seen[sym] = max(seen.get(sym, 0), ts)
    share = np.mean(behind)
    assert 0.01 < share < 0.06  # ~2 % swapped + ~1 % late


def test_artifacts_load_and_forecast_matches_naive_trees(tmp_path):
    from big_data_pr_spark.ohlcv.artifacts import load_minmax_scaler
    from big_data_pr_spark.ohlcv.forecast import recursive_forecast
    from big_data_pr_spark.ohlcv.xgb_ubjson import load_reference_regressor

    m = sm.make_model(11, 5, 80.0, 130.0)
    sm.write_artifacts(str(tmp_path), "S001_USDT", m)
    scaler = load_minmax_scaler(str(tmp_path / "S001_USDT_scaler.pkl"))
    model, params = load_reference_regressor(str(tmp_path / "S001_USDT_xgboost_model.pkl"))
    assert scaler.data_min_[0] == 80.0 and scaler.data_max_[0] == 130.0
    assert model.n_features_in_ == 5 and len(model.trees) == params["n_estimators"] == 20

    x = np.array([0.3, np.nan, 0.7, 0.5, 0.1])
    assert model.predict(x.reshape(1, -1))[0] == sm.naive_predict(m.trees, m.base, x)

    closes = [100.0, 101.5, 99.0, 102.25, 103.0]
    got = recursive_forecast(closes, 1_000, steps=24, model=model, scaler=scaler)
    want = sm.replay_forecast(m, closes)
    assert [t for t, _ in got] == [1_000 + i * gen.HOUR_MS for i in range(1, 25)]
    assert [p for _, p in got] == pytest.approx(want, rel=1e-12)


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": "r", "name": "request", "start": 0.0, "end": 10.0, "parent": None, "rid": "1"},
        {"id": "a", "name": "backend", "start": 1.0, "end": 4.0, "parent": "r", "rid": "1"},
        {"id": "b", "name": "backend", "start": 3.0, "end": 6.0, "parent": "r", "rid": "1"},
    ]
    t = self_times(spans)
    assert t["request"]["self_s"] == pytest.approx(5.0)  # children cover 1..6
    assert t["backend"]["count"] == 2 and t["backend"]["self_s"] == pytest.approx(6.0)


def test_only_known_defects_are_excused():
    import checks
    from run import KNOWN_DEFECTS

    closes = np.array([10.0, 11.0, 12.0, 13.0])
    sma = [[checks.trailing_mean(closes, i, n) for i in range(4)] for n in (7, 30)]
    good = {"datasets": [{"data": list(closes)}, {"data": sma[0]}, {"data": sma[1]}]}
    assert checks.check_history(200, good, closes, 4) is None
    assert checks.check_history(200, {"datasets": []}, closes, 4) in KNOWN_DEFECTS
    bad_sma = {"datasets": [{"data": list(closes)}, {"data": [0.0] * 4}, {"data": sma[1]}]}
    assert checks.check_history(200, bad_sma, closes, 4) == "history_wrong_sma"

    rows = {0: 1.0, gen.MINUTE_MS: 2.0}
    err = {"error": "cannot resolve `event_timestamp`"}
    assert checks.check_chart(500, err, rows, gen.MINUTE_MS) in KNOWN_DEFECTS
    assert checks.check_chart(200, [[0, 1.5]], rows, gen.MINUTE_MS) == "chart_wrong_rows"
    assert checks.guarded("chart", lambda: checks.check_chart(200, [[0]], rows, 0)) == "chart_malformed_response"

    want = [1.0] * 24
    assert checks.check_forecast(404, {"error": "found 0 rows"}, want, 0) in KNOWN_DEFECTS
    body = [{"timestamp": i * gen.HOUR_MS, "predicted_price": 2.0} for i in range(1, 25)]
    assert checks.check_forecast(200, body, want, 0) == "predict_wrong_values"
    assert not {"history_wrong_sma", "chart_wrong_rows", "chart_malformed_response",
                "predict_wrong_values"} & KNOWN_DEFECTS
