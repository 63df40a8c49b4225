"""Correctness oracles: each check compares a system output with what
the generated inputs imply, computed here with plain numpy, and returns
``None`` when it is right or a short reason code when it is not.

Reason codes name what was observed, so known defects are told apart
from new ones (see ``perfbench/METRICS.md``).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

from gen import HOUR_MS, MINUTE_MS, Series

REL = 1e-9


def close_enough(a: float, b: float) -> bool:
    return a is not None and math.isclose(float(a), float(b), rel_tol=REL, abs_tol=1e-12)


def trailing_mean(closes: np.ndarray, i: int, n: int) -> float:
    """SMA over rows ``i-n+1..i``; warm-up rows average what exists
    (``rowsBetween(-n+1, 0)``)."""
    return float(np.mean(closes[max(0, i - n + 1): i + 1]))


def _utc_ms(s: str) -> int:
    t = dt.datetime.fromisoformat(s)
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp() * 1000)


# -- serving routes ---------------------------------------------------------

def guarded(route: str, check) -> str | None:
    """Run a route check; a response of the wrong shape is a failure too."""
    try:
        return check()
    except (KeyError, IndexError, TypeError, ValueError, AttributeError):
        return f"{route}_malformed_response"


def check_realtime(status: int, body, closes: dict[int, float], newest_ts: int) -> str | None:
    """``/api/realtime_stats``: ``latest`` is the symbol's newest candle
    and ``stats`` is the window with the latest end: the 10-minute window
    that opens at the newest candle, equal to a numpy mean/min/max/count."""
    if status != 200:
        return f"realtime_http_{status}"
    latest = body.get("latest") or {}
    ts = latest.get("timestamp_ms")
    if ts is None:
        return "realtime_latest_empty"
    if ts != newest_ts:
        return "realtime_latest_not_newest"
    if ts not in closes or not close_enough(latest.get("current_price"), closes[ts]):
        return "realtime_latest_wrong_price"
    stats = body.get("stats") or {}
    if not stats:
        return "realtime_stats_empty"
    end = ts + 10 * MINUTE_MS
    want = np.array([c for t, c in closes.items() if end - 10 * MINUTE_MS <= t < end])
    if _utc_ms(stats["window_end"]) != end or stats.get("n_candles") != len(want):
        return "realtime_stats_wrong_window"
    if not (close_enough(stats["avg_close"], want.mean())
            and close_enough(stats["min_close"], want.min())
            and close_enough(stats["max_close"], want.max())):
        return "realtime_stats_wrong_values"
    return None


def check_chart(status: int, body, rows: dict[int, float], now_ms: int) -> str | None:
    """``/api/chart_data_1m``: the symbol's candles of the last 35 minutes,
    ascending (the window edge may move by one candle while in flight)."""
    if status != 200:
        err = str(body.get("error", "")) if isinstance(body, dict) else ""
        if status == 500 and "event_timestamp" in err:
            return "chart_500_no_event_timestamp_column"
        return f"chart_http_{status}"
    want = [t for t in sorted(rows) if now_ms - 35 * MINUTE_MS - MINUTE_MS <= t <= now_ms]
    got = [p[0] for p in body]
    if not got:
        return "chart_empty"
    if got != sorted(got) or any(t not in rows or not close_enough(c, rows[t]) for t, c in body):
        return "chart_wrong_rows"
    if abs(len(got) - len(want)) > 1:
        return "chart_wrong_count"
    return None


def check_history(status: int, body, closes: np.ndarray, n_want: int) -> str | None:
    """``/api/historical_data``: the newest ``n_want`` generated hourly
    closes (the range edge may move by one candle while in flight), with
    SMA-7/30 equal to a numpy rolling mean over the whole series."""
    if status != 200:
        return f"history_http_{status}"
    sets = body.get("datasets", [])  # close, SMA-7, SMA-30 (the route's order)
    got = sets[0]["data"] if sets else []
    if not got:
        return "history_empty"
    off = len(closes) - len(got)
    if off < 0 or not all(close_enough(g, w) for g, w in zip(got, closes[off:])):
        return "history_wrong_closes"
    if abs(len(got) - n_want) > 1:
        return "history_wrong_count"
    for j in sorted({0, len(got) // 2, len(got) - 1}):
        if not (close_enough(sets[1]["data"][j], trailing_mean(closes, off + j, 7))
                and close_enough(sets[2]["data"][j], trailing_mean(closes, off + j, 30))):
            return "history_wrong_sma"
    return None


def check_forecast(status: int, body, want: list[float], last_ts: int) -> str | None:
    """``/api/predict_xgboost``: 24 steps equal to the numpy replay."""
    if status != 200:
        err = str(body.get("error", "")) if isinstance(body, dict) else ""
        if status == 404 and "found 0" in err:
            return "predict_404_no_history_rows"
        return f"predict_http_{status}"
    if len(body) != len(want):
        return "predict_wrong_steps"
    for i, (p, w) in enumerate(zip(body, want), 1):
        if p["timestamp"] != last_ts + i * HOUR_MS or not math.isclose(
                p["predicted_price"], w, rel_tol=1e-9):
            return "predict_wrong_values"
    return None


def check_page(status: int, body: str, names: list[str]) -> str | None:
    if status != 200:
        return f"page_http_{status}"
    return None if all(f'value="{n}"' in body for n in names) else "page_missing_symbols"


# -- tables -----------------------------------------------------------------

def check_hist_table(table_dir: str, series: Series, n: int, rng: np.random.Generator) -> str | None:
    """The batch serving table after ``n`` hourly candles per symbol:
    exact row count, newest candle, and sampled SMA-7/30."""
    import pyarrow.dataset as ds

    t = ds.dataset(table_dir, format="parquet", partitioning="hive").to_table(
        columns=["symbol", "timestamp_s", "close", "sma_7", "sma_30"])
    if t.num_rows != n * len(series.closes):
        return "batch_wrong_row_count"
    sym_col = np.asarray(t.column("symbol").to_pylist())
    ts_col = t.column("timestamp_s").to_numpy()
    close_col = t.column("close").to_numpy()
    sma7, sma30 = t.column("sma_7").to_numpy(), t.column("sma_30").to_numpy()
    syms = list(series.closes)
    for sym in [syms[j] for j in rng.choice(len(syms), size=min(5, len(syms)), replace=False)]:
        mask = np.flatnonzero(sym_col == sym)
        order = mask[np.argsort(ts_col[mask])]
        closes = series.closes[sym][:n]
        if len(order) != n or ts_col[order[-1]] * 1000 != series.ts(n - 1):
            return "batch_newest_candle_missing"
        for i in sorted(set(rng.integers(0, n, 4).tolist()) | {n - 1}):
            r = order[i]
            if not (close_enough(close_col[r], closes[i])
                    and close_enough(sma7[r], trailing_mean(closes, i, 7))
                    and close_enough(sma30[r], trailing_mean(closes, i, 30))):
                return "batch_wrong_sma"
    return None
