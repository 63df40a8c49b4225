"""Seeded input generator for the Lambda-path benchmark.

Everything a workload feeds the system is derived from one integer seed
plus a wall-clock anchor (epoch milliseconds, truncated to the minute or
hour): the same seed and anchor give byte-identical files, and two
anchors give the same series shifted in time.

Inputs follow the system's own contracts:

- hourly candle CSVs ``{SYM}_1h.csv`` and ``{SYM}_1h_update_<ts>.csv``
  (``ohlcv/schemas.py`` OHLCV_CSV_SCHEMA, symbol in underscore form);
- JSON-lines files whose lines are the Kafka ``value`` payload
  (OHLCV_STREAM_SCHEMA, symbol in slash form).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np

HOUR_MS = 3_600_000
MINUTE_MS = 60_000
CSV_HEADER = "timestamp,open,high,low,close,volume,datetime_str\n"


def symbols(n: int) -> list[str]:
    """Underscore-form symbols, e.g. ``S000_USDT``."""
    return [f"S{i:03d}_USDT" for i in range(n)]


def slash(sym: str) -> str:
    return sym.replace("_", "/")


def _iso(ts_ms: int) -> str:
    return dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


@dataclass
class Series:
    """Close prices per symbol on a regular grid: candle ``i`` of symbol
    ``s`` opens at ``start_ms + i * step_ms``."""

    start_ms: int
    step_ms: int
    closes: dict[str, np.ndarray]

    def ts(self, i: int) -> int:
        return self.start_ms + i * self.step_ms


def price_series(seed: int, syms: list[str], n: int, start_ms: int, step_ms: int) -> Series:
    """Geometric random walks, one per symbol; start prices in [1, 1000)."""
    rng = np.random.default_rng(seed)
    closes = {}
    for sym in syms:
        p0 = float(rng.uniform(1.0, 1000.0))
        steps = rng.normal(0.0, 0.01, size=n)
        closes[sym] = p0 * np.exp(np.cumsum(steps))
    return Series(start_ms, step_ms, closes)


def _candle(ts: int, close: float) -> tuple:
    return (ts, close, close * 1.001, close * 0.999, close, 1.0 + (ts // MINUTE_MS) % 97)


def write_history_csvs(out_dir: str, series: Series, last: int | None = None) -> None:
    """One ``{SYM}_1h.csv`` per symbol holding candles ``0..last-1``."""
    os.makedirs(out_dir, exist_ok=True)
    for sym, closes in series.closes.items():
        hi = len(closes) if last is None else last
        with open(os.path.join(out_dir, f"{sym}_1h.csv"), "w") as f:
            f.write(CSV_HEADER)
            for i in range(hi):
                ts, o, h, lo, c, v = _candle(series.ts(i), float(closes[i]))
                f.write(f"{ts},{o!r},{h!r},{lo!r},{c!r},{v!r},{_iso(ts)}\n")


def write_update_csvs(out_dir: str, series: Series, i: int) -> None:
    """The hourly updater's output for candle ``i``: one
    ``{SYM}_1h_update_<YYYYmmdd_HHMMSS>.csv`` per symbol."""
    os.makedirs(out_dir, exist_ok=True)
    ts = series.ts(i)
    stamp = dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc).strftime("%Y%m%d_%H%M%S")
    for sym, closes in series.closes.items():
        _, o, h, lo, c, v = _candle(ts, float(closes[i]))
        with open(os.path.join(out_dir, f"{sym}_1h_update_{stamp}.csv"), "w") as f:
            f.write(CSV_HEADER)
            f.write(f"{ts},{o!r},{h!r},{lo!r},{c!r},{v!r},{_iso(ts)}\n")


def stream_message(sym: str, ts: int, close: float) -> str:
    """One Kafka ``value`` payload (stream_processor contract)."""
    _, o, h, lo, c, v = _candle(ts, close)
    return json.dumps(
        {
            "timestamp": ts, "symbol": slash(sym), "timeframe": "1m",
            "open": o, "high": h, "low": lo, "close": c, "volume": v,
            "datetime_str": _iso(ts),
        },
        separators=(",", ":"),
    )


def publish(path: str, lines: list[str]) -> None:
    """Write a source file atomically: Spark's file source skips names
    starting with ``.``, so the rename is the publish instant."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


LATE_FILES = 5  # a late row arrives this many files after its own


def stream_files(seed: int, series: Series, per_file: int) -> list[list[tuple[str, int, float]]]:
    """Split a 1-minute series into files of ``per_file`` candles per
    symbol, in event-time order, then disorder it like a live feed:

    - about 2 % of candles trade places with the same symbol's next
      candle (out of order by one minute, inside the 2-minute watermark);
    - about 1 % of candles arrive ``LATE_FILES`` files late (at least
      five minutes behind: later than the watermark, so the windowed
      stats may drop them while the snapshot and the chart keep them).
      The last ``LATE_FILES`` files' candles are never delayed.

    Returns per file the list of (symbol, ts_ms, close).
    """
    rng = np.random.default_rng(seed + 7919)
    syms = list(series.closes)
    nsym = len(syms)
    n_files = len(series.closes[syms[0]]) // per_file
    n = n_files * per_file
    # placement of candle (i, s): (file, position inside the file)
    file_of = np.repeat(np.arange(n) // per_file, nsym).reshape(n, nsym)
    pos_of = np.arange(n * nsym).reshape(n, nsym) % (per_file * nsym)
    swap = rng.random((n - 1, nsym)) < 0.02
    for i, s in zip(*np.nonzero(swap)):
        a, b = (i, s), (i + 1, s)
        file_of[a], file_of[b] = file_of[b], file_of[a]
        pos_of[a], pos_of[b] = pos_of[b], pos_of[a]
    late = (rng.random((n, nsym)) < 0.01) & (file_of < n_files - LATE_FILES)
    file_of[late] += LATE_FILES
    pos_of[late] += per_file * nsym  # after the file's on-time rows
    files: list[list[tuple[str, int, float]]] = [[] for _ in range(n_files)]
    order = np.lexsort((pos_of.ravel(), file_of.ravel()))
    for k in order:
        i, s = divmod(int(k), nsym)
        sym = syms[s]
        files[int(file_of[i, s])].append((sym, series.ts(i), float(series.closes[sym][i])))
    return files
