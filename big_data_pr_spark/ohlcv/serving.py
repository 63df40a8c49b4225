"""Serving layer: the reference's five Elasticsearch queries
(SURVEY.md §3.3, reference ``app.py``) answered from in-memory Arrow
snapshots of the serving tables, one snapshot per committed table
version. Spark writes the tables (``batch``, ``stream``); nothing here
imports it, so a request never launches a Spark job.

ES indexes become parquet tables read with their declared contracts
(``schemas.CONTRACTS``, mapped to Arrow by :func:`arrow_schema`). Each
ES query-DSL construct maps to:

- ``term`` filter        → dict lookup in a snapshot keyed by symbol,
  or the choice of one hive partition directory of ``hist``
  (``symbol=S/timeframe=T``, found in the version's listed partition
  set, never built from request text)
- ``range`` filter       → binary search over a sorted event-time
  array (chart) or a filter on one partition's rows (history)
- ``sort`` + ``size``    → sort + slice; the stats lookup's sort + size
  1 runs once per version, at load
- ``terms``/``multi_terms`` aggs → the snapshot's sorted keys; for
  ``hist``, the partition directory names, with no file opened
- get-by-id              → dict lookup

Memory posture: a snapshot of ``latest`` (one row per symbol), ``stats``
(the newest window per symbol) and ``chart`` (the file sink's log
within retention) is held in memory; ``hist`` never is: its snapshot is
the partition listing, and the history and forecast queries read the
one partition directory they need per request, so the table can grow
past memory and a request opens only its own symbol's files.

Each ``load_*`` function turns one committed version (a directory, or
for the chart the file sink's root) into the snapshot the queries take.
"""

from __future__ import annotations

import itertools
import json
import os
import re
from datetime import datetime, timedelta, timezone
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .schemas import CHART_TS, fields

_ARROW_TYPES = {
    "STRING": pa.string(), "DOUBLE": pa.float64(), "BIGINT": pa.int64(),
    "TIMESTAMP": pa.timestamp("us"), "DATE": pa.date32(),
}
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_US_PER_DAY = 86_400_000_000
_LOG_FILE = re.compile(r"^(\d+)(\.compact)?$")  # a file sink log entry: batch id [+ .compact]


def arrow_schema(table: str, columns: list[str] | None = None) -> pa.Schema:
    """``table``'s contract as an Arrow schema (``columns`` only, if
    given, in contract order). Timestamps are microseconds, as in Spark."""
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in fields(table)
                      if columns is None or n in columns])


def _read(path: str | list[str], table: str, columns: list[str] | None = None) -> pa.Table:
    """A parquet file, directory or list of files read with ``table``'s
    contract.
    Spark writes timestamps as INT96; they are read at microseconds
    (pyarrow's default is nanoseconds)."""
    schema = arrow_schema(table, columns)
    return pq.read_table(path, schema=schema, columns=schema.names,
                         coerce_int96_timestamp_unit="us")


def _us(dt: datetime) -> int:
    """Microseconds since the epoch; a naive ``dt`` is UTC."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _json_rows(t: pa.Table) -> list[dict]:
    """Rows as JSON-safe dicts in contract order; timestamps become
    ISO strings (``2024-01-01 00:00:00``)."""
    return [{k: v.isoformat(sep=" ") if isinstance(v, datetime) else v for k, v in r.items()}
            for r in t.to_pylist()]


# -- snapshots: one per committed version --------------------------------

def load_latest(data_dir: str) -> dict[str, dict]:
    """A ``latest`` version → {symbol: its row}, in symbol order."""
    rows: dict[str, dict] = {}
    for r in _json_rows(_read(data_dir, "latest")):
        rows.setdefault(r["symbol"], r)
    return {s: rows[s] for s in sorted(s for s in rows if s is not None)}


def load_stats(data_dir: str) -> dict[str, dict]:
    """A ``stats`` version → {symbol: its newest-``window_end`` row}:
    the reference's sort + size 1 (``app.py:102-104``) for every
    symbol at once."""
    t = _read(data_dir, "stats").sort_by([("window_end", "descending")])
    first: dict[str, int] = {}
    for i, s in enumerate(t.column("symbol").to_pylist()):
        first.setdefault(s, i)
    return dict(zip(first, _json_rows(t.take(pa.array(first.values(), pa.int64())))))


def load_hist(data_dir: str) -> dict[tuple[str, str], str]:
    """A ``hist`` version → {(symbol, timeframe): its partition
    directory}, from the hive directory names alone (no file opened),
    ordered by ``{symbol}_{timeframe}`` as ``concat_ws`` + ``orderBy``
    orders them (sorting the tuples would put ``A0`` before ``A``)."""
    parts = {}
    for sym_dir in os.listdir(data_dir):
        if not sym_dir.startswith("symbol="):
            continue
        for tf_dir in os.listdir(os.path.join(data_dir, sym_dir)):
            if tf_dir.startswith("timeframe="):
                key = (unquote(sym_dir[len("symbol="):]), unquote(tf_dir[len("timeframe="):]))
                parts[key] = os.path.join(data_dir, sym_dir, tf_dir)
    return dict(sorted(parts.items(), key=lambda kv: "_".join(kv[0])))


def chart_files(path: str) -> list[str]:
    """The data files Spark's file sink at ``path`` has committed: the
    ``add`` entries of its ``_spark_metadata`` log's newest
    ``N.compact`` file and of the batch files after it (the set Spark's
    ``MetadataLogFileIndex`` reads). A file the log does not list, such
    as one of an uncommitted batch, is not among them."""
    log = os.path.join(path, "_spark_metadata")
    batches = sorted((int(m[1]), name) for name in os.listdir(log) if (m := _LOG_FILE.match(name)))
    start = max((i for i, (_, name) in enumerate(batches) if name.endswith(".compact")), default=0)
    files = []
    for _, name in batches[start:]:
        with open(os.path.join(log, name)) as f:
            entries = f.read().splitlines()[1:]  # the first line is the log format, "v1"
        files += [e["path"] for e in map(json.loads, filter(None, entries)) if e["action"] == "add"]
    return [unquote(urlparse(p).path) for p in files]


def _present(files: list[str]) -> list[str]:
    return [f for f in files if os.path.exists(f)]


def load_chart(path: str) -> dict[str, tuple[np.ndarray, list]]:
    """The chart's committed rows → {symbol: (event times in µs,
    ascending; their closes)}. ``path`` is the file sink's root, whose
    log lists the committed files (:func:`chart_files`); a listed file
    that retention removed is skipped, as Spark's ``ignoreMissingFiles``
    does. The files are read as one dataset, not one by one: each
    separate read pays the setup of a dataset of its own."""
    cols = [CHART_TS, "symbol", "close"]
    files = _present(chart_files(path))
    try:
        t = _read(files, "chart", cols)
    except FileNotFoundError:  # retention removed one after the check
        t = _read(_present(files), "chart", cols)
    t = t.filter(pc.is_valid(t[CHART_TS])).sort_by([("symbol", "ascending"), (CHART_TS, "ascending")])
    ts = t.column(CHART_TS).cast(pa.int64()).to_numpy()
    closes = t.column("close").to_pylist()
    out, i = {}, 0
    for sym, run in itertools.groupby(t.column("symbol").to_pylist()):
        n = sum(1 for _ in run)
        out[sym] = (ts[i:i + n], closes[i:i + n])
        i += n
    return out


LOADERS = {"hist": load_hist, "latest": load_latest, "stats": load_stats, "chart": load_chart}


# -- the queries -------------------------------------------------------------

def distinct_symbols(latest: dict[str, dict]) -> list[str]:
    """GET / dropdown: distinct symbols, sorted (reference
    ``app.py:46-64``, ES terms agg)."""
    return list(latest)


def distinct_symbol_timeframes(hist: dict[tuple[str, str], str]) -> list[str]:
    """GET /historical dropdown: distinct ``{symbol}_{timeframe}``,
    sorted (reference ``app.py:66-83`` multi_terms agg)."""
    return ["_".join(k) for k in hist]


_NO_CHART = (np.empty(0, dtype=np.int64), [])


def chart_data_1m(chart: dict, symbol: str, now: datetime) -> list[list]:
    """GET /api/chart_data_1m/<sym> (reference ``app.py:109-135``):
    term(symbol) + range(last 35 min up to ``now``) + sort asc + size
    200 → [[``@timestamp`` in ms, close], ...]."""
    ts, closes = chart.get(symbol, _NO_CHART)
    hi = _us(now)
    lo = int(np.searchsorted(ts, hi - 35 * 60_000_000, "left"))
    end = min(int(np.searchsorted(ts, hi, "right")), lo + 200)
    return [[int(t) // 1000, c] for t, c in zip(ts[lo:end], closes[lo:end])]


def _partition(hist: dict[tuple[str, str], str], symbol: str, timeframe: str,
               columns: list[str]) -> pa.Table:
    """The rows of one (symbol, timeframe) partition of a hist version;
    none for a key the version does not hold. Only that partition's
    directory is opened."""
    part = hist.get((symbol, timeframe))
    if part is None:
        return arrow_schema("hist", columns).empty_table()
    return _read(part, "hist", columns)


def historical_data(hist: dict[tuple[str, str], str], symbol: str, timeframe: str,
                    now: datetime, range_days: int | None = None) -> pa.Table:
    """GET /api/historical_data/<sym_tf> (reference ``app.py:153-193``):
    term(symbol) + term(timeframe) [+ range(ts ≥ now − N days)] + sort
    asc + size 10000 → timestamp_dt, close, sma_7, sma_30."""
    t = _partition(hist, symbol, timeframe, ["timestamp_dt", "close", "sma_7", "sma_30"])
    if range_days is not None:
        cut = pa.scalar(_us(now) - range_days * _US_PER_DAY, pa.timestamp("us"))
        t = t.filter(pc.greater_equal(t["timestamp_dt"], cut))
    return t.sort_by("timestamp_dt").slice(0, 10000)


def model_input_topk(hist: dict[tuple[str, str], str], symbol: str, timeframe: str,
                     k: int) -> list[tuple[int, float]]:
    """GET /api/predict input scan (reference ``app.py:219-228``): the
    k newest closes (sort desc, size k), ascending, as (ts_ms, close)."""
    t = _partition(hist, symbol, timeframe, ["timestamp_dt", "close"])
    t = t.sort_by([("timestamp_dt", "descending")]).slice(0, k)
    ts_ms = [us // 1000 for us in t.column("timestamp_dt").cast(pa.int64()).to_pylist()]
    return list(zip(ts_ms, t.column("close").to_pylist()))[::-1]
