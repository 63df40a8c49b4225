"""The Lambda layers on each other's real outputs: the ``batch`` and
``stream`` CLI commands write the tables, ``ServingBackend`` serves
what they wrote, and every route is checked against numpy.

Two symbols, a few hundred rows: a 150-hour history per symbol plus one
hourly update file (batch), and 40 one-minute candles per symbol
(stream, availableNow). The forecast uses a synthetic scaler and model
in place of the pickled artifacts and is replayed here in numpy.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from datetime import datetime, timezone
import urllib.error
import urllib.request

import numpy as np
import pytest

from big_data_pr_spark.__main__ import main
from big_data_pr_spark.ohlcv import artifacts, xgb_ubjson
from big_data_pr_spark.ohlcv.artifacts import MinMaxScalerParams
from big_data_pr_spark.ohlcv.schemas import CONTRACTS
from big_data_pr_spark.ohlcv.serving_http import ServingBackend, start_server
from big_data_pr_spark.operators import versioned

HOUR_MS, MINUTE_MS = 3_600_000, 60_000
SYMS = ["BTC_USDT", "ETH_USDT"]  # the candle files' (and hist's) form
HOURS, UPDATE_HOURS, MINUTES, K = 150, 3, 40, 5
NOW_MS = int(time.time() * 1000) // HOUR_MS * HOUR_MS
H0 = NOW_MS - (HOURS + UPDATE_HOURS) * HOUR_MS  # first hourly candle
M0 = NOW_MS - MINUTES * MINUTE_MS  # first one-minute candle
NEWEST_M = M0 + (MINUTES - 1) * MINUTE_MS


def _closes(seed: int, n: int, start: float) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.round(start * np.cumprod(1 + rng.normal(0, 0.01, n)), 4)


HOURLY = {s: _closes(i, HOURS + UPDATE_HOURS, 100.0 * (i + 1)) for i, s in enumerate(SYMS)}
MINUTELY = {s: _closes(10 + i, MINUTES, 50.0 * (i + 1)) for i, s in enumerate(SYMS)}


def _sma(closes: np.ndarray, n: int) -> np.ndarray:
    return np.array([closes[max(0, i - n + 1): i + 1].mean() for i in range(len(closes))])


def _csv(path, sym: str, rows: range) -> None:
    lines = ["timestamp,open,high,low,close,volume,datetime_str"]
    for i in rows:
        c = HOURLY[sym][i]
        lines.append(f"{H0 + i * HOUR_MS},{c},{c + 1},{c - 1},{c},{10 + i},x")
    path.write_text("\n".join(lines) + "\n")


class _Model:
    """Stand-in regressor: scaled next = 0.7·last + 0.3·window mean."""

    n_features_in_ = K

    def predict(self, x: np.ndarray) -> np.ndarray:
        w = x.reshape(-1)
        return np.array([0.7 * w[-1] + 0.3 * w.mean()])


def _scaler(sym: str) -> MinMaxScalerParams:
    lo, hi = HOURLY[sym].min() * 0.9, HOURLY[sym].max() * 1.1
    scale = np.array([1.0 / (hi - lo)])
    return MinMaxScalerParams(scale_=scale, min_=-lo * scale)


def _replay(sym: str) -> list[float]:
    s = _scaler(sym)
    w = HOURLY[sym][-K:] * s.scale_[0] + s.min_[0]
    out = []
    for _ in range(24):
        p = 0.7 * w[-1] + 0.3 * w.mean()
        out.append((p - s.min_[0]) / s.scale_[0])
        w = np.append(w[1:], p)
    return out


@pytest.fixture(scope="module")
def lambda_tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lambda")
    hist_dir, upd_dir, src = root / "history", root / "updates", root / "src"
    for d in (hist_dir, upd_dir, src):
        d.mkdir()
    for sym in SYMS:
        _csv(hist_dir / f"{sym}_1h.csv", sym, range(HOURS))
    tables = {"hist": str(root / "hist")}
    # backfill, then one hourly cycle over history + updates (the cron)
    assert main(["batch", "--input", str(hist_dir / "*_1h.csv"), "--table", tables["hist"]]) == 0
    for sym in SYMS:
        _csv(upd_dir / f"{sym}_1h_update_20250101_000000.csv", sym,
             range(HOURS, HOURS + UPDATE_HOURS))
    assert main(["batch", "--input", str(hist_dir / "*_1h.csv"),
                 str(upd_dir / "*_update_*.csv"), "--table", tables["hist"]]) == 0

    for j in range(0, MINUTES, 10):
        msgs = [
            json.dumps({
                "timestamp": M0 + i * MINUTE_MS, "symbol": sym.replace("_", "/"),
                "timeframe": "1m", "open": c, "high": c + 1, "low": c - 1,
                "close": c, "volume": 1.0 + i, "datetime_str": "x",
            })
            for sym in SYMS
            for i, c in enumerate(MINUTELY[sym][j: j + 10], start=j)
        ]
        (src / f"part-{j:03d}.json").write_text("\n".join(msgs) + "\n")
    out = root / "out"
    assert main(["stream", "--path", str(src), "--out", str(out),
                 "--checkpoint", str(root / "ck")]) == 0
    tables.update({t: str(out / t) for t in ("latest", "stats", "chart")})
    return tables


@pytest.fixture(scope="module")
def server(lambda_tables, tmp_path_factory):
    art = tmp_path_factory.mktemp("artifacts")
    for sym in SYMS:  # the route checks that both files exist
        (art / f"{sym}_xgboost_model.pkl").write_bytes(b"synthetic")
        (art / f"{sym}_scaler.pkl").write_bytes(b"synthetic")
    mp = pytest.MonkeyPatch()
    mp.setattr(xgb_ubjson, "load_reference_regressor", lambda _p: (_Model(), {}))
    mp.setattr(artifacts, "load_minmax_scaler",
               lambda p: _scaler(p.rsplit("/", 1)[1].removesuffix("_scaler.pkl")))
    now = datetime.fromtimestamp(NEWEST_M / 1000, timezone.utc)
    backend = ServingBackend(**lambda_tables, artifacts_dir=str(art), now_fn=lambda: now)
    srv, port = start_server(backend)
    yield port
    srv.shutdown()
    mp.undo()


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            body = r.read().decode()
            ctype = r.headers.get("Content-Type")
            return r.status, json.loads(body) if ctype == "application/json" else body
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def _utc_ms(s: str) -> int:
    return int(datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp() * 1000)


@pytest.mark.parametrize("sym", SYMS)
def test_history_closes_and_sma_match_numpy(server, sym):
    closes = HOURLY[sym]
    for rng in ("all", "1m"):
        code, body = _get(server, f"/api/historical_data/{sym}_1h?range={rng}")
        assert code == 200
        close, sma7, sma30 = (ds["data"] for ds in body["datasets"])
        assert len(body["labels"]) == len(closes)
        np.testing.assert_allclose(close, closes, rtol=1e-12)
        np.testing.assert_allclose(sma7, _sma(closes, 7), rtol=1e-12)
        np.testing.assert_allclose(sma30, _sma(closes, 30), rtol=1e-12)


@pytest.mark.parametrize("sym", SYMS)
def test_realtime_latest_candle_and_window(server, sym):
    code, body = _get(server, f"/api/realtime_stats/{sym.replace('_', '-')}")
    assert code == 200
    latest, stats = body["latest"], body["stats"]
    assert latest["timestamp_ms"] == NEWEST_M
    assert latest["current_price"] == pytest.approx(MINUTELY[sym][-1], rel=1e-12)
    assert latest["volume"] == pytest.approx(float(MINUTES))
    # the window with the latest end opens at the newest candle
    assert _utc_ms(stats["window_end"]) == NEWEST_M + 10 * MINUTE_MS
    assert stats["n_candles"] == 1
    assert stats["avg_close"] == pytest.approx(MINUTELY[sym][-1], rel=1e-12)


def test_stats_table_windows_match_numpy(spark, lambda_tables):
    from pyspark.sql import functions as F

    ts = M0 + np.arange(MINUTES) * MINUTE_MS
    for r in (versioned.read_version(spark, lambda_tables["stats"])
              .select("symbol", F.unix_millis("window_start").alias("s"), "avg_close",
                      "min_close", "max_close", "n_candles").collect()):
        want = MINUTELY[r["symbol"].replace("/", "_")][(ts >= r["s"]) & (ts < r["s"] + 10 * MINUTE_MS)]
        assert r["n_candles"] == len(want) > 0
        assert r["avg_close"] == pytest.approx(want.mean(), rel=1e-12)
        assert (r["min_close"], r["max_close"]) == (want.min(), want.max())


@pytest.mark.parametrize("sym", SYMS)
def test_chart_last_35_minutes(server, sym):
    code, body = _get(server, f"/api/chart_data_1m/{sym.replace('_', '-')}")
    assert code == 200
    keep = [i for i in range(MINUTES) if M0 + i * MINUTE_MS >= NEWEST_M - 35 * MINUTE_MS]
    assert [p[0] for p in body] == [M0 + i * MINUTE_MS for i in keep]
    np.testing.assert_allclose([p[1] for p in body], MINUTELY[sym][keep], rtol=1e-12)


@pytest.mark.parametrize("sym", SYMS)
def test_forecast_replays_in_numpy(server, sym):
    code, body = _get(server, f"/api/predict_xgboost/{sym}_1h")
    assert code == 200
    last = H0 + (HOURS + UPDATE_HOURS - 1) * HOUR_MS
    assert [p["timestamp"] for p in body] == [last + i * HOUR_MS for i in range(1, 25)]
    np.testing.assert_allclose([p["predicted_price"] for p in body], _replay(sym), rtol=1e-9)


def test_cli_forecast_reads_the_batch_table(lambda_tables, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(xgb_ubjson, "load_reference_regressor", lambda _p: (_Model(), {}))
    monkeypatch.setattr(artifacts, "load_minmax_scaler", lambda _p: _scaler("ETH_USDT"))
    capsys.readouterr()
    assert main(["forecast", "--symbol", "ETH_USDT", "--artifacts", str(tmp_path),
                 "--hist", lambda_tables["hist"], "--steps", "24"]) == 0
    got = [json.loads(x)["predicted_price"] for x in capsys.readouterr().out.splitlines()]
    assert got == pytest.approx(_replay("ETH_USDT"), abs=0.006)


def test_forecast_artifacts_load_once_per_file_version(lambda_tables, tmp_path, monkeypatch):
    """Two requests unpickle the model and scaler once; touching either
    file loads both again."""
    loads = []

    def model(p):
        loads.append(p)
        return _Model(), {}

    def scaler(p):
        loads.append(p)
        return _scaler("ETH_USDT")

    monkeypatch.setattr(xgb_ubjson, "load_reference_regressor", model)
    monkeypatch.setattr(artifacts, "load_minmax_scaler", scaler)
    for name in ("ETH_USDT_xgboost_model.pkl", "ETH_USDT_scaler.pkl"):
        (tmp_path / name).write_bytes(b"synthetic")
    backend = ServingBackend(hist=lambda_tables["hist"], artifacts_dir=str(tmp_path))
    first = backend.predict("ETH_USDT_1h")
    assert first[1] == 200
    assert backend.predict("ETH_USDT_1h") == first
    assert len(loads) == 2
    os.utime(tmp_path / "ETH_USDT_scaler.pkl", ns=(1, 1))
    assert backend.predict("ETH_USDT_1h") == first
    assert len(loads) == 4
    assert backend.predict("ETH_USDT_1h") == first
    assert len(loads) == 4


def test_concurrent_forecasts_load_the_artifacts_once(lambda_tables, tmp_path, monkeypatch):
    """More request threads than cores, released together, switching
    every 10 µs, against a loader that takes 50 ms (as a file read
    would): the artifacts are still loaded once, and every request
    answers."""
    loads = []

    def model(p):
        loads.append(p)
        time.sleep(0.05)
        return _Model(), {}

    monkeypatch.setattr(xgb_ubjson, "load_reference_regressor", model)
    monkeypatch.setattr(artifacts, "load_minmax_scaler", lambda _p: _scaler("ETH_USDT"))
    for name in ("ETH_USDT_xgboost_model.pkl", "ETH_USDT_scaler.pkl"):
        (tmp_path / name).write_bytes(b"synthetic")
    backend = ServingBackend(hist=lambda_tables["hist"], artifacts_dir=str(tmp_path))
    n = 2 * (os.cpu_count() or 1)
    start, codes = threading.Barrier(n), []

    def client():
        start.wait(timeout=60)
        codes.extend(backend.predict("ETH_USDT_1h")[1] for _ in range(3))

    threads = [threading.Thread(target=client) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert codes == [200] * 3 * n
    assert len(loads) == 1


def test_forecast_short_history_reports_found_need(lambda_tables, tmp_path, capsys, monkeypatch):
    """A model window longer than the history: the CLI exits 1 and the
    route 404s, both with the reference's found/need message."""
    found = HOURS + UPDATE_HOURS
    wide = type("_Wide", (_Model,), {"n_features_in_": found + 1})
    monkeypatch.setattr(xgb_ubjson, "load_reference_regressor", lambda _p: (wide(), {}))
    monkeypatch.setattr(artifacts, "load_minmax_scaler", lambda _p: _scaler("ETH_USDT"))
    capsys.readouterr()
    assert main(["forecast", "--symbol", "ETH_USDT", "--artifacts", str(tmp_path),
                 "--hist", lambda_tables["hist"]]) == 1
    assert f"found {found}, need {found + 1}" in capsys.readouterr().err
    for name in ("ETH_USDT_xgboost_model.pkl", "ETH_USDT_scaler.pkl"):
        (tmp_path / name).write_bytes(b"synthetic")
    body, code = ServingBackend(hist=lambda_tables["hist"], artifacts_dir=str(tmp_path)).predict(
        "ETH_USDT_1h")
    assert code == 404
    assert f"found {found}, need {found + 1}" in body["error"]


def test_pages_list_both_symbol_forms(server):
    code, body = _get(server, "/")
    assert code == 200
    assert all(f'value="{s.replace("_", "/")}"' in body for s in SYMS)
    code, body = _get(server, "/historical")
    assert code == 200
    assert all(f'value="{s}_1h"' in body for s in SYMS)


@pytest.mark.parametrize("table", ["hist", "latest", "stats"])
def test_plain_hive_read_of_table_root_is_current_version(spark, lambda_tables, table):
    """Outside readers (and the benchmark's table check) read the root
    as one hive dataset: at rest it holds exactly the current version."""
    import pyarrow.dataset as ds

    path = lambda_tables[table]
    assert [d for d in os.listdir(path) if d.startswith("v")] == [
        os.path.basename(versioned.version_dir(path, versioned.current_version(path)))
    ]
    got = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    want = versioned.read_version(spark, path)
    key = "symbol" if table == "latest" else "doc_id"
    assert sorted(got.column(key).to_pylist()) == sorted(r[key] for r in want.select(key).collect())
    assert got.num_rows == {"hist": 2 * (HOURS + UPDATE_HOURS), "latest": 2}.get(table, got.num_rows)


@pytest.mark.parametrize("table", ["hist", "latest", "stats", "chart"])
def test_written_tables_have_exactly_their_contract(spark, lambda_tables, table):
    """Serve reads every table by its declared contract, so a writer
    that drifted from it would read back as nulls: each table the CLI
    wrote, read with Spark's inference instead, has exactly the
    contract's column names and types."""
    path = lambda_tables[table]
    ver = versioned.current_version(path)
    written = spark.read.parquet(path if ver is None else versioned.version_dir(path, ver))
    declared = spark.createDataFrame([], CONTRACTS[table])
    assert {f.name: f.dataType for f in written.schema} == {
        f.name: f.dataType for f in declared.schema}


DAY_MS = 86_400_000
AGES_DAYS = (400, 200, 100, 45, 10)


@pytest.fixture(scope="module")
def aged_hist(spark, tmp_path_factory):
    """A ``hist`` table from the batch CLI whose hourly candles sit K at
    a time 400, 200, 100, 45 and 10 days before NOW_MS, for both
    symbols; ETH_USDT's partition also holds a ``part-*.parquet`` file
    that is not parquet. Returns (table, candle times, BTC closes)."""
    root = tmp_path_factory.mktemp("aged")
    (root / "csv").mkdir()
    ts = np.array([NOW_MS - age * DAY_MS + i * HOUR_MS for age in AGES_DAYS for i in range(K)])
    closes = {s: _closes(20 + j, len(ts), 100.0) for j, s in enumerate(SYMS)}
    for sym in SYMS:
        rows = [f"{t},{c},{c + 1},{c - 1},{c},1.0,x" for t, c in zip(ts, closes[sym])]
        (root / "csv" / f"{sym}_1h.csv").write_text(
            "timestamp,open,high,low,close,volume,datetime_str\n" + "\n".join(rows) + "\n")
    table = str(root / "hist")
    assert main(["batch", "--input", str(root / "csv" / "*_1h.csv"), "--table", table]) == 0
    eth = os.path.join(versioned.version_dir(table, versioned.current_version(table)),
                       "symbol=ETH_USDT", "timeframe=1h")
    with open(os.path.join(eth, "part-99999-junk.c000.snappy.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    return table, ts, closes["BTC_USDT"]


@pytest.mark.parametrize("rng, days", [("1m", 30), ("3m", 90), ("6m", 180), ("1y", 365),
                                       ("all", None), ("5y", None)])
def test_history_ranges_open_only_the_requested_partition(aged_hist, rng, days):
    """Each range keeps the candles at most its days old (an unknown
    range is ``all``), read from BTC_USDT's partition alone: the junk
    file in ETH_USDT's partition is never opened."""
    table, ts, closes = aged_hist
    now = datetime.fromtimestamp(NOW_MS / 1000, timezone.utc)
    backend = ServingBackend(hist=table, now_fn=lambda: now)
    body, code = backend.historical_data("BTC_USDT_1h", rng)
    keep = ts >= NOW_MS - days * DAY_MS if days else np.ones(len(ts), bool)
    assert code == 200 and len(body["labels"]) == keep.sum()
    np.testing.assert_allclose(body["datasets"][0]["data"], closes[keep], rtol=1e-12)
    np.testing.assert_allclose(body["datasets"][1]["data"], _sma(closes, 7)[keep], rtol=1e-12)


def test_forecast_opens_only_the_requested_partition(aged_hist, tmp_path, capsys, monkeypatch):
    """The route and the CLI forecast BTC_USDT beside the junk file in
    ETH_USDT's partition, which does break a read of ETH_USDT."""
    import pyarrow as pa

    table, ts, _ = aged_hist
    monkeypatch.setattr(xgb_ubjson, "load_reference_regressor", lambda _p: (_Model(), {}))
    monkeypatch.setattr(artifacts, "load_minmax_scaler", lambda _p: _scaler("BTC_USDT"))
    for name in ("BTC_USDT_xgboost_model.pkl", "BTC_USDT_scaler.pkl"):
        (tmp_path / name).write_bytes(b"synthetic")
    backend = ServingBackend(hist=table, artifacts_dir=str(tmp_path))
    body, code = backend.predict("BTC_USDT_1h")
    assert code == 200
    assert [p["timestamp"] for p in body] == [ts[-1] + i * HOUR_MS for i in range(1, 25)]
    capsys.readouterr()
    assert main(["forecast", "--symbol", "BTC_USDT", "--artifacts", str(tmp_path),
                 "--hist", table, "--steps", "24"]) == 0
    got = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [g["predicted_price"] for g in got] == [round(p["predicted_price"], 2) for p in body]
    with pytest.raises(pa.ArrowInvalid):
        backend.historical_data("ETH_USDT_1h", "all")


def test_history_key_from_request_text_never_reaches_a_path(aged_hist, monkeypatch):
    """A decoded ``%2F`` in the symbol_timeframe is no partition of the
    pinned version: the empty answer, and every file read lies inside
    the table."""
    from urllib.parse import unquote

    from big_data_pr_spark.ohlcv import serving

    table = aged_hist[0]
    opened, read = [], serving._read
    monkeypatch.setattr(serving, "_read", lambda path, *a: opened.append(path) or read(path, *a))
    backend = ServingBackend(hist=table)
    for key in ("BTC_USDT_1h%2F..", "..%2F..%2FBTC_USDT_1h", "BTC_USDT%2F..%2F..%2Fhist_1h"):
        body, code = backend.historical_data(unquote(key), "all")
        assert code == 200 and body["labels"] == [], key
    assert backend.historical_data("BTC_USDT_1h", "all")[0]["labels"]
    inside = os.path.realpath(table) + os.sep
    assert opened and all(os.path.realpath(p).startswith(inside) for p in opened)


_NO_JVM_CHILD = """
import json, os, shutil, sys
from datetime import datetime, timezone

import test_lambda_e2e as e
from big_data_pr_spark.__main__ import main
from big_data_pr_spark.ohlcv import artifacts, xgb_ubjson
from big_data_pr_spark.ohlcv.serving_http import ServingBackend

tables, art, newest_m, paths = json.loads(sys.argv[1])
assert shutil.which("java") is None and "JAVA_HOME" not in os.environ
xgb_ubjson.load_reference_regressor = lambda _p: (e._Model(), {})
artifacts.load_minmax_scaler = lambda p: e._scaler(os.path.basename(p).removesuffix("_scaler.pkl"))
now = datetime.fromtimestamp(newest_m / 1000, timezone.utc)
backend = ServingBackend(**tables, artifacts_dir=art, now_fn=lambda: now)
routes = {
    "realtime_stats": lambda a: (backend.realtime_stats(a), 200),
    "chart_data_1m": lambda a: (backend.chart_data_1m(a), 200),
    "historical_data": lambda a: backend.historical_data(*a.split("?range=")),
    "predict_xgboost": backend.predict,
}
answers = {p: routes[p.split("/")[2]](p.split("/")[3]) for p in paths}
answers["/"] = (backend.realtime_page(), 200)
answers["/historical"] = (backend.historical_page(), 200)
assert main(["forecast", "--symbol", "ETH_USDT", "--artifacts", art, "--hist", tables["hist"]]) == 0
from pyspark import SparkContext
assert SparkContext._active_spark_context is None
print(json.dumps(answers))
"""


def test_routes_and_forecast_cli_answer_where_no_jvm_can_start(server, lambda_tables, tmp_path):
    """``serve``'s backend and ``forecast --hist`` need no Spark: in a
    process with no java on PATH and no JAVA_HOME, every route answers
    over the CLI-written tables exactly as the in-process server does."""
    import subprocess
    import sys

    paths = [p for s in SYMS for p in (
        f"/api/realtime_stats/{s.replace('_', '-')}", f"/api/chart_data_1m/{s.replace('_', '-')}",
        f"/api/historical_data/{s}_1h?range=all", f"/api/historical_data/{s}_1h?range=1m",
        f"/api/predict_xgboost/{s}_1h")] + ["/api/realtime_stats/DOGE-USDT"]
    art = str(tmp_path)
    for sym in SYMS:
        for name in (f"{sym}_xgboost_model.pkl", f"{sym}_scaler.pkl"):
            (tmp_path / name).write_bytes(b"synthetic")
    env = {k: v for k, v in os.environ.items() if k not in ("JAVA_HOME", "SPARK_HOME")}
    env["PATH"] = os.pathsep.join(d for d in env.get("PATH", "").split(os.pathsep)
                                  if d and not os.path.exists(os.path.join(d, "java")))
    here = os.path.dirname(os.path.abspath(__file__))
    env["PYTHONPATH"] = os.pathsep.join([os.path.dirname(here), here])
    out = subprocess.run(
        [sys.executable, "-c", _NO_JVM_CHILD, json.dumps([lambda_tables, art, NEWEST_M, paths])],
        env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    *forecast_lines, answers = out.stdout.strip().splitlines()
    answers = json.loads(answers)
    for path in paths + ["/", "/historical"]:
        assert answers[path][0] == _get(server, path)[1], path
    got = [json.loads(x)["predicted_price"] for x in forecast_lines]
    assert got == pytest.approx(_replay("ETH_USDT"), abs=0.006)
