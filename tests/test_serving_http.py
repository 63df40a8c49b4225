"""HTTP serving facade tests (ohlcv/serving_http.py): route-for-route
parity with reference app.py:86-244 — payload shapes, symbol decoding,
the Chart.js dataset contract, and the full error contract (400/404
with the reference's message shapes). The server runs in-process on an
ephemeral port against tiny tables built from the declared contracts
(``schemas.CONTRACTS``) as the layers store them (versioned hist,
latest and stats; the chart through Spark's file sink; underscore
symbols in hist, slash symbols and ``@timestamp`` in the stream
tables); the predict endpoint exercises the REAL reference
artifacts when present."""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request
from datetime import datetime, timezone

import pytest

from big_data_pr_spark.ohlcv.schemas import CONTRACTS
from big_data_pr_spark.ohlcv.serving_http import ServingBackend, start_server
from big_data_pr_spark.operators import versioned

BASE_MS = 1_700_000_000_000


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.read().decode(), r.headers.get("Content-Type")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(), e.headers.get("Content-Type")


def _ts(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, timezone.utc)


def _table(spark, table: str, rows: list[tuple], path, partition_by=()):
    """A versioned ``table`` of ``rows``, every column of its contract."""
    df = spark.createDataFrame(rows, CONTRACTS[table])
    versioned.write_version(df, str(path), partition_by=partition_by)
    return str(path)


def _chart(spark, rows: list[tuple], path):
    """``rows`` committed to ``path`` by Spark's file sink, partitioned
    by ``event_date``, as ``stream`` writes the chart."""
    src = f"{path}.src"
    spark.createDataFrame(rows, CONTRACTS["chart"]).write.parquet(src)
    (spark.readStream.schema(CONTRACTS["chart"]).parquet(src)
     .writeStream.format("parquet").partitionBy("event_date")
     .option("path", str(path)).option("checkpointLocation", f"{path}.cp")
     .trigger(availableNow=True).start().awaitTermination())
    return str(path)


def _hist_row(sym: str, hour: int, close: float, sma_7: float, sma_30: float) -> tuple:
    ms = BASE_MS + hour * 3600000
    return (f"{sym}_1h_hist_{ms // 1000}", sym, "1h", ms // 1000, _ts(ms),
            close, close + 5, close - 5, close, 1.0, sma_7, sma_30)


def _latest_row(sym: str, price: float) -> tuple:
    ms = BASE_MS + 39 * 60000
    return (sym, _ts(ms), price, price - 50, price + 50, price - 100, 3.0, ms)


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    tdir = tmp_path_factory.mktemp("serving")
    closes = [80000.0, 80900.0, 80400.0, 81300.0, 80700.0, 81100.0,
              80500.0, 81250.0]
    hist = [_hist_row("BTC_USDT", i, c, c - 10, c - 20) for i, c in enumerate(closes)] + [
        _hist_row("ETH_USDT", i, 2000.0 + i, 1990.0 + i, 1980.0 + i) for i in range(3)]
    latest = [_latest_row("BTC/USDT", 81250.0), _latest_row("ETH/USDT", 2002.0)]
    stats = [
        ("BTC/USDT", _ts(BASE_MS + (wend - 10) * 60000), _ts(BASE_MS + wend * 60000),
         avg, avg - 100, avg + 100, 10, f"BTC-USDT_stats_{(BASE_MS + wend * 60000) // 1000}")
        for wend, avg in ((1, 80950.0), (2, 81000.0))
    ]
    chart = [
        (_ts(ms), "BTC/USDT", 81000.0 + m, 1.0, ms, f"BTC-USDT_1m_{ms}", _ts(ms).date())
        for m, ms in ((m, BASE_MS + m * 60000) for m in range(40))
    ]
    backend = ServingBackend(
        hist=_table(spark, "hist", hist, tdir / "hist", ("symbol", "timeframe")),
        latest=_table(spark, "latest", latest, tdir / "latest"),
        stats=_table(spark, "stats", stats, tdir / "stats"),
        chart=_chart(spark, chart, tdir / "chart"),
        artifacts_dir="/root/reference/trained_models",
        now_fn=lambda: _ts(BASE_MS + 39 * 60000),
    )
    srv, port = start_server(backend)
    yield port
    srv.shutdown()


def test_pages_render_symbol_contract(server):
    code, body, ctype = _get(server, "/")
    assert code == 200 and ctype == "text/html"
    assert "BTC/USDT" in body and "ETH/USDT" in body
    code, body, _ = _get(server, "/historical")
    assert code == 200
    # app.py:146: ETH_USDT_1h is the preferred initial selection
    assert "ETH_USDT_1h" in body and "initial: ETH_USDT_1h" in body


def test_realtime_stats_decodes_symbol_and_picks_latest_window(server):
    code, body, _ = _get(server, "/api/realtime_stats/BTC-USDT")
    assert code == 200
    d = json.loads(body)
    assert d["latest"]["current_price"] == 81250.0
    # top-1 by window_end desc (the reference's sort+size=1)
    assert d["stats"]["avg_close"] == 81000.0


def test_realtime_stats_unknown_symbol_empty_shapes(server):
    code, body, _ = _get(server, "/api/realtime_stats/DOGE-USDT")
    assert code == 200
    assert json.loads(body) == {"latest": {}, "stats": {}}


def test_chart_data_last_35_minutes(server):
    code, body, _ = _get(server, "/api/chart_data_1m/BTC-USDT")
    assert code == 200
    pts = json.loads(body)
    # now = minute 39, window = [now-35m, now] → minutes 4..39
    assert len(pts) == 36
    assert pts[0] == [BASE_MS + 4 * 60000, 81004.0]
    assert pts[-1] == [BASE_MS + 39 * 60000, 81039.0]


def test_historical_data_chartjs_payload(server):
    code, body, _ = _get(server, "/api/historical_data/BTC_USDT_1h?range=all")
    assert code == 200
    d = json.loads(body)
    assert len(d["labels"]) == 8
    assert d["labels"][0] == "2023-11-14 22:13:20"
    assert [ds["label"] for ds in d["datasets"]] == [
        "BTC/USDT Close (1h)", "BTC/USDT SMA 7 (1h)", "BTC/USDT SMA 30 (1h)",
    ]
    assert d["datasets"][0]["data"][-1] == 81250.0
    assert d["datasets"][1]["hidden"] and d["datasets"][2]["hidden"]


def test_historical_data_bad_format_400(server):
    code, body, _ = _get(server, "/api/historical_data/nounderscore")
    assert code == 400
    assert "Invalid symbol_timeframe format" in json.loads(body)["error"]


def test_predict_error_contract(server):
    # non-1h timeframe → 400 (app.py:201-202)
    code, body, _ = _get(server, "/api/predict_xgboost/BTC_USDT_4h")
    assert code == 400
    assert "only for 1h timeframe" in json.loads(body)["error"]
    # invalid format → 400 (app.py:198)
    code, body, _ = _get(server, "/api/predict_xgboost/plain")
    assert code == 400
    # unconfigured symbol → 400 BEFORE any filesystem check (app.py:206
    # rejects symbols outside the window-size config table with 400;
    # the 404s are reserved for configured symbols with missing files)
    code, body, _ = _get(server, "/api/predict_xgboost/DOGE_USDT_1h")
    assert code == 400
    assert "No specific XGBoost window size configured" in json.loads(body)["error"]


def test_predict_static_config_contract(tmp_path):
    """app.py:204-206 — the window-size config is STATIC and a
    SUBSTRING match: BTC_USDT/ETH_USDT (and e.g. BTC_USDT_PERP) are
    configured even with NO artifact files on disk, so a missing file
    is a 404 'Model ... not found', never the 400 config error."""
    backend = ServingBackend(artifacts_dir=str(tmp_path))
    for sym in ("ETH_USDT_1h", "BTC_USDT_1h", "BTC_USDT_PERP_1h"):
        payload, code = backend.predict(sym)
        assert code == 404, (sym, payload)
        assert "not found" in payload["error"], (sym, payload)
    # outside the static config AND no artifact on disk → 400
    payload, code = backend.predict("DOGE_USDT_1h")
    assert code == 400
    assert "No specific XGBoost window size configured" in payload["error"]


def test_predict_real_artifacts_24_steps(server, spark):
    if not os.path.isdir("/root/reference/trained_models"):
        pytest.skip("reference artifacts not present")
    code, body, _ = _get(server, "/api/predict_xgboost/BTC_USDT_1h")
    assert code == 200
    preds = json.loads(body)
    assert len(preds) == 24
    # hourly steps from the last hist timestamp (app.py:236-238)
    last_hist_ms = BASE_MS + 7 * 3600000
    assert preds[0]["timestamp"] == last_hist_ms + 3600000
    assert preds[23]["timestamp"] == last_hist_ms + 24 * 3600000
    # parity with the recursion the CLI/forecast tests already pin
    from big_data_pr_spark.ohlcv.artifacts import load_minmax_scaler
    from big_data_pr_spark.ohlcv.forecast import recursive_forecast
    from big_data_pr_spark.ohlcv.xgb_ubjson import load_reference_regressor

    model, _ = load_reference_regressor(
        "/root/reference/trained_models/BTC_USDT_xgboost_model.pkl")
    scaler = load_minmax_scaler(
        "/root/reference/trained_models/BTC_USDT_scaler.pkl")
    k = model.n_features_in_
    closes = [80000.0, 80900.0, 80400.0, 81300.0, 80700.0, 81100.0,
              80500.0, 81250.0][-k:]
    want = recursive_forecast(closes, last_hist_ms, steps=24,
                              model=model, scaler=scaler)
    assert [(p["timestamp"], p["predicted_price"]) for p in preds] == [
        (ts, float(p)) for ts, p in want
    ]


def test_predict_insufficient_history_found_need(server, spark):
    if not os.path.isdir("/root/reference/trained_models"):
        pytest.skip("reference artifacts not present")
    # ETH model needs k=24 but the fixture has only 3 ETH rows
    code, body, _ = _get(server, "/api/predict_xgboost/ETH_USDT_1h")
    assert code == 404
    msg = json.loads(body)["error"]
    assert "found 3" in msg and "need 24" in msg


def test_unknown_route_404(server):
    code, body, _ = _get(server, "/api/nope")
    assert code == 404

def test_percent_encoded_symbol_decoded(server):
    # Flask percent-decodes path segments before routing (r9 advice):
    # BTC%2DUSDT must hit the same lookup as BTC-USDT
    code, body, _ = _get(server, "/api/realtime_stats/BTC%2DUSDT")
    assert code == 200
    assert json.loads(body)["latest"]["current_price"] == 81250.0
    code, body, _ = _get(server, "/api/chart_data_1m/BTC%2DUSDT")
    assert code == 200 and len(json.loads(body)) == 36
    code, body, _ = _get(server, "/api/historical_data/BTC%5FUSDT_1h?range=all")
    assert code == 200 and len(json.loads(body)["labels"]) == 8


def test_historical_data_missing_table_404(spark):
    # app.py:190: NotFoundError on this route is a 404, unlike the
    # realtime/chart routes' empty shapes (r9 advice)
    backend = ServingBackend(hist=None)
    srv, port = start_server(backend)
    try:
        code, body, _ = _get(port, "/api/historical_data/BTC_USDT_1h")
        assert code == 404
        assert "not found" in json.loads(body)["error"]
    finally:
        srv.shutdown()


def test_predict_configured_symbol_missing_model_404(spark, tmp_path):
    # a symbol WITH artifacts present but a missing model file keeps the
    # reference's 404 (app.py:209) — the 400 config gate must not
    # swallow it
    (tmp_path / "BTC_USDT_scaler.pkl").write_bytes(b"x")
    backend = ServingBackend(artifacts_dir=str(tmp_path))
    srv, port = start_server(backend)
    try:
        code, body, _ = _get(port, "/api/predict_xgboost/BTC_USDT_1h")
        assert code == 404
        assert "Model for BTC_USDT not found" in json.loads(body)["error"]
    finally:
        srv.shutdown()


def test_pages_escape_markup_in_symbols(spark, tmp_path):
    # the reference renders via auto-escaping Jinja templates; a symbol
    # containing markup must not be reflected verbatim (r9 advice)
    evil = [_latest_row("<script>alert(1)</script>", 1.0)]
    backend = ServingBackend(latest=_table(spark, "latest", evil, tmp_path / "latest"))
    srv, port = start_server(backend)
    try:
        code, body, _ = _get(port, "/")
        assert code == 200
        assert "<script>" not in body
        assert "&lt;script&gt;" in body
    finally:
        srv.shutdown()


def test_predict_prefix_symbol_not_treated_as_configured(spark, tmp_path):
    # 'BTC' must not ride on BTC_USDT's artifacts via a prefix match —
    # it is outside the configured set, so the reference's 400 applies
    (tmp_path / "BTC_USDT_xgboost_model.pkl").write_bytes(b"x")
    (tmp_path / "BTC_USDT_scaler.pkl").write_bytes(b"x")
    backend = ServingBackend(artifacts_dir=str(tmp_path))
    srv, port = start_server(backend)
    try:
        code, body, _ = _get(port, "/api/predict_xgboost/BTC_1h")
        assert code == 400
        assert "No specific XGBoost window size configured" in json.loads(body)["error"]
    finally:
        srv.shutdown()


def test_encoded_slash_in_a_segment_matches_no_route(tmp_path, monkeypatch):
    """A ``%2F`` is decoded only after the path is split into segments;
    a segment that then holds ``/`` matches no route (404, as Flask's
    default converter), so ``..%2F`` never reaches the artifact paths
    the predict route joins, even where files wait beside the
    artifacts directory."""
    from big_data_pr_spark.ohlcv import artifacts, xgb_ubjson

    loaded = []
    monkeypatch.setattr(xgb_ubjson, "load_reference_regressor", loaded.append)
    monkeypatch.setattr(artifacts, "load_minmax_scaler", loaded.append)
    art = tmp_path / "artifacts"
    art.mkdir()
    for suffix in ("_xgboost_model.pkl", "_scaler.pkl"):
        (tmp_path / f"x_BTC_USDT{suffix}").write_bytes(b"x")
    srv, port = start_server(ServingBackend(artifacts_dir=str(art)))
    try:
        for path in ("/api/predict_xgboost/..%2Fx_BTC_USDT_1h", "/api/predict_xgboost/..%2fx_BTC_USDT_1h",
                     "/api/realtime_stats/BTC%2FUSDT", "/api/chart_data_1m/..%2F..",
                     "/api/historical_data/BTC_USDT_1h%2F..?range=all"):
            code, body, _ = _get(port, path)
            assert (code, json.loads(body)["error"][:8]) == (404, "no route"), path
    finally:
        srv.shutdown()
    assert loaded == []


def test_hist_dropdown_sorts_the_joined_names(tmp_path):
    """``/historical`` lists ``{symbol}_{timeframe}`` from the partition
    directory names alone (these hold no file), unescaped as Spark
    escapes them, and sorted as joined strings: ``A0_USDT_1h`` before
    ``A_USDT_1h``, where sorting (symbol, timeframe) would put ``A_USDT`` first."""
    from big_data_pr_spark.ohlcv import serving

    for sym, tf in (("A_USDT", "1h"), ("A0_USDT", "1h"), ("B%3AX", "4h"), ("A_USDT", "4h")):
        (tmp_path / f"symbol={sym}" / f"timeframe={tf}").mkdir(parents=True)
    hist = serving.load_hist(str(tmp_path))
    assert serving.distinct_symbol_timeframes(hist) == ["A0_USDT_1h", "A_USDT_1h", "A_USDT_4h", "B:X_4h"]
    assert hist[("B:X", "4h")] == str(tmp_path / "symbol=B%3AX" / "timeframe=4h")
