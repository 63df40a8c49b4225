"""Serving beside live writers: ``ServingBackend`` reads each table's
commit pointer per request, so a stream committing epochs under it
never makes a request fail, and the versions it serves only go up."""

from __future__ import annotations

import json
import time
from datetime import datetime

from pyspark.sql import functions as F

from big_data_pr_spark.ohlcv.schemas import CONTRACTS
from big_data_pr_spark.ohlcv.serving_http import ServingBackend
from big_data_pr_spark.operators import versioned
from big_data_pr_spark.streaming import pipeline

T0_MS = int(time.time() * 1000) // 60_000 * 60_000 - 60 * 60_000


def _candles(minutes: range) -> str:
    return "\n".join(
        json.dumps({
            "timestamp": T0_MS + m * 60_000, "symbol": sym, "timeframe": "1m",
            "open": 100.0 + m, "high": 101.0 + m, "low": 99.0 + m,
            "close": 100.0 + m + k, "volume": 1.0, "datetime_str": "x",
        })
        for m in minutes
        for k, sym in enumerate(["BTC/USDT", "ETH/USDT"])
    ) + "\n"


def test_serve_answers_while_stream_commits_epochs(spark, tmp_path):
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    now = F.expr(f"timestamp_millis({T0_MS + 60 * 60_000})")
    backend = ServingBackend(
        latest=str(out / "latest"), stats=str(out / "stats"),
        chart=str(out / "chart"), now_fn=lambda: now,
    )
    # started before the stream's first commit: absent tables, empty shapes
    assert backend.realtime_stats("BTC-USDT") == {"latest": {}, "stats": {}}
    assert backend.chart_data_1m("BTC-USDT") == []

    queries = pipeline.start_three_queries(
        pipeline.file_source(spark, str(src)), str(out), str(tmp_path / "ck"),
        triggers={"latest": "1 second", "stats": "1 second", "chart": "1 second"},
    )
    errors, seen, newest = [], {"latest": [], "stats": []}, []
    n_files, next_file = 0, 0.0
    deadline = time.monotonic() + 180
    try:
        while time.monotonic() < deadline and min(
            versioned.current_version(str(out / t)) or 0 for t in seen
        ) < 6:
            if time.monotonic() >= next_file and n_files < 40:
                (src / f"part-{n_files:03d}.json").write_text(
                    _candles(range(n_files, n_files + 1)))
                n_files, next_file = n_files + 1, time.monotonic() + 1.0
            try:
                body = backend.realtime_stats("BTC-USDT")
                backend.chart_data_1m("BTC-USDT")
                backend.realtime_page()
            except Exception as exc:  # noqa: BLE001 — the test counts them
                errors.append(str(exc)[:300])
                continue
            if body["latest"]:
                newest.append(body["latest"]["timestamp_ms"])
            for t, vs in seen.items():
                if t in backend.plans:
                    vs.append(backend.plans[t][0])
    finally:
        for q in queries:
            q.stop()
    assert errors == []
    for t, vs in seen.items():
        assert versioned.current_version(str(out / t)) >= 5, t
        assert vs == sorted(vs), (t, vs)
        assert len(set(vs)) >= 3, (t, vs)  # it re-planned as the stream committed
    assert newest == sorted(newest) and newest
    # after the stream stops, the answer is the newest committed candle
    last = versioned.read_version(spark, str(out / "latest")).filter(
        F.col("symbol") == "BTC/USDT").collect()[0]
    assert backend.realtime_stats("BTC-USDT")["latest"]["timestamp_ms"] == last["timestamp_ms"]


def test_request_retries_when_its_version_is_vacuumed(spark, tmp_path):
    """A writer commits and vacuums between the request's pointer read
    and its scan: the scan of the vacuumed version fails, the request
    reads the pointer again and answers from the new version."""
    path = str(tmp_path / "latest")

    def snapshot(price: float):
        row = ("BTC/USDT", datetime(2024, 1, 1), price, price, price, price, 1.0, 1704067200000)
        return spark.createDataFrame([row], CONTRACTS["latest"])

    versioned.write_version(snapshot(1.0), path)
    backend = ServingBackend(latest=path)
    plan = backend._plan

    def plan_then_commit(table):
        got = plan(table)
        if got and got[0] == 1:
            versioned.write_version(snapshot(2.0), path)
            assert versioned.vacuum(path, keep_last=1) == [1]
        return got

    backend._plan = plan_then_commit
    assert backend.realtime_stats("BTC-USDT")["latest"] == {
        "symbol": "BTC/USDT", "last_event_timestamp": "2024-01-01 00:00:00", "current_price": 2.0,
        "open": 2.0, "high": 2.0, "low": 2.0, "volume": 1.0, "timestamp_ms": 1704067200000,
    }
    assert backend.plans["latest"][0] == 2
