"""Serving beside live writers: ``ServingBackend`` reads each table's
commit pointer per request, so a stream committing epochs under it
never makes a request fail, and the versions it serves only go up."""

from __future__ import annotations

import json
import shutil
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

from big_data_pr_spark.ohlcv import serving_http
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
    now = datetime.fromtimestamp((T0_MS + 60 * 60_000) / 1000, timezone.utc)
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
                if t in backend.snapshots:
                    vs.append(backend.snapshots[t][0])
    finally:
        for q in queries:
            q.stop()
    assert errors == []
    for t, vs in seen.items():
        assert versioned.current_version(str(out / t)) >= 5, t
        assert vs == sorted(vs), (t, vs)
        assert len(set(vs)) >= 3, (t, vs)  # it reloaded as the stream committed
    assert newest == sorted(newest) and newest
    # after the stream stops, the answer is the newest committed candle
    last = versioned.read_version(spark, str(out / "latest")).filter(
        F.col("symbol") == "BTC/USDT").collect()[0]
    assert backend.realtime_stats("BTC-USDT")["latest"]["timestamp_ms"] == last["timestamp_ms"]


def _latest(spark, price: float):
    """A one-row ``latest`` table: BTC/USDT at ``price``."""
    row = ("BTC/USDT", datetime(2024, 1, 1), price, price, price, price, 1.0, 1704067200000)
    return spark.createDataFrame([row], CONTRACTS["latest"])


def test_request_retries_when_its_version_is_vacuumed(spark, tmp_path, monkeypatch):
    """A writer commits and vacuums between the request's pointer read
    and its Arrow load: the load of the vacuumed version fails, the
    request reads the pointer again and answers from the new version."""
    path = str(tmp_path / "latest")
    versioned.write_version(_latest(spark, 1.0), path)
    backend = ServingBackend(latest=path)
    read_pointer = serving_http._table_version

    def pointer_then_commit(table, table_path):
        got = read_pointer(table, table_path)
        if got and got[0] == 1:
            versioned.write_version(_latest(spark, 2.0), path)
            assert versioned.vacuum(path, keep_last=1) == [1]
        return got

    monkeypatch.setattr(serving_http, "_table_version", pointer_then_commit)
    assert backend.realtime_stats("BTC-USDT")["latest"] == {
        "symbol": "BTC/USDT", "last_event_timestamp": "2024-01-01 00:00:00", "current_price": 2.0,
        "open": 2.0, "high": 2.0, "low": 2.0, "volume": 1.0, "timestamp_ms": 1704067200000,
    }
    assert backend.snapshots["latest"][0] == 2


def test_snapshot_answers_after_its_directory_is_vacuumed(spark, tmp_path):
    """A snapshot in memory keeps answering its version after that
    version's directory is gone and nothing new is committed; once the
    pointer moves, the next request loads the new version."""
    path = str(tmp_path / "latest")
    versioned.write_version(_latest(spark, 1.0), path)
    backend = ServingBackend(latest=path)
    price = lambda: backend.realtime_stats("BTC-USDT")["latest"]["current_price"]  # noqa: E731
    assert price() == 1.0
    shutil.rmtree(versioned.version_dir(path, 1))
    assert price() == 1.0
    assert backend.symbols() == ["BTC/USDT"]
    versioned.write_version(_latest(spark, 2.0), path)
    assert price() == 2.0
    assert backend.snapshots["latest"][0] == 2


def test_concurrent_requests_never_see_a_version_go_back(spark, tmp_path):
    """Eight request threads (more than the cores), with a short switch
    interval, against a writer that commits and vacuums 10 versions: no
    request fails, every answer is a committed version, and no thread
    sees the version go back."""
    import sys
    import threading

    path = str(tmp_path / "latest")
    versioned.write_version(_latest(spark, 1.0), path)
    backend = ServingBackend(latest=path)
    done, errors = threading.Event(), []
    seen: list[list[float]] = [[] for _ in range(8)]

    def reader(out: list[float]) -> None:
        while not done.is_set():
            try:
                out.append(backend.realtime_stats("BTC-USDT")["latest"]["current_price"])
                assert backend.symbols() == ["BTC/USDT"]
            except Exception as exc:  # noqa: BLE001 — the test counts them
                errors.append(repr(exc)[:300])

    threads = [threading.Thread(target=reader, args=(s,)) for s in seen]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for v in range(2, 12):
            versioned.write_version(_latest(spark, float(v)), path)
            versioned.vacuum(path, keep_last=1)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for prices in seen:
        assert prices and prices == sorted(prices) and set(prices) <= {float(v) for v in range(1, 12)}
    assert backend.realtime_stats("BTC-USDT")["latest"]["current_price"] == 11.0
