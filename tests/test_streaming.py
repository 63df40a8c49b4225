"""Streaming semantics tests (SURVEY.md §5.3): the three output modes,
watermark late-data handling, sliding-window contents, and idempotent
keyed sinks — driven by a file source in micro-batch mode (no Kafka)."""

from __future__ import annotations

import json
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from big_data_pr_spark.operators import versioned
from big_data_pr_spark.streaming import pipeline

T0_MS = 1_700_000_400_000  # 2023-11-14 22:20:00 UTC, minute-aligned


def _msg(symbol: str, minute: int, close: float) -> str:
    ts = T0_MS + minute * 60_000
    return json.dumps(
        {
            "timestamp": ts,
            "symbol": symbol,
            "timeframe": "1m",
            "open": close - 0.5,
            "high": close + 1,
            "low": close - 1,
            "close": close,
            "volume": 1.0,
            "datetime_str": "x",
        }
    )


def _write_batch(input_dir, name: str, msgs: list[str]) -> None:
    (input_dir / name).write_text("\n".join(msgs) + "\n")


def _run_available(spark, input_dir, out_dir, cp_dir):
    raw = pipeline.file_source(spark, str(input_dir))
    queries = pipeline.start_three_queries(raw, str(out_dir), str(cp_dir))
    for q in queries:
        q.awaitTermination(120)
    return queries


def test_three_query_topology(spark, tmp_path):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    _write_batch(
        input_dir,
        "b1.json",
        [_msg("BTC/USDT", m, 100.0 + m) for m in range(12)]
        + [_msg("ETH/USDT", m, 50.0 + m) for m in range(12)],
    )
    _run_available(spark, input_dir, tmp_path / "out", tmp_path / "cp")

    # Q1 complete-mode snapshot: exactly one row per symbol, newest candle
    latest = versioned.read_version(spark, str(tmp_path / "out" / "latest")).collect()
    by_sym = {r["symbol"]: r for r in latest}
    assert set(by_sym) == {"BTC/USDT", "ETH/USDT"}
    assert by_sym["BTC/USDT"]["current_price"] == 111.0
    assert by_sym["BTC/USDT"]["timestamp_ms"] == T0_MS + 11 * 60_000

    # Q2 sliding windows: the window ending at minute 12 covers minutes 2-11
    stats = versioned.read_version(spark, str(tmp_path / "out" / "stats"))
    row = stats.filter(
        (F.col("symbol") == "BTC/USDT")
        & (F.col("window_end") == F.timestamp_millis(F.lit(T0_MS + 12 * 60_000)))
    ).collect()[0]
    assert row["n_candles"] == 10
    assert row["min_close"] == 102.0 and row["max_close"] == 111.0
    assert row["avg_close"] == pytest.approx(sum(range(102, 112)) / 10)
    assert row["doc_id"] == f"BTC-USDT_stats_{(T0_MS + 12 * 60_000) // 1000}"

    # Q3 append log: every event kept, event-date partitioned, keyed
    chart = spark.read.parquet(str(tmp_path / "out" / "chart"))
    assert chart.count() == 24
    assert chart.filter(F.col("doc_id") == f"BTC-USDT_1m_{T0_MS}").count() == 1
    assert "event_date" in chart.columns


def test_watermark_drops_late_rows_from_stats_not_chart(spark, tmp_path):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out, cp = tmp_path / "out", tmp_path / "cp"

    # batch 1: minutes 0-9 → watermark after this batch = max(et) - 2 min
    _write_batch(input_dir, "b1.json", [_msg("BTC/USDT", m, 100.0 + m) for m in range(10)])
    _run_available(spark, input_dir, out, cp)

    # batch 2: one late event at minute 2 (beyond watermark = minute 7)
    # and one fresh event at minute 10 — restart continues from checkpoint
    _write_batch(input_dir, "b2.json", [_msg("BTC/USDT", 2, 999.0), _msg("BTC/USDT", 10, 110.0)])
    _run_available(spark, input_dir, out, cp)

    stats = versioned.read_version(spark, str(out / "stats"))
    # windows fully before the watermark never saw the late 999 close
    polluted = stats.filter(F.col("max_close") >= 999.0).collect()
    assert all(
        r["window_end"].timestamp() * 1000 > T0_MS + 7 * 60_000 for r in polluted
    ), "late row leaked into a closed window"
    # window (min 1-11] would contain minute-2 if accepted; its max must
    # be the on-time closes only for windows ending ≤ watermark
    early = stats.filter(
        F.col("window_end") == F.timestamp_millis(F.lit(T0_MS + 5 * 60_000))
    ).collect()
    if early:
        assert early[0]["max_close"] < 999.0

    # the raw chart path keeps the late row (pre-watermark frame)
    chart = spark.read.parquet(str(out / "chart"))
    assert chart.filter(F.col("close") == 999.0).count() == 1
    assert chart.count() == 12

    # the complete-mode snapshot reflects the true newest event (min 10)
    latest = versioned.read_version(spark, str(out / "latest")).collect()[0]
    assert latest["current_price"] == 110.0


def test_stats_sink_idempotent_upsert(spark, tmp_path):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out, cp = tmp_path / "out", tmp_path / "cp"
    _write_batch(input_dir, "b1.json", [_msg("BTC/USDT", m, 100.0 + m) for m in range(5)])
    _run_available(spark, input_dir, out, cp)
    n1 = versioned.read_version(spark, str(out / "stats")).count()
    ids1 = versioned.read_version(spark, str(out / "stats")).select("doc_id").distinct().count()
    assert n1 == ids1  # key-unique

    # updated window values overwrite, not duplicate
    _write_batch(input_dir, "b2.json", [_msg("BTC/USDT", 4, 200.0)])
    _run_available(spark, input_dir, out, cp)
    stats = versioned.read_version(spark, str(out / "stats"))
    assert stats.count() == stats.select("doc_id").distinct().count()
    end5 = stats.filter(
        F.col("window_end") == F.timestamp_millis(F.lit(T0_MS + 5 * 60_000))
    ).collect()[0]
    assert end5["max_close"] == 200.0  # upserted value, single row


def test_stateful_high_watermark_gate(spark, tmp_path):
    """applyInPandasWithState keyed gate: only rows strictly newer than
    the key's running max timestamp pass; replays and intra-batch
    duplicates are dropped; state survives restart via checkpoint."""
    from big_data_pr_spark.streaming import stateful

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run_round():
        parsed = pipeline.parse_stream(pipeline.file_source(spark, str(input_dir)))
        gated = stateful.new_rows_only(parsed)
        q = (
            gated.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # round 1: minutes 0-4, with minute 4 sent twice in the same batch
    _write_batch(
        input_dir,
        "b1.json",
        [_msg("BTC/USDT", m, 100.0 + m) for m in range(5)] + [_msg("BTC/USDT", 4, 104.0)],
    )
    run_round()
    r1 = spark.read.parquet(out).collect()
    assert len(r1) == 5  # intra-batch duplicate dropped
    assert {r["timestamp_ms"] for r in r1} == {T0_MS + m * 60_000 for m in range(5)}

    # round 2: replay of minute 2 (old), duplicate of minute 4 (= max),
    # one genuinely new minute 5 — only the new row may pass
    _write_batch(
        input_dir,
        "b2.json",
        [_msg("BTC/USDT", 2, 999.0), _msg("BTC/USDT", 4, 999.0), _msg("BTC/USDT", 5, 105.0)],
    )
    run_round()
    r2 = spark.read.parquet(out).collect()
    assert len(r2) == 6
    assert not [r for r in r2 if r["close"] == 999.0]  # replays rejected
    new = [r for r in r2 if r["timestamp_ms"] == T0_MS + 5 * 60_000]
    assert len(new) == 1 and new[0]["close"] == 105.0

    # independent keys keep independent watermarks
    _write_batch(input_dir, "b3.json", [_msg("ETH/USDT", 0, 50.0)])
    run_round()
    r3 = spark.read.parquet(out)
    assert r3.filter(F.col("symbol") == "ETH/USDT").count() == 1


def test_dedup_stream_drops_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark: intra-batch and cross-batch
    replays of the same (symbol, timestamp_ms) are dropped; state
    survives restart via checkpoint; genuinely new rows pass."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run_round():
        parsed = pipeline.parse_stream(pipeline.file_source(spark, str(input_dir)))
        q = (
            pipeline.dedup_stream(parsed)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # round 1: minutes 0-4 with minute 3 duplicated in the same batch
    _write_batch(
        input_dir,
        "b1.json",
        [_msg("BTC/USDT", m, 100.0 + m) for m in range(5)] + [_msg("BTC/USDT", 3, 103.0)],
    )
    run_round()
    r1 = spark.read.parquet(out).collect()
    assert len(r1) == 5  # intra-batch duplicate collapsed
    assert {r["timestamp_ms"] for r in r1} == {T0_MS + m * 60_000 for m in range(5)}

    # round 2: replay minute 4 (within watermark horizon) + new minute 5
    _write_batch(
        input_dir, "b2.json", [_msg("BTC/USDT", 4, 104.0), _msg("BTC/USDT", 5, 105.0)]
    )
    run_round()
    r2 = spark.read.parquet(out).collect()
    assert len(r2) == 6  # replay dropped across restart, new row kept
    assert (
        len([r for r in r2 if r["timestamp_ms"] == T0_MS + 4 * 60_000]) == 1
    ), "cross-batch replay leaked through dedup state"


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Event-time-bounded stream-stream inner join: a signal matches
    candles whose event time is within [signal_time - tolerance,
    signal_time]; wrong-symbol and out-of-range signals match nothing."""
    candle_dir = tmp_path / "candles"
    signal_dir = tmp_path / "signals"
    candle_dir.mkdir()
    signal_dir.mkdir()
    _write_batch(
        candle_dir, "b1.json", [_msg("BTC/USDT", m, 100.0 + m) for m in range(12)]
    )
    signals = [
        {"symbol": "BTC/USDT", "signal_time": T0_MS + 3 * 60_000, "signal": "buy"},
        {"symbol": "XRP/USDT", "signal_time": T0_MS + 3 * 60_000, "signal": "buy"},
        {"symbol": "BTC/USDT", "signal_time": T0_MS + 30 * 60_000, "signal": "sell"},
    ]
    (signal_dir / "s1.json").write_text("\n".join(json.dumps(s) for s in signals) + "\n")

    parsed = pipeline.parse_stream(pipeline.file_source(spark, str(candle_dir)))
    sig_raw = pipeline.file_source(spark, str(signal_dir))
    sig = sig_raw.select(
        F.from_json(
            F.col("value"), "symbol string, signal_time long, signal string"
        ).alias("d")
    ).select(
        F.col("d.symbol").alias("symbol"),
        F.timestamp_millis(F.col("d.signal_time")).alias("signal_time"),
        F.col("d.signal").alias("signal"),
    )
    joined = pipeline.stream_stream_join(parsed, sig, tolerance="10 minutes")
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    # "buy" at minute 3 matches candles at minutes 0-3 (tolerance 10 min
    # forward from the candle); the sell at minute 30 and the XRP signal
    # match nothing
    assert len(rows) == 4
    assert {r["symbol"] for r in rows} == {"BTC/USDT"}
    assert {r["signal"] for r in rows} == {"buy"}
    assert {r["timestamp_ms"] for r in rows} == {T0_MS + m * 60_000 for m in range(4)}


def test_kafka_message_roundtrip(spark):
    """S7 producer contract: serialize → parse_stream recovers the
    candle exactly (works on batch frames — same expressions)."""
    candles = spark.createDataFrame(
        [(T0_MS, "BTC/USDT", "1m", 99.5, 101.0, 99.0, 100.0, 1.5)],
        "timestamp_ms long, symbol string, timeframe string, open double, "
        "high double, low double, close double, volume double",
    )
    msgs = pipeline.to_kafka_messages(candles)
    assert msgs.columns == ["key", "value"]
    back = pipeline.parse_stream(msgs).collect()[0]
    assert back["symbol"] == "BTC/USDT"
    assert back["timestamp_ms"] == T0_MS
    assert back["close"] == 100.0
    assert back["event_timestamp"].timestamp() * 1000 == T0_MS


def test_epoch_counts_listener(spark, tmp_path):
    """Progress listener observes per-epoch input rows without forcing
    extra jobs (replaces the reference's per-sink count()+print)."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    _write_batch(input_dir, "b1.json", [_msg("BTC/USDT", m, 100.0 + m) for m in range(4)])
    counts = pipeline.EpochCounts()
    listener = counts.attach(spark)
    try:
        _run_available(spark, input_dir, tmp_path / "out", tmp_path / "cp")
        # listener delivery is async — allow a grace period
        deadline = time.time() + 30
        while time.time() < deadline and not any(n for _, n in counts.progress):
            time.sleep(0.5)
        assert any(n == 4 for _, n in counts.progress)
    finally:
        spark.streams.removeListener(listener)


def test_retention_drops_old_partitions(spark, tmp_path):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    _write_batch(input_dir, "b1.json", [_msg("BTC/USDT", 0, 100.0)])
    _run_available(spark, input_dir, tmp_path / "out", tmp_path / "cp")
    chart_path = str(tmp_path / "out" / "chart")
    dropped = pipeline.apply_retention(chart_path, keep_dates=[])
    assert dropped == ["event_date=2023-11-14"]
    import os

    assert not any(e.startswith("event_date=") for e in os.listdir(chart_path))


def test_chart_route_answers_after_retention(spark, tmp_path):
    """Retention deletes partitions the chart file sink's log still
    lists; the chart route must keep answering from what is left."""
    import urllib.request

    from big_data_pr_spark.ohlcv.serving_http import ServingBackend, start_server

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    day2 = 120  # minutes after T0: 2023-11-15 00:20 UTC
    _write_batch(input_dir, "b1.json", [_msg("BTC/USDT", m, 100.0 + m) for m in range(5)]
                 + [_msg("BTC/USDT", day2 + m, 200.0 + m) for m in range(5)])
    _run_available(spark, input_dir, tmp_path / "out", tmp_path / "cp")
    chart_path = str(tmp_path / "out" / "chart")
    assert pipeline.apply_retention(chart_path, keep_dates=["2023-11-15"]) == [
        "event_date=2023-11-14"
    ]
    now = datetime.fromtimestamp((T0_MS + (day2 + 4) * 60_000) / 1000, timezone.utc)
    srv, port = start_server(ServingBackend(chart=chart_path, now_fn=lambda: now))
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/chart_data_1m/BTC-USDT") as r:
            assert r.status == 200
            body = json.loads(r.read())
    finally:
        srv.shutdown()
    assert body == [[T0_MS + (day2 + m) * 60_000, 200.0 + m] for m in range(5)]


def test_chart_reads_exactly_the_files_its_log_commits(spark, tmp_path, monkeypatch):
    """The chart snapshot is the file sink's committed file set: a log
    compacted every 2 batches (``1.compact``, then batch ``2``) over 3
    epochs; a listed file that retention removed is skipped, also when
    it goes between the loader's existence check and its read; an
    orphan parquet file that the log does not list, in a listed
    partition, is never read."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_pr_spark.ohlcv import serving
    from big_data_pr_spark.ohlcv.serving_http import ServingBackend

    input_dir, out = tmp_path / "in", tmp_path / "out"
    input_dir.mkdir()
    day2 = 120  # minutes after T0: 2023-11-15 00:20 UTC
    epochs = [range(0, 3), range(day2, day2 + 3), range(day2 + 10, day2 + 13)]
    spark.conf.set("spark.sql.streaming.fileSink.log.compactInterval", "2")
    try:
        for e, minutes in enumerate(epochs):
            _write_batch(input_dir, f"b{e}.json", [_msg("BTC/USDT", m, 100.0 + m) for m in minutes])
            _run_available(spark, input_dir, out, tmp_path / "cp")
    finally:
        spark.conf.unset("spark.sql.streaming.fileSink.log.compactInterval")
    chart = str(out / "chart")
    assert {"1.compact", "2"} <= set(os.listdir(os.path.join(chart, "_spark_metadata")))
    assert pipeline.apply_retention(chart, keep_dates=["2023-11-15"]) == ["event_date=2023-11-14"]
    orphan = pa.table({"@timestamp": pa.array([T0_MS + (day2 + 5) * 60_000], pa.timestamp("ms")),
                       "symbol": ["BTC/USDT"], "close": [999.0]})
    pq.write_table(orphan, os.path.join(chart, "event_date=2023-11-15", "part-99999-orphan.parquet"))
    listed = serving.chart_files(chart)
    assert not all(map(os.path.exists, listed))  # epoch 0's files, removed by retention
    assert not any(f.endswith("orphan.parquet") for f in listed)
    now = datetime.fromtimestamp((T0_MS + (day2 + 20) * 60_000) / 1000, timezone.utc)
    got = ServingBackend(chart=chart, now_fn=lambda: now).chart_data_1m("BTC-USDT")
    assert got == [[T0_MS + m * 60_000, 100.0 + m] for m in (*epochs[1], *epochs[2])]
    checks = iter([lambda files: files, serving._present])  # the first check misses the removal
    monkeypatch.setattr(serving, "_present", lambda files: next(checks)(files))
    assert serving.chart_data_1m(serving.load_chart(chart), "BTC/USDT", now) == got


def test_streaming_ema_stateful(spark, tmp_path):
    """Stateful streaming recursive EMA: matches the batch recurrence
    exactly, skips replays, and continues the recursion across a
    checkpointed restart (state survives)."""
    from big_data_pr_spark.streaming import stateful

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    span, alpha = 5, 2.0 / 6.0

    def run_round():
        parsed = pipeline.parse_stream(pipeline.file_source(spark, str(input_dir)))
        q = (
            stateful.streaming_ema(parsed, span=span)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    closes1 = [100.0, 102.0, 101.0, 104.0]
    _write_batch(
        input_dir, "b1.json", [_msg("BTC/USDT", m, c) for m, c in enumerate(closes1)]
    )
    run_round()

    # restart continuation: minute 3 replayed (must be skipped), 4-5 new
    closes2 = [103.0, 106.0]
    _write_batch(
        input_dir,
        "b2.json",
        [_msg("BTC/USDT", 3, 999.0)]
        + [_msg("BTC/USDT", 4 + i, c) for i, c in enumerate(closes2)],
    )
    run_round()

    rows = sorted(
        spark.read.parquet(out).collect(), key=lambda r: r["timestamp_ms"]
    )
    assert len(rows) == 6  # replay of minute 3 dropped
    expected = []
    ema = None
    for c in closes1 + closes2:
        ema = c if ema is None else alpha * c + (1 - alpha) * ema
        expected.append(ema)
    got = [r["ema"] for r in rows]
    assert got == pytest.approx(expected, rel=1e-12)
    assert [r["close"] for r in rows] == closes1 + closes2


def test_streaming_ema_tws_gated(spark, tmp_path):
    """The transformWithState variant either plans (protobuf present) or
    raises a clear plan-time error — never a mid-stream crash."""
    from big_data_pr_spark.streaming import stateful

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    _write_batch(input_dir, "b1.json", [_msg("BTC/USDT", 0, 100.0)])
    parsed = pipeline.parse_stream(pipeline.file_source(spark, str(input_dir)))
    if stateful.tws_available():
        df = stateful.streaming_ema_tws(parsed)
        assert df.isStreaming and set(df.columns) == {
            "symbol", "timestamp_ms", "close", "ema",
        }
    else:
        with pytest.raises(RuntimeError, match="protobuf"):
            stateful.streaming_ema_tws(parsed)


def test_enrich_stream_broadcast_dimension(spark, tmp_path):
    """Stream-static enrichment: every candle picks up its symbol's
    dimension attributes via broadcast; unknown symbols survive the
    left join with nulls; a dimension refresh between micro-batch runs
    is visible without restarting the pipeline definition."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    _write_batch(
        input_dir,
        "b1.json",
        [_msg("BTC/USDT", 0, 100.0), _msg("XRP/USDT", 0, 1.0)],
    )
    dim_path = tmp_path / "dim"
    spark.createDataFrame(
        [("BTC/USDT", "Bitcoin", 8)], "symbol string, name string, decimals int"
    ).write.parquet(str(dim_path))

    def run_once(out_name: str):
        parsed = pipeline.parse_stream(pipeline.file_source(spark, str(input_dir)))
        enriched = pipeline.enrich_stream(parsed, spark.read.parquet(str(dim_path)))
        q = (
            enriched.writeStream.format("parquet")
            .option("path", str(tmp_path / out_name))
            .option("checkpointLocation", str(tmp_path / (out_name + "_cp")))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["symbol"]: r for r in spark.read.parquet(str(tmp_path / out_name)).collect()}

    rows = run_once("out1")
    assert rows["BTC/USDT"]["name"] == "Bitcoin"
    assert rows["BTC/USDT"]["decimals"] == 8
    assert rows["XRP/USDT"]["name"] is None  # left join keeps unknown keys

    # dimension refresh: new file under the same path, no query restart
    spark.createDataFrame(
        [("XRP/USDT", "Ripple", 6)], "symbol string, name string, decimals int"
    ).write.mode("append").parquet(str(dim_path))
    _write_batch(input_dir, "b2.json", [_msg("XRP/USDT", 1, 1.1)])
    rows2 = run_once("out2")
    assert rows2["XRP/USDT"]["name"] == "Ripple"


def test_score_stream_model_inference(spark, tmp_path):
    """Trained-model inference rides the stream as a stateless map:
    scores in the streaming sink equal the same model applied in batch,
    for BOTH artifact kinds (GBT pandas-UDF path, logreg codegen path)."""
    from big_data_pr_spark.operators.gbt import GBTModel, Tree
    from big_data_pr_spark.operators.logreg import LogRegModel

    gbt = GBTModel(
        features=["close", "volume"],
        base_score=1.0,
        trees=[
            Tree(feature=[0, -1, -1], threshold=[105.0, 0.0, 0.0],
                 left=[1, 1, 2], right=[2, 1, 2], value=[0.0, -0.5, 2.0])
        ],
    )
    lr = LogRegModel(features=["close"], weights=[0.01], bias=-1.0)

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    _write_batch(
        input_dir, "b0.txt",
        [_msg("BTC/USDT", i, close=100.0 + i) for i in range(10)],
    )
    parsed = pipeline.parse_stream(pipeline.file_source(spark, str(input_dir)))

    for name, artifact in [("gbt", gbt.to_json()), ("lr", lr.to_json())]:
        out = tmp_path / f"out_{name}"
        q = (
            pipeline.score_stream(parsed, artifact)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / f"cp_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["close"]: round(r["score"], 10)
            for r in spark.read.parquet(str(out)).collect()
        }
        batch = {
            r["close"]: round(r["score"], 10)
            for r in pipeline.score_stream(
                spark.read.parquet(str(out)).drop("score"), artifact
            ).collect()
        }
        assert got == batch and len(got) == 10
        if name == "gbt":  # spot-check the tree semantics
            assert got[100.0] == 0.5 and got[109.0] == 3.0


def test_dlq_quarantines_malformed_without_failing(spark, tmp_path):
    """Dead-letter queue: good rows land in /good, malformed payloads
    in /dlq with their epoch id; a second micro-batch (with new good
    AND new bad lines) extends both tables without duplicating the
    first epoch's rows (dynamic _epoch partition overwrite)."""
    input_dir, out_dir, cp_dir = tmp_path / "in", tmp_path / "out", tmp_path / "cp"
    input_dir.mkdir()
    good1 = [_msg("BTC/USDT", m, 100 + m) for m in range(3)]
    bad1 = ['{"timestamp": 1, "symbol"', "not json at all"]
    _write_batch(input_dir, "b0.txt", good1 + bad1)
    q = pipeline.start_parse_with_dlq(
        pipeline.file_source(spark, str(input_dir)), str(out_dir), str(cp_dir)
    )
    q.awaitTermination(120)

    good = spark.read.parquet(str(out_dir / "good"))
    dlq = spark.read.parquet(str(out_dir / "dlq"))
    assert good.count() == 3
    assert set(good.columns) >= {"symbol", "close", "event_timestamp", "_epoch"}
    assert dlq.count() == 2
    payloads = {r["payload"] for r in dlq.collect()}
    assert payloads == set(bad1)  # raw bytes preserved for replay/debug

    # missing required field (symbol) is quarantined too, valid JSON or not
    _write_batch(
        input_dir, "b1.txt", [_msg("ETH/USDT", 9, 50.0), '{"timeframe": "1m"}']
    )
    q2 = pipeline.start_parse_with_dlq(
        pipeline.file_source(spark, str(input_dir)), str(out_dir), str(cp_dir)
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out_dir / "good")).count() == 4
    assert spark.read.parquet(str(out_dir / "dlq")).count() == 3


def test_bootstrap_watermark_bounds_batch0_state(spark, tmp_path):
    """r9 verdict #6: replaying a historical file set through the
    stateful stream materializes batch-0 window state proportional to
    the HISTORY span (no watermark exists before the first trigger
    completes, so every event-time window in the backlog is live).
    ``bootstrap_watermark`` turns the SCALE.md bootstrap rule into
    code: the stream owns only events at/after the cutoff — older
    rows are the batch backfill's job — so batch-0 state is bounded
    by the post-cutoff span regardless of how much history the file
    set carries."""
    minutes = 600  # 10 h of 1-minute candles in ONE replayed file
    cutoff_min = minutes - 10

    def run(sub: str, bootstrap: str | None):
        input_dir = tmp_path / sub / "in"
        input_dir.mkdir(parents=True)
        _write_batch(
            input_dir,
            "history.json",
            [_msg("BTC/USDT", m, 100.0 + (m % 7)) for m in range(minutes)],
        )
        raw = pipeline.file_source(spark, str(input_dir))
        queries = pipeline.start_three_queries(
            raw,
            str(tmp_path / sub / "out"),
            str(tmp_path / sub / "cp"),
            bootstrap_watermark=bootstrap,
        )
        for q in queries:
            q.awaitTermination(180)
        stats_q = queries[1]  # window_stats — the sliding-window state
        batch0 = stats_q.recentProgress[0]
        return sum(
            so["numRowsTotal"] for so in batch0["stateOperators"]
        )

    import datetime as dt

    cutoff_str = dt.datetime.fromtimestamp(
        (T0_MS + cutoff_min * 60_000) / 1000, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")

    replay_state = run("replay", None)
    boot_state = run("boot", cutoff_str)

    # full replay: every 1-min-slide window over 600 minutes is live
    assert replay_state > 300, replay_state
    # bootstrapped: only the 10-minute tail's windows (~10+10 keys)
    assert boot_state < 40, boot_state

    # the stream's outputs cover ONLY the post-cutoff span (older rows
    # are the batch backfill's responsibility — and would otherwise be
    # double-written when the backfill already ran)
    chart = spark.read.parquet(str(tmp_path / "boot" / "out" / "chart"))
    assert chart.count() == minutes - cutoff_min
    assert chart.agg(pipeline.F.min("@timestamp")).collect()[0][0] >= (
        dt.datetime.fromtimestamp((T0_MS + cutoff_min * 60_000) / 1000)
    ).replace(tzinfo=None)
    latest = versioned.read_version(spark, str(tmp_path / "boot" / "out" / "latest")).collect()
    assert len(latest) == 1 and latest[0]["timestamp_ms"] == T0_MS + (minutes - 1) * 60_000


def test_bootstrap_watermark_rejects_unparseable_cutoff(spark, tmp_path):
    """An unparseable cutoff must fail fast: under non-ANSI Spark the
    cast yields NULL and `ts >= NULL` would silently drop every row."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    _write_batch(input_dir, "b.json", [_msg("BTC/USDT", 0, 1.0)])
    raw = pipeline.file_source(spark, str(input_dir))
    with pytest.raises(ValueError, match="bootstrap_watermark"):
        pipeline.start_three_queries(
            raw, str(tmp_path / "out"), str(tmp_path / "cp"),
            bootstrap_watermark="2024/01/05",
        )


def test_bootstrap_watermark_boundary_inclusive(spark, tmp_path):
    """The cutoff is inclusive (>=): a row timestamped exactly at the
    bootstrap point belongs to the STREAM, not the backfill — the
    split is [backfill < cutoff <= stream], no row lost or doubled."""
    import datetime as dt

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    # minutes 0,1,2 — cutoff exactly at minute 1
    _write_batch(
        input_dir, "b.json", [_msg("BTC/USDT", m, 100.0 + m) for m in range(3)]
    )
    cutoff = dt.datetime.fromtimestamp(
        (T0_MS + 1 * 60_000) / 1000, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    raw = pipeline.file_source(spark, str(input_dir))
    queries = pipeline.start_three_queries(
        raw, str(tmp_path / "out"), str(tmp_path / "cp"),
        bootstrap_watermark=cutoff,
    )
    for q in queries:
        q.awaitTermination(120)
    chart = spark.read.parquet(str(tmp_path / "out" / "chart"))
    kept = sorted(r["timestamp_ms"] for r in chart.collect())
    assert kept == [T0_MS + 60_000, T0_MS + 2 * 60_000]


def test_lambda_reconciliation_batch_plus_stream(spark, tmp_path):
    """r10 verdict #5: the documented 100 TB bootstrap pattern
    end-to-end — the batch backfill owns history (< cutoff), the
    bootstrapped stream owns the tail (>= cutoff), and the two meet at
    the cutoff with NO gap and NO overlap: backfill ∪ stream-chart ==
    the full-history batch result on the shared (timestamp, close,
    volume) projection. This is the reference's Lambda reconciliation
    contract (batch_processor.py historical CSVs + stream_processor.py
    live feed writing the same serving store)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from big_data_pr_spark.ohlcv import batch

    minutes, cutoff_min = 120, 90
    closes = [100.0 + (m % 7) for m in range(minutes)]

    def write_candle_csv(path, rng):
        with open(path, "w") as f:
            f.write("timestamp,open,high,low,close,volume,datetime_str\n")
            for m in rng:
                c = closes[m]
                f.write(
                    f"{T0_MS + m * 60_000},{c - 0.5},{c + 1},{c - 1},{c},1.0,t{m}\n"
                )

    # ground truth: one batch run over the FULL history
    full_dir = tmp_path / "csv_full"
    full_dir.mkdir()
    write_candle_csv(str(full_dir / "BTC_USDT_1m.csv"), range(minutes))
    batch.run_batch(
        spark, [str(full_dir) + "/*.csv"], str(tmp_path / "tbl_full")
    )

    # the split: backfill batch owns [0, cutoff) ...
    pre_dir = tmp_path / "csv_pre"
    pre_dir.mkdir()
    write_candle_csv(str(pre_dir / "BTC_USDT_1m.csv"), range(cutoff_min))
    batch.run_batch(spark, [str(pre_dir) + "/*.csv"], str(tmp_path / "tbl_pre"))

    # ... and the stream replays the WHOLE feed but bootstraps at the
    # cutoff, so it owns only [cutoff, end)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_batch(
        in_dir,
        "history.json",
        [_msg("BTC/USDT", m, closes[m]) for m in range(minutes)],
    )
    cutoff_str = dt.datetime.fromtimestamp(
        (T0_MS + cutoff_min * 60_000) / 1000, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    queries = pipeline.start_three_queries(
        pipeline.file_source(spark, str(in_dir)),
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
        bootstrap_watermark=cutoff_str,
    )
    for q in queries:
        q.awaitTermination(180)

    def proj(df, ts_ms_col):
        return {
            (r[0], r[1], r[2])
            for r in df.select(ts_ms_col, "close", "volume").collect()
        }

    ts_from_s = (F.col("timestamp_s") * 1000).cast("long").alias("ts")
    full = proj(spark.read.parquet(str(tmp_path / "tbl_full")).select(
        ts_from_s, "close", "volume"), "ts")
    pre = proj(spark.read.parquet(str(tmp_path / "tbl_pre")).select(
        ts_from_s, "close", "volume"), "ts")
    tail = proj(spark.read.parquet(str(tmp_path / "out" / "chart")),
                "timestamp_ms")

    assert len(full) == minutes
    assert not (pre & tail), "cutoff overlap: a row written by BOTH layers"
    assert pre | tail == full, "gap: batch ∪ stream misses history rows"
    assert len(pre) == cutoff_min and len(tail) == minutes - cutoff_min
