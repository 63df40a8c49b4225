"""Reference-shaped fixture tests (SURVEY.md §5.4 / FIXTURES.md §1.1):
filename-regex extraction, ms→s conversion, SMA warm-up, doc-id upsert
idempotency, invalid-filename filtering, empty-input early exit."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from big_data_pr_spark.ohlcv import batch, serving
from big_data_pr_spark.ohlcv.forecast import DriftModel, forecast_all_symbols, recursive_forecast
from big_data_pr_spark.ohlcv.schemas import symbol_key, url_symbol
from big_data_pr_spark.operators import versioned

HOUR_MS = 3_600_000
T0 = 1_700_000_400_000  # aligned epoch ms


def _write_csv(path: str, rows: list[tuple]) -> None:
    with open(path, "w") as f:
        f.write("timestamp,open,high,low,close,volume,datetime_str\n")
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")


def _candle(i: int, base: float = 100.0) -> tuple:
    ts = T0 + i * HOUR_MS
    px = base + i
    return (ts, px, px + 1, px - 1, px + 0.5, 10.0 + i, f"t{i}")


@pytest.fixture()
def csv_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    # historical file: 40 rows (> SMA-30 warm-up), unsorted on purpose
    rows = [_candle(i) for i in range(40)]
    rows = rows[20:] + rows[:20]
    _write_csv(str(d / "BTC_USDT_1h.csv"), rows)
    # update file overlapping the last 5 + 5 new rows (doc-id overlap)
    _write_csv(
        str(d / "BTC_USDT_1h_update_20250521_150000.csv"),
        [_candle(i) for i in range(35, 50)],
    )
    # second symbol, short series (< SMA-7 warm-up)
    _write_csv(str(d / "ETH_USDT_1h.csv"), [_candle(i, base=50.0) for i in range(4)])
    # invalid filename → rows must be rejected by the validity filter
    _write_csv(str(d / "junk.csv"), [_candle(i) for i in range(3)])
    return str(d)


def test_filename_regex_and_validity(spark, csv_dir):
    raw = batch.read_candle_csvs(spark, [csv_dir + "/*.csv"])
    keyed = batch.extract_key_columns(raw)
    valid, rejects = batch.split_valid(keyed)
    assert rejects.select("source_file").distinct().collect()[0][0] == "junk.csv"
    syms = {r[0] for r in valid.select("symbol").distinct().collect()}
    assert syms == {"BTC_USDT", "ETH_USDT"}
    tfs = {r[0] for r in valid.select("timeframe").distinct().collect()}
    assert tfs == {"1h"}


def test_serving_build_sma_warmup_and_units(spark, csv_dir):
    df = batch.build_serving_df(spark, [csv_dir + "/*.csv"]).rows
    eth = df.filter(F.col("symbol") == "ETH_USDT").orderBy("timestamp_dt").collect()
    assert len(eth) == 4
    # warm-up: sma_7 of row i averages rows 0..i (closes 50.5, 51.5, ...)
    assert eth[0]["sma_7"] == pytest.approx(50.5)
    assert eth[2]["sma_7"] == pytest.approx((50.5 + 51.5 + 52.5) / 3)
    # ms → s conversion and doc_id shape (§1.4)
    assert eth[0]["timestamp_s"] == T0 // 1000
    assert eth[0]["doc_id"] == f"ETH_USDT_1h_hist_{T0 // 1000}"


def test_upsert_idempotent_rerun(spark, csv_dir, tmp_path):
    table = str(tmp_path / "serving")
    n1 = batch.run_batch(spark, [csv_dir + "/*.csv"], table)
    n2 = batch.run_batch(spark, [csv_dir + "/*.csv"], table)  # full re-run
    assert n1 == n2  # reprocessing everything is safe (upsert semantics)
    btc = spark.read.parquet(table).filter(F.col("symbol") == "BTC_USDT")
    # 40 historical + 15 update rows, 5 overlap → 50 unique timestamps
    assert btc.count() == 50
    assert btc.select("doc_id").distinct().count() == 50


def test_empty_input_early_exit(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    assert batch.run_batch(spark, [str(empty) + "/*.csv"], str(tmp_path / "out")) == 0
    assert not os.path.exists(str(tmp_path / "out"))


def test_serving_queries(spark, csv_dir, tmp_path):
    table = str(tmp_path / "serving")
    batch.run_batch(spark, [csv_dir + "/*.csv"], table)
    hist = serving.load_hist(versioned.version_dir(table, versioned.current_version(table)))
    assert serving.distinct_symbol_timeframes(hist) == [
        "BTC_USDT_1h",
        "ETH_USDT_1h",
    ]
    hd = serving.historical_data(hist, "BTC_USDT", "1h", datetime.now(timezone.utc))
    assert hd.num_rows == 50
    assert hd["close"][0].as_py() == pytest.approx(100.5)
    top = serving.model_input_topk(hist, "BTC_USDT", "1h", 5)
    assert len(top) == 5
    assert top[-1][1] == pytest.approx(149.5)  # newest, ascending order


def test_symbol_encode_decode(spark):
    df = spark.createDataFrame([("BTC/USDT",)], "symbol string")
    enc = df.select(url_symbol(F.col("symbol")).alias("s")).collect()[0][0]
    assert enc == "BTC-USDT"
    assert symbol_key(enc, "latest") == "BTC/USDT"
    assert symbol_key(enc, "hist") == "BTC_USDT"


def test_recursive_forecast_loop():
    closes = [100.0, 101.0, 102.0, 103.0, 104.0]
    preds = recursive_forecast(closes, last_ts_ms=T0, steps=3, model=DriftModel())
    assert len(preds) == 3
    assert preds[0][0] == T0 + HOUR_MS
    # drift ≈ +0.985%/step compounds strictly upward
    assert preds[0][1] > 104.0 and preds[2][1] > preds[1][1]
    # recursion actually slides: forecast step 2 uses step-1 prediction
    one = recursive_forecast(closes, T0, steps=1)[0][1]
    two = recursive_forecast(closes[1:] + [one], T0, steps=1)[0][1]
    assert preds[1][1] == pytest.approx(two)


def test_forecast_all_symbols_distributed(spark, csv_dir, tmp_path):
    table = str(tmp_path / "serving")
    batch.run_batch(spark, [csv_dir + "/*.csv"], table)
    hist = spark.read.parquet(table)
    out = forecast_all_symbols(hist, k=5, steps=4).collect()
    assert len(out) == 2 * 4  # both symbols × 4 steps
    btc = [r for r in out if r["symbol"] == "BTC_USDT"]
    assert btc[0]["horizon_ms"] == T0 + 50 * HOUR_MS  # last candle + 1h
