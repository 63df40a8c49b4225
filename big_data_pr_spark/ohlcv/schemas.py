"""Explicit schema contracts for the OHLCV pipeline (SURVEY.md §1.3:
schemas are fixed and declared, never inferred).

Shapes match the reference's input contracts:
- CSV candle file: reference ``batch_processor.py:21-29``
- Kafka 1-minute message: reference ``stream_processor.py:25-35``
- serving historical table: reference ``batch_processor.py:118-135``
- chart table: reference ``stream_processor.py:149-169``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Raw candle CSV (timestamp is epoch MILLISECONDS, candle open time).
OHLCV_CSV_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.DoubleType(), True),
        T.StructField("datetime_str", T.StringType(), True),
    ]
)

# Speed-layer JSON message (symbol in ccxt slash form, e.g. BTC/USDT).
OHLCV_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("timeframe", T.StringType(), True),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.DoubleType(), True),
        T.StructField("datetime_str", T.StringType(), True),
    ]
)

# Filename carries (symbol, timeframe): historical `BTC_USDT_1h.csv`,
# hourly update `BTC_USDT_1h_update_20250521_150000.csv`
# (reference batch_processor.py:63; historical_crawler.py:122;
# hourly_updater.py:216).
FILENAME_PATTERN = r"^([A-Z0-9]+(?:_[A-Z0-9]+)*)_([0-9]+[a-zA-Z]+)(?:_update_.*)?\.csv$"

# Chart table (stream ``raw_chart`` → serve ``/api/chart_data_1m``).
# Event time keeps the reference's ES field name ``@timestamp``.
CHART_TS = "@timestamp"
CHART_FIELDS = {
    CHART_TS: "TIMESTAMP", "symbol": "STRING", "close": "DOUBLE", "volume": "DOUBLE",
    "timestamp_ms": "BIGINT", "doc_id": "STRING", "event_date": "DATE",
}
CHART_SCHEMA = ", ".join(f"`{c}` {t}" for c, t in CHART_FIELDS.items())  # DDL


def symbol_key(symbol: str, table: str) -> str:
    """``symbol`` in any URL form (``BTC-USDT``, ``BTC_USDT``,
    ``BTC/USDT``) → the form ``table`` stores it in: batch's ``hist``
    keys on the candle filename's underscore form (FILENAME_PATTERN),
    the stream tables (``latest``, ``stats``, ``chart``) on the feed's
    slash form."""
    return symbol.translate(str.maketrans("-_/", ("_" if table == "hist" else "/") * 3))


def url_symbol(col: Column) -> Column:
    """F3: the URL/doc-key symbol form, ``/`` → ``-`` (reference
    ``app.py:94``, ``stream_processor.py:134``); :func:`symbol_key`
    maps it back to a table's stored form."""
    return F.replace(col, F.lit("/"), F.lit("-"))
