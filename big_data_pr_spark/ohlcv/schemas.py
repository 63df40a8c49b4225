"""Declared column contracts of the Lambda tables (SURVEY.md §1.3:
schemas are fixed and declared, never inferred). Each contract is one
DDL string in :data:`CONTRACTS`; writers project through
:func:`columns`, Spark readers hand the DDL to ``spark.read.schema`` or
``from_json``, and serving maps it to Arrow (``serving.arrow_schema``).

- ``csv``: raw candle file, ``timestamp`` in epoch milliseconds of the
  candle open (reference ``batch_processor.py:21-29``);
- ``message``: speed-layer JSON message, symbol in ccxt slash form
  (``stream_processor.py:25-35``);
- ``hist``: batch serving table (``batch_processor.py:118-135``);
- ``latest``, ``stats``: the stream's snapshot and window tables
  (``stream_processor.py:80-146``);
- ``chart``: the stream's chart log; event time keeps the reference's
  ES field name ``@timestamp`` (``stream_processor.py:149-169``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CHART_TS = "@timestamp"

_CANDLE = "open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE"
CONTRACTS = {
    "csv": f"timestamp BIGINT NOT NULL, {_CANDLE}, datetime_str STRING",
    "message": "timestamp BIGINT NOT NULL, symbol STRING NOT NULL, timeframe STRING, "
    f"{_CANDLE}, datetime_str STRING",
    "hist": "doc_id STRING, symbol STRING, timeframe STRING, timestamp_s BIGINT, "
    f"timestamp_dt TIMESTAMP, {_CANDLE}, sma_7 DOUBLE, sma_30 DOUBLE",
    "latest": "symbol STRING, last_event_timestamp TIMESTAMP, current_price DOUBLE, "
    "open DOUBLE, high DOUBLE, low DOUBLE, volume DOUBLE, timestamp_ms BIGINT",
    "stats": "symbol STRING, window_start TIMESTAMP, window_end TIMESTAMP, avg_close DOUBLE, "
    "min_close DOUBLE, max_close DOUBLE, n_candles BIGINT, doc_id STRING",
    "chart": f"`{CHART_TS}` TIMESTAMP, symbol STRING, close DOUBLE, volume DOUBLE, "
    "timestamp_ms BIGINT, doc_id STRING, event_date DATE",
}


def fields(table: str) -> list[tuple[str, str]]:
    """(name, DDL type) of each column of ``table``'s contract, in order."""
    return [(n.strip("`"), t) for n, t, *_ in (f.split(" ") for f in CONTRACTS[table].split(", "))]


def names(table: str) -> list[str]:
    """The column names of ``table``'s contract, in order."""
    return [n for n, _ in fields(table)]


def columns(table: str, derived: dict[str, Column] | None = None) -> list[Column]:
    """``table``'s contract as a select list: ``derived[name]`` aliased
    to ``name`` where given, else the input column of that name."""
    derived = derived or {}
    return [derived[c].alias(c) if c in derived else F.col(c) for c in names(table)]


# Filename carries (symbol, timeframe): historical `BTC_USDT_1h.csv`,
# hourly update `BTC_USDT_1h_update_20250521_150000.csv`
# (reference batch_processor.py:63; historical_crawler.py:122;
# hourly_updater.py:216).
FILENAME_PATTERN = r"^([A-Z0-9]+(?:_[A-Z0-9]+)*)_([0-9]+[a-zA-Z]+)(?:_update_.*)?\.csv$"


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
