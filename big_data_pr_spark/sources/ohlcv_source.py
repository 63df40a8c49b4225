"""OHLCV exchange-API data source — the reference's driver-side ingest
re-expressed as a REAL Spark source via the PySpark 4 Python DataSource
API.

The reference crawls candles with a driver-side ccxt pagination loop
(`historical_crawler.py:60-118`: fetch_ohlcv in limit-1000 pages until
now; `hourly_updater.py` repeats it incrementally) and fakes the speed
layer with a missing Kafka producer (`ohlcv_1m_producer.py`, spec in
report §5.2.1). Both become engine-native here:

- ``spark.read.format("ohlcv_rest")`` — batch: one input partition per
  (symbol, page), so pagination runs ON THE EXECUTORS in parallel, not
  in a driver loop. At 1000 executors, 1000 pages fetch concurrently;
  the driver only plans (symbols × pages) splits. A real deployment
  swaps the synthetic generator for the HTTP call + per-partition rate
  limiting; everything else (planning, schema, parallelism) stays.
- ``spark.readStream.format("ohlcv_rest")`` — streaming: a
  SimpleDataSourceStreamReader whose offset is the global candle
  index; micro-batches are replayable BY OFFSET RANGE
  (``readBetweenOffsets``), giving checkpoint-restart exactly-once
  semantics — the contract Kafka gives the reference's
  stream_processor, without a broker.

The synthetic exchange is deterministic integer arithmetic (seeded by
symbol index and candle index), so every generated cell is
SQL-replayable — the whole source is hash-certified by the
``rest_source_candles`` oracle query, not just smoke-tested.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..ohlcv.schemas import CONTRACTS

# Deterministic synthetic-exchange parameters (all SQL-replayable).
DEFAULT_SYMBOLS = "BTC_USDT,ETH_USDT,SOL_USDT"
DEFAULT_START_MS = 1704067200000  # 2024-01-01T00:00:00Z
HOUR_MS = 3_600_000
PAGE = 100  # candles per page (ccxt uses 1000; smaller for test granularity)


def synth_candle(sym_idx: int, symbol: str, i: int, start_ms: int, timeframe: str):
    """Candle ``i`` of ``symbol`` — pure integer arithmetic in cents so
    DuckDB replays it bit-for-bit (see ``rest_source_candles``)."""
    ts = start_ms + i * HOUR_MS
    base = 10_000 + sym_idx * 1_000
    open_c = base + (i * 37) % 500
    close_c = base + (i * 37 + 17) % 500
    hi_c = max(open_c, close_c) + i % 7
    lo_c = min(open_c, close_c) - i % 5
    dt = datetime.fromtimestamp(ts / 1000.0, tz=timezone.utc)
    return (
        ts,
        symbol,
        timeframe,
        open_c / 100.0,
        hi_c / 100.0,
        lo_c / 100.0,
        close_c / 100.0,
        1.0 + (i % 100) / 10.0,
        dt.strftime("%Y-%m-%d %H:%M:%S"),
    )


class _Page(InputPartition):
    def __init__(self, sym_idx: int, symbol: str, first: int, count: int):
        self.sym_idx = sym_idx
        self.symbol = symbol
        self.first = first
        self.count = count


def _opts(options):
    symbols = options.get("symbols", DEFAULT_SYMBOLS).split(",")
    return (
        symbols,
        int(options.get("start_ms", DEFAULT_START_MS)),
        int(options.get("n_candles", 240)),
        options.get("timeframe", "1h"),
        int(options.get("page", PAGE)),
    )


class OhlcvRestReader(DataSourceReader):
    def __init__(self, options):
        self.symbols, self.start_ms, self.n, self.tf, self.page = _opts(options)

    def partitions(self):
        out = []
        for s_idx, sym in enumerate(self.symbols):
            for first in range(0, self.n, self.page):
                out.append(
                    _Page(s_idx, sym, first, min(self.page, self.n - first))
                )
        return out

    def read(self, part: _Page):
        for i in range(part.first, part.first + part.count):
            yield synth_candle(
                part.sym_idx, part.symbol, i, self.start_ms, self.tf
            )


class OhlcvStreamReader(SimpleDataSourceStreamReader):
    """Offset = global candle index per symbol; each micro-batch emits
    ``batch_candles`` new candles for every symbol. ``read`` advances
    the offset; ``readBetweenOffsets`` replays any committed range
    identically after restart — exactly-once over checkpoint recovery,
    the property the reference delegates to Kafka."""

    def __init__(self, options):
        self.symbols, self.start_ms, self.n, self.tf, _ = _opts(options)
        self.batch_candles = int(options.get("batch_candles", 5))

    def initialOffset(self):
        return {"i": 0}

    def _rows(self, lo: int, hi: int):
        out = []
        for s_idx, sym in enumerate(self.symbols):
            for i in range(lo, hi):
                out.append(
                    synth_candle(s_idx, sym, i, self.start_ms, self.tf)
                )
        return out

    def read(self, start: dict):
        lo = int(start["i"])
        hi = min(lo + self.batch_candles, self.n)
        return iter(self._rows(lo, hi)), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["i"]), int(end["i"])))


class OhlcvRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ohlcv_rest"

    def schema(self) -> str:
        return CONTRACTS["message"]

    def reader(self, schema):
        return OhlcvRestReader(self.options)

    def simpleStreamReader(self, schema):
        return OhlcvStreamReader(self.options)


def register_sources(spark) -> None:
    """Idempotently register the custom sources on a session."""
    spark.dataSource.register(OhlcvRestDataSource)
