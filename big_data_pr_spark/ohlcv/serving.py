"""Serving layer: the reference's five HTTP/ES query endpoints
(SURVEY.md §3.3, reference ``app.py``) re-expressed as Spark SQL/
DataFrame queries over the serving tables.

Each function takes the serving DataFrame(s) and returns a DataFrame —
runnable identically in batch tests and, registered as temp views, via
``spark.sql``. ES query-DSL constructs map to:

- ``term`` filter        → equality predicate (partition-prunable)
- ``range`` filter       → between predicate (parquet min/max pruning)
- ``sort`` + ``size``    → orderBy + limit (TakeOrderedAndProject)
- ``terms``/``multi_terms`` aggs → distinct projections
- get-by-id              → key equality + limit 1
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.windows import topk
from .schemas import CHART_TS


def distinct_symbols(hist: DataFrame) -> DataFrame:
    """GET / dropdown: distinct symbols sorted (reference ``app.py:46-64``,
    ES terms agg size 500 — unbounded here; exact distinct scales as one
    partial-agg shuffle)."""
    return hist.select("symbol").distinct().orderBy("symbol")


def distinct_symbol_timeframes(hist: DataFrame) -> DataFrame:
    """GET /historical dropdown: distinct (symbol, timeframe) formatted
    ``{sym}_{tf}`` (reference ``app.py:66-83`` multi_terms agg)."""
    return (
        hist.select(
            F.concat_ws("_", F.col("symbol"), F.col("timeframe")).alias("symbol_tf")
        )
        .distinct()
        .orderBy("symbol_tf")
    )


def chart_data_1m(chart: DataFrame, symbol: str, now_ts: Column) -> DataFrame:
    """GET /api/chart_data_1m/<sym> (reference ``app.py:109-135``):
    term(symbol) + range(last 35 min) + sort asc + limit 200 →
    [``@timestamp``, close] pairs."""
    ts = chart[CHART_TS]
    return (
        chart.filter(
            (F.col("symbol") == symbol)
            & (ts >= now_ts - F.expr("INTERVAL 35 MINUTES"))
            & (ts <= now_ts)
        )
        .select(ts, "close")
        .orderBy(ts)
        .limit(200)
    )


def historical_data(
    hist: DataFrame, symbol: str, timeframe: str, range_days: int | None = None
) -> DataFrame:
    """GET /api/historical_data/<sym_tf> (reference ``app.py:153-193``):
    term(symbol) + term(timeframe) [+ range(ts ≥ now−Nd)] + sort asc +
    limit 10000 → labels/close/sma7/sma30."""
    out = hist.filter(
        (F.col("symbol") == symbol) & (F.col("timeframe") == timeframe)
    )
    if range_days is not None:
        out = out.filter(
            F.col("timestamp_dt")
            >= F.current_timestamp() - F.make_interval(days=F.lit(range_days))
        )
    return (
        out.select("timestamp_dt", "close", "sma_7", "sma_30")
        .orderBy("timestamp_dt")
        .limit(10000)
    )


def model_input_topk(hist: DataFrame, symbol: str, timeframe: str, k: int) -> DataFrame:
    """GET /api/predict input scan (reference ``app.py:219-228``): top-k
    newest closes (sort desc, size k), re-sorted ascending for the model
    window."""
    newest = topk(
        hist.filter((F.col("symbol") == symbol) & (F.col("timeframe") == timeframe)),
        [F.desc("timestamp_dt")],
        k,
    )
    return newest.select("timestamp_dt", "close").orderBy("timestamp_dt")
