"""Batch layer: CSV candle ingest → canonical serving table with SMA
features, idempotent by doc-id (SURVEY.md §3.1, reference
``batch_processor.py`` end-to-end).

Spark-first divergences from the reference (each deliberate, SURVEY §4):
- no global ``orderBy`` before the window computation (the reference's
  ``batch_processor.py:104`` adds a redundant exchange+sort; the window
  spec alone provides per-partition order);
- sink is a versioned Parquet table (``operators/versioned.py``)
  partitioned by (symbol, timeframe), committed by a key-dedup upsert
  instead of the Elasticsearch connector (same doc_id keying,
  ``batch_processor.py:132-148``); like an ES index, a reader never
  sees it half-written — at production scale this becomes a Delta
  ``MERGE INTO`` on the identical key expression;
- eager debug actions (``rdd.isEmpty``/``show`` per stage) are replaced
  by one ``df.isEmpty()`` early-exit.

Scale: the only shuffle in the pipeline is the window partitioning by
(symbol, timeframe); ingest, regex extraction, casts and doc-id build
are all narrow. The upsert dedup shuffles by doc_id — at 100 TB both
exchanges are unavoidable and minimal (they ARE the semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fsutil import require_local
from ..operators import versioned
from .schemas import CONTRACTS, FILENAME_PATTERN, columns


def read_candle_csvs(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """S1: multi-path CSV scan with the declared ``csv`` contract +
    filename lineage.

    Reference ``batch_processor.py:12-15,53-54`` reads two HDFS globs
    (historical + hourly updates) — an implicit UNION ALL (SURVEY §2.7).
    """
    df = spark.read.schema(CONTRACTS["csv"]).option("header", "true").csv(list(paths))
    basename = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    return df.withColumn("source_file", basename)


def extract_key_columns(df: DataFrame) -> DataFrame:
    """P7: symbol/timeframe regex-extracted from the source filename
    (reference ``batch_processor.py:61-66``)."""
    return df.withColumn(
        "symbol", F.regexp_extract("source_file", FILENAME_PATTERN, 1)
    ).withColumn("timeframe", F.regexp_extract("source_file", FILENAME_PATTERN, 2))


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P8/P9: conjunctive validity filter + its negation (rejects).

    Reference ``batch_processor.py:71-81`` filters empty symbol/timeframe
    and null timestamp/close, debug-showing the rejects.
    """
    valid = (
        (F.col("symbol") != "")
        & (F.col("timeframe") != "")
        & F.col("timestamp").isNotNull()
        & F.col("close").isNotNull()
    )
    return df.filter(valid), df.filter(~valid)


def with_event_time(df: DataFrame) -> DataFrame:
    """P4/P5: epoch-ms → TimestampType + epoch-seconds
    (reference ``batch_processor.py:91-92``)."""
    return df.withColumn(
        "timestamp_dt", F.timestamp_millis(F.col("timestamp"))
    ).withColumn("timestamp_s", F.unix_seconds(F.col("timestamp_dt")))


def with_sma_features(df: DataFrame) -> DataFrame:
    """W1/W2: trailing SMA-7 / SMA-30 per (symbol, timeframe) ordered by
    event time (reference ``batch_processor.py:109-115``). Warm-up rows
    average over the rows available — no nulls."""
    w = Window.partitionBy("symbol", "timeframe").orderBy("timestamp_dt")
    return df.withColumn(
        "sma_7", F.avg("close").over(w.rowsBetween(-6, 0))
    ).withColumn("sma_30", F.avg("close").over(w.rowsBetween(-29, 0)))


def with_doc_id(df: DataFrame) -> DataFrame:
    """§1.4 identity: ``{symbol}_{timeframe}_hist_{epoch_seconds}``
    (reference ``batch_processor.py:132-135``) — the idempotent upsert key."""
    return df.withColumn(
        "doc_id",
        F.concat(
            F.col("symbol"),
            F.lit("_"),
            F.col("timeframe"),
            F.lit("_hist_"),
            F.col("timestamp_s").cast("string"),
        ),
    )


def build_serving_df(spark: SparkSession, input_paths: Sequence[str]) -> DataFrame | None:
    """Full batch transformation into the ``hist`` contract; returns None
    on empty input (the reference's early-exit, ``batch_processor.py:56-59``)."""
    from pyspark.errors import AnalysisException

    try:
        raw = read_candle_csvs(spark, input_paths)
        if raw.isEmpty():
            return None
    except AnalysisException:  # glob matched no files → same early-exit
        return None
    keyed = extract_key_columns(raw)
    valid, _rejects = split_valid(keyed)
    timed = with_event_time(valid)
    feats = with_sma_features(timed)
    return with_doc_id(feats).select(*columns("hist"))


def upsert_parquet(
    spark: SparkSession,
    new_df: DataFrame,
    table_path: str,
    key_col: str = "doc_id",
    partition_cols: Sequence[str] = ("symbol", "timeframe"),
) -> None:
    """Idempotent key-dedup upsert into the versioned serving table —
    the reference's ES upsert (``batch_processor.py:142-148``); new
    rows win over existing. Commits one new version and vacuums the
    previous one, so the table root holds exactly one version at rest.
    """
    require_local(table_path, "upsert_parquet")  # before any Spark work
    versioned.upsert_version(
        spark, table_path, new_df, key_col, partition_by=partition_cols, note="batch"
    )
    versioned.vacuum(table_path, keep_last=1)


def run_batch(
    spark: SparkSession, input_paths: Sequence[str], table_path: str
) -> int:
    """Hourly batch job entry point (reference ``run_batch_processor.sh``
    → ``batch_processor.py``). Returns the number of rows upserted."""
    serving = build_serving_df(spark, input_paths)
    if serving is None:
        return 0
    upsert_parquet(spark, serving, table_path)
    return versioned.read_version(spark, table_path).count()
