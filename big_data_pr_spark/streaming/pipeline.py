"""Speed layer: the reference's three concurrent streaming queries
(reference ``stream_processor.py``, SURVEY.md §3.2) re-expressed
Spark-first.

Topology (one source, three queries — T7):

1. **latest snapshot** — per-symbol latest candle, complete mode,
   keyed sink (doc_id = symbol, last-writer-wins;
   ``stream_processor.py:80-111``). Determinism fix (SURVEY §2.4 A1):
   the reference aggregates with ``F.last(...)`` which is
   order-dependent; we use ``max_by(field, event_timestamp)``.
2. **sliding window stats** — 10 min / 1 min windows, watermark 2 min,
   update mode (``stream_processor.py:114-146``).
3. **raw chart append** — pass-through of the *pre-watermark* frame
   (late rows are kept on this path, dropped only from aggregates —
   the reference's explicit choice, ``stream_processor.py:171``),
   partitioned by **event** date. (Divergence, recorded: the reference
   partitions its daily chart indices by *processing* day
   (``stream_processor.py:154``); event-day partitioning is the
   scale-correct choice — partition pruning works for event-time
   queries and reprocessing is stable.)

The snapshot and stats sinks are ``foreachBatch`` → one version commit
of a versioned parquet table (``operators/versioned.py``) per epoch: a
reader never sees a half-written table, and keyed upsert gives the same
exactly-once-by-idempotent-key strategy the reference uses against ES
(doc_id overwrite), which makes micro-batch replays after failure safe
(T5/T6). The chart is Spark's file sink, committed by its own
``_spark_metadata`` log. Sources are pluggable: Kafka in production
(S2; builder below, needs the kafka connector jar), file/rate source in
tests — identical downstream plan either way.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..ohlcv.schemas import CHART_TS, CONTRACTS, columns, names, url_symbol
from ..operators import versioned
from . import start_foreach_batch, trigger_kwargs

WINDOW_DURATION = os.environ.get("OHLCV_WINDOW_DURATION", "10 minutes")
SLIDE_DURATION = os.environ.get("OHLCV_SLIDE_DURATION", "1 minute")
WATERMARK = "2 minutes"


def kafka_source(
    spark: SparkSession, brokers: str, topic: str = "crypto_ohlcv_1m"
) -> DataFrame:
    """S2: Kafka stream source (reference ``stream_processor.py:55-61``).
    Requires the spark-sql-kafka connector jar on the classpath (not in
    this container — tests substitute :func:`file_source`)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")  # T8
        .option("failOnDataLoss", "false")
        .load()
    )


def file_source(spark: SparkSession, path: str) -> DataFrame:
    """Test-harness source: JSON files with the same ``value`` payload
    contract as the Kafka topic (one JSON message per line)."""
    return spark.readStream.text(path)


def to_kafka_messages(candles: DataFrame) -> DataFrame:
    """S7 (the reference's absent ``ohlcv_1m_producer.py``, spec report
    §5.2.1): serialize candle rows to the Kafka message contract —
    ``key`` = symbol (per-key topic ordering), ``value`` = the JSON
    payload `parse_stream` expects. Feed to ``df.write.format("kafka")
    .option("kafka.bootstrap.servers", ...).option("topic", ...)`` in
    production, or to a file sink in tests (round-trip asserted in
    tests/test_streaming.py); the payload's fields are the ``message``
    contract."""
    payload = F.to_json(F.struct(*columns("message", {
        "timestamp": F.col("timestamp_ms"),
        "datetime_str": F.date_format(
            F.timestamp_millis(F.col("timestamp_ms")), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        ),
    })))
    return candles.select(
        F.col("symbol").cast("string").alias("key"), payload.alias("value")
    )


class EpochCounts:
    """Observability replacing the reference's per-epoch ``count()`` +
    ``print`` inside every sink (``stream_processor.py:100,135,164`` —
    each one forced an extra job per epoch): a StreamingQueryListener
    reads ``numInputRows`` from the progress event the engine already
    produced, at zero query cost."""

    def __init__(self) -> None:
        self.progress: list[tuple[str, int]] = []

    def attach(self, spark: SparkSession):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.progress.append(
                    (event.progress.name or "", event.progress.numInputRows)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = _L()
        spark.streams.addListener(listener)
        return listener


def _message() -> Column:
    """The Kafka ``value`` payload parsed as struct ``d``."""
    return F.from_json(F.col("value").cast("string"), CONTRACTS["message"]).alias("d")


def _candle_columns() -> list[Column]:
    """The canonical candle columns projected out of ``d``."""
    fields = ("symbol", "timeframe", "open", "high", "low", "close", "volume")
    return [
        F.col("d.timestamp").alias("timestamp_ms"),
        *[F.col(f"d.{c}").alias(c) for c in fields],
        F.timestamp_millis(F.col("d.timestamp")).alias("event_timestamp"),
    ]


def parse_stream(raw: DataFrame) -> DataFrame:
    """P1-P4: CAST value AS STRING → from_json(schema) → canonical
    columns + event_timestamp (reference ``stream_processor.py:63-74``)."""
    return raw.select(_message()).select(*_candle_columns())


def latest_snapshot(parsed: DataFrame) -> DataFrame:
    """Q1 aggregation (A1): one row per symbol with the newest candle,
    as the ``latest`` contract.

    ``max_by(x, (event_timestamp, timestamp_ms))`` replaces the
    reference's nondeterministic ``F.last`` — the result is defined
    regardless of partition arrival order."""
    key = F.struct("event_timestamp", "timestamp_ms")
    derived = {"last_event_timestamp": F.max("event_timestamp"), "current_price": F.max_by("close", key)}
    return parsed.groupBy("symbol").agg(*[
        derived.get(c, F.max_by(c, key)).alias(c) for c in names("latest") if c != "symbol"
    ])


def window_stats(
    parsed: DataFrame,
    duration: str = WINDOW_DURATION,
    slide: str = SLIDE_DURATION,
    watermark: str = WATERMARK,
) -> DataFrame:
    """Q2 aggregation (A2 + T1/T2): sliding-window avg/min/max/count per
    symbol, state bounded by the event-time watermark; the ``stats``
    contract."""
    return (
        parsed.withWatermark("event_timestamp", watermark)
        .groupBy("symbol", F.window("event_timestamp", duration, slide).alias("w"))
        .agg(
            F.avg("close").alias("avg_close"),
            F.min("close").alias("min_close"),
            F.max("close").alias("max_close"),
            F.count("close").alias("n_candles"),
        )
        .select(*columns("stats", {
            "window_start": F.col("w.start"),
            "window_end": F.col("w.end"),
            # F2: stable doc key `{sym}_stats_{epoch(window_end)}`
            "doc_id": F.concat(
                url_symbol(F.col("symbol")),
                F.lit("_stats_"),
                F.unix_seconds(F.col("w.end")).cast("string"),
            ),
        }))
    )


def raw_chart(parsed: DataFrame) -> DataFrame:
    """Q3 projection: pre-watermark pass-through for charting, keyed
    ``{sym}_1m_{ts_ms}`` (``stream_processor.py:149-169``), partitioned
    by event date; the ``chart`` contract."""
    return parsed.select(*columns("chart", {
        CHART_TS: F.col("event_timestamp"),
        "doc_id": F.concat(
            url_symbol(F.col("symbol")),
            F.lit("_1m_"),
            F.col("timestamp_ms").cast("string"),
        ),
        "event_date": F.to_date(F.col("event_timestamp")),
    }))


def dedup_stream(parsed: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming dedup of producer retries/replays (beyond-reference: the
    reference tolerates duplicates by idempotent doc_id overwrite at the
    sink; this drops them **in-flight** so every downstream aggregate
    sees each candle once).

    ``dropDuplicatesWithinWatermark`` keeps first-seen per
    (symbol, timestamp_ms) and expires state once the event-time
    watermark passes the key — state is bounded by
    (keys arriving per watermark horizon), not by stream history, which
    is what makes it safe on an unbounded 100 TB/day feed.
    """
    return parsed.withWatermark("event_timestamp", watermark).dropDuplicatesWithinWatermark(
        ["symbol", "timestamp_ms"]
    )


def stream_stream_join(
    candles: DataFrame,
    signals: DataFrame,
    tolerance: str = "10 minutes",
    watermark: str = WATERMARK,
) -> DataFrame:
    """Stream-stream event-time inner join (beyond-reference: the
    reference merges its two serving streams driver-side per request,
    SURVEY §2.3 J1): attach each trading signal to the candles it was
    emitted for, where ``signal_time ∈ [candle_time, candle_time +
    tolerance)``.

    Both sides carry watermarks and the join predicate bounds the
    event-time distance — the two conditions Structured Streaming needs
    to evict matched state instead of buffering both streams forever.
    State per executor is O(input within watermark+tolerance horizon),
    independent of stream length.
    """
    c = candles.withWatermark("event_timestamp", watermark).alias("c")
    s = signals.withWatermark("signal_time", watermark).alias("s")
    cond = (
        (F.col("c.symbol") == F.col("s.symbol"))
        & (F.col("s.signal_time") >= F.col("c.event_timestamp"))
        & (
            F.col("s.signal_time")
            < F.col("c.event_timestamp") + F.expr(f"INTERVAL {tolerance}")
        )
    )
    return c.join(s, cond, "inner").select(
        F.col("c.symbol").alias("symbol"),
        F.col("c.timestamp_ms").alias("timestamp_ms"),
        F.col("c.close").alias("close"),
        F.col("c.event_timestamp").alias("event_timestamp"),
        F.col("s.signal").alias("signal"),
        F.col("s.signal_time").alias("signal_time"),
    )


def enrich_stream(
    parsed: DataFrame,
    dim: DataFrame,
    key: str = "symbol",
) -> DataFrame:
    """Stream-static enrichment join (beyond-reference: the reference's
    dashboards re-fetch symbol metadata per request — SURVEY §3.3): each
    streaming row picks up the dimension attributes for its key via a
    broadcast hash join planned per micro-batch.

    Scale: the static side is a dimension table (symbols, instruments,
    tenants) — broadcast, so the stream is NEVER shuffled and no join
    state is kept (stateless; unlike a stream-stream join there is
    nothing to watermark on the static side). The static DataFrame is
    re-resolved every micro-batch, so a dimension refresh (new parquet
    files under the same path) is picked up without restarting the
    query.
    """
    return parsed.join(F.broadcast(dim), key, "left")


def score_stream(parsed: DataFrame, model_json: str, out_col: str = "score") -> DataFrame:
    """Real-time model inference riding the stream (the reference
    serves forecasts from ``trained_models/*.pkl`` per HTTP request,
    ``app.py:195-244``; here the trained artifact scores every candle
    in-flight instead).

    Accepts either JSON artifact kind from the ``model`` CLI:

    - GBT → Arrow-batched vectorized tree traversal (pandas UDF);
    - logistic regression → pure codegen sigmoid (no Python at all).

    Both are STATELESS narrow maps: no watermark, no state store, no
    shuffle — valid in any output mode, and model refresh is a query
    restart away (the artifact is a closure constant, exactly like a
    broadcast variable).
    """
    import json  # noqa: PLC0415

    spec = json.loads(model_json)
    if "trees" in spec:
        from ..operators.gbt import GBTModel, predict_gbt  # noqa: PLC0415

        return predict_gbt(parsed, GBTModel.from_json(model_json), out_col)
    from ..operators.logreg import LogRegModel, score_expr  # noqa: PLC0415

    return parsed.withColumn(out_col, score_expr(LogRegModel.from_json(model_json)))


# ---------------------------------------------------------------------------
# foreachBatch sinks: keyed parquet upsert (exactly-once via idempotent key)
# ---------------------------------------------------------------------------


def _overwrite_keyed(df: DataFrame, path: str) -> None:
    """Snapshot sink: commit this epoch's state as the table's next
    version (complete output mode ⇒ every epoch carries the full keyed
    table)."""
    versioned.write_version(df, path, "stream snapshot")
    versioned.vacuum(path, keep_last=1)


def _upsert_keyed(df: DataFrame, path: str, key: str = "doc_id") -> None:
    """Update sink: merge this epoch's changed rows by doc key (the ES
    upsert analogue). Epoch replays overwrite the same keys — idempotent."""
    versioned.upsert_version(df.sparkSession, path, df, key, note="stream upsert")
    versioned.vacuum(path, keep_last=1)


def start_three_queries(
    raw: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    triggers: dict[str, str] | None = None,
    bootstrap_watermark: str | None = None,
) -> list[StreamingQuery]:
    """T3-T8: launch the three concurrent queries on one source.

    Output modes are the canonical trio (complete / update / append);
    each query gets its own checkpoint (T5). ``triggers`` maps query
    name → processingTime string; absent → availableNow (test mode).

    ``bootstrap_watermark`` (**UTC** timestamp string, e.g.
    ``"2024-01-05 00:00:00"`` — the cast runs in the session timezone,
    pinned UTC in ``session.py``; a local-time value would place the
    batch/stream split at the wrong instant and silently drop or
    double-write up to a TZ-offset of rows vs the backfill) is the
    100 TB stream-bootstrap rule (SCALE.md
    round-9 sustained probe) as code: starting a stream over a
    historical file set otherwise materializes batch-0 state
    proportional to the HISTORY's time span, because no watermark
    exists before the first trigger completes and every event-time
    window in the backlog is live (measured: ~116 k state rows for a
    4-day replay, purged to ~22 by batch 1). Spark exposes no public
    "seed the starting watermark" knob, so the equivalent contract is
    an event-time cutoff on the stream: rows older than the bootstrap
    point are the BATCH backfill's responsibility
    (``ohlcv/batch.py``; reference batch_processor.py is the same
    split), the stream owns ``event_timestamp >= bootstrap_watermark``
    only. This bounds batch-0 state by the post-cutoff span AND keeps
    the append sink duplicate-free when the backfill already wrote
    the history."""
    parsed = parse_stream(raw)
    if bootstrap_watermark is not None:
        # fail fast on an unparseable cutoff: under non-ANSI Spark the
        # cast would yield NULL and `ts >= NULL` silently drops EVERY
        # row — the worst possible failure mode for this flag
        from datetime import datetime as _dt

        try:
            _dt.strptime(bootstrap_watermark, "%Y-%m-%d %H:%M:%S")
        except (TypeError, ValueError) as exc:
            raise ValueError(
                "bootstrap_watermark must be 'YYYY-MM-DD HH:MM:SS', got "
                f"{bootstrap_watermark!r}"
            ) from exc
        parsed = parsed.filter(
            F.col("event_timestamp") >= F.lit(bootstrap_watermark).cast("timestamp")
        )
    trig = triggers or {}
    # the sinks are looked up when called, so wrappers of the module
    # attributes see every epoch
    latest_q = start_foreach_batch(
        latest_snapshot(parsed),
        lambda df, _eid: _overwrite_keyed(df, f"{out_dir}/latest"),
        f"{checkpoint_dir}/latest_ohlcv", trig.get("latest"), "complete", "latest_snapshot",
    )
    stats_q = start_foreach_batch(
        window_stats(parsed),
        lambda df, _eid: _upsert_keyed(df, f"{out_dir}/stats"),
        f"{checkpoint_dir}/ohlcv_stats", trig.get("stats"), "update", "window_stats",
    )
    chart_q = (
        raw_chart(parsed)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/chart")
        .partitionBy("event_date")
        .option("checkpointLocation", f"{checkpoint_dir}/raw_ohlcv_chart")
        .trigger(**trigger_kwargs(trig.get("chart")))
        .queryName("raw_chart")
        .start()
    )
    return [latest_q, stats_q, chart_q]


def apply_retention(chart_path: str, keep_dates: Sequence[str]) -> list[str]:
    """T9: retention job replacing the reference's ES ILM 2-hour delete
    (``README.md:74-98``) — drop event_date partitions not in
    ``keep_dates``. On a real cluster this is a metadata-only partition
    drop (or Delta ``VACUUM``); here, directory removal. The file sink's
    ``_spark_metadata`` log still lists the dropped files: Spark readers
    of the chart set ``ignoreMissingFiles``, and ``serve`` skips listed
    files that are gone (``serving.load_chart``)."""
    dropped = []
    if not os.path.isdir(chart_path):
        return dropped
    keep = {f"event_date={d}" for d in keep_dates}
    for entry in os.listdir(chart_path):
        if entry.startswith("event_date=") and entry not in keep:
            shutil.rmtree(os.path.join(chart_path, entry))
            dropped.append(entry)
    return dropped


# ---------------------------------------------------------------------------
# Dead-letter queue: malformed payloads quarantined, never dropped,
# never failing the query
# ---------------------------------------------------------------------------


def parse_stream_tagged(raw: DataFrame) -> DataFrame:
    """:func:`parse_stream` with corrupt-record tagging instead of
    silent nulls: the raw payload rides alongside the parsed columns
    and ``_is_corrupt`` marks lines ``from_json`` could not parse (or
    that lack the required timestamp/symbol fields). The streaming
    counterpart of the batch PERMISSIVE + columnNameOfCorruptRecord
    ingest (queries/stat_queries.py::jsonl_corrupt_quarantine) — the
    reference's Kafka feed is exactly such a dirty JSON-lines source
    (stream_processor.py:63-74, which crashes the epoch on bad input)."""
    return raw.select(F.col("value").cast("string").alias("raw"), _message()).select(
        "raw",
        *_candle_columns(),
        (
            F.col("d").isNull()
            | F.col("d.timestamp").isNull()
            | F.col("d.symbol").isNull()
        ).alias("_is_corrupt"),
    )


def start_parse_with_dlq(
    raw: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger: str | None = None,
) -> StreamingQuery:
    """Ingest with a dead-letter queue: per micro-batch, parsed-clean
    rows land in ``{out_dir}/good`` and malformed payloads (with their
    epoch id) in ``{out_dir}/dlq`` — the job never fails on dirty
    input and never silently drops it.

    Exactly-once effect over at-least-once foreachBatch execution: both
    sinks write via dynamic overwrite of the ``_epoch`` partition, so
    an epoch replay after a crash rewrites the same partition instead
    of appending duplicates. At scale the good table would additionally
    partition by event date; the DLQ stays epoch-partitioned (it is
    operational evidence, queried by epoch)."""
    tagged = parse_stream_tagged(raw)

    def split(df: DataFrame, eid: int) -> None:
        df = df.persist()
        try:
            good = (
                df.filter(~F.col("_is_corrupt"))
                .drop("raw", "_is_corrupt")
                .withColumn("_epoch", F.lit(eid))
            )
            bad = df.filter(F.col("_is_corrupt")).select(
                F.col("raw").alias("payload"), F.lit(eid).alias("_epoch")
            )
            for part, path in ((good, f"{out_dir}/good"), (bad, f"{out_dir}/dlq")):
                part.write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("_epoch").parquet(path)
        finally:
            df.unpersist()

    return start_foreach_batch(
        tagged, split, f"{checkpoint_dir}/parse_dlq", trigger, "append", "parse_with_dlq"
    )
