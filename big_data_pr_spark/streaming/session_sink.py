"""Streaming sessionization — native ``session_window`` aggregation
with watermark-driven finalization and a replay-safe keyed sink.

The batch engine already answers "split each user's events into
gap-bounded sessions" two ways (``sessionize_events``: lag/cumsum;
``session_window_native``: Spark's built-in session window). A live
feed (the reference's stream, stream_processor.py:33-76) needs the
same answer continuously — and the idiomatic Structured Streaming form
is the BUILT-IN session window, not hand-rolled state:

- the engine keeps one open session per (key, overlapping-window)
  in its state store, MERGES sessions when a late-but-in-horizon event
  bridges two of them (the case hand-rolled lag/cumsum state gets
  wrong), and
- emits a session exactly when the event-time watermark passes its
  end (start of last event + gap), i.e. when no in-horizon event can
  extend it — append-mode semantics give finalized sessions only.

The sink upserts on (key, session_start): a crash-replayed micro-batch
rewrites the same finalized rows, so the output stays key-unique
(idempotent, same contract as the stats upsert sink). State size is
bounded by |open sessions| = |active keys|, independent of stream
length; emitted sessions leave the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..fsutil import fs_exists
from . import start_foreach_batch

GAP = "30 minutes"
WATERMARK = "10 minutes"


def sessionize_stream(
    events: DataFrame,
    gap: str = GAP,
    watermark: str = WATERMARK,
    key_col: str = "user_id",
    ts_col: str = "event_time",
    val_col: str = "value",
) -> DataFrame:
    """Gap-bounded sessions per key over an event stream. Append-mode
    output: one row per FINALIZED session (watermark passed its end)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(val_col).alias("total_value"),
            F.min(ts_col).alias("first_event"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            (
                F.unix_timestamp("session_window.end")
                - F.unix_timestamp("session_window.start")
            ).alias("duration_s"),
            "n_events",
            "total_value",
            "first_event",
            "last_event",
        )
    )


def _parquet_exists(spark: SparkSession, path: str) -> bool:
    """True when a prior write landed at ``path``. Probed through the
    Hadoop FileSystem for the path's OWN scheme (fsutil.fs_exists), so
    the check matches whatever filesystem the write targets — on
    ``hdfs://`` / ``s3a://`` an os-level check would always report
    absence and every micro-batch would take the first-write overwrite,
    destroying finalized sessions. ONLY genuine path-absence may select
    the first-write branch; an unreachable filesystem raises and the
    micro-batch retries."""
    return fs_exists(spark, path)


def _upsert_sessions(batch_df: DataFrame, path: str, key_col: str) -> None:
    """Keyed upsert on (key, session_start) — finalized sessions are
    immutable, so a replayed batch rewrites identical rows."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    batch = batch_df.withColumn(
        "doc_id",
        F.concat_ws(
            "|", F.col(key_col).cast("string"), F.col("session_start").cast("string")
        ),
    )
    # First-write detection must be narrow: sessions are emitted once
    # past the watermark and cannot be recovered by replay, so treating
    # a transient IO error / corrupt footer as "no prior data" and
    # overwriting would destroy all previously finalized sessions.
    # Mirror the established sinks (ohlcv/batch.py, streaming/
    # pipeline.py): existence check first, and let any read error on an
    # existing path propagate so the micro-batch fails and retries.
    if not _parquet_exists(spark, path):
        batch.write.mode("overwrite").parquet(path)
        return
    existing = spark.read.parquet(path)
    merged = (
        existing.join(batch.select("doc_id"), "doc_id", "left_anti")
        .unionByName(batch)
        .select(*existing.columns)  # equi-join reorders; keep stable schema
    )
    out = merged.localCheckpoint(eager=True)  # break lineage on the read path
    out.write.mode("overwrite").parquet(path)


def start_session_stream(
    events: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    gap: str = GAP,
    watermark: str = WATERMARK,
    key_col: str = "user_id",
    ts_col: str = "event_time",
    val_col: str = "value",
    trigger: str | None = None,
) -> StreamingQuery:
    """Append finalized sessions to ``out_path`` (key-unique parquet).
    ``trigger`` is a processingTime string; ``None`` -> availableNow."""
    sessions = sessionize_stream(
        events, gap=gap, watermark=watermark, key_col=key_col,
        ts_col=ts_col, val_col=val_col,
    )

    return start_foreach_batch(
        sessions, lambda df, _eid: _upsert_sessions(df, out_path, key_col),
        checkpoint_dir, trigger, "append",
    )
