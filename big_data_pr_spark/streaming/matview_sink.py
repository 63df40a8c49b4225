"""Streaming continuous aggregate — a stream folded into an
incrementally refreshed materialized view, exactly-once.

Composition of two certified pieces: ``foreachBatch`` (the reference's
sink shape, stream_processor.py) calling ``operators/matview.refresh``
per micro-batch. The MV's high watermark does double duty here:

- batch mode: it prunes the already-folded history;
- streaming mode: it makes CRASH REPLAYS idempotent. Structured
  Streaming re-delivers the in-flight micro-batch after a restart
  (at-least-once at the sink); the replayed rows are ≤ the committed
  watermark, so ``refresh`` filters them ALL out and no-ops — the
  effect is exactly-once without a transactional sink, provided the
  watermark column is strictly increasing across batches (true for
  the candle-index / event-time sources here; out-of-order events need
  the usual watermark-delay holdback, SCALE.md §Streaming).

State cost per trigger: one |keys|-bounded shuffle over the delta plus
the |keys|-sized state read — never the table history. Each trigger
commits one MVCC version, so the MV's version log IS the stream's
epoch history (same property as start_versioned_cdc_apply).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators import matview
from . import start_foreach_batch


def start_matview_refresh(
    stream: DataFrame,
    mv_dir: str,
    checkpoint_dir: str,
    trigger: str | None = None,
) -> StreamingQuery:
    """Fold each micro-batch into the MV at ``mv_dir`` (which must
    already exist via ``matview.create`` — typically created empty from
    ``source.limit(0)`` for a pure-streaming MV). ``trigger`` is a
    processingTime string; ``None`` → availableNow (drain-and-stop)."""

    def fold(batch_df: DataFrame, _epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        matview.refresh(batch_df.sparkSession, mv_dir, batch_df)

    return start_foreach_batch(stream, fold, checkpoint_dir, trigger, "append")
