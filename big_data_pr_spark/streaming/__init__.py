"""Speed layer: Structured Streaming three-query topology
(SURVEY.md §2.9 / §3.2), and the one launcher every ``foreachBatch``
sink starts through.

Each sink is a query, a trigger and a per-micro-batch function
(reference ``stream_processor.py``); :func:`start_foreach_batch` holds
that chain and :func:`trigger_kwargs` the trigger rule, so a sink
module only says what one micro-batch does. Exactly-once folds into a
versioned state table go through ``operators.versioned.fold_epoch``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def trigger_kwargs(trigger: str | None) -> dict:
    """``DataStreamWriter.trigger`` arguments: a processingTime string
    (e.g. ``"15 seconds"``) runs continuously; ``None`` drains what is
    available and stops (availableNow — tests and backfills)."""
    return {"processingTime": trigger} if trigger else {"availableNow": True}


def start_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger: str | None,
    mode: str,
    name: str | None = None,
) -> StreamingQuery:
    """Start ``df`` as a streaming query that hands every micro-batch
    and its epoch id to ``fn``, in output ``mode``, checkpointed at
    ``checkpoint``."""
    writer = (
        df.writeStream.outputMode(mode)
        .foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger_kwargs(trigger))
    )
    if name:
        writer = writer.queryName(name)
    return writer.start()
