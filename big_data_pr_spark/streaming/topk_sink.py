"""Streaming heavy hitters — a Misra-Gries summary maintained over an
unbounded stream, exactly-once, with bounded state.

The batch operator (operators/sketch.py::mg_topk) summarizes a static
table; a live feed (the reference's Kafka candle stream,
stream_processor.py) needs the same "which keys are hot" answer
continuously without unbounded per-key state. This sink folds each
micro-batch's exact key counts into a persisted MVCC-versioned summary
and re-applies the MG cap after every merge:

- merge: state ∪ batch counts, summed per key;
- cap:   subtract the k-th largest merged count from everything and
         keep the surviving top k-1 (the classical MG summary merge,
         Agarwal et al. 2012) — entirely window algebra, no collect.

State is at most k-1 rows forever, regardless of stream length or key
cardinality. The guarantees telescope across batches: counts never
overstate, understate by at most n/k of ALL rows ever seen (n rides
the version manifest), and any key with true frequency > n/k is
present — certified for the batch twin by heavy_hitters_certificate
and pinned for this sink in tests/test_streaming_topk.py.

Exactly-once: each trigger commits (summary, n_total, epoch_id) as ONE
MVCC version through ``versioned.fold_epoch``; a crash-replayed
micro-batch sees its epoch_id already committed and no-ops, so
at-least-once delivery yields exactly-once summary state. The query
starts through the streaming package's ``start_foreach_batch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import versioned
from . import start_foreach_batch


def _mg_cap(counts: DataFrame, k: int) -> DataFrame:
    """Apply the Misra-Gries merge cap: subtract the k-th largest count
    and keep the surviving top k-1. Pure window algebra over the
    |merged keys|-sized relation (<= k-1 + batch vocabulary rows)."""
    ranked = counts.select(
        "key",
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("key")))
        .alias("r"),
    )
    wall = Window.partitionBy()
    m = F.coalesce(
        F.max(F.when(F.col("r") == k, F.col("c"))).over(wall), F.lit(0)
    )
    return (
        ranked.select("key", (F.col("c") - m).alias("c"), "r")
        .where((F.col("r") < k) & (F.col("c") > 0))
        .select("key", "c")
    )


def fold_batch(
    batch_df: DataFrame, epoch_id: int, key_col: str, k: int, state_dir: str
) -> None:
    """Fold one micro-batch into the versioned summary. Public so the
    replay-idempotency semantics are directly testable; the streaming
    sink below is exactly this per trigger."""

    def step(prev: DataFrame | None, extra: dict) -> tuple[DataFrame, dict]:
        merged = batch_df.groupBy(
            F.col(key_col).cast("string").alias("key")
        ).agg(F.count("*").alias("c"))
        if prev is not None:
            merged = (
                prev.unionByName(merged).groupBy("key").agg(F.sum("c").alias("c"))
            )
        n_total = extra.get("n_total", 0) + batch_df.count()
        return _mg_cap(merged, k), {"n_total": n_total, "k": k}

    versioned.fold_epoch(batch_df, epoch_id, state_dir, step)


def start_heavy_hitters_stream(
    stream: DataFrame,
    key_col: str,
    k: int,
    state_dir: str,
    checkpoint_dir: str,
    trigger: str | None = None,
) -> StreamingQuery:
    """Maintain a k-sized heavy-hitters summary of ``stream[key_col]``
    at ``state_dir`` (an MVCC versioned table; created on first batch).
    ``trigger`` is a processingTime string; ``None`` -> availableNow."""

    return start_foreach_batch(
        stream, lambda df, eid: fold_batch(df, eid, key_col, k, state_dir),
        checkpoint_dir, trigger, "update",
    )
