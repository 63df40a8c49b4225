"""Streaming quantile monitor — DDSketch-style log-bucket histogram
folded per micro-batch, exactly-once, with log-range-bounded state.

Batch answers "p95 of value" with ``percentile``/``approx_percentile``;
a live feed needs the same answer continuously, and Spark's built-in
percentile aggregates cannot checkpoint their sketch across micro-
batches through ``foreachBatch``. This sink maintains the histogram
EXPLICITLY (Masson, Rim & Lee 2019, "DDSketch: a fast and fully-
mergeable quantile sketch with relative-error guarantees"):

- bucket key for x > 0 is ``ceil(log_gamma(x))`` with
  gamma = (1+a)/(1-a) for relative accuracy a (2% here); zero and
  negative values get sign-flipped bucket rows, so the domain is full
  real line;
- state is plain (sign, bkt, n) rows — merge is ``sum`` per bucket
  (associative + commutative), bounded by the log of the value RANGE,
  never the stream length;
- replay safety comes from the epoch-id fence (sum is not idempotent),
  committed with the state as ONE MVCC version by
  ``versioned.fold_epoch``; the query starts through the streaming
  package's ``start_foreach_batch``;
- quantile estimates are one ordered cumulative scan over the bucket
  table; the returned value is the bucket's log-midpoint
  ``2·gamma^bkt/(gamma+1)``, guaranteeing |est-true|/true <= a.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import versioned
from . import start_foreach_batch

ALPHA = 0.02  # relative-error target
GAMMA = (1 + ALPHA) / (1 - ALPHA)
_LOG_GAMMA = math.log(GAMMA)


def batch_buckets(df: DataFrame, val_col: str) -> DataFrame:
    """(sign, bkt, n) log-bucket counts for one batch — a narrow map +
    one grouped sum, all JVM-side expressions. sign: 1 positive, 0
    zero, -1 negative (bucketed on |x|)."""
    x = F.col(val_col).cast("double")
    sign = F.when(x > 0, F.lit(1)).when(x < 0, F.lit(-1)).otherwise(F.lit(0))
    bkt = F.when(
        x == 0, F.lit(0)
    ).otherwise(F.ceil(F.log(F.abs(x)) / F.lit(_LOG_GAMMA)).cast("long"))
    return (
        df.where(x.isNotNull())
        .select(sign.alias("sign"), bkt.alias("bkt"))
        .groupBy("sign", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_buckets(a: DataFrame, b: DataFrame) -> DataFrame:
    """Histogram merge = per-bucket count sum (associative,
    commutative; NOT idempotent — replay is fenced by the epoch id)."""
    return (
        a.unionByName(b)
        .groupBy("sign", "bkt")
        .agg(F.sum("n").alias("n"))
    )


def estimate_quantiles(
    buckets: DataFrame, qs: list[float]
) -> dict[float, float]:
    """Quantile estimates from the bucket table: one global-order
    cumulative scan (the bucket table is log-range bounded — driver-
    collecting it is like collecting HLL's 256 registers)."""
    rows = buckets.orderBy(
        "sign", F.when(F.col("sign") >= 0, F.col("bkt")).otherwise(-F.col("bkt"))
    ).collect()
    # global value order: negatives (large |x| first), zero, positives
    ordered = sorted(
        rows,
        key=lambda r: (
            (r["sign"], -r["bkt"]) if r["sign"] < 0 else (r["sign"], r["bkt"])
        ),
    )
    total = sum(r["n"] for r in ordered)
    out: dict[float, float] = {}
    if total == 0:
        return dict.fromkeys(qs, float("nan"))

    def midpoint(sign: int, bkt: int) -> float:
        if sign == 0:
            return 0.0
        return sign * 2.0 * GAMMA ** bkt / (GAMMA + 1)

    for q in qs:
        rank = q * (total - 1)
        cum = 0
        for r in ordered:
            cum += r["n"]
            if cum > rank:
                out[q] = midpoint(r["sign"], r["bkt"])
                break
    return out


def fold_batch(
    batch_df: DataFrame, epoch_id: int, val_col: str, state_dir: str
) -> None:
    """Fold one micro-batch's buckets into the versioned state. Public
    so replay idempotency is directly testable."""

    def step(prev: DataFrame | None, extra: dict) -> tuple[DataFrame, dict]:
        bks = batch_buckets(batch_df, val_col)
        if prev is not None:
            bks = merge_buckets(prev, bks)
        n_total = extra.get("n_total", 0) + batch_df.count()
        return bks, {"n_total": n_total, "alpha": ALPHA}

    versioned.fold_epoch(batch_df, epoch_id, state_dir, step)


def current_quantiles(
    spark: SparkSession, state_dir: str, qs: list[float]
) -> dict[float, float]:
    """Read the committed sketch and estimate the requested quantiles."""
    return estimate_quantiles(versioned.read_version(spark, state_dir), qs)


def start_quantile_stream(
    stream: DataFrame,
    val_col: str,
    state_dir: str,
    checkpoint_dir: str,
    trigger: str | None = None,
) -> StreamingQuery:
    """Maintain the DDSketch histogram of ``stream[val_col]`` at
    ``state_dir``. ``trigger`` is a processingTime string; ``None`` ->
    availableNow."""

    return start_foreach_batch(
        stream, lambda df, eid: fold_batch(df, eid, val_col, state_dir),
        checkpoint_dir, trigger, "update",
    )
