"""Streaming distinct-count monitor — explicit HyperLogLog registers
folded per micro-batch, exactly-once, with 256-row bounded state.

The batch engine answers "how many distinct users" with Spark's
built-in ``approx_count_distinct`` (itself HLL++); a live feed (the
reference's Kafka candle stream, stream_processor.py) needs the same
answer continuously, and the built-in aggregate cannot checkpoint its
sketch across micro-batches through foreachBatch. This sink maintains
the registers EXPLICITLY so the state is a plain 256-row table that

- merges by ``max`` per register (HLL's defining property — folding
  batch registers into state is associative/commutative/idempotent,
  so replay and out-of-order folds cannot corrupt it);
- is engine-portable (the registers are just (idx, rho) rows — any
  system can resume or audit the sketch);
- is bounded at m=256 rows forever, regardless of stream length.

Register math (p=8, m=256) stays entirely in JVM expressions:
``idx = xxhash64(key) & 255``; the remaining 56 bits w =
``shiftrightunsigned(hash, 8)``; ``rho = 57 - bit_length(w)`` (leading
-zero count + 1) with ``bit_length`` computed EXACTLY as
``length(bin(w))`` — no float log2 near power-of-2 boundaries.

Estimate: the classic bias-corrected harmonic mean
``alpha_m * m^2 / sum(2^-M_j)`` (absent registers contribute 2^0
each), with linear counting ``m * ln(m/V)`` when E <= 2.5m and empty
registers remain — one single-row aggregate, no collect of the
register table.

Exactly-once: each trigger commits (registers, n_total, epoch_id) as
ONE MVCC version through ``versioned.fold_epoch``; a crash-replayed
micro-batch sees its epoch_id already committed and no-ops. The query
starts through the streaming package's ``start_foreach_batch``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import versioned
from . import start_foreach_batch

P = 8
M = 1 << P  # 256 registers
_ALPHA = 0.7213 / (1 + 1.079 / M)


def batch_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(idx, rho) register maxima for one batch — a narrow map + one
    grouped max, all JVM-side expressions."""
    h = F.xxhash64(F.col(key_col).cast("string"))
    idx = h.bitwiseAND(F.lit(M - 1))
    w = F.shiftrightunsigned(h, P)
    rho = F.when(w == 0, F.lit(64 - P + 1)).otherwise(
        F.lit(64 - P + 1) - F.length(F.bin(w))
    )
    return (
        df.select(idx.alias("idx"), rho.alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
    )


def merge_registers(a: DataFrame, b: DataFrame) -> DataFrame:
    """HLL merge = per-register max — associative, commutative,
    idempotent."""
    return a.unionByName(b).groupBy("idx").agg(F.max("rho").alias("rho"))


def estimate_distinct(registers: DataFrame) -> float:
    """Bias-corrected HLL estimate with the small-range linear-counting
    correction, from one single-row aggregate."""
    row = registers.agg(
        F.count("*").alias("present"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_present"),
    ).collect()[0]
    present = row["present"] or 0
    s = (row["s_present"] or 0.0) + (M - present)  # empty registers: 2^0
    est = _ALPHA * M * M / s
    zeros = M - present
    if est <= 2.5 * M and zeros > 0:
        return M * math.log(M / zeros)
    return est


def fold_batch(
    batch_df: DataFrame, epoch_id: int, key_col: str, state_dir: str
) -> None:
    """Fold one micro-batch's registers into the versioned state.
    Public so replay idempotency is directly testable."""

    def step(prev: DataFrame | None, extra: dict) -> tuple[DataFrame, dict]:
        regs = batch_registers(batch_df, key_col)
        if prev is not None:
            regs = merge_registers(prev, regs)
        return regs, {"n_total": extra.get("n_total", 0) + batch_df.count(), "p": P}

    versioned.fold_epoch(batch_df, epoch_id, state_dir, step)


def start_distinct_count_stream(
    stream: DataFrame,
    key_col: str,
    state_dir: str,
    checkpoint_dir: str,
    trigger: str | None = None,
) -> StreamingQuery:
    """Maintain the 256-register HLL sketch of ``stream[key_col]`` at
    ``state_dir``. ``trigger`` is a processingTime string; ``None`` ->
    availableNow."""

    return start_foreach_batch(
        stream, lambda df, eid: fold_batch(df, eid, key_col, state_dir),
        checkpoint_dir, trigger, "update",
    )
