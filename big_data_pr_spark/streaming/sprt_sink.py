"""Streaming Wald SPRT monitor — an anytime-valid A/B decision folded
over an unbounded event stream, exactly-once, with a latched verdict.

The batch query (queries/risk_queries.sprt_purchase_rate) replays the
whole history per run; a live rollout wants the same sequential test
updated per micro-batch with O(1) state. Each trigger adds the batch's
binomial log-likelihood-ratio increment

    k * ln(p1/p0) + (n - k) * ln((1-p1)/(1-p0))

to the running LLR and compares it to the Wald boundaries
A = ln((1-beta)/alpha), B = ln(beta/(1-alpha)). Sequential-test
semantics REQUIRE the decision to latch: once a boundary is crossed
the test has stopped, and later data must not un-decide it (that is
what makes the error rates alpha/beta valid). The latch also makes the
monitor robust to post-decision drift.

State = one row (cumulative LLR, totals, decision) committed by
``versioned.fold_epoch`` as an MVCC version with the epoch id in the
manifest: a crash-replayed micro-batch sees its epoch already committed
and no-ops, so at-least-once delivery folds exactly once. The query
starts through the streaming package's ``start_foreach_batch``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import versioned
from . import start_foreach_batch

_STATE_SCHEMA = (
    "cum_llr double, n_total long, k_total long, decision string"
)


def fold_batch(
    batch_df: DataFrame,
    epoch_id: int,
    success_col: str,
    state_dir: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> None:
    """Fold one micro-batch of boolean/0-1 ``success_col`` trials into
    the sequential test state. Public so replay semantics and the latch
    are directly testable."""

    def step(prev: DataFrame | None, _extra: dict) -> tuple[DataFrame, dict]:
        llr, n_prev, k_prev, decision = 0.0, 0, 0, "continue"
        if prev is not None:
            llr, n_prev, k_prev, decision = prev.collect()[0]
        agg = batch_df.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col(success_col).cast("int")).cast("long").alias("k"),
        ).collect()[0]
        n, k = agg["n"], agg["k"]
        llr = llr + k * math.log(p1 / p0) + (n - k) * math.log((1 - p1) / (1 - p0))
        if decision == "continue":  # a crossed boundary latches forever
            if llr >= math.log((1 - beta) / alpha):
                decision = "accept_h1"
            elif llr <= math.log(beta / (1 - alpha)):
                decision = "accept_h0"
        state = batch_df.sparkSession.createDataFrame(
            [(llr, n_prev + n, k_prev + k, decision)], _STATE_SCHEMA
        )
        return state, {"p0": p0, "p1": p1}

    versioned.fold_epoch(batch_df, epoch_id, state_dir, step)


def start_sprt_stream(
    stream: DataFrame,
    success_col: str,
    state_dir: str,
    checkpoint_dir: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
    trigger: str | None = None,
) -> StreamingQuery:
    """Maintain the sequential test at ``state_dir`` over a stream of
    trials. ``trigger`` is a processingTime string; ``None`` ->
    availableNow (drain-and-stop)."""

    return start_foreach_batch(
        stream, lambda df, eid: fold_batch(df, eid, success_col, state_dir, p0, p1, alpha, beta),
        checkpoint_dir, trigger, "update",
    )
