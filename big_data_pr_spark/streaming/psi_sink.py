"""Streaming PSI drift monitor — per-micro-batch population-stability
index against a reference distribution pinned at the first epoch,
exactly-once.

The batch query (queries/stat_queries.psi_value_drift) splits one
static table into early/late halves; a live feed wants the same
question continuously: "does THIS micro-batch still look like the
distribution we validated on?" The first epoch freezes the reference:
its equi-width bin proportions AND the bin edges commit into the
versioned state, so every later epoch is scored against the same
yardstick (re-deriving edges per batch would hide drift inside the
re-binning). Each subsequent trigger computes

    PSI = sum_bins (p_cur - p_ref) * ln(p_cur / p_ref)

with epsilon-floored proportions, appends the per-epoch PSI to the
state, and raises the standard alarm at PSI > 0.2 (industry rule of
thumb: < 0.1 stable, 0.1-0.2 drifting, > 0.2 action).

State = the B reference bins per version, with the latest PSI, alarm
streak and epoch id in the manifest, committed by
``versioned.fold_epoch``: a crash-replayed micro-batch sees its epoch
already committed and no-ops. The query starts through the streaming
package's ``start_foreach_batch``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import versioned
from . import start_foreach_batch

_EPS = 1e-6


def _bin_props(
    batch_df: DataFrame, value_col: str, lo: float, hi: float, bins: int
) -> list[float]:
    width = (hi - lo) / bins
    binned = batch_df.select(
        F.least(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(bins - 1),
        ).alias("bin")
    )
    counts = {
        r["bin"]: r["c"]
        for r in binned.groupBy("bin").agg(F.count("*").alias("c")).collect()
    }
    total = max(1, sum(counts.values()))
    return [counts.get(b, 0) / total for b in range(bins)]


def fold_batch(
    batch_df: DataFrame,
    epoch_id: int,
    value_col: str,
    state_dir: str,
    bins: int = 10,
    alarm_at: float = 0.2,
) -> None:
    """Fold one micro-batch into the drift state. Public for direct
    testing of the reference pin, the PSI math, and replay no-ops."""

    def step(prev: DataFrame | None, extra: dict) -> tuple[DataFrame, dict]:
        if prev is None:
            # first epoch: freeze the reference distribution AND its bin edges
            agg = batch_df.agg(
                F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
            ).collect()[0]
            lo, hi = float(agg["lo"]), float(agg["hi"])
            if hi <= lo:
                hi = lo + 1.0
            ref = _bin_props(batch_df, value_col, lo, hi, bins)
            psi, alarm, streak = 0.0, False, 0
        else:
            lo, hi = extra["lo"], extra["hi"]
            ref = [r["p_ref"] for r in prev.orderBy("bin").collect()]
            p_cur = _bin_props(batch_df, value_col, lo, hi, bins)
            psi = sum(
                (max(c, _EPS) - max(r, _EPS))
                * math.log(max(c, _EPS) / max(r, _EPS))
                for c, r in zip(p_cur, ref)
            )
            alarm = psi > alarm_at
            streak = extra.get("alarm_streak", 0) + 1 if alarm else 0
        state = batch_df.sparkSession.createDataFrame(
            list(enumerate(ref)), "bin int, p_ref double"
        )
        return state, {
            "lo": lo, "hi": hi, "psi": psi, "alarm": alarm, "alarm_streak": streak
        }

    versioned.fold_epoch(batch_df, epoch_id, state_dir, step)


def start_psi_stream(
    stream: DataFrame,
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    bins: int = 10,
    alarm_at: float = 0.2,
    trigger: str | None = None,
) -> StreamingQuery:
    """Monitor ``stream[value_col]`` drift at ``state_dir``. ``trigger``
    is a processingTime string; ``None`` -> availableNow."""

    return start_foreach_batch(
        stream, lambda df, eid: fold_batch(df, eid, value_col, state_dir, bins, alarm_at),
        checkpoint_dir, trigger, "update",
    )
