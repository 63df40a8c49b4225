"""CDC keyed MERGE — Delta-less upsert semantics as pure DataFrames.

Generalizes the reference's doc-id overwrite idempotency
(``batch_processor.py:132-135`` ES upsert; here
``ohlcv/batch.py::upsert_parquet`` for the candle table) into the full
changeset contract a lakehouse ingest needs: a batch of keyed
``I``/``U``/``D`` operations with a monotonic sequence column is
MERGEd into the stored table —

- the latest change per key wins (``row_number`` over seq desc),
- ``D`` removes the key, ``I``/``U`` upsert the row,
- unchanged keys pass through untouched,
- re-applying the same changeset is a no-op (idempotent replay, the
  property that makes at-least-once upstream delivery safe).

Scale: one left-anti join of the table against the (delta-sized) key
set + a union — the table is scanned once; with the table bucketed by
key the join is exchange-free. The stored form is a versioned table:
``versioned.merge_version`` commits the merge as a new immutable
version (readers see old or new, never a mix). On a real deployment,
partition the table and rewrite only partitions containing changed
keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_changes(
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Collapse a changeset to the winning change per key (highest seq;
    ties broken deterministically by op so replays can't flip-flop)."""
    w = Window.partitionBy(key_col).orderBy(F.desc(seq_col), F.desc(op_col))
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_changes(
    target: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Pure MERGE: returns the post-apply table as a DataFrame.

    ``changes`` columns: the target's columns + ``op_col`` ('I'/'U'/'D')
    + ``seq_col``. Delete rows only need the key populated.
    """
    win = latest_changes(changes, key_col, seq_col, op_col)
    affected = win.select(F.col(key_col).alias("__k"))
    kept = target.join(
        affected, target[key_col] == F.col("__k"), "left_anti"
    )
    upserts = win.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    return kept.unionByName(upserts)
