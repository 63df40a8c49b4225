"""Versioned parquet tables — Delta-less MVCC with time travel, and the
one commit protocol of the Lambda tables (batch ``hist``, stream
``latest`` and ``stats``).

A reader never sees a half-written or missing table, the way real
table formats do it:

- every write lands in a NEW immutable version directory ``v{N}``;
- commit is ONE atomic rename of a tiny pointer file (``_LATEST``);
- readers resolve the pointer once, then read an immutable directory —
  a write can never change data under a running scan;
- old versions stay readable (time travel / reproducible pipelines)
  until ``vacuum`` drops them, and the current version is never
  vacuumable.

The Lambda writers vacuum to one version after each commit, so at rest
a pyarrow hive dataset read of the table root (it skips the
``_``-prefixed pointer and manifests) returns exactly the current
version's rows; so does a Spark read of a partitioned table's root
(``hist``). Spark reads the nested files of an unpartitioned root only
with ``recursiveFileLookup``, so Spark readers use :func:`read_version`,
as serving does — it reads by pointer and never depends on vacuuming.

Linked versions: a commit is :func:`stage_version` (the data write,
then hard links that carry unchanged files of the current version into
the new directory) followed by :func:`commit_version` (manifest and
pointer); :func:`write_version` is the two with nothing carried. The
batch ``hist`` table rewrites only the partitions a run touches and
links the rest, so consecutive versions share most files. A linked
file is the same inode in both directories, so vacuuming an old
version only unlinks its names: it frees just the files no newer
version links, and a version never changes under a reader.

The streaming sketch sinks (``streaming/*_sink.py``) fold each
micro-batch into a state table through :func:`fold_epoch`, which
commits the epoch id with the state so a replayed epoch is a no-op.

Scale posture: data directories are written by the cluster like any
parquet output; the version manifest and pointer are O(bytes) driver
metadata. Pointer atomicity relies on ``os.rename``, so tables must be
local paths (:func:`fsutil.require_local`); on S3-class object stores
this pointer swap is exactly the step Delta's log / Iceberg's catalog
performs with a conditional put, so the design carries over, only the
commit primitive changes.

Capability parity note: generalizes the reference's full-overwrite
refresh (batch_processor.py writes each day's chartdata index anew)
into retained, queryable history.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fsutil import require_local

_POINTER = "_LATEST"
_MANIFESTS = "_versions"


def version_dir(table_dir: str, version: int) -> str:
    """The immutable data directory of ``version``."""
    return os.path.join(table_dir, f"v{version:06d}")


def current_version(table_dir: str) -> int | None:
    """Version the pointer names, or None for an empty table."""
    try:
        with open(os.path.join(table_dir, _POINTER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def versions(table_dir: str) -> list[dict]:
    """All committed version manifests, oldest first."""
    mdir = os.path.join(table_dir, _MANIFESTS)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out


def manifest(table_dir: str, version: int | None = None) -> dict:
    """The manifest of ``version`` (default: the committed latest)."""
    ver = version if version is not None else current_version(table_dir)
    if ver is None:
        raise FileNotFoundError(f"no committed version at {table_dir}")
    with open(os.path.join(table_dir, _MANIFESTS, f"v{ver:06d}.json")) as f:
        return json.load(f)


def stage_version(
    table_dir: str,
    df: DataFrame,
    partition_by: Sequence[str] = (),
    carry: Sequence[str] = (),
) -> int:
    """Write the next version's data directory without publishing it;
    returns its version number. ``df``'s rows land through one
    distributed write (``partition_by`` lays them out as hive
    ``col=value/`` subdirectories); each path in ``carry``, relative to
    the current version's directory, is then hard-linked into the new
    one, so a file that did not change carries forward without a copy
    (same table directory, same filesystem). The write replaces a stale
    directory of the same number, left by a crash before
    :func:`commit_version`, and leaves no ``_SUCCESS`` marker."""
    require_local(table_dir, "write_version")
    cur = current_version(table_dir)
    ver = (cur or 0) + 1
    data_dir = version_dir(table_dir, ver)
    # no ``_SUCCESS`` marker: the pointer is the commit, and without
    # native Hadoop libraries each file created costs a ``chmod`` process
    (
        df.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(*partition_by)
        .parquet(data_dir)
    )
    for rel in carry:
        dst = os.path.join(data_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(os.path.join(version_dir(table_dir, cur), rel), dst)
    return ver


def commit_version(
    table_dir: str, ver: int, schema: str, note: str = "", extra: dict | None = None
) -> int:
    """Publish the staged version ``ver``: its manifest, then the one
    atomic pointer rename. Everything the version holds — data, carried
    links, and any ``_``-prefixed file its writer put in its directory
    — commits with that rename or not at all."""
    manifest = {
        "version": ver,
        "committed_at": time.time(),
        "note": note,
        "schema": schema,
        **({"extra": extra} if extra else {}),
    }
    os.makedirs(os.path.join(table_dir, _MANIFESTS), exist_ok=True)
    with open(
        os.path.join(table_dir, _MANIFESTS, f"v{ver:06d}.json"), "w"
    ) as f:
        json.dump(manifest, f)
    tmp = os.path.join(table_dir, f"{_POINTER}.tmp")
    with open(tmp, "w") as f:
        f.write(str(ver))
    os.rename(tmp, os.path.join(table_dir, _POINTER))
    return ver


def write_version(
    df: DataFrame,
    table_dir: str,
    note: str = "",
    extra: dict | None = None,
    partition_by: Sequence[str] = (),
) -> int:
    """Commit ``df`` as the next version of the table; returns the new
    version number. The data write is fully distributed; the commit is
    the atomic pointer rename at the end — a crash before it leaves the
    table at the previous version with an orphan directory (re-runnable,
    never corrupt).

    ``extra`` rides inside the version manifest, so caller metadata
    (e.g. a refresh watermark) commits atomically WITH the data — state
    and metadata can never diverge across a crash (the Delta/Iceberg
    txn-metadata pattern). ``partition_by`` lays the version directory
    out as hive ``col=value/`` subdirectories."""
    ver = stage_version(table_dir, df, partition_by)
    return commit_version(table_dir, ver, df.schema.simpleString(), note, extra)


def fold_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    step: Callable[[DataFrame | None, dict], tuple[DataFrame, dict]],
) -> int | None:
    """Exactly-once fold of one streaming micro-batch into the state
    table at ``state_dir``; returns the committed version, or None when
    nothing was committed.

    ``step(prev, prev_extra) -> (state, extra)`` gets the committed
    state (None before the first commit) and its manifest ``extra``
    ({} before the first commit). The new state commits with
    ``epoch_id`` merged into ``extra``, as one version, so a
    crash-replayed micro-batch (``foreachBatch`` is at-least-once) finds
    its epoch already committed and no-ops. An empty batch commits
    nothing."""
    if batch_df.isEmpty():
        return None
    cur = current_version(state_dir)
    prev, prev_extra = None, {}
    if cur is not None:
        prev_extra = manifest(state_dir, cur).get("extra", {})
        if epoch_id <= prev_extra.get("epoch_id", -1):
            return None  # crash-replayed micro-batch: already folded
        prev = read_version(batch_df.sparkSession, state_dir, cur)
    state, extra = step(prev, prev_extra)
    return write_version(
        state, state_dir, note=f"epoch {epoch_id}", extra={**extra, "epoch_id": epoch_id}
    )


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (default: the committed latest).
    The returned DataFrame is pinned to an immutable directory — later
    commits cannot change what this scan reads."""
    ver = version if version is not None else current_version(table_dir)
    if ver is None:
        raise FileNotFoundError(f"no committed version at {table_dir}")
    data_dir = version_dir(table_dir, ver)
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(
            f"version {ver} of {table_dir} was vacuumed or never committed"
        )
    return spark.read.parquet(data_dir)


def merge_version(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
    note: str = "",
) -> int:
    """CDC MERGE as a new version: latest version + changeset → next
    version (cdc.merge_changes semantics: last-wins, D deletes,
    idempotent replay produces an identical-content new version).
    History stays queryable — ``snapshot diff`` between versions is a
    plain table_diff of two reads."""
    from .cdc import latest_changes, merge_changes

    cur = current_version(table_dir)
    if cur is None:
        base = latest_changes(changes, key_col, seq_col, op_col).filter(
            F.col(op_col) != "D"
        ).drop(op_col, seq_col)
        return write_version(base, table_dir, note or "initial load")
    target = read_version(spark, table_dir, cur)
    merged = merge_changes(target, changes, key_col, seq_col, op_col)
    return write_version(merged, table_dir, note or f"merge onto v{cur}")


def upsert_version(
    spark: SparkSession,
    table_dir: str,
    rows: DataFrame,
    key_col: str,
    partition_by: Sequence[str] = (),
    note: str = "",
) -> int:
    """Keyed upsert as a new version: ``rows`` replace the current
    version's rows with the same ``key_col`` and add the rest (new rows
    win — the ES doc-id overwrite). Replaying the same rows commits a
    version with identical content."""
    merged = rows.withColumn("__pri", F.lit(1))
    cur = current_version(table_dir)
    if cur is not None:
        old = read_version(spark, table_dir, cur).withColumn("__pri", F.lit(0))
        merged = merged.unionByName(old)
    w = Window.partitionBy(key_col).orderBy(F.desc("__pri"))
    deduped = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__pri")
    )
    return write_version(
        deduped, table_dir, note or "upsert", partition_by=partition_by
    )


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Drop version data directories older than the newest
    ``keep_last`` (manifests are kept — history metadata survives).
    The current version is always retained, and so is any directory
    newer than it (a write in flight). Versions come from the ``v*``
    directory names, not the manifests, so the cost does not grow with
    the table's history. Returns dropped versions."""
    cur = current_version(table_dir)
    if cur is None:
        return []
    on_disk = (int(n[1:]) for n in os.listdir(table_dir) if n[:1] == "v" and n[1:].isdigit())
    dropped = sorted(v for v in on_disk if v <= cur)[: -max(keep_last, 1)]
    for v in dropped:
        shutil.rmtree(version_dir(table_dir, v))
    return dropped


def optimize_version(
    spark: SparkSession,
    table_dir: str,
    zorder_cols: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    note: str = "",
) -> int:
    """Delta-style OPTIMIZE [ZORDER BY] as a version commit: rewrite
    the current version into ~``target_file_bytes`` files — plain
    bin-packing, or Morton-clustered on ``zorder_cols`` so every listed
    column's row-group stats prune (storage.zorder_column) — and commit
    the result as the NEXT version. Readers of the old layout are
    untouched (immutable dirs); the pointer flip publishes the
    optimized layout atomically. Content is identical by construction;
    only the physical layout changes."""
    import math

    cur = current_version(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {table_dir}")
    data_dir = version_dir(table_dir, cur)
    total = sum(
        os.path.getsize(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_version(spark, table_dir, cur)
    if zorder_cols:
        from .storage import zorder_column

        df = (
            zorder_column(df, zorder_cols)
            .repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        df = df.coalesce(n_out)
    return write_version(
        df,
        table_dir,
        note or f"optimize v{cur}"
        + (f" zorder={','.join(zorder_cols)}" if zorder_cols else ""),
    )
