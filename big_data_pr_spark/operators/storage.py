"""Storage-layout operators: bucketed and partitioned writes.

The two physical-layout levers that matter at 100 TB:

- **Hash bucketing** (`write_bucketed`): pre-shuffle a fact table ONCE
  at write time into N buckets on its join/agg key. Every later
  equi-join or groupBy on that key between same-bucketed tables reads
  co-located buckets and skips the Exchange entirely — the shuffle is
  amortized across every downstream query (verified by plan assertion
  in tests/test_plans.py::test_bucketed_join_no_shuffle). Spark
  bucketing requires the table catalog (``saveAsTable``); plain
  ``.parquet(path)`` writes cannot record bucket metadata.
- **Date/key partitioning** (`write_partitioned`): directory-level
  partition values that Catalyst prunes from scans when a query
  filters on the partition column (the reference's daily
  ``chartdata-YYYY-MM-DD`` indices, SURVEY §2.1 S9) — and the unit of
  cheap retention drops (T9, streaming/pipeline.py::apply_retention).

Bucket-count sizing: aim for (table size / n_buckets) ≈ 128-512 MB per
bucket file per partition; too few buckets caps parallelism, too many
makes small files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from ..fsutil import require_local


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as an external bucketed (and optionally
    sort-within-bucket) parquet table registered as ``table``.

    Sorting within buckets additionally lets sort-merge joins skip the
    per-task Sort, not just the Exchange."""
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — preserves bucketing metadata (a plain
    ``spark.read.parquet(path)`` of the same files would NOT)."""
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet write; queries filtering on
    ``partition_cols`` prune at the file index (PartitionFilters in the
    scan node), and retention = dropping directories."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


# Interchange formats beyond parquet. Columnar (parquet/orc) carry
# schema + stats and take predicate pushdown; row formats (json/csv)
# exist for interchange with non-columnar producers/consumers — on
# read, ALWAYS pass an explicit schema: schema inference is an extra
# full scan at 100 TB, and CSV/JSON types are lossy without one.
INTERCHANGE_FORMATS = ("parquet", "orc", "json", "csv")


def write_format(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Write ``df`` in any interchange format (csv gets a header by
    default so the files are self-describing for external tools)."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"fmt must be one of {INTERCHANGE_FORMATS}")
    if fmt == "csv":
        options.setdefault("header", "true")
    df.write.mode(mode).options(**options).format(fmt).save(path)


def read_format(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
):
    """Read any interchange format. For json/csv a ``schema`` is
    required — inference would scan the data twice and guess types."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"fmt must be one of {INTERCHANGE_FORMATS}")
    if fmt in ("json", "csv") and schema is None:
        raise ValueError(f"{fmt} read requires an explicit schema (no inference scan)")
    if fmt == "csv":
        options.setdefault("header", "true")
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(fmt).load(path)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: Sequence[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction for an unpartitioned parquet directory —
    the maintenance job every micro-batch sink needs: each streaming
    epoch appends a handful of tiny files, and a 15 s trigger
    (reference ``stream_processor.py:111``) produces ~5 760 files/day
    per query; at 1000 executors the scan-planning and footer-read
    overhead, not the data, becomes the bottleneck.

    Rewrites the directory into ``ceil(bytes / target_file_bytes)``
    files via a staging-dir swap (the Lambda tables commit through
    ``operators/versioned.py`` instead). ``sort_cols`` optionally clusters rows so parquet
    row-group min/max stats become selective for later range filters —
    the poor-man's Z-order for a single sort axis.

    Returns (files_before, files_after). On a real cluster this runs as
    a scheduled job per partition directory, idempotent and safe to
    re-run; concurrent readers see either the old or the new listing,
    never a mix, because the swap is a rename.
    """
    import math
    import os
    import shutil

    data_files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    total_bytes = sum(os.path.getsize(f) for f in data_files)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_cols:
        # repartitionByRange + sortWithinPartitions: globally range-
        # clustered output files with disjoint min/max spans per file
        df = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        df = df.coalesce(n_out)
    require_local(path, "compact")  # swap is os.rename
    staging = path.rstrip("/") + ".compacting"
    df.write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    os.rename(staging, path)
    files_after = len(
        [f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(".")]
    )
    return len(data_files), files_after


def zorder_column(
    df: DataFrame, cols: Sequence[str], bits_per_col: int = 16
) -> DataFrame:
    """Append a ``__z`` Morton (Z-order) key interleaving the bits of
    the given numeric columns, each min-max scaled to ``bits_per_col``
    bits first.

    Sorting a table by ``__z`` clusters rows so that EVERY listed
    column's parquet row-group min/max stats become selective at once —
    multi-dimensional data skipping, where a plain sort only serves its
    leading column. This is the layout behind Delta/Iceberg OPTIMIZE
    ZORDER; here it is ~30 codegen'd bit ops on top of a normal
    range-partitioned write, no engine support needed.

    The min/max scaling stats are one tiny aggregate collected to the
    driver (2 longs per column) — the only non-distributed step, O(cols).
    Total key width = len(cols) × bits_per_col must fit 63 bits.
    """
    k = len(cols)
    if k * bits_per_col > 63:
        raise ValueError("zorder key wider than 63 bits; lower bits_per_col")
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    top = (1 << bits_per_col) - 1
    scaled = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.greatest(
                    F.lit(0),
                    ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top)
                    .cast("long"),
                ),
            )
        )
    z = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for j, s in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(s, bit).bitwiseAND(F.lit(1)),
                    bit * k + j,
                )
            )
    return df.withColumn("__z", z)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits_per_col: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-clustered on the
    Z-order key of ``cols``: each output file covers a small hyper-
    rectangle of the key space, so filters on ANY combination of the
    z-ordered columns skip most row groups (verified by footer-stats
    assertion in tests/test_layout.py). The shuffle is one
    repartitionByRange on the 8-byte key."""
    (
        zorder_column(df, cols, bits_per_col)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
