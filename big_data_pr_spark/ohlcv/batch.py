"""Batch layer: CSV candle ingest → canonical serving table with SMA
features, idempotent by doc-id and incremental across runs (SURVEY.md
§3.1, reference ``batch_processor.py`` end-to-end).

Incremental contract. Each run takes the reference cron's two globs
(history + hourly updates), as ``run_batch_processor.sh`` does, and
leaves the same ``hist`` rows a run over every file from scratch would,
but reads and writes only what changed:

- **Input log.** Every committed version holds ``_inputs.json``: each
  processed input file as ``{path: [size, mtime_ms]}``, per
  ``(symbol, timeframe)`` partition its newest ``timestamp_s`` and row
  count (``keys``) and its last 29 ``[timestamp_s, close]`` (``tails``,
  the SMA-30 seed of the next append), and the table's row count.
  Spark and pyarrow skip ``_`` files, it commits with its version's
  data and is vacuumed with it. The globs are listed with Hadoop
  ``FileSystem.globStatus`` (any input scheme); only a file that is
  new, or whose size or mtime changed, is read. A run with nothing new
  commits nothing and starts no Spark job; it returns the logged row
  count.
- **Tie rule.** Rows that share ``(symbol, timeframe, timestamp_s)`` —
  a candle a later file re-sends — keep the row of the file whose name
  sorts last: ``X_1h.csv`` sorts before ``X_1h_update_<stamp>.csv`` and
  updates sort by stamp. A stored row loses to any file's row.
- **Append.** A run is one Spark query: the new files, read once, and
  written. The partitions it touches come from the new files' names;
  each stored one is planned as an append: SMA-7/30 are computed over
  its new rows, seeded with the logged tail as a local (driver-built)
  DataFrame, so no stored file is read. The new rows are written as
  one file; the partition's previous files, and every untouched
  partition, are hard links into the previous version. After the
  write, the new files' ``timestamp_s, close`` give the log its new
  counts, newest timestamps and tails, and show whether the append
  held: if an appended partition's oldest new candle is at or before
  its logged newest (a re-sent or late candle), the staged directory
  is dropped before it is published and the run is written again with
  those partitions rewritten.
- **Rewrite.** A partition is rewritten whole — stored rows ∪ new
  rows, deduped by the tie rule, SMAs recomputed — when a new candle
  is at or before its stored newest (a re-sent or late candle moves the
  SMAs after it), or when it already holds :data:`MAX_PARTITION_FILES`
  files, which bounds the files a reader opens per partition (decided
  from the directory listing before the write). When a new or changed
  file sorts before an already processed file of the same partition,
  the stored row is not necessarily the one the tie rule keeps, so
  that partition's input files are all read again.

Spark-first divergences from the reference (each deliberate, SURVEY §4):
- no global ``orderBy`` before the window computation (the reference's
  ``batch_processor.py:104`` adds a redundant exchange+sort; the window
  spec alone provides per-partition order);
- sink is a versioned Parquet table (``operators/versioned.py``)
  partitioned by (symbol, timeframe), keyed by the reference's doc_id
  (``batch_processor.py:132-148``) instead of the Elasticsearch
  connector; like an ES index, a reader never sees it half-written;
- eager debug actions (``rdd.isEmpty``/``show`` per stage) are gone:
  the input listing decides the early exit.

Scale: the only shuffle of a run is the window partitioning by
(symbol, timeframe), which the tie-rule dedup shares; ingest, regex
extraction, casts and doc-id build are all narrow. An append run reads
the new files, the input log and the two logged columns of the files
it wrote; its cost does not grow with the table.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from functools import partial, reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..fsutil import require_local
from ..operators import versioned
from .schemas import CONTRACTS, FILENAME_PATTERN, columns, names

# a partition that already holds this many files is rewritten as one
MAX_PARTITION_FILES = 8
_KEYS = ("symbol", "timeframe")
_SEED = 29  # stored rows before a partition's first new candle that SMA-30 reads
_SEED_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("timeframe", pa.string()), ("timestamp_s", pa.int64()),
    ("close", pa.float64()), ("source_file", pa.string()),
])
_INPUTS = "_inputs.json"
# the per-run counts each batch version's manifest carries (``cmd_batch``'s line)
RUN_COUNTS = ("files_read", "rows_read", "rows_written", "partitions_rewritten", "partitions_linked")


def read_candle_csvs(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """S1: multi-path CSV scan with the declared ``csv`` contract +
    filename lineage.

    Reference ``batch_processor.py:12-15,53-54`` reads two HDFS globs
    (historical + hourly updates) — an implicit UNION ALL (SURVEY §2.7).
    """
    df = spark.read.schema(CONTRACTS["csv"]).option("header", "true").csv(list(paths))
    basename = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    return df.withColumn("source_file", basename)


def extract_key_columns(df: DataFrame) -> DataFrame:
    """P7: symbol/timeframe regex-extracted from the source filename
    (reference ``batch_processor.py:61-66``)."""
    return df.withColumn(
        "symbol", F.regexp_extract("source_file", FILENAME_PATTERN, 1)
    ).withColumn("timeframe", F.regexp_extract("source_file", FILENAME_PATTERN, 2))


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P8/P9: conjunctive validity filter + its negation (rejects).

    Reference ``batch_processor.py:71-81`` filters empty symbol/timeframe
    and null timestamp/close, debug-showing the rejects.
    """
    valid = (
        (F.col("symbol") != "")
        & (F.col("timeframe") != "")
        & F.col("timestamp").isNotNull()
        & F.col("close").isNotNull()
    )
    return df.filter(valid), df.filter(~valid)


def with_event_time(df: DataFrame) -> DataFrame:
    """P4/P5: epoch-ms → TimestampType + epoch-seconds
    (reference ``batch_processor.py:91-92``)."""
    return df.withColumn(
        "timestamp_dt", F.timestamp_millis(F.col("timestamp"))
    ).withColumn("timestamp_s", F.unix_seconds(F.col("timestamp_dt")))


def with_sma_features(df: DataFrame) -> DataFrame:
    """W1/W2: trailing SMA-7 / SMA-30 per (symbol, timeframe) ordered by
    event time (reference ``batch_processor.py:109-115``). Warm-up rows
    average over the rows available — no nulls.

    Candles are first deduped by the tie rule (the row whose
    ``source_file`` sorts last wins) with ``lead`` over the same
    partitioning, so the dedup adds a sort but no exchange."""
    w = Window.partitionBy(*_KEYS).orderBy("timestamp_s", "source_file")
    deduped = (
        df.withColumn("__next", F.lead("timestamp_s").over(w))
        .filter(~F.col("__next").eqNullSafe(F.col("timestamp_s")))
        .drop("__next")
    )
    w = Window.partitionBy(*_KEYS).orderBy("timestamp_s")
    return deduped.withColumn(
        "sma_7", F.avg("close").over(w.rowsBetween(-6, 0))
    ).withColumn("sma_30", F.avg("close").over(w.rowsBetween(-29, 0)))


def with_doc_id(df: DataFrame) -> DataFrame:
    """§1.4 identity: ``{symbol}_{timeframe}_hist_{epoch_seconds}``
    (reference ``batch_processor.py:132-135``) — the idempotent upsert key."""
    return df.withColumn(
        "doc_id",
        F.concat(
            F.col("symbol"),
            F.lit("_"),
            F.col("timeframe"),
            F.lit("_hist_"),
            F.col("timestamp_s").cast("string"),
        ),
    )


def list_inputs(spark: SparkSession, globs: Sequence[str]) -> dict[str, list[int]]:
    """The files the input globs match, ``{path: [size, mtime_ms]}``,
    listed through Hadoop ``FileSystem.globStatus`` on each glob's own
    filesystem (no Spark job). A matched directory contributes the files
    under it; ``_``/``.``-prefixed names are skipped, as Spark's reader
    skips them. Every listed file costs py4j round trips, so its path is
    fetched once and its name cut from the path string."""
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    out: dict[str, list[int]] = {}
    for g in globs:
        path = jvm.org.apache.hadoop.fs.Path(g)
        fs = path.getFileSystem(conf)
        for st in fs.globStatus(path) or []:
            found = [st]
            if st.isDirectory():
                it, found = fs.listFiles(st.getPath(), True), []
                while it.hasNext():
                    found.append(it.next())
            for f in found:
                p = f.getPath().toString()
                if not p.rsplit("/", 1)[-1].startswith(("_", ".")):
                    out[p] = [f.getLen(), f.getModificationTime()]
    return out


def _partition_of(path: str) -> str | None:
    """The ``symbol=S/timeframe=T`` partition an input file's rows go
    to, from its name alone (FILENAME_PATTERN), or None for a reject."""
    m = re.match(FILENAME_PATTERN, path.rsplit("/", 1)[-1])
    return f"symbol={m[1]}/timeframe={m[2]}" if m else None


@dataclass
class Scan:
    """What the input log keeps of some parquet files of one partition:
    rows, oldest and newest ``timestamp_s``, and the last :data:`_SEED`
    ``[timestamp_s, close]`` in time order."""

    rows: int
    oldest: int
    newest: int
    tail: list[list]


def _scan(paths: Sequence[str]) -> Scan:
    """:class:`Scan` of parquet files, from their ``timestamp_s, close``
    columns alone."""
    t = pa.concat_tables(pq.ParquetFile(p).read(columns=["timestamp_s", "close"]) for p in paths)
    t = t.sort_by("timestamp_s")
    ts = t["timestamp_s"]
    tail = t.slice(max(0, t.num_rows - _SEED))
    return Scan(
        t.num_rows, ts[0].as_py(), ts[-1].as_py(),
        [list(r) for r in zip(tail["timestamp_s"].to_pylist(), tail["close"].to_pylist())],
    )


def _data_files(data_dir: str, partition: str) -> list[str]:
    """The parquet files of one partition of a version, relative to it."""
    return sorted(
        os.path.join(partition, f)
        for f in os.listdir(os.path.join(data_dir, partition))
        if f.endswith(".parquet")
    )


def _partitions(data_dir: str) -> list[str]:
    """The ``symbol=*/timeframe=*`` partitions of a version directory."""
    return sorted(
        os.path.join(s, t)
        for s in os.listdir(data_dir) if s.startswith("symbol=")
        for t in os.listdir(os.path.join(data_dir, s)) if t.startswith("timeframe=")
    )


def read_inputs(table_path: str) -> dict:
    """The committed version's input log: ``files`` ({path: [size,
    mtime_ms]}), ``keys`` ({partition: [newest timestamp_s, rows]}),
    ``tails`` ({partition: its last 29 ``[timestamp_s, close]``, oldest
    first}) and ``rows``. Empty for a table not yet written. A log
    written before it carried ``tails``, or a version without a log,
    gets its keys and tails from the stored files (their
    ``timestamp_s, close``) once: the next commit logs them. Without a
    log, every file counts as new."""
    cur = versioned.current_version(table_path)
    if cur is None:
        return {"files": {}, "keys": {}, "tails": {}, "rows": 0}
    data_dir = versioned.version_dir(table_path, cur)
    try:
        with open(os.path.join(data_dir, _INPUTS)) as f:
            log = json.load(f)
    except FileNotFoundError:
        log = {"files": {}}
    if "tails" not in log:
        scans = {
            p: _scan([os.path.join(data_dir, f) for f in _data_files(data_dir, p)])
            for p in _partitions(data_dir)
        }
        keys = {p: [s.newest, s.rows] for p, s in scans.items()}
        log = {
            "files": log["files"], "keys": keys, "tails": {p: s.tail for p, s in scans.items()},
            "rows": sum(s.rows for s in scans.values()),
        }
    return log


@dataclass
class Delta:
    """One run's change to ``hist``: ``rows`` in the ``hist`` contract
    to write, the stored partitions they replace whole (``rewrite``) or
    only add to (``append``, seeded from the log's tails), and the input
    log with this run's files. ``observed`` counts the valid candle rows
    read once ``rows`` is written. ``replan(overlap)`` plans the same
    run again with the ``overlap`` partitions rewritten."""

    rows: DataFrame
    rewrite: frozenset[str]
    append: frozenset[str]
    log: dict
    files_read: int
    observed: Observation
    replan: Callable[[frozenset[str]], Delta]


def _candles(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """The valid candle rows of ``paths``, keyed and timed."""
    valid, _rejects = split_valid(extract_key_columns(read_candle_csvs(spark, paths)))
    return with_event_time(valid)


def _stored(spark: SparkSession, data_dir: str, partitions: Sequence[str], cols: Sequence[str]) -> DataFrame:
    """``cols`` of some partitions of a committed version, read with the
    ``hist`` contract; they rank below every input file in the tie rule."""
    return (
        spark.read.schema(CONTRACTS["hist"]).option("basePath", data_dir)
        .parquet(*(os.path.join(data_dir, p) for p in partitions))
        .select(*cols)
        .withColumn("source_file", F.lit(""))
    )


def _seed(spark: SparkSession, tails: dict[str, list[list]]) -> DataFrame:
    """The logged tails of some partitions as a local DataFrame (built
    from an Arrow table on the driver: no file read, no Python worker),
    ranked below every input file like stored rows."""
    rows = [
        {**dict(kv.split("=", 1) for kv in p.split("/")), "timestamp_s": ts, "close": c, "source_file": ""}
        for p, tail in tails.items() for ts, c in tail
    ]
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=_SEED_SCHEMA))


def _plan(
    spark: SparkSession, listed: dict[str, list[int]], fresh: Sequence[str], log: dict,
    data_dir: str | None, overlap: frozenset[str],
) -> Delta:
    """The write of one run: the new files' rows, with each stored
    partition they touch appended to, or rewritten when it is in
    ``overlap`` or holds :data:`MAX_PARTITION_FILES` files."""
    touched = {_partition_of(p) for p in fresh} - {None}
    stored = touched & log["keys"].keys()
    rewrite = overlap | {p for p in stored if len(_data_files(data_dir, p)) >= MAX_PARTITION_FILES}
    append = stored - rewrite
    by_partition: dict[str, list[str]] = {}
    for p in sorted(listed):
        by_partition.setdefault(_partition_of(p), []).append(p)
    fresh_set = set(fresh)

    def sorts_before_processed(part: str) -> bool:
        files = [(p in fresh_set, p.rsplit("/", 1)[-1]) for p in by_partition[part]]
        old = [n for is_new, n in files if not is_new]
        return bool(old) and min(n for is_new, n in files if is_new) <= max(old)

    reread = sorted(
        p for part in overlap if sorts_before_processed(part)
        for p in by_partition[part] if p not in fresh_set
    )
    observed = Observation("batch")
    parts = [
        _candles(spark, [*fresh, *reread])
        .observe(observed, F.count(F.lit(1)).alias("rows"))
        .withColumn("__out", F.lit(True))
    ]
    if append:  # the logged last 29 rows seed the SMA windows
        seed = _seed(spark, {p: log["tails"][p] for p in sorted(append)})
        parts.append(seed.withColumn("__out", F.lit(False)))
    if rewrite:
        kept = [c for c in names("hist") if c not in ("doc_id", "sma_7", "sma_30")]
        parts.append(_stored(spark, data_dir, sorted(rewrite), kept).withColumn("__out", F.lit(True)))
    combined = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    out = with_doc_id(with_sma_features(combined).filter("__out")).select(*columns("hist"))
    return Delta(
        out, frozenset(rewrite), frozenset(append), log, len(fresh) + len(reread), observed,
        partial(_plan, spark, listed, fresh, log, data_dir),
    )


def build_serving_df(
    spark: SparkSession, input_paths: Sequence[str], table_path: str | None = None
) -> Delta | None:
    """The change this run makes to the ``hist`` table at ``table_path``
    (from scratch when None or not yet written), or None when no input
    file is new or changed — the reference's early exit
    (``batch_processor.py:56-59``), which now also covers a rerun.
    Planning starts no Spark job: every touched stored partition is
    planned as an append, unless it is at the file bound."""
    log = read_inputs(table_path) if table_path else {"files": {}, "keys": {}, "tails": {}, "rows": 0}
    listed = list_inputs(spark, input_paths)
    fresh = sorted(p for p, st in listed.items() if log["files"].get(p) != st)
    if not fresh:
        return None
    log = {**log, "files": {**log["files"], **{p: listed[p] for p in fresh}}}
    cur = versioned.current_version(table_path) if table_path else None
    data_dir = versioned.version_dir(table_path, cur) if cur is not None else None
    return _plan(spark, listed, fresh, log, data_dir, frozenset())


def _stage(table_path: str, cur: int | None, delta: Delta) -> tuple[int, list[str], dict[str, Scan]]:
    """Stage ``delta`` as the next version; returns it, the partitions
    linked from ``cur`` and a :class:`Scan` of each partition's written
    files."""
    linked = [p for p in delta.log["keys"] if p not in delta.rewrite]
    carry = [f for p in linked for f in _data_files(versioned.version_dir(table_path, cur), p)]
    ver = versioned.stage_version(table_path, delta.rows, _KEYS, carry)
    data_dir = versioned.version_dir(table_path, ver)
    carried, scans = set(carry), {}
    for p in _partitions(data_dir):
        new = [os.path.join(data_dir, f) for f in _data_files(data_dir, p) if f not in carried]
        if new:
            scans[p] = _scan(new)
    return ver, linked, scans


def upsert_parquet(spark: SparkSession, delta: Delta, table_path: str) -> int:
    """Commit ``delta`` as the next version of the ``hist`` table — the
    reference's ES upsert by doc_id (``batch_processor.py:142-148``) —
    and vacuum the previous one, so the table root holds exactly one
    version at rest. The new rows are written by Spark; every stored
    partition not rewritten is hard-linked in. An appended partition
    whose written rows reach back to its logged newest is not
    published: the staged version is dropped and written again with
    that partition rewritten. The input log, with row counts, newest
    timestamps and tails from the written files, goes in before the
    pointer flips. Returns the table's row count."""
    require_local(table_path, "upsert_parquet")  # before any Spark work
    cur = versioned.current_version(table_path)
    ver, linked, scans = _stage(table_path, cur, delta)
    keys = delta.log["keys"]
    overlap = frozenset(p for p in delta.append if p in scans and scans[p].oldest <= keys[p][0])
    if overlap:  # a re-sent or late candle: its SMAs need the stored rows after it
        shutil.rmtree(versioned.version_dir(table_path, ver))
        delta = delta.replan(overlap)
        ver, linked, scans = _stage(table_path, cur, delta)
    keys, tails = dict(keys), dict(delta.log["tails"])
    for p, s in scans.items():
        if p in delta.append:
            keys[p] = [s.newest, keys[p][1] + s.rows]
            tails[p] = (tails[p] + s.tail)[-_SEED:]
        else:
            keys[p], tails[p] = [s.newest, s.rows], s.tail
    log = {**delta.log, "keys": keys, "tails": tails, "rows": sum(r for _, r in keys.values())}
    data_dir = versioned.version_dir(table_path, ver)
    with open(os.path.join(data_dir, _INPUTS), "w") as f:
        json.dump(log, f, separators=(",", ":"))
    written = sum(s.rows for s in scans.values())
    counts = dict(zip(RUN_COUNTS, (
        delta.files_read,
        # no row written means no valid row read, and then no metrics to wait for
        delta.observed.get["rows"] if written else 0,
        written,
        len(delta.rewrite),
        len(linked),
    )))
    versioned.commit_version(table_path, ver, delta.rows.schema.simpleString(), "batch", extra=counts)
    versioned.vacuum(table_path, keep_last=1)
    return log["rows"]


def run_batch(
    spark: SparkSession, input_paths: Sequence[str], table_path: str
) -> int:
    """Hourly batch job entry point (reference ``run_batch_processor.sh``
    → ``batch_processor.py``). Returns the table's row count, from the
    input log."""
    require_local(table_path, "run_batch")
    delta = build_serving_df(spark, input_paths, table_path)
    if delta is None:
        return read_inputs(table_path)["rows"]
    return upsert_parquet(spark, delta, table_path)
