"""The incremental ``batch``: each run reads only new or changed input
files, recomputes only the touched SMA tails and hard-links the rest,
yet leaves the table a run over every file from scratch would."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from big_data_pr_spark.__main__ import main
from big_data_pr_spark.ohlcv import batch
from big_data_pr_spark.operators import versioned

HOUR_MS = 3_600_000
T0 = 1_700_000_400_000
BTC = "symbol=BTC_USDT/timeframe=1h"
ETH = "symbol=ETH_USDT/timeframe=1h"


def _csv(path, candles: dict[int, float]) -> None:
    """Candles ``{hour index: close}``, written in the given order."""
    with open(path, "w") as f:
        f.write("timestamp,open,high,low,close,volume,datetime_str\n")
        for i, c in candles.items():
            f.write(f"{T0 + i * HOUR_MS},{c - 0.5},{c + 1},{c - 1},{c},{1.0 + i},t{i}\n")


def _update(d, stamp: str, candles: dict[int, float], sym: str = "BTC_USDT") -> None:
    _csv(d / f"{sym}_1h_update_20250101_{stamp}.csv", candles)


def _rows(spark, table: str) -> dict[str, dict]:
    return {r["doc_id"]: r.asDict() for r in versioned.read_version(spark, table).collect()}


def _assert_same_table(spark, got_table: str, want_table: str) -> None:
    got, want = _rows(spark, got_table), _rows(spark, want_table)
    assert got.keys() == want.keys()
    for k, w in want.items():
        g = got[k]
        for c in ("sma_7", "sma_30"):
            assert abs(g[c] - w[c]) <= 1e-9, (k, c, g[c], w[c])
        assert {c: v for c, v in g.items() if not c.startswith("sma")} == {
            c: v for c, v in w.items() if not c.startswith("sma")}, k


def _sma(closes: list[float], i: int, n: int) -> float:
    return float(np.mean(closes[max(0, i - n + 1): i + 1]))


def _files(table: str, part: str) -> dict[str, int]:
    """{file name: inode} of one partition of the committed version."""
    d = os.path.join(versioned.version_dir(table, versioned.current_version(table)), part)
    return {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d) if f.endswith(".parquet")}


def _extra(table: str) -> dict:
    return versioned.manifest(table).get("extra", {})


@pytest.fixture()
def dirs(tmp_path):
    hist, upd = tmp_path / "history", tmp_path / "updates"
    hist.mkdir()
    upd.mkdir()
    globs = [str(hist / "*_1h.csv"), str(upd / "*_update_*.csv")]
    return hist, upd, globs


def test_resent_candle_keeps_the_last_file_and_counts_once(spark, dirs, tmp_path):
    """An update that re-sends candle 39 with close 999: the table keeps
    999, and the SMAs average the deduped series (one copy of 39)."""
    hist, upd, globs = dirs
    closes = [100.5 + i for i in range(40)]
    _csv(hist / "BTC_USDT_1h.csv", dict(enumerate(closes)))
    table = str(tmp_path / "hist")
    assert batch.run_batch(spark, globs[:1], table) == 40
    _update(upd, "000000", {39: 999.0, 40: 140.5})
    assert batch.run_batch(spark, globs, table) == 41
    once = str(tmp_path / "from_scratch")
    assert batch.run_batch(spark, globs, once) == 41

    series = closes[:39] + [999.0, 140.5]
    for t in (table, once):
        rows = sorted(_rows(spark, t).values(), key=lambda r: r["timestamp_s"])
        assert [r["close"] for r in rows] == series
        for i in (39, 40):
            assert rows[i]["sma_7"] == pytest.approx(_sma(series, i, 7), abs=1e-9)
            assert rows[i]["sma_30"] == pytest.approx(_sma(series, i, 30), abs=1e-9)


def test_tie_rule_dedup_adds_no_exchange(spark, dirs):
    """The dedup shares the SMA window's (symbol, timeframe)
    partitioning: the backfill plan has one exchange."""
    hist, upd, globs = dirs
    _csv(hist / "BTC_USDT_1h.csv", {i: 1.0 + i for i in range(5)})
    _update(upd, "000000", {4: 9.0})
    plan = batch.build_serving_df(spark, globs).rows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 1, plan


def test_rerun_with_nothing_new_commits_nothing_and_starts_no_job(spark, dirs, tmp_path):
    hist, _, globs = dirs
    _csv(hist / "BTC_USDT_1h.csv", {i: 1.0 + i for i in range(10)})
    table = str(tmp_path / "hist")
    assert batch.run_batch(spark, globs, table) == 10
    ver = versioned.current_version(table)
    sc = spark.sparkContext
    sc.setJobGroup("batch-rerun", "rerun")
    try:
        assert batch.run_batch(spark, globs, table) == 10
        assert list(sc.statusTracker().getJobIdsForGroup("batch-rerun")) == []
    finally:
        sc.setJobGroup("", "")
    assert versioned.current_version(table) == ver
    assert len(versioned.versions(table)) == 1


def test_cli_line_reports_the_files_an_append_read(spark, dirs, tmp_path, capsys):
    hist, upd, globs = dirs
    for sym in ("BTC_USDT", "ETH_USDT"):
        _csv(hist / f"{sym}_1h.csv", {i: 10.0 + i for i in range(40)})
    table = str(tmp_path / "hist")

    def cli() -> dict:
        assert main(["batch", "--input", *globs, "--table", table]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = cli()
    assert first["rows_in_table"] == 80 and first["files_read"] == 2 and first["rows_written"] == 80
    _update(upd, "000000", {40: 50.0})
    _update(upd, "000000", {40: 60.0, 41: 61.0}, sym="ETH_USDT")
    line = cli()
    assert line == {
        "rows_in_table": 83, "table": table, "version": first["version"] + 1,
        "files_read": 2, "rows_read": 3, "rows_written": 3,
        "partitions_rewritten": 0, "partitions_linked": 2,
    }
    again = cli()
    assert again["version"] == line["version"] and again["files_read"] == 0
    assert again["rows_in_table"] == 83


def test_incremental_equals_full_recompute(spark, dirs, tmp_path):
    """One sequence of input files, run cycle by cycle, leaves the table
    a single run over all of them leaves — row for row by doc_id, SMAs
    to 1e-9 — and the partition no cycle touches is carried as hard
    links."""
    hist, upd, globs = dirs
    table = str(tmp_path / "hist")
    backfill = {i: 100.0 + (i * 7) % 13 for i in range(60)}
    _csv(hist / "BTC_USDT_1h.csv", dict(reversed(list(backfill.items()))))  # out of time order
    _csv(hist / "ETH_USDT_1h.csv", {i: 50.0 + i % 5 for i in range(60)})
    batch.run_batch(spark, globs, table)
    eth = _files(table, ETH)

    def cycle(*files) -> dict:
        for stamp, candles in files:
            _update(upd, stamp, candles)
        batch.run_batch(spark, globs, table)
        assert _files(table, ETH) == eth  # untouched: the same inodes, linked forward
        return _extra(table)

    assert cycle(("000100", {60: 120.0}))["partitions_rewritten"] == 0  # append
    assert cycle(("000200", {61: 121.0, 62: 122.0}))["partitions_rewritten"] == 0
    # an update overlapping the stored tail: candle 62 re-sent with a new close
    assert cycle(("000300", {62: 99.0, 63: 123.0}))["partitions_rewritten"] == 1
    # a duplicate candle within one cycle: the later file's close wins
    cycle(("000400", {64: 1.0, 65: 125.0}), ("000401", {64: 124.0}))
    # an out-of-order file: an earlier stamp arriving late, whose candle
    # 61 the processed 000200 file already holds (000200 must keep it)
    assert cycle(("000150", {61: -1.0}))["files_read"] > 1  # the partition's files are read again
    # a late file that rewrites a candle 40 rows back, moving the 29 SMAs after it
    cycle(("000500", {25: 500.0}))
    # an update file rewritten in place: new size and mtime
    _update(upd, "000100", {60: 130.0, 66: 126.0})
    os.utime(upd / "BTC_USDT_1h_update_20250101_000100.csv", ns=(1, 1))
    assert cycle()["files_read"] >= 1
    scratch = str(tmp_path / "scratch_mid")
    batch.run_batch(spark, globs, scratch)
    _assert_same_table(spark, table, scratch)

    # appends until the partition crosses the file bound
    counts = []
    for h in range(67, 67 + batch.MAX_PARTITION_FILES + 1):
        extra = cycle((f"{h:04d}00", {h: 100.0 + h}))
        counts.append((len(_files(table, BTC)), extra["partitions_rewritten"]))
    assert max(n for n, _ in counts) == batch.MAX_PARTITION_FILES
    assert (1, 1) in counts  # the bound rewrote the partition as one file
    scratch = str(tmp_path / "scratch_end")
    batch.run_batch(spark, globs, scratch)
    _assert_same_table(spark, table, scratch)
    assert batch.read_inputs(table)["rows"] == batch.read_inputs(scratch)["rows"] == len(_rows(spark, table))


def test_append_cycle_is_two_jobs_and_reads_no_stored_file(spark, dirs, tmp_path, monkeypatch):
    """An hourly append is one query over the new files, seeded from the
    input log: at most two Spark jobs (with AQE, the shuffle stage and
    the write) and no scan of the stored partitions."""
    hist, upd, globs = dirs
    for sym in ("BTC_USDT", "ETH_USDT"):
        _csv(hist / f"{sym}_1h.csv", {i: 10.0 + (i * 7) % 11 for i in range(40)})
    table = str(tmp_path / "hist")
    batch.run_batch(spark, globs, table)
    _update(upd, "000000", {40: 50.0})
    _update(upd, "000000", {40: 60.0, 41: 61.0}, sym="ETH_USDT")
    stored_calls = []
    stored = batch._stored

    def spy(spark_, data_dir, partitions, cols):
        stored_calls.append(list(partitions))
        return stored(spark_, data_dir, partitions, cols)

    monkeypatch.setattr(batch, "_stored", spy)
    sc = spark.sparkContext
    sc.setJobGroup("batch-append", "append")
    try:
        assert batch.run_batch(spark, globs, table) == 83
        jobs = list(sc.statusTracker().getJobIdsForGroup("batch-append"))
    finally:
        sc.setJobGroup("", "")
    assert len(jobs) <= 2, jobs
    assert stored_calls == []
    assert _extra(table)["partitions_rewritten"] == 0
    monkeypatch.undo()
    scratch = str(tmp_path / "scratch")
    batch.run_batch(spark, globs, scratch)
    _assert_same_table(spark, table, scratch)
    assert batch.read_inputs(table)["tails"] == batch.read_inputs(scratch)["tails"]


def test_a_log_without_tails_appends_like_a_full_recompute(spark, dirs, tmp_path):
    """A log written before it carried the SMA seed: the tails come from
    the stored files, and the next commit logs them."""
    hist, upd, globs = dirs
    _csv(hist / "BTC_USDT_1h.csv", {i: 100.0 + (i * 5) % 9 for i in range(45)})
    _csv(hist / "ETH_USDT_1h.csv", {i: 20.0 + i for i in range(10)})
    table = str(tmp_path / "hist")
    batch.run_batch(spark, globs, table)
    log_path = os.path.join(versioned.version_dir(table, 1), "_inputs.json")
    with open(log_path) as f:
        log = json.load(f)
    tails = log.pop("tails")
    assert len(tails[BTC]) == 29 and len(tails[ETH]) == 10
    with open(log_path, "w") as f:
        json.dump(log, f)
    assert batch.read_inputs(table)["tails"] == tails
    _update(upd, "000000", {45: 7.0, 46: 8.0})
    assert batch.run_batch(spark, globs, table) == 57
    assert _extra(table)["files_read"] == 1 and _extra(table)["partitions_rewritten"] == 0
    scratch = str(tmp_path / "scratch")
    batch.run_batch(spark, globs, scratch)
    _assert_same_table(spark, table, scratch)
    with open(os.path.join(versioned.version_dir(table, 2), "_inputs.json")) as f:
        assert json.load(f)["tails"] == batch.read_inputs(scratch)["tails"]


def test_overlap_found_after_staging_commits_one_version(spark, dirs, tmp_path, monkeypatch):
    """A re-sent candle is seen only in the staged append's files: that
    attempt is dropped unpublished and the partition is rewritten, so
    the table gains one version and one manifest."""
    hist, upd, globs = dirs
    _csv(hist / "BTC_USDT_1h.csv", {i: 10.0 + i for i in range(40)})
    _csv(hist / "ETH_USDT_1h.csv", {i: 20.0 + i for i in range(40)})
    table = str(tmp_path / "hist")
    batch.run_batch(spark, globs, table)
    eth = _files(table, ETH)
    _update(upd, "000000", {38: 0.5, 40: 50.0})
    _update(upd, "000000", {40: 60.0}, sym="ETH_USDT")
    staged = []
    stage = versioned.stage_version

    def spy(*a, **kw):
        staged.append(stage(*a, **kw))
        return staged[-1]

    monkeypatch.setattr(versioned, "stage_version", spy)
    assert batch.run_batch(spark, globs, table) == 82
    assert staged == [2, 2]  # the append, then the rewrite in its place
    assert [m["version"] for m in versioned.versions(table)] == [1, 2]
    assert len(os.listdir(os.path.join(table, "_versions"))) == 2
    assert _extra(table)["partitions_rewritten"] == 1 and _extra(table)["partitions_linked"] == 1
    assert set(eth) < set(_files(table, ETH))  # ETH stays an append: its old files linked
    assert len(_files(table, BTC)) == 1
    monkeypatch.undo()
    scratch = str(tmp_path / "scratch")
    batch.run_batch(spark, globs, scratch)
    _assert_same_table(spark, table, scratch)
    assert batch.read_inputs(table)["tails"] == batch.read_inputs(scratch)["tails"]


def test_crash_before_the_pointer_flip_leaves_the_previous_version(spark, dirs, tmp_path, monkeypatch):
    hist, upd, globs = dirs
    _csv(hist / "BTC_USDT_1h.csv", {i: 10.0 + i for i in range(40)})
    _csv(hist / "ETH_USDT_1h.csv", {i: 20.0 + i for i in range(40)})
    table = str(tmp_path / "hist")
    batch.run_batch(spark, globs, table)
    before = _rows(spark, table)
    _update(upd, "000000", {39: 0.5, 40: 50.0})

    def crash(*a, **kw):
        raise RuntimeError("crashed before the pointer flip")

    monkeypatch.setattr(versioned, "commit_version", crash)
    with pytest.raises(RuntimeError, match="pointer flip"):
        batch.run_batch(spark, globs, table)
    orphan = versioned.version_dir(table, 2)
    assert os.path.isdir(orphan) and os.listdir(os.path.join(orphan, ETH))  # data and links were staged
    assert versioned.current_version(table) == 1
    assert _rows(spark, table) == before  # the previous version reads whole
    monkeypatch.undo()

    assert batch.run_batch(spark, globs, table) == 81
    assert versioned.current_version(table) == 2
    scratch = str(tmp_path / "scratch")
    batch.run_batch(spark, globs, scratch)
    _assert_same_table(spark, table, scratch)


def test_a_version_without_an_input_log_is_read_from_its_footers(spark, dirs, tmp_path):
    """A table committed before the input log existed: every file counts
    as new, and the stored keys and tails come from the parquet files."""
    hist, upd, globs = dirs
    _csv(hist / "BTC_USDT_1h.csv", {i: 10.0 + i for i in range(40)})
    table = str(tmp_path / "hist")
    batch.run_batch(spark, globs, table)
    os.remove(os.path.join(versioned.version_dir(table, 1), "_inputs.json"))
    assert batch.read_inputs(table)["keys"] == {BTC: [(T0 + 39 * HOUR_MS) // 1000, 40]}
    _update(upd, "000000", {38: 1.0, 40: 50.0})
    assert batch.run_batch(spark, globs, table) == 41
    scratch = str(tmp_path / "scratch")
    batch.run_batch(spark, globs, scratch)
    _assert_same_table(spark, table, scratch)


def test_a_glob_matching_a_directory_lists_its_files(spark, dirs, tmp_path):
    """As Spark's CSV reader does: a matched directory contributes the
    files under it, and ``_``/``.``-prefixed names are skipped."""
    hist, _, _ = dirs
    _csv(hist / "BTC_USDT_1h.csv", {i: 1.0 + i for i in range(3)})
    (hist / "_note.csv").write_text("x\n")
    (hist / ".BTC_USDT_1h.csv.crc").write_bytes(b"")
    assert list(batch.list_inputs(spark, [str(hist)])) == [f"file:{hist}/BTC_USDT_1h.csv"]
    assert batch.run_batch(spark, [str(hist)], str(tmp_path / "hist")) == 3
