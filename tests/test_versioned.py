"""Versioned-table MVCC: atomic pointer commits, time travel, CDC
merge as a new version, vacuum retention, and the no-race property the
staging-swap writers can't give (a pinned reader is immune to
concurrent commits)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_pr_spark.operators import versioned


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, val string")


def test_write_read_and_time_travel(spark, tdir):
    v1 = versioned.write_version(_df(spark, [(1, "a"), (2, "b")]), tdir, "load")
    v2 = versioned.write_version(_df(spark, [(1, "a2"), (3, "c")]), tdir, "reload")
    assert (v1, v2) == (1, 2)
    assert versioned.current_version(tdir) == 2
    latest = {r["k"]: r["val"] for r in versioned.read_version(spark, tdir).collect()}
    assert latest == {1: "a2", 3: "c"}
    old = {r["k"]: r["val"] for r in versioned.read_version(spark, tdir, 1).collect()}
    assert old == {1: "a", 2: "b"}
    metas = versioned.versions(tdir)
    assert [m["version"] for m in metas] == [1, 2]
    assert metas[0]["note"] == "load"


def test_committed_version_has_no_success_marker(spark, tdir):
    """The pointer is the commit: a version directory, flat or
    partitioned, holds data files only."""
    versioned.write_version(_df(spark, [(1, "a")]), tdir)
    versioned.write_version(_df(spark, [(1, "a"), (2, "b")]), tdir, partition_by=["k"])
    for ver in (1, 2):
        found = [f for _, _, fs in os.walk(versioned.version_dir(tdir, ver)) for f in fs]
        assert found and not any("SUCCESS" in f for f in found), found


def test_pinned_reader_survives_concurrent_commit(spark, tdir):
    versioned.write_version(_df(spark, [(1, "a")]), tdir)
    pinned = versioned.read_version(spark, tdir)  # resolves pointer NOW
    versioned.write_version(_df(spark, [(1, "CHANGED")]), tdir)
    # the pinned scan still reads the immutable v1 directory
    assert [r["val"] for r in pinned.collect()] == ["a"]
    assert [
        r["val"] for r in versioned.read_version(spark, tdir).collect()
    ] == ["CHANGED"]


def test_merge_version_cdc_semantics(spark, tdir):
    ch1 = spark.createDataFrame(
        [(1, "a", "I", 1), (2, "b", "I", 1)], "k long, val string, op string, seq long"
    )
    v1 = versioned.merge_version(spark, tdir, ch1, "k", "seq")
    ch2 = spark.createDataFrame(
        [(1, "a2", "U", 2), (2, None, "D", 2), (3, "c", "I", 2)],
        "k long, val string, op string, seq long",
    )
    v2 = versioned.merge_version(spark, tdir, ch2, "k", "seq")
    assert (v1, v2) == (1, 2)
    now = {r["k"]: r["val"] for r in versioned.read_version(spark, tdir).collect()}
    assert now == {1: "a2", 3: "c"}
    # history intact: v1 still shows the pre-merge state
    before = {r["k"]: r["val"] for r in versioned.read_version(spark, tdir, 1).collect()}
    assert before == {1: "a", 2: "b"}
    # idempotent replay → new version with identical content
    v3 = versioned.merge_version(spark, tdir, ch2, "k", "seq")
    replay = {r["k"]: r["val"] for r in versioned.read_version(spark, tdir, v3).collect()}
    assert replay == now


def test_vacuum_keeps_latest_and_manifests(spark, tdir):
    for i in range(4):
        versioned.write_version(_df(spark, [(1, f"v{i + 1}")]), tdir)
    os.makedirs(versioned.version_dir(tdir, 5))  # a write in flight, not committed
    dropped = versioned.vacuum(tdir, keep_last=2)
    assert dropped == [1, 2]
    assert os.path.isdir(versioned.version_dir(tdir, 5))
    # history metadata survives vacuum
    assert [m["version"] for m in versioned.versions(tdir)] == [1, 2, 3, 4]
    with pytest.raises(FileNotFoundError):
        versioned.read_version(spark, tdir, 1)
    assert [
        r["val"] for r in versioned.read_version(spark, tdir, 3).collect()
    ] == ["v3"]
    assert versioned.current_version(tdir) == 4


def test_snapshot_diff_between_versions(spark, tdir):
    from big_data_pr_spark.operators.diff import table_diff

    versioned.write_version(_df(spark, [(1, "a"), (2, "b")]), tdir)
    versioned.write_version(_df(spark, [(1, "a2"), (3, "c")]), tdir)
    old = versioned.read_version(spark, tdir, 1)
    new = versioned.read_version(spark, tdir, 2)
    diff = {
        (r["k"], r["change"]) for r in table_diff(old, new, ["k"]).collect()
    }
    assert diff == {(1, "changed"), (2, "removed"), (3, "added")}


def test_fold_epoch_fences_epochs(spark, tdir):
    """The exactly-once fold of the streaming sinks: ``step`` sees the
    committed state and extra, and only a new epoch of a non-empty
    batch commits."""
    seen = []

    def step(prev, extra):
        seen.append((None if prev is None else sorted(r["k"] for r in prev.collect()), extra))
        state = batch if prev is None else prev.unionByName(batch)
        return state, {"n": extra.get("n", 0) + 1}

    batch = _df(spark, [(1, "a")])
    assert versioned.fold_epoch(batch.limit(0), 0, tdir, step) is None
    assert versioned.current_version(tdir) is None and seen == []

    assert versioned.fold_epoch(batch, 3, tdir, step) == 1
    assert seen == [(None, {})]
    assert versioned.manifest(tdir)["extra"] == {"epoch_id": 3, "n": 1}
    assert versioned.manifest(tdir)["note"] == "epoch 3"

    for replayed in (3, 2):  # a replayed and an older epoch
        assert versioned.fold_epoch(batch, replayed, tdir, step) is None
    assert versioned.current_version(tdir) == 1 and len(seen) == 1

    batch = _df(spark, [(2, "b")])
    assert versioned.fold_epoch(batch, 4, tdir, step) == 2
    assert seen[1] == ([1], {"epoch_id": 3, "n": 1})
    assert versioned.manifest(tdir)["extra"] == {"epoch_id": 4, "n": 2}
    assert sorted(r["k"] for r in versioned.read_version(spark, tdir).collect()) == [1, 2]


def test_empty_table_raises(spark, tdir):
    with pytest.raises(FileNotFoundError):
        versioned.read_version(spark, tdir)


def test_optimize_version_compacts_and_preserves(spark, tmp_path):
    from big_data_pr_spark.tables import load
    from big_data_pr_spark.timeutil import epoch_micros

    tdir = str(tmp_path / "opt")
    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", epoch_micros("ts").alias("ts_us"), "value"
    )
    versioned.write_version(ev.repartition(64), tdir, "fragmented load")
    v2 = versioned.optimize_version(
        spark, tdir, zorder_cols=["user_id", "ts_us"]
    )
    assert v2 == 2
    d1, d2 = (
        [
            f
            for f in os.listdir(os.path.join(tdir, f"v{v:06d}"))
            if f.endswith(".parquet")
        ]
        for v in (1, 2)
    )
    assert len(d1) == 64 and len(d2) < 8  # small files compacted
    a = versioned.read_version(spark, tdir, 1).agg(
        F.sum("event_id"), F.count("*")
    ).first()
    b = versioned.read_version(spark, tdir, 2).agg(
        F.sum("event_id"), F.count("*")
    ).first()
    assert tuple(a) == tuple(b)
    note = versioned.versions(tdir)[-1]["note"]
    assert "zorder=user_id,ts_us" in note
