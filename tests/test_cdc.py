"""CDC MERGE semantics: upsert/delete/last-wins/idempotent replay."""

from __future__ import annotations

from big_data_pr_spark.operators import versioned
from big_data_pr_spark.operators.cdc import merge_changes


def _rows(spark, path):
    return {
        r["k"]: (r["v"], r["note"])
        for r in versioned.read_version(spark, path).collect()
    }


def _apply(spark, path, changes):
    versioned.merge_version(spark, path, changes, "k", "seq")
    return versioned.read_version(spark, path).count()


def test_merge_version_full_lifecycle(spark, tmp_path):
    path = str(tmp_path / "tbl")
    schema = "k long, v double, note string, op string, seq long"

    # bootstrap from inserts (including a delete for a never-seen key)
    c1 = spark.createDataFrame(
        [
            (1, 1.0, "a", "I", 1),
            (2, 2.0, "b", "I", 2),
            (3, 3.0, "c", "I", 3),
            (9, None, None, "D", 4),
        ],
        schema,
    )
    assert _apply(spark, path, c1) == 3

    # update + delete + insert in one changeset; key 2 gets two changes,
    # highest seq wins
    c2 = spark.createDataFrame(
        [
            (2, 20.0, "b1", "U", 10),
            (2, 22.0, "b2", "U", 12),
            (3, None, None, "D", 11),
            (4, 4.0, "d", "I", 13),
        ],
        schema,
    )
    assert _apply(spark, path, c2) == 3
    got = _rows(spark, path)
    assert got == {1: (1.0, "a"), 2: (22.0, "b2"), 4: (4.0, "d")}

    # replaying the same changeset is a no-op (at-least-once safety)
    assert _apply(spark, path, c2) == 3
    assert _rows(spark, path) == got

    # delete-then-reinsert at higher seq resurrects the key
    c3 = spark.createDataFrame(
        [(4, None, None, "D", 20), (4, 44.0, "d2", "I", 21)], schema
    )
    _apply(spark, path, c3)
    assert _rows(spark, path)[4] == (44.0, "d2")


def test_merge_changes_pure_dataframe(spark):
    target = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b")], "k long, v double, note string"
    )
    changes = spark.createDataFrame(
        [(1, None, None, "D", 5), (3, 3.0, "c", "I", 6)],
        "k long, v double, note string, op string, seq long",
    )
    out = {
        r["k"]: r["v"]
        for r in merge_changes(target, changes, "k", "seq").collect()
    }
    assert out == {2: 2.0, 3: 3.0}


def test_streaming_versioned_cdc_apply_matches_batch_merge(spark, tmp_path):
    """foreachBatch CDC sink: streamed changesets MERGE into the table
    with the same final state a single batch merge produces, and
    re-running the stream over the same input (fresh checkpoint,
    existing table) is a no-op — replay-safe at-least-once delivery."""
    import json as _json

    from big_data_pr_spark.operators.cdc import merge_changes
    from big_data_pr_spark.streaming import cdc_sink

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def msg(key, op, seq, payload):
        return _json.dumps({"key": key, "op": op, "seq": seq, "payload": payload})

    batch1 = [msg(1, "I", 1, "a"), msg(2, "I", 2, "b"), msg(3, "I", 3, "c")]
    batch2 = [msg(2, "U", 4, "b2"), msg(3, "D", 5, None), msg(4, "I", 6, "d")]
    (in_dir / "b1.json").write_text("\n".join(batch1) + "\n")
    (in_dir / "b2.json").write_text("\n".join(batch2) + "\n")

    from big_data_pr_spark.streaming import pipeline

    table = str(tmp_path / "table")

    def run(cp_name):
        raw = pipeline.file_source(spark, str(in_dir))
        q = cdc_sink.start_versioned_cdc_apply(
            cdc_sink.parse_change_stream(raw), table, str(tmp_path / cp_name)
        )
        q.awaitTermination(120)

    run("cp1")
    got = {
        r.key: r.payload for r in versioned.read_version(spark, table).collect()
    }
    assert got == {1: "a", 2: "b2", 4: "d"}  # 3 deleted, 2 updated

    # equivalent single-batch merge over ALL changes → same state
    all_changes = spark.createDataFrame(
        [(1, "I", 1, "a"), (2, "I", 2, "b"), (3, "I", 3, "c"),
         (2, "U", 4, "b2"), (3, "D", 5, None), (4, "I", 6, "d")],
        "key long, op string, seq long, payload string",
    )
    empty = spark.createDataFrame([], "key long, payload string")
    ref = {
        r.key: r.payload
        for r in merge_changes(empty, all_changes, "key", "seq").collect()
    }
    assert got == ref

    # replay the whole stream with a FRESH checkpoint onto the existing
    # table: last-wins merge makes it a no-op
    run("cp2")
    again = {
        r.key: r.payload for r in versioned.read_version(spark, table).collect()
    }
    assert again == got


def test_streaming_versioned_cdc_commits_epoch_history(spark, tmp_path):
    """The versioned streaming sink: a queryable per-epoch version
    history, and a reader pinned mid-stream is never disturbed by later
    commits."""
    import json as _json

    from big_data_pr_spark.operators import versioned
    from big_data_pr_spark.streaming import cdc_sink, pipeline

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def msg(key, op, seq, payload):
        return _json.dumps({"key": key, "op": op, "seq": seq, "payload": payload})

    (in_dir / "b1.json").write_text(
        "\n".join([msg(1, "I", 1, "a"), msg(2, "I", 2, "b")]) + "\n"
    )
    table = str(tmp_path / "vtable")
    raw = pipeline.file_source(spark, str(in_dir))
    q = cdc_sink.start_versioned_cdc_apply(
        cdc_sink.parse_change_stream(raw), table, str(tmp_path / "cp1")
    )
    q.awaitTermination(120)
    v_after_b1 = versioned.current_version(table)
    assert v_after_b1 is not None
    pinned = versioned.read_version(spark, table, v_after_b1)

    (in_dir / "b2.json").write_text(
        "\n".join([msg(2, "U", 3, "b2"), msg(3, "I", 4, "c")]) + "\n"
    )
    raw2 = pipeline.file_source(spark, str(in_dir))
    q2 = cdc_sink.start_versioned_cdc_apply(
        cdc_sink.parse_change_stream(raw2), table, str(tmp_path / "cp1")
    )
    q2.awaitTermination(120)

    latest = {
        r.key: r.payload for r in versioned.read_version(spark, table).collect()
    }
    assert latest == {1: "a", 2: "b2", 3: "c"}
    # the pinned pre-b2 snapshot is untouched by the later commit
    assert {r.key: r.payload for r in pinned.collect()} == {1: "a", 2: "b"}
    # epoch notes recorded in history
    notes = [m["note"] for m in versioned.versions(table)]
    assert any("stream epoch" in n for n in notes)
    assert versioned.current_version(table) > v_after_b1
