"""CLI smoke tests — the operational surface mapping the reference's
runbook entry points (run_batch_processor.sh / stream_processor.py /
app.py serving) onto ``python -m big_data_pr_spark`` subcommands."""

from __future__ import annotations

import json

import pytest

from big_data_pr_spark.__main__ import main
from big_data_pr_spark.operators import versioned


def test_list_names_every_registry_query(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    from big_data_pr_spark.queries import REGISTRY

    for name in REGISTRY:
        assert name in out


def test_query_runs_and_shows(spark, sf_dir, capsys):
    assert main(["query", "sma_events", "--sf-dir", sf_dir, "--limit", "2"]) == 0
    out = capsys.readouterr().out
    assert "sma_7" in out


def test_query_unknown_name_exits_2(spark, capsys):
    assert main(["query", "no_such_query"]) == 2


def test_query_explain_prints_plan(spark, sf_dir, capsys):
    assert main(["query", "q1_pricing", "--sf-dir", sf_dir, "--explain"]) == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_batch_subcommand_upserts(spark, tmp_path, capsys):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    hdr = "timestamp,open,high,low,close,volume,datetime_str\n"
    rows = "".join(
        f"{1700000000000 + i * 3600_000},{100 + i},{101 + i},{99 + i},"
        f"{100.5 + i},{10 + i},2023-11-14T00:00:00Z\n"
        for i in range(10)
    )
    (csv_dir / "BTC_USDT_1h.csv").write_text(hdr + rows)
    table = str(tmp_path / "serving")
    assert main(["batch", "--input", str(csv_dir / "*.csv"), "--table", table]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rows_in_table"] == 10


def test_stream_file_source_requires_path():
    with pytest.raises(SystemExit):
        main(["stream", "--source", "file", "--out", "/tmp/x", "--checkpoint", "/tmp/y"])


@pytest.mark.parametrize("flag", ["--trigger-stats", "--trigger-chart"])
def test_stream_trigger_flag_needs_trigger_latest(tmp_path, capsys, flag):
    """Without --trigger-latest the stream drains in availableNow mode,
    where a stats or chart cadence would be silently ignored."""
    src = tmp_path / "src"
    src.mkdir()
    with pytest.raises(SystemExit) as exc:
        main(["stream", "--path", str(src), "--out", str(tmp_path / "out"),
              "--checkpoint", str(tmp_path / "ck"), flag, "5 seconds"])
    assert exc.value.code == 2
    assert "need --trigger-latest" in capsys.readouterr().err


def test_stream_trigger_defaults_with_trigger_latest(spark, tmp_path, monkeypatch):
    """With --trigger-latest, an unset stats/chart trigger takes the
    reference's cadence (stream_processor.py:146,175)."""
    from big_data_pr_spark.streaming import pipeline

    class Started(Exception):
        pass

    seen = {}

    def start(raw, out, checkpoint, triggers=None, bootstrap_watermark=None):
        seen.update(triggers)
        raise Started

    monkeypatch.setattr(pipeline, "start_three_queries", start)
    with pytest.raises(Started):
        main(["stream", "--path", str(tmp_path), "--out", str(tmp_path / "out"),
              "--checkpoint", str(tmp_path / "ck"), "--trigger-latest", "15 seconds",
              "--trigger-chart", "5 seconds"])
    assert seen == {"latest": "15 seconds", "stats": "1 minute", "chart": "5 seconds"}


def test_sql_subcommand(spark, sf_dir, capsys):
    assert main(
        ["sql", "SELECT count(*) AS n FROM orders", "--sf-dir", sf_dir, "--limit", "1"]
    ) == 0
    assert "n" in capsys.readouterr().out


def test_corpus_subcommand_writes_and_reports(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "corpus")
    assert (
        main(
            [
                "corpus",
                "--sf-dir", sf_dir,
                "--out", out,
                "--holdout-benchmark",
            ]
        )
        == 0
    )
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["00_input"] > 0
    assert "04_decontaminated" in metrics
    assert spark.read.parquet(out + "/documents").count() > 0


def test_rag_subcommand_build_then_query(spark, sf_dir, tmp_path, capsys):
    idx = str(tmp_path / "rag")
    assert (
        main(["rag", "--index", idx, "--build", "--sf-dir", sf_dir,
              "--limit-docs", "50", "--n-list", "4"]) == 0
    )
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["rag", "--index", idx, "--query", "spark join scan", "--k", "2"]) == 0
    out = capsys.readouterr().out
    assert "cos_sim" in out
    # neither --build nor --query is an error
    assert main(["rag", "--index", idx]) == 2


def test_maintain_subcommand_optimize_vacuum_history(spark, tmp_path, capsys):
    import json as _json

    from big_data_pr_spark.operators import versioned

    tdir = str(tmp_path / "vt")
    df = spark.range(100).selectExpr("id as k", "cast(id as string) as val")
    versioned.write_version(df.repartition(16), tdir, "load")
    rc = main(
        ["maintain", "--table", tdir, "--optimize", "--zorder", "k",
         "--vacuum-keep", "1"]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["optimized_to_version"] == 2
    assert out["vacuumed_versions"] == [1]
    rc = main(["maintain", "--table", tdir, "--history"])
    assert rc == 0
    lines = [
        _json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
    ]
    assert [m["version"] for m in lines] == [1, 2]
    assert "zorder=k" in lines[-1]["note"]
    # the optimized table still reads correctly
    assert versioned.read_version(spark, tdir).count() == 100


def test_model_train_score_roundtrip(spark, sf_dir, tmp_path, capsys):
    """model --train writes a JSON artifact; --score loads it and
    scores the corpus (the reference's trained_models lifecycle,
    app.py:207-218, with engine-portable JSON instead of pickles)."""
    art = str(tmp_path / "lang.json")
    assert main(
        ["model", "--train", "logreg", "--artifact", art, "--sf-dir", sf_dir,
         "--n-iters", "5"]
    ) == 0
    meta = json.loads(capsys.readouterr().out.strip())
    assert meta["kind"] == "logreg"
    assert main(["model", "--score", "--artifact", art, "--sf-dir", sf_dir]) == 0
    assert "doc_id" in capsys.readouterr().out


def test_model_score_xgboost_dump(spark, sf_dir, tmp_path, capsys):
    """An xgboost get_dump(json) artifact scores directly — no xgboost
    package needed."""
    dump = [
        {
            "nodeid": 0, "split": "n_tokens", "split_condition": 50.0,
            "yes": 1, "no": 2,
            "children": [
                {"nodeid": 1, "leaf": 100.0},
                {"nodeid": 2, "leaf": 400.0},
            ],
        }
    ]
    art = tmp_path / "xgb.json"
    art.write_text(json.dumps(dump))
    assert main(
        ["model", "--score", "--from-xgboost-dump", "--artifact", str(art),
         "--sf-dir", sf_dir]
    ) == 0
    assert "doc_id" in capsys.readouterr().out


def test_model_train_binary_gbt(spark, sf_dir, tmp_path, capsys):
    art = str(tmp_path / "gate.json")
    assert main(
        ["model", "--train", "gbt", "--objective", "binary", "--artifact", art,
         "--sf-dir", sf_dir, "--n-trees", "3"]
    ) == 0
    json.loads(capsys.readouterr().out.strip())
    assert main(["model", "--score", "--artifact", art, "--sf-dir", sf_dir]) == 0
    assert "doc_id" in capsys.readouterr().out


def test_matview_subcommand_lifecycle(spark, sf_dir, tmp_path, capsys):
    d = str(tmp_path / "mv")
    assert main(["matview", "--dir", d, "--create", "--sf-dir", sf_dir]) == 0
    created = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert created["created_version"] == 1
    # everything already folded -> no-op refresh, no new version
    assert main(["matview", "--dir", d, "--refresh", "--sf-dir", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"refreshed": False, "delta_rows": 0, "version": 1}
    assert main(["matview", "--dir", d, "--history"]) == 0
    hist = capsys.readouterr().out.strip().splitlines()
    assert len(hist) == 1 and json.loads(hist[0])["version"] == 1
    assert main(["matview", "--dir", d]) == 0
    assert "event_type" in capsys.readouterr().out


def test_cli_forecast_real_artifacts(capsys):
    import json
    import os

    import pytest

    if not os.path.isdir("/root/reference/trained_models"):
        pytest.skip("reference artifacts not present")
    from big_data_pr_spark.__main__ import main

    rc = main(["forecast", "--symbol", "ETH_USDT", "--steps", "4"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 4
    assert [r["timestamp"] for r in lines] == [3600000 * i for i in range(1, 5)]
    # prices stay inside the fitted scaler's plausible band
    assert all(1000 < r["predicted_price"] < 5000 for r in lines)


def test_cli_forecast_hist_real_artifacts(spark, tmp_path, capsys):
    """r7 verdict #5: the --hist branch against a real candles fixture
    + the REAL BTC artifacts must emit exactly what recursive_forecast
    produces from the last-k closes (app.py:219-238 shape: desc top-k,
    reverse, recurse)."""
    import os

    import pytest

    if not os.path.isdir("/root/reference/trained_models"):
        pytest.skip("reference artifacts not present")
    from big_data_pr_spark.ohlcv.forecast import recursive_forecast
    from big_data_pr_spark.ohlcv.artifacts import load_minmax_scaler
    from big_data_pr_spark.ohlcv.xgb_ubjson import load_reference_regressor

    base_ms = 1_700_000_000_000
    closes = [80000.0, 80900.0, 80400.0, 81300.0, 80700.0, 81100.0,
              80500.0, 81250.0]
    rows = [
        ("BTC_USDT", i, c) for i, c in enumerate(closes)
    ] + [("ETH_USDT", i, 2000.0 + i) for i in range(8)]
    hist = spark.createDataFrame(
        rows, "symbol string, hour int, close double"
    ).selectExpr(
        "symbol",
        "'1h' AS timeframe",
        f"timestamp_millis({base_ms} + hour * 3600000) AS timestamp_dt",
        "close",
    )
    path = str(tmp_path / "hist")
    versioned.write_version(hist, path, partition_by=("symbol", "timeframe"))

    rc = main(["forecast", "--symbol", "BTC_USDT", "--hist", path,
               "--steps", "4"])
    assert rc == 0
    got = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]

    model, _ = load_reference_regressor(
        "/root/reference/trained_models/BTC_USDT_xgboost_model.pkl")
    scaler = load_minmax_scaler(
        "/root/reference/trained_models/BTC_USDT_scaler.pkl")
    k = model.n_features_in_
    last_ms = base_ms + (len(closes) - 1) * 3600000
    want = recursive_forecast(closes[-k:], last_ms, steps=4,
                              model=model, scaler=scaler)
    assert [(r["timestamp"], r["predicted_price"]) for r in got] == [
        (ts, round(p, 2)) for ts, p in want
    ]


def test_cli_forecast_hist_too_short_reports_found_need(spark, tmp_path, capsys):
    """ADVICE round 7: insufficient history must exit nonzero with the
    reference's explicit found/need error (app.py:226-227), not an
    IndexError or a feature-count mismatch."""
    import os

    import pytest

    if not os.path.isdir("/root/reference/trained_models"):
        pytest.skip("reference artifacts not present")
    hist = spark.createDataFrame(
        [("BTC_USDT", 1_700_000_000_000, 80000.0),
         ("BTC_USDT", 1_700_003_600_000, 80500.0)],
        "symbol string, ms long, close double",
    ).selectExpr(
        "symbol", "'1h' AS timeframe", "timestamp_millis(ms) AS timestamp_dt", "close"
    )
    path = str(tmp_path / "hist")
    versioned.write_version(hist, path, partition_by=("symbol", "timeframe"))
    rc = main(["forecast", "--symbol", "BTC_USDT", "--hist", path])
    assert rc == 1
    err = capsys.readouterr().err
    assert "found 2, need 5" in err


def test_stream_bootstrap_watermark_flag(spark, tmp_path, capsys):
    """The stream subcommand forwards --bootstrap-watermark: replaying
    a 3-day history with a cutoff at the last day leaves only the
    post-cutoff rows in the append sink (availableNow drain mode)."""
    import json as _json

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    base_ms = 1_700_000_400_000  # 2023-11-14 22:20:00 UTC
    day_ms = 86_400_000
    msgs = []
    for d in range(3):
        for m in range(5):
            ts = base_ms + d * day_ms + m * 60_000
            msgs.append(_json.dumps({
                "timestamp": ts, "symbol": "BTC/USDT", "timeframe": "1m",
                "open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5,
                "volume": 1.0, "datetime_str": "x",
            }))
    (in_dir / "history.json").write_text("\n".join(msgs) + "\n")
    import datetime as dt

    cutoff = dt.datetime.fromtimestamp(
        (base_ms + 2 * day_ms) / 1000, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    out = tmp_path / "out"
    assert main([
        "stream", "--source", "file", "--path", str(in_dir),
        "--out", str(out), "--checkpoint", str(tmp_path / "cp"),
        "--bootstrap-watermark", cutoff,
    ]) == 0
    chart = spark.read.parquet(str(out / "chart"))
    assert chart.count() == 5  # only day 2's rows survive the cutoff
