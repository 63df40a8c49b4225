"""Command-line entry points — the operational surface a user of the
reference drives via its runbook, mapped one-to-one:

| reference entry point                     | here                         |
|-------------------------------------------|------------------------------|
| ``run_batch_processor.sh`` → ``batch_processor.py`` (hourly cron) | ``python -m big_data_pr_spark batch`` |
| ``stream_processor.py`` (3-query topology) | ``python -m big_data_pr_spark stream`` |
| ES ILM 2-hour chart retention (``README.md:74-98``) | ``python -m big_data_pr_spark retention`` |
| ``app.py`` serving API (Flask + ES)       | ``python -m big_data_pr_spark serve`` |
| ``app.py`` /api/predict_xgboost           | ``python -m big_data_pr_spark forecast`` |
| —                                         | ``python -m big_data_pr_spark query <name>`` / ``list`` |

``serve`` answers the ``app.py`` routes over the tables ``batch`` and
``stream`` write, and may run beside them: ``hist``, ``latest`` and
``stats`` are versioned tables (``operators/versioned.py``) read by
their commit pointer, so a rewrite never shows a reader a missing or
half-written table. The 423-query registry (``query``/``list``) also
carries each endpoint's query shape (``realtime_stats_join``,
``range_scan_limit``, ``ohlcv_candles_sma``, …) over the fixture data.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(app)


def cmd_batch(args: argparse.Namespace) -> int:
    from .ohlcv.batch import RUN_COUNTS, run_batch
    from .operators import versioned

    before = versioned.current_version(args.table)
    n = run_batch(_spark("batch"), args.input, args.table)
    ver = versioned.current_version(args.table)
    ran = versioned.manifest(args.table, ver).get("extra", {}) if ver != before else {}
    print(json.dumps({"rows_in_table": n, "table": args.table, "version": ver,
                      **{k: ran.get(k, 0) for k in RUN_COUNTS}}))
    return 0


def cmd_stream(args: argparse.Namespace) -> int:
    from .streaming import pipeline as P

    spark = _spark("stream")
    if args.source == "kafka":
        raw = P.kafka_source(spark, args.brokers, args.topic)
    else:
        raw = P.file_source(spark, args.path)
    triggers = (  # the reference's cadences, stream_processor.py:111,146,175
        {"latest": args.trigger_latest, "stats": args.trigger_stats or "1 minute",
         "chart": args.trigger_chart or "15 seconds"}
        if args.trigger_latest
        else None  # None → availableNow (drain-and-stop test mode)
    )
    queries = P.start_three_queries(
        raw, args.out, args.checkpoint, triggers=triggers,
        bootstrap_watermark=args.bootstrap_watermark,
    )
    if triggers is None:
        for q in queries:
            q.awaitTermination()
    else:
        spark.streams.awaitAnyTermination()
    return 0


def cmd_retention(args: argparse.Namespace) -> int:
    from .streaming.pipeline import apply_retention

    dropped = apply_retention(args.chart_path, args.keep_dates)
    print(json.dumps({"dropped_partitions": dropped}))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from .queries import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r} — see `list`", file=sys.stderr)
        return 2
    df = REGISTRY[args.name].fn(_spark("query"), args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from .tables import register_views

    spark = _spark("sql")
    register_views(spark, args.sf_dir)
    df = spark.sql(args.statement)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_corpus(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .pipelines import build_pretrain_corpus
    from .tables import load

    spark = _spark("corpus")
    docs = load(spark, args.sf_dir, "documents")
    bench = None
    if args.benchmark_path:
        bench = spark.read.parquet(args.benchmark_path)
    elif args.holdout_benchmark:
        bench = docs.filter(F.col("doc_id") % 10 == 0)
        docs = docs.filter(F.col("doc_id") % 10 != 0)
    res = build_pretrain_corpus(
        docs,
        bench,
        quality_min=args.quality_min,
        pack_capacity=args.pack_capacity,
    )
    print(json.dumps(res.write(args.out)))
    return 0


def cmd_forecast(args: argparse.Namespace) -> int:
    """Reference /api/predict_xgboost parity (app.py:195-244), served
    from the REAL pickled artifacts without xgboost/sklearn: the
    restricted unpickler + UBJSON booster decoder recover the fitted
    state, the last-k closes come from the hist table through the
    predict route's own query (no SparkSession), or a synthetic ramp
    when none is given, and the 24-step scaled-space recursion emits
    [(ts_ms, price)] as JSON lines."""
    from .ohlcv import forecast

    model, scaler = forecast.load_symbol_artifacts(args.artifacts, args.symbol)
    if args.hist:
        from .ohlcv.serving_http import ServingBackend

        backend = ServingBackend(hist=args.hist)
        try:
            preds = forecast.forecast_from_hist(
                lambda build: backend.query("hist", build), model, scaler, args.symbol, args.steps
            )
        except forecast.InsufficientHistory as exc:
            print(json.dumps({"error": str(exc)}), file=sys.stderr)
            return 1
        if preds is None:
            print(json.dumps({"error": f"no committed version at {args.hist}"}), file=sys.stderr)
            return 1
    else:
        k = model.n_features_in_
        mid = (scaler.data_min_[0] + scaler.data_max_[0]) / 2
        closes = [mid * (1 + 0.001 * i) for i in range(k)]
        preds = forecast.recursive_forecast(
            closes, 0, steps=args.steps, model=model, scaler=scaler
        )
    for ts, price in preds:
        print(json.dumps({"timestamp": ts, "predicted_price": round(price, 2)}))
    return 0



def cmd_serve(args: argparse.Namespace) -> int:
    """Reference app.py serving facade over parquet tables (stdlib
    http.server; see ohlcv/serving_http.py for the route contract).
    Starts no SparkSession: the routes answer from Arrow snapshots."""
    from http.server import ThreadingHTTPServer

    from .ohlcv.serving_http import ServingBackend, make_handler

    backend = ServingBackend(
        hist=args.hist,
        latest=args.latest,
        stats=args.stats,
        chart=args.chart,
        artifacts_dir=args.artifacts,
    )
    srv = ThreadingHTTPServer((args.host, args.port), make_handler(backend))
    print(f"serving on http://{args.host}:{args.port} (Ctrl-C to stop)")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    return 0


def cmd_rag(args: argparse.Namespace) -> int:
    from .pipelines import build_rag_index, rag_query
    from .tables import load

    spark = _spark("rag")
    if args.build:
        docs = load(spark, args.sf_dir, "documents")
        if args.limit_docs:
            docs = docs.limit(args.limit_docs)
        build_rag_index(docs, args.index, n_list=args.n_list, dim=args.dim)
        print(json.dumps({"index": args.index, "n_list": args.n_list, "dim": args.dim}))
        return 0
    if not args.query:
        print("pass --build or --query TEXT", file=sys.stderr)
        return 2
    rag_query(spark, args.index, args.query, k=args.k, n_probe=args.n_probe).show(
        truncate=80
    )
    return 0


def cmd_maintain(args: argparse.Namespace) -> int:
    from .operators import versioned

    if args.history:
        for m in versioned.versions(args.table):
            print(json.dumps(m))
        return 0
    out: dict = {"table": args.table}
    if args.optimize:
        spark = _spark("maintain")
        out["optimized_to_version"] = versioned.optimize_version(
            spark,
            args.table,
            zorder_cols=args.zorder or None,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    if args.vacuum_keep is not None:
        out["vacuumed_versions"] = versioned.vacuum(
            args.table, keep_last=args.vacuum_keep
        )
    print(json.dumps(out))
    return 0


def cmd_model(args: argparse.Namespace) -> int:
    """Trained-model artifact lifecycle (reference ``app.py:22-23,
    207-218`` loads ``trained_models/*.pkl``; here artifacts are
    engine-portable JSON): ``--train`` fits distributed and writes the
    artifact, ``--score`` loads it and scores the corpus. An xgboost
    JSON dump (``Booster.get_dump(dump_format='json')``) can be scored
    directly via ``--from-xgboost-dump``."""
    import json as _json
    import os

    from .operators.gbt import GBTModel, fit_gbt, predict_gbt
    from .operators.logreg import LogRegModel, fit_logreg, score_expr
    from .queries.ml_queries import doc_gbt_features, doc_lang_features
    from .tables import load

    spark = _spark("model")
    docs = load(spark, args.sf_dir, "documents")
    if args.train:
        if args.train == "gbt":
            if args.objective == "binary":
                feats = doc_lang_features(docs)
                features, label = ["n_tok", "avg_len", "stop_ratio"], "is_en"
            else:
                feats = doc_gbt_features(docs)
                features, label = ["n_tokens", "n_uniq", "first_len"], "n_chars"
            model = fit_gbt(
                feats,
                features,
                label,
                n_trees=args.n_trees,
                max_depth=args.max_depth,
                objective=args.objective,
            )
        else:
            feats = doc_lang_features(docs)
            model = fit_logreg(
                feats, ["n_tok", "avg_len", "stop_ratio"], "is_en",
                n_iters=args.n_iters,
            )
        os.makedirs(os.path.dirname(os.path.abspath(args.artifact)), exist_ok=True)
        with open(args.artifact, "w") as f:
            f.write(model.to_json())
        print(_json.dumps({"artifact": args.artifact, "kind": args.train}))
        return 0
    # --score path
    with open(args.artifact) as f:
        raw = f.read()
    def feats_for(feature_names: list[str]):
        lang_cols = {"n_tok", "avg_len", "stop_ratio"}
        return (
            doc_lang_features(docs)
            if set(feature_names) & lang_cols
            else doc_gbt_features(docs)
        )

    if args.from_xgboost_dump:
        model = GBTModel.from_xgboost_dump(
            _json.loads(raw), features=args.features or ["n_tokens", "n_uniq", "first_len"]
        )
        scored = predict_gbt(feats_for(model.features), model)
    else:
        spec = _json.loads(raw)
        if "trees" in spec:
            model = GBTModel.from_json(raw)
            scored = predict_gbt(feats_for(model.features), model)
        else:
            lr = LogRegModel.from_json(raw)
            scored = doc_lang_features(docs).withColumn("score", score_expr(lr))
    scored.select("doc_id", "score").orderBy("doc_id").show(args.limit)
    return 0


def cmd_matview(args: argparse.Namespace) -> int:
    """Continuous-aggregate lifecycle: --create materializes the view
    over the fixture events table, --refresh folds rows above the
    stored watermark, --show prints the current state."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from .operators import matview, versioned
    from .tables import load

    spark = _spark("matview")
    if args.create:
        ev = load(spark, args.sf_dir, "events")
        v = matview.create(
            ev,
            args.dir,
            args.keys,
            {"n": ("count", "*"), "total": ("sum", args.value_col)},
            args.watermark_col,
        )
        print(json.dumps({"created_version": v, "dir": args.dir}))
        return 0
    if args.refresh:
        ev = load(spark, args.sf_dir, "events")
        print(json.dumps(matview.refresh(spark, args.dir, ev)))
        return 0
    if args.history:
        for m in versioned.versions(args.dir):
            print(json.dumps(m))
        return 0
    matview.read(spark, args.dir).orderBy(*args.keys).show(
        args.limit, truncate=False
    )
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    from .queries import REGISTRY

    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        mark = "oracle" if spec.oracle else "rows-only"
        doc = " ".join((spec.doc or "").split())
        if len(doc) > 100:
            doc = doc[:97] + "..."
        print(f"{name:32s} [{mark}] {doc}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="big_data_pr_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("batch", help="hourly OHLCV batch job (CSV globs -> keyed parquet upsert)")
    b.add_argument("--input", nargs="+", required=True, help="CSV path globs")
    b.add_argument("--table", required=True, help="serving parquet table path")
    b.set_defaults(fn=cmd_batch)

    s = sub.add_parser("stream", help="three-query streaming topology (complete/update/append)")
    s.add_argument("--source", choices=["kafka", "file"], default="file")
    s.add_argument("--brokers", default="localhost:9092")
    s.add_argument("--topic", default="crypto_ohlcv_1m")
    s.add_argument("--path", help="file-source directory (JSON lines, Kafka value contract)")
    s.add_argument("--out", required=True, help="output tables directory")
    s.add_argument("--checkpoint", required=True, help="checkpoint root (one subdir per query)")
    s.add_argument("--trigger-latest", default=None, help="e.g. '15 seconds'; absent -> availableNow")
    s.add_argument("--trigger-stats", default=None, help="needs --trigger-latest; default '1 minute'")
    s.add_argument("--trigger-chart", default=None, help="needs --trigger-latest; default '15 seconds'")
    s.add_argument(
        "--bootstrap-watermark", default=None, metavar="TS",
        help="event-time cutoff in UTC ('YYYY-MM-DD HH:MM:SS'; the "
        "session timezone is pinned UTC): rows older than this belong "
        "to the batch backfill; bounds batch-0 state when starting "
        "over a historical file set (SCALE.md bootstrap rule)",
    )
    s.set_defaults(fn=cmd_stream)

    r = sub.add_parser("retention", help="drop chart partitions outside the keep window")
    r.add_argument("--chart-path", required=True)
    r.add_argument("--keep-dates", nargs="+", required=True, help="event dates YYYY-MM-DD to keep")
    r.set_defaults(fn=cmd_retention)

    q = sub.add_parser("query", help="run a named registry query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true", help="print the formatted physical plan instead")
    q.set_defaults(fn=cmd_query)

    sq = sub.add_parser("sql", help="run ad-hoc Spark SQL over the fixture views")
    sq.add_argument("statement")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument("--explain", action="store_true")
    sq.set_defaults(fn=cmd_sql)

    ls = sub.add_parser("list", help="list registry queries")
    ls.set_defaults(fn=cmd_list)

    mv = sub.add_parser(
        "matview",
        help="continuous aggregate: --create materializes, --refresh "
        "folds rows above the stored watermark (O(delta)), --history "
        "prints version manifests, default shows current state",
    )
    mv.add_argument("--dir", required=True, help="materialized-view directory")
    mv.add_argument("--create", action="store_true")
    mv.add_argument("--refresh", action="store_true")
    mv.add_argument("--history", action="store_true")
    mv.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    mv.add_argument("--keys", nargs="+", default=["event_type"])
    mv.add_argument("--value-col", default="value")
    mv.add_argument("--watermark-col", default="ts")
    mv.add_argument("--limit", type=int, default=20)
    mv.set_defaults(fn=cmd_matview)

    md = sub.add_parser(
        "model",
        help="model artifact lifecycle: --train gbt|logreg fits "
        "distributed and writes a JSON artifact; --score loads and "
        "scores the corpus (xgboost JSON dumps score directly via "
        "--from-xgboost-dump)",
    )
    md.add_argument("--artifact", required=True, help="model JSON path")
    md.add_argument("--train", choices=["gbt", "logreg"])
    md.add_argument("--score", action="store_true")
    md.add_argument("--from-xgboost-dump", action="store_true")
    md.add_argument("--features", nargs="+")
    md.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    md.add_argument("--n-trees", type=int, default=8)
    md.add_argument("--max-depth", type=int, default=3)
    md.add_argument(
        "--objective",
        choices=["regression", "binary"],
        default="regression",
        help="gbt objective: regression (n_chars) or binary (is-English gate)",
    )
    md.add_argument("--n-iters", type=int, default=30)
    md.add_argument("--limit", type=int, default=10)
    md.set_defaults(fn=cmd_model)

    mt = sub.add_parser(
        "maintain",
        help="versioned-table maintenance: --history prints manifests; "
        "--optimize rewrites the current version (optionally Z-ordered) "
        "as a new atomic commit; --vacuum-keep N drops older data dirs",
    )
    mt.add_argument("--table", required=True, help="versioned table directory")
    mt.add_argument("--history", action="store_true")
    mt.add_argument("--optimize", action="store_true")
    mt.add_argument("--zorder", nargs="+", help="columns to Z-order by")
    mt.add_argument("--target-file-mb", type=int, default=128)
    mt.add_argument("--vacuum-keep", type=int, default=None)
    mt.set_defaults(fn=cmd_maintain)

    cp = sub.add_parser(
        "corpus",
        help="end-to-end pretraining-corpus build: scrub -> dedup -> "
        "decontaminate -> split -> pack -> partitioned write (prints "
        "per-stage metrics JSON)",
    )
    cp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cp.add_argument("--out", required=True, help="output directory")
    cp.add_argument("--benchmark-path", help="parquet of held-out eval docs to decontaminate against")
    cp.add_argument(
        "--holdout-benchmark",
        action="store_true",
        help="use doc_id%%10==0 as the benchmark (fixture demo mode)",
    )
    cp.add_argument("--quality-min", type=float, default=0.3)
    cp.add_argument("--pack-capacity", type=int, default=512)
    cp.set_defaults(fn=cmd_corpus)

    fc = sub.add_parser(
        "forecast",
        help="24-step recursive forecast from the reference's REAL "
        "pickled artifacts (restricted unpickler + UBJSON booster "
        "decode; app.py /api/predict_xgboost parity)",
    )
    fc.add_argument("--symbol", default="BTC_USDT")
    fc.add_argument("--artifacts", default="/root/reference/trained_models")
    fc.add_argument("--steps", type=int, default=24)
    fc.add_argument("--hist", help="historical candles table (batch --table); omitted -> synthetic mid-range window")
    fc.set_defaults(fn=cmd_forecast)

    sv = sub.add_parser(
        "serve",
        help="stdlib HTTP serving facade: the reference app.py routes "
        "(/ /historical /api/realtime_stats /api/chart_data_1m "
        "/api/historical_data /api/predict_xgboost) over parquet "
        "serving tables — no Flask/ES dependency",
    )
    sv.add_argument("--hist", help="historical candles table (batch --table)")
    sv.add_argument("--latest", help="latest-snapshot table (stream --out/latest)")
    sv.add_argument("--stats", help="windowed-stats table (stream --out/stats)")
    sv.add_argument("--chart", help="1m chart table (stream --out/chart)")
    # no machine-specific default: with no artifacts dir the predict
    # endpoint answers 404 "No artifacts directory configured."
    sv.add_argument("--artifacts", default=None)
    sv.add_argument("--host", default="127.0.0.1",
                    help="bind address (0.0.0.0 to expose externally)")
    sv.add_argument("--port", type=int, default=5000)
    sv.set_defaults(fn=cmd_serve)

    rg = sub.add_parser(
        "rag",
        help="RAG index lifecycle: --build chunks+embeds+writes the "
        "cell-partitioned IVF index; --query TEXT retrieves top-k "
        "chunks via partition-pruned probes",
    )
    rg.add_argument("--index", required=True, help="index directory")
    rg.add_argument("--build", action="store_true")
    rg.add_argument("--query")
    rg.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rg.add_argument("--limit-docs", type=int, default=0)
    rg.add_argument("--n-list", type=int, default=16)
    rg.add_argument("--dim", type=int, default=64)
    rg.add_argument("--k", type=int, default=5)
    rg.add_argument("--n-probe", type=int, default=4)
    rg.set_defaults(fn=cmd_rag)

    args = ap.parse_args(argv)
    if args.cmd == "stream" and args.source == "file" and not args.path:
        ap.error("--path is required with --source file")
    if args.cmd == "stream" and not args.trigger_latest and (args.trigger_stats or args.trigger_chart):
        ap.error("--trigger-stats and --trigger-chart need --trigger-latest")
    if args.cmd == "model" and not (args.train or args.score):
        ap.error("pass --train gbt|logreg or --score")
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
