"""System-under-test host: one process, one SparkSession, the repo's
own CLI commands.

Each command the benchmark sends (one JSON object per line on stdin)
runs ``big_data_pr_spark.__main__.main(argv)`` — the same argument
parsing and ``cmd_*`` functions as ``python -m big_data_pr_spark`` —
either to completion or in a background thread (``serve``, and a
``batch`` and a ``stream`` drain run side by side). Keeping the layers
in one JVM pays the JVM launch once per run instead of once per command.

With ``--trace`` the host wraps the public functions of each layer
module (batch, streaming sinks, serving backend, forecast, artifact
loaders) in spans, and listens to streaming progress events. Spans and
counts stay in memory until the benchmark asks for them.

Replies go to the original stdout as JSON lines; anything the commands
print goes to stderr.

    python perfbench/host.py [--trace]     # run by perfbench/run.py
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback

from spans import Tracer


class Host:
    def __init__(self, trace: bool):
        self.tracer = Tracer(enabled=trace)
        self.threads: dict[str, threading.Thread] = {}
        self.errors: dict[str, str] = {}
        self.elapsed: dict[str, float] = {}
        self.progress: list[dict] = []
        self.counts: dict[str, float] = {}
        self.spark = None

    # -- commands --------------------------------------------------------
    def start(self) -> dict:
        from big_data_pr_spark.session import get_spark

        t0 = time.monotonic()
        with self.tracer.span("session.start", rid="setup"):
            self.spark = get_spark("perfbench-host")
            self.spark.range(1).count()  # first job: class loading + JIT
        t1 = time.monotonic()
        if self.tracer.enabled:
            self._instrument()
        return {"session_start_s": t1 - t0}

    def cli(self, argv: list[str], rid: str) -> dict:
        from big_data_pr_spark.__main__ import main

        with self.tracer.span(f"cli.{argv[0]}", rid=rid):
            return {"rc": main(argv)}

    def cli_bg(self, name: str, argv: list[str], rid: str | None = None) -> dict:
        from big_data_pr_spark.__main__ import main

        def run():
            t0 = time.monotonic()
            try:
                with self.tracer.span(f"cli.{argv[0]}", rid=rid or name):
                    rc = main(argv)
                if rc:
                    self.errors[name] = f"{argv[0]} exited {rc}"
            except Exception:  # noqa: BLE001 — reported to the benchmark
                self.errors[name] = traceback.format_exc(limit=3)
            self.elapsed[name] = time.monotonic() - t0

        t = threading.Thread(target=run, name=name, daemon=True)
        t.start()
        self.threads[name] = t
        return {}

    def join(self, name: str) -> dict:
        self.threads[name].join()
        if name in self.errors:
            raise RuntimeError(self.errors[name])
        return {"elapsed_s": self.elapsed[name]}

    def stop_streams(self) -> dict:
        for q in self.spark.streams.active:
            q.stop()
        return {}

    def collect(self) -> dict:
        return {
            "spans": self.tracer.spans,
            "progress": self.progress,
            "counts": self.counts,
            "errors": self.errors,
        }

    # -- tracing ---------------------------------------------------------
    def _count(self, key: str, v: float) -> None:
        with self.tracer.lock:
            self.counts[key] = self.counts.get(key, 0) + v

    def _instrument(self) -> None:
        """Wrap module attributes, so every caller that looks them up at
        call time (run_batch, the foreachBatch lambdas, the serving
        routes' local imports) goes through a span."""
        import pyarrow.parquet as pq
        from pyspark.sql.streaming import StreamingQueryListener

        from big_data_pr_spark.ohlcv import artifacts, batch, forecast, serving, serving_http, xgb_ubjson
        from big_data_pr_spark.streaming import pipeline

        tr = self.tracer
        tr.wrap(batch, "run_batch", "batch.run_batch")
        tr.wrap(batch, "build_serving_df", "batch.build")
        tr.wrap(batch, "upsert_parquet", "batch.upsert")
        tr.wrap(pipeline, "_overwrite_keyed", "stream.latest_snapshot.sink")
        tr.wrap(artifacts, "load_minmax_scaler", "forecast.artifact_load")
        tr.wrap(xgb_ubjson, "load_reference_regressor", "forecast.artifact_load")
        tr.wrap(serving, "model_input_topk", "forecast.topk")
        tr.wrap(forecast, "recursive_forecast", "forecast.loop")

        upsert = pipeline._upsert_keyed  # noqa: SLF001

        def upsert_counted(df, path, key="doc_id"):
            with tr.span("stream.window_stats.sink"):
                upsert(df, path, key)
            self._count("stream.window_stats.rows_rewritten", pq.ParquetDataset(path).read(columns=[]).num_rows)

        pipeline._upsert_keyed = upsert_counted  # noqa: SLF001

        sc = self.spark.sparkContext
        routes = {
            "realtime_stats": "realtime", "chart_data_1m": "chart",
            "historical_data": "history", "predict": "forecast",
            "realtime_page": "page", "historical_page": "page",
        }
        for meth, route in routes.items():
            orig = getattr(serving_http.ServingBackend, meth)

            def traced(backend, *a, _orig=orig, _route=route):
                group = f"req-{threading.get_ident()}-{time.monotonic_ns()}"
                sc.setJobGroup(group, _route)
                try:
                    with tr.span(f"backend.{_route}"):
                        res = _orig(backend, *a)
                finally:
                    self._count(f"serve.{_route}.calls", 1)
                    self._count(f"serve.{_route}.spark_jobs",
                                len(sc.statusTracker().getJobIdsForGroup(group)))
                body = res[0] if isinstance(res, tuple) else res
                if isinstance(body, dict):  # realtime: latest + stats; history: labels
                    rows = len(body["labels"]) if "labels" in body else sum(1 for v in body.values() if v)
                else:
                    rows = len(body) if isinstance(body, list) else 1
                self._count(f"serve.{_route}.rows", rows)
                self._count(f"serve.{_route}.bytes", len(json.dumps(body, default=str)))
                return res

            setattr(serving_http.ServingBackend, meth, traced)

        make_handler = serving_http.make_handler

        def make_traced_handler(backend):
            cls = make_handler(backend)
            get = cls.do_GET

            def do_get(handler):
                with tr.span("http.handle", rid=handler.headers.get("X-Request-Id")):
                    get(handler)

            cls.do_GET = do_get
            return cls

        serving_http.make_handler = make_traced_handler

        host = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                host.progress.append({
                    "name": p.name, "batchId": p.batchId,
                    "rows": p.numInputRows, "durationMs": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "state_updated": sum(o.numRowsUpdated for o in ops),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())


def main() -> int:
    trace = "--trace" in sys.argv[1:]
    reply = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # command output and JVM chatter go to stderr
    sys.stdout = sys.stderr
    host = Host(trace)
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg.pop("cmd")
        try:
            if cmd == "exit":
                reply.write(json.dumps({"ok": True}) + "\n")
                break
            out = getattr(host, cmd)(**msg)
            reply.write(json.dumps({"ok": True, **out}, default=str) + "\n")
        except Exception as exc:  # noqa: BLE001 — the benchmark decides
            reply.write(json.dumps({"ok": False, "error": f"{type(exc).__name__}: {exc}"}) + "\n")
    if host.spark is not None:
        host.stop_streams()
        host.spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
