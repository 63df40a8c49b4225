"""Lambda-path benchmark: batch -> serve and the hourly batch cycle,
each run against the repo's own CLI commands.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/METRICS.md`` has the reasons and the layer ->
metric map):

- ``serve_read``: backfill with ``batch``, drain the stream with
  ``stream`` (availableNow), start ``serve``; after a fixed warm-up, a
  closed loop of ``nproc`` clients sends the dashboard routes that
  answer correctly, then a fixed set of requests to the routes with
  known defects (the probes).
- ``batch_hourly``: backfill, then hourly cycles that add one update
  file per symbol and re-run ``batch`` over history and updates.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``:
set-up CPU seconds and I/O per operation; the per-layer metrics with
``--trace 1``). The line before it carries the details: every
named metric of METRICS.md (or why it is missing), failure and
known-defect reasons, seed, ``nproc``, load average and CPU steal. Work
files go to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import shutil
import signal
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np

import checks
import gen
from gen import HOUR_MS, MINUTE_MS
from spans import Tracer, format_table, self_times, span_self
from sut import ROOT, HostProcess, free_port, nproc
from synth_models import make_model, replay_forecast, write_artifacts

WORK_ROOT = ROOT / ".perfbench_work"
QUERIES = {"latest_snapshot": "latest_ohlcv", "window_stats": "ohlcv_stats", "raw_chart": "raw_ohlcv_chart"}
FORECAST_K = 5
# the defects of the system when this benchmark was written: a request
# that fails with one of these is reported, not counted in ``failed``;
# any other wrong answer is a failure (METRICS.md has the causes)
KNOWN_DEFECTS = frozenset({
    "chart_500_no_event_timestamp_column",
    "history_empty",
    "predict_404_no_history_rows",
})


# -- small helpers -----------------------------------------------------------

def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it; below
    21 samples that would not lie above the median."""
    n = len(values)
    if n < 21:
        return {"missing": f"{n} samples; a tail needs at least 21"}
    r = n - 11
    return {"value": sorted(values)[r], "percentile": round(100.0 * (r + 1) / n, 2), "samples": n}


def p50(values: list[float]) -> dict:
    if not values:
        return {"missing": "no correct responses"}
    return {"value": statistics.median(values), "samples": len(values)}


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def http_get(port: int, path: str, rid: str, timeout: float = 60.0) -> tuple[int, object]:
    """(status, decoded body); status 0 when no well-formed response came."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path, headers={"X-Request-Id": rid})
        resp = conn.getresponse()
        raw = resp.read()
        ctype = resp.getheader("Content-Type", "")
        body = json.loads(raw) if ctype.startswith("application/json") else raw.decode()
        return resp.status, body
    except (OSError, http.client.HTTPException, ValueError) as exc:
        return 0, {"error": repr(exc)}
    finally:
        conn.close()


def wait_for(pred, timeout: float, what: str, step: float = 0.1):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        v = pred()
        if v:
            return v
        time.sleep(step)
    raise TimeoutError(f"timed out waiting for {what}")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# -- the run -------------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = WORK_ROOT / f"{workload}-seed{seed}-trace{int(trace)}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.tracer = Tracer(enabled=trace)
        self.host: HostProcess | None = None
        self.attempted = 0
        self.failures: Counter = Counter()      # wrong answers, by reason
        self.known: Counter = Counter()         # answers showing a known defect, by reason
        self.why: dict[str, Counter] = defaultdict(Counter)  # route -> reasons of its wrong answers
        self.lat: dict[str, list[float]] = defaultdict(list)       # route -> correct round trips (ms)
        self.lat_all: dict[str, list[float]] = defaultdict(list)   # route -> every round trip (ms)
        self.named: dict[str, dict] = {}
        self.e2e: dict[str, float] = {}
        self.info: dict = {"seed": seed, "nproc": nproc(), "loadavg_start": loadavg()}
        self.stat0 = cpu_times()
        self.lock = threading.Lock()
        self.layer_session_s = 0.0
        self.layer_dirs: dict[str, Path] = {}
        self.batch_rows = {"read": 0, "new": 0}

    # bookkeeping ---------------------------------------------------------
    def outcome(self, route: str, reason: str | None, ms: float) -> None:
        with self.lock:
            self.attempted += 1
            self.lat_all[route].append(ms)
            if reason is None:
                self.lat[route].append(ms)
                return
            self.why[route][reason] += 1
            if reason in KNOWN_DEFECTS:
                self.known[reason] += 1
            else:
                self.failures[reason] += 1

    def launch(self) -> None:
        self.host = HostProcess(self.work, self.trace)
        with self.tracer.span("setup.session", rid="setup"):
            r = self.host.call("start")
        self.layer_session_s = r["session_start_s"]

    def cli(self, argv: list[str], rid: str) -> None:
        with self.tracer.span(f"step.{argv[0]}", rid=rid):
            rc = self.host.call("cli", argv=argv, rid=rid)["rc"]
        if rc != 0:
            raise RuntimeError(f"{argv[0]} exited {rc}")

    def serve(self, *, hist=None, latest=None, stats=None, chart=None, artifacts=None) -> int:
        port = free_port()
        argv = ["serve", "--port", str(port)]
        for flag, v in (("--hist", hist), ("--latest", latest), ("--stats", stats),
                        ("--chart", chart), ("--artifacts", artifacts)):
            if v:
                argv += [flag, str(v)]
        self.host.call("cli_bg", name="serve", argv=argv)
        return port

    def ready(self) -> None:
        """The system is set up: record its set-up time, in CPU seconds of
        the whole process tree (the bounded metric) and on the wall clock."""
        self.e2e["setup_s"] = self.host.cpu_s()
        self.named["setup_s"] = {"value": self.e2e["setup_s"],
                                 "wall_s": time.monotonic() - self.host.t_launch}

    def finish(self) -> dict:
        d = [b - a for a, b in zip(self.stat0, cpu_times())]
        self.info["loadavg_end"] = loadavg()
        self.info["cpu_steal_pct"] = round(100.0 * d[7] / max(1, sum(d)), 3) if len(d) > 7 else 0.0
        self.named["error_ratio"] = {
            "value": (sum(self.failures.values()) + sum(self.known.values())) / max(1, self.attempted),
            "attempted": self.attempted,
        }
        return self.info


# -- workloads -------------------------------------------------------------------

SERVE_SYMBOLS = 20
SERVE_HOURS = 500
SERVE_STREAM_MINUTES = 120
# the measured loop sends the routes that answered correctly when this
# was written, in the dashboard's proportions (50 % realtime, 5 % pages);
# the other routes (25 % chart, 15 % history, 5 % forecast) go in a fixed
# set of probe requests after it, so that fixing one of them does not
# change what the measured loop's CPU and I/O per request cover
MEASURED_SLOTS = ["realtime"] * 5 + ["page"] + ["realtime"] * 5
PROBE_ROUNDS = 7  # 5 chart, 3 history, 1 forecast each: 21 history samples, enough for a tail
PROBE_SLOTS = ["chart", "history", "chart", "forecast", "chart", "history", "chart", "history", "chart"]
HISTORY_RANGES = ["1m", "3m", "1y", "all"]
WARM_PER_CLIENT = 12  # warm-up requests per client, after set-up and before the measured loop


def closed_loop(n: int, job, tag: str, request) -> None:
    """``n`` clients; client ``c`` sends ``job(c, j)`` = (route, k) for
    j = 0, 1, ... one at a time, until it returns None."""

    def client(c: int) -> None:
        j = 0
        while (item := job(c, j)) is not None:
            request(*item, f"{tag}{c}-{j}")
            j += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def serve_read(run: Run) -> None:
    now = time.time() * 1000
    anchor_h = int(now // HOUR_MS * HOUR_MS)
    anchor_m = int(now // MINUTE_MS * MINUTE_MS)
    syms = gen.symbols(SERVE_SYMBOLS)
    hist = gen.price_series(run.seed, syms, SERVE_HOURS, anchor_h - SERVE_HOURS * HOUR_MS, HOUR_MS)
    live = gen.price_series(run.seed + 1, syms, SERVE_STREAM_MINUTES,
                            anchor_m - SERVE_STREAM_MINUTES * MINUTE_MS, MINUTE_MS)
    csv_dir, src, art = run.work / "csv", run.work / "src", run.work / "artifacts"
    gen.write_history_csvs(str(csv_dir), hist)
    src.mkdir()
    for j, rows in enumerate(gen.stream_files(run.seed, live, per_file=10)):
        gen.publish(str(src / f"part-{j:04d}.json"), [gen.stream_message(*r) for r in rows])
    models = {}
    for j, sym in enumerate(syms):
        c = hist.closes[sym]
        models[sym] = make_model(run.seed * 1000 + j, FORECAST_K, float(c.min()) * 0.9, float(c.max()) * 1.1)
        write_artifacts(str(art), sym, models[sym])

    run.launch()
    table, out, ck = run.work / "hist", run.work / "out", run.work / "ck"
    # the backfill and the stream drain are independent: run them side by side
    with run.tracer.span("step.batch+stream", rid="setup"):
        run.host.call("cli_bg", name="backfill", rid="setup", argv=[
            "batch", "--input", str(csv_dir / "*_1h.csv"), "--table", str(table)])
        run.host.call("cli_bg", name="drain", rid="setup", argv=[
            "stream", "--path", str(src), "--out", str(out), "--checkpoint", str(ck)])
        backfill_s = run.host.call("join", name="backfill")["elapsed_s"]
        drain_s = run.host.call("join", name="drain")["elapsed_s"]
    run.batch_rows = {"read": SERVE_HOURS * SERVE_SYMBOLS, "new": SERVE_HOURS * SERVE_SYMBOLS}
    port = run.serve(hist=table, latest=out / "latest", stats=out / "stats",
                     chart=out / "chart", artifacts=art)
    with run.tracer.span("step.serve_start", rid="setup"):
        wait_for(lambda: http_get(port, "/api/realtime_stats/S000-USDT", "ready")[0] == 200,
                 90, "the serve command", step=0.05)
    run.ready()

    live_rows = {sym: {live.ts(i): float(c) for i, c in enumerate(cl)} for sym, cl in live.closes.items()}
    newest = {sym: live.ts(SERVE_STREAM_MINUTES - 1) for sym in syms}
    expect_pages = {"/": [gen.slash(s) for s in syms], "/historical": [f"{s}_1h" for s in syms]}

    def request(route: str, k: int, rid: str) -> None:
        sym = syms[k % len(syms)]
        if route == "realtime":
            path = f"/api/realtime_stats/{gen.slash(sym).replace('/', '-')}"
        elif route == "chart":
            path = f"/api/chart_data_1m/{gen.slash(sym).replace('/', '-')}"
        elif route == "history":
            path = f"/api/historical_data/{sym}_1h?range={HISTORY_RANGES[k % 4]}"
        elif route == "forecast":
            path = f"/api/predict_xgboost/{sym}_1h"
        else:
            path = "/" if k % 2 == 0 else "/historical"
        with run.tracer.span(f"request.{route}", rid=rid):
            t = time.monotonic()
            status, body = http_get(port, path, rid)
            ms = (time.monotonic() - t) * 1000.0

        def judge() -> str | None:
            if route == "realtime":
                return checks.check_realtime(status, body, live_rows[sym], newest[sym])
            if route == "chart":
                return checks.check_chart(status, body, live_rows[sym], int(time.time() * 1000))
            if route == "history":
                days = {"1m": 30, "3m": 90, "1y": 365}.get(HISTORY_RANGES[k % 4])
                cut = -1 if days is None else time.time() * 1000 - days * 86_400_000
                n_want = sum(hist.ts(i) >= cut for i in range(SERVE_HOURS))
                return checks.check_history(status, body, hist.closes[sym], n_want)
            if route == "forecast":
                want = replay_forecast(models[sym], list(hist.closes[sym][-FORECAST_K:]))
                return checks.check_forecast(status, body, want, hist.ts(SERVE_HOURS - 1))
            return checks.check_page(status, body, expect_pages[path])

        run.outcome(route, checks.guarded(route, judge), ms)

    n = nproc()
    slot = lambda c, j: MEASURED_SLOTS[(3 * c + j) % len(MEASURED_SLOTS)]  # noqa: E731
    # warm-up: a fixed number of requests, outside set-up and the
    # measured loop; the JIT compiles the serving path here
    closed_loop(n, lambda c, j: (slot(c, j), c * 7 + j) if j < WARM_PER_CLIENT else None, "w", request)
    for tally in (run.lat, run.lat_all):
        tally.clear()

    sent0 = run.attempted
    t_start = time.monotonic()
    cpu0, io0 = run.host.cpu_s(), run.host.io_bytes()
    deadline = t_start + run.seconds
    closed_loop(n, lambda c, j: (slot(c, j), c * 7 + j) if time.monotonic() < deadline else None, "c", request)
    elapsed = time.monotonic() - t_start
    sent = run.attempted - sent0
    run.info["cpu_ms_per_op"] = (run.host.cpu_s() - cpu0) * 1000.0 / sent
    run.e2e["io_kb_per_op"] = (run.host.io_bytes() - io0) / 1024.0 / sent
    run.info.update(clients=n, measured_s=elapsed, measured_requests=sent)
    ok = sum(len(v) for v in run.lat.values())

    probes = [(PROBE_SLOTS[i % len(PROBE_SLOTS)], i) for i in range(PROBE_ROUNDS * len(PROBE_SLOTS))]
    closed_loop(n, lambda c, j: probes[c + j * n] if c + j * n < len(probes) else None, "p", request)

    def lat(route: str, of=p50) -> dict:
        got = of(run.lat[route])
        if "missing" in got and run.why[route]:
            got["missing"] += f"; wrong answers: {dict(run.why[route])}"
        return got

    run.named.update({
        "realtime_p50_ms": lat("realtime"), "realtime_tail_ms": lat("realtime", tail),
        "chart_p50_ms": lat("chart"),
        "history_p50_ms": lat("history"), "history_tail_ms": lat("history", tail),
        "forecast_p50_ms": lat("forecast"), "page_p50_ms": lat("page"),
        "serve_ok_rps": {"value": ok / elapsed},
        "batch_backfill_s": {"value": backfill_s},
    })
    run.info["stream_drain_s"] = drain_s
    run.layer_dirs = {"hist": table, "ck": ck}


BATCH_SYMBOLS = 10
BATCH_HOURS = 1000


def batch_hourly(run: Run) -> None:
    now = time.time() * 1000
    anchor_h = int(now // HOUR_MS * HOUR_MS)
    syms = gen.symbols(BATCH_SYMBOLS)
    max_cycles = 200
    series = gen.price_series(run.seed, syms, BATCH_HOURS + max_cycles,
                              anchor_h - BATCH_HOURS * HOUR_MS, HOUR_MS)
    hist_dir, upd_dir, table = run.work / "history", run.work / "updates", run.work / "hist"
    gen.write_history_csvs(str(hist_dir), series, last=BATCH_HOURS)
    upd_dir.mkdir()

    run.launch()
    t0 = time.monotonic()
    run.cli(["batch", "--input", str(hist_dir / "*_1h.csv"), "--table", str(table)], rid="setup")
    backfill_s = time.monotonic() - t0
    run.ready()
    cycles = 0

    def cycle(rid: str) -> None:
        nonlocal cycles
        gen.write_update_csvs(str(upd_dir), series, BATCH_HOURS + cycles)
        cycles += 1
        run.cli(["batch", "--input", str(hist_dir / "*_1h.csv"), str(upd_dir / "*_update_*.csv"),
                 "--table", str(table)], rid=rid)

    # warm-up: the first cycle is the first upsert into an existing
    # table; its code paths are compiled here, outside the measurement
    cycle("warm")

    cycle_s, cycle_cpu_s, cycle_io = [], [], []
    deadline = time.monotonic() + run.seconds
    while not cycle_s or time.monotonic() < deadline:
        t, c, io = time.monotonic(), run.host.cpu_s(), run.host.io_bytes()
        cycle(f"cycle-{cycles + 1}")
        cycle_s.append(time.monotonic() - t)
        cycle_cpu_s.append(run.host.cpu_s() - c)
        cycle_io.append(run.host.io_bytes() - io)
    run.info["cpu_ms_per_op"] = statistics.median(cycle_cpu_s) * 1000.0
    run.e2e["io_kb_per_op"] = statistics.median(cycle_io) / 1024.0
    run.attempted = len(cycle_s) + 1  # the warm-up cycle, checked with the rest by the table check
    reason = checks.check_hist_table(str(table), series, BATCH_HOURS + cycles,
                                     np.random.default_rng(run.seed))
    if reason:
        run.failures[reason] += 1
    rows = (BATCH_HOURS + cycles) * BATCH_SYMBOLS
    run.info.update(cycle_s=cycle_s, cycle_cpu_s=cycle_cpu_s, cycle_io_kb=[b / 1024 for b in cycle_io])
    run.named.update({
        "batch_backfill_s": {"value": backfill_s},
        "batch_update_s": {"value": statistics.median(cycle_s), "samples": len(cycle_s)},
    })
    run.layer_dirs = {"hist": table}
    run.batch_rows = {"read": rows, "new": BATCH_SYMBOLS}


WORKLOADS = {"serve_read": serve_read, "batch_hourly": batch_hourly}


# -- reporting -------------------------------------------------------------------

NAMED_UNITS = {
    "setup_s": "s", "realtime_p50_ms": "ms", "realtime_tail_ms": "ms", "chart_p50_ms": "ms",
    "history_p50_ms": "ms", "history_tail_ms": "ms", "forecast_p50_ms": "ms",
    "page_p50_ms": "ms", "serve_ok_rps": "1/s", "error_ratio": "ratio",
    "ingest_lag_p50_s": "s", "ingest_lag_tail_s": "s", "ingest_backlog_rows": "count",
    "batch_backfill_s": "s", "batch_update_s": "s", "peak_rss_mb": "MB",
}
E2E_UNITS = {"setup_s": "s", "io_kb_per_op": "KiB"}
ROUTES = ("realtime", "chart", "history", "forecast", "page")
STREAM_FIELDS = ("triggerExecution", "addBatch", "walCommit", "queryPlanning")


def link_spans(mine: list[dict], theirs: list[dict]) -> list[dict]:
    """Parent each top-level host span to the benchmark span of the same
    request id that was open when it started."""
    by_rid = defaultdict(list)
    for s in mine:
        by_rid[s["rid"]].append(s)
    for s in theirs:
        if s["parent"] is None and s["rid"] in by_rid:
            outer = [m for m in by_rid[s["rid"]] if m["start"] <= s["start"] <= m["end"]]
            if outer:
                s["parent"] = min(outer, key=lambda m: m["end"] - m["start"])["id"]
    return mine + theirs


def per_layer(run: Run, got: dict) -> dict[str, tuple[float, str]]:
    spans, counts, progress = got["spans"], got["counts"], got["progress"]
    own = span_self(spans)
    # batch spans of the hourly cycles when there are any, else of the backfill
    cycles = {s["id"] for s in spans if (s["rid"] or "").startswith("cycle-")}
    dur, self_s = defaultdict(list), defaultdict(list)
    for s in spans:
        if not s["name"].startswith("batch.") or not cycles or s["id"] in cycles:
            dur[s["name"]].append(s["end"] - s["start"])
            self_s[s["name"]].append(own[s["id"]])

    def med(name: str, scale: float = 1.0, of=dur) -> float:
        return statistics.median(of[name]) * scale if of[name] else 0.0

    m: dict[str, tuple[float, str]] = {"session.start_s": (run.layer_session_s, "s")}
    # batch: medians per run_batch call; recount is run_batch's self time
    m["batch.build_s"] = (med("batch.build"), "s")
    m["batch.upsert_s"] = (med("batch.upsert"), "s")
    m["batch.recount_s"] = (med("batch.run_batch", of=self_s), "s")
    table = run.layer_dirs.get("hist")
    written = files = nbytes = 0
    if table is not None and table.is_dir():
        import pyarrow.parquet as pq

        parts = list(table.rglob("*.parquet"))
        written = sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
        files, nbytes = len(parts), dir_bytes(table)
    rd, new = run.batch_rows["read"], run.batch_rows["new"]
    m.update({
        "batch.rows_read": (rd, "count"), "batch.rows_new": (new, "count"),
        "batch.rows_written": (written, "count"), "batch.table_bytes": (nbytes, "bytes"),
        "batch.files_written": (files, "count"),
        "batch.read_amplification": (rd / new if new else 0.0, "ratio"),
        "batch.write_amplification": (written / new if new else 0.0, "ratio"),
    })
    # streaming: progress events per query
    for q in QUERIES:
        ev = [p for p in progress if p["name"] == q]
        m[f"stream.{q}.batches"] = (len(ev), "count")
        m[f"stream.{q}.rows"] = (sum(p["rows"] for p in ev), "count")
        for f in STREAM_FIELDS:
            vals = [p["durationMs"].get(f, 0) for p in ev]
            key = "trigger" if f == "triggerExecution" else f
            m[f"stream.{q}.{key}_ms_p50"] = (statistics.median(vals) if vals else 0.0, "ms")
        m[f"stream.{q}.state_rows"] = (ev[-1]["state_rows"] if ev else 0, "count")
        m[f"stream.{q}.state_bytes"] = (ev[-1]["state_bytes"] if ev else 0, "bytes")
    updated = sum(p["state_updated"] for p in progress if p["name"] == "window_stats")
    rewritten = counts.get("stream.window_stats.rows_rewritten", 0)
    m["stream.window_stats.write_amplification"] = (rewritten / updated if updated else 0.0, "ratio")
    ck = run.layer_dirs.get("ck")
    m["stream.checkpoint_bytes"] = (dir_bytes(ck) if ck is not None and ck.is_dir() else 0, "bytes")
    # serving: client round trip vs the backend method in the server
    for r in ROUTES:
        calls = counts.get(f"serve.{r}.calls", 0)
        m[f"http.{r}_ms"] = (statistics.median(run.lat_all[r]) if run.lat_all[r] else 0.0, "ms")
        m[f"backend.{r}_ms"] = (med(f"backend.{r}", 1000.0), "ms")
        for c, unit in (("spark_jobs", "count"), ("rows", "count"), ("bytes", "bytes")):
            m[f"serve.{r}.{c}"] = (counts.get(f"serve.{r}.{c}", 0) / calls if calls else 0.0, unit)
    n_fc = len(dur["backend.forecast"])
    m["forecast.artifact_load_ms"] = (sum(dur["forecast.artifact_load"]) * 1000.0 / n_fc if n_fc else 0.0, "ms")
    m["forecast.topk_ms"] = (med("forecast.topk", 1000.0), "ms")
    m["forecast.loop_ms"] = (med("forecast.loop", 1000.0), "ms")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "big_data_pr_spark" / "__main__.py").is_file():
        print(f"system under test not found: {ROOT / 'big_data_pr_spark'}", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError("run exceeded its time limit")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))  # still stop the host
    signal.alarm(145)  # leaves time to stop the host (at most 30 s) within 180 s
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    got = None
    try:
        WORKLOADS[args.workload](run)
        peak = run.host.peak_rss_mb()
        if run.trace:
            got = run.host.call("collect")
            if got["errors"]:
                raise RuntimeError(f"host command failed: {got['errors']}")
    finally:
        signal.alarm(0)
        if run.host is not None:
            run.host.close()
    run.named["peak_rss_mb"] = {"value": peak}
    info = run.finish()
    named = {k: {**run.named.get(k, {"missing": f"not measured by {run.workload}"}), "unit": u}
             for k, u in NAMED_UNITS.items()}
    failed = sum(run.failures.values())
    detail = {
        "workload": run.workload, "trace": run.trace, "named_metrics": named,
        "failures": dict(run.failures), "known_defects": dict(run.known), **info,
    }
    untraced_file = WORK_ROOT / f"untraced-{run.workload}-seed{run.seed}.json"
    if run.trace:
        spans = link_spans(run.tracer.spans, got["spans"])
        (run.work / "spans.json").write_text(json.dumps(spans))
        table = format_table(self_times(spans))
        overhead = "untraced result for this seed not found (run --trace 0 first)"
        if untraced_file.is_file():
            base = json.loads(untraced_file.read_text())
            overhead = {k: {"traced": run.e2e[k], "untraced": base[k], "diff": run.e2e[k] - base[k]}
                        for k in E2E_UNITS if k in base}
        (run.work / "selftime.txt").write_text(
            table + "\n\ntracing overhead (traced - untraced end-to-end):\n" + json.dumps(overhead, indent=1) + "\n")
        print(table)
        detail["tracing_overhead"] = overhead
        detail["span_file"] = str(run.work / "spans.json")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(run, got).items()}
    else:
        untraced_file.write_text(json.dumps(run.e2e))
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in run.e2e.items()}
    for sub in run.work.iterdir():  # inputs, tables, checkpoints; the logs and spans stay
        if sub.is_dir():
            shutil.rmtree(sub)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": max(1, run.attempted),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
