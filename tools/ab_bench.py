#!/usr/bin/env python
"""Interleaved A/B runs of the repo's benchmark (``BENCHMARK.json``):
two git refs, seeds 1-10 on every workload, the order alternating per
pair.

Each ref is checked out as a ``git worktree`` under a temporary
directory, and the benchmark command runs in it, so both sides use
their own committed files. Pair ``i`` (seed ``SEEDS[i]``) runs base
then head when ``i`` is even and head then base when it is odd, for
every workload, so a drift of the host's speed within a set falls on
both sides alike. Each run's result line is printed as it arrives;
at the end, per workload and end-to-end metric, the table gives each
side's median, the paired head/base ratio (median and IQR), the pairs
the head won, the base's own IQR, and ``failed`` per side (a run that
printed no result counts as one failure).

    python tools/ab_bench.py BASE_REF HEAD_REF

Standard library only; the worktrees are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEEDS = list(range(1, 11))


def schedule(seeds: list[int], workloads: list[str]) -> list[tuple[str, int, str]]:
    """(workload, seed, side) in run order: pair ``i`` runs base first
    when ``i`` is even, head first when it is odd."""
    order = []
    for i, seed in enumerate(seeds):
        sides = ("base", "head") if i % 2 == 0 else ("head", "base")
        order += [(w, seed, side) for w in workloads for side in sides]
    return order


def parse_result(stdout: str) -> dict | None:
    """The benchmark's result: the JSON object on its last stdout line."""
    lines = stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except ValueError:
        return None
    return res if isinstance(res, dict) and "metrics" in res else None


def _iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def summarize(runs: list[dict], metrics: list[dict]) -> list[dict]:
    """One row per (workload, end-to-end metric). ``runs`` holds
    ``{"workload", "seed", "side", "result"}`` (``result`` None for a
    run that printed none); ``metrics`` is ``BENCHMARK.json``'s
    ``end_to_end`` list."""
    rows = []
    for w in dict.fromkeys(r["workload"] for r in runs):
        mine = [r for r in runs if r["workload"] == w]
        failed = {side: sum(1 if r["result"] is None else r["result"]["failed"]
                            for r in mine if r["side"] == side) for side in ("base", "head")}
        for m in metrics:
            vals: dict[str, dict[int, float]] = {"base": {}, "head": {}}
            for r in mine:
                got = (r["result"] or {}).get("metrics", {}).get(m["name"])
                if got is not None:
                    vals[r["side"]][r["seed"]] = got["value"]
            pairs = [(vals["base"][s], vals["head"][s]) for s in vals["base"] if s in vals["head"]]
            ratios = [h / b for b, h in pairs if b]
            lower = m.get("better", "lower") == "lower"
            rows.append({
                "workload": w, "metric": m["name"], "unit": m.get("unit", ""),
                "base_median": statistics.median(vals["base"].values()) if vals["base"] else None,
                "head_median": statistics.median(vals["head"].values()) if vals["head"] else None,
                "base_iqr": _iqr(list(vals["base"].values())),
                "ratio_median": statistics.median(ratios) if ratios else None,
                "ratio_iqr": _iqr(ratios),
                "head_wins": sum((h < b) if lower else (h > b) for b, h in pairs),
                "pairs": len(pairs),
                "failed_base": failed["base"], "failed_head": failed["head"],
            })
    return rows


def format_rows(rows: list[dict]) -> str:
    def num(v):
        return "-" if v is None else f"{v:.4g}"

    head = ("workload", "metric", "base_med", "head_med", "ratio_med", "ratio_iqr",
            "head_wins", "base_iqr", "failed b/h")
    lines = [head] + [(
        r["workload"], f"{r['metric']} ({r['unit']})", num(r["base_median"]), num(r["head_median"]),
        num(r["ratio_median"]), num(r["ratio_iqr"]), f"{r['head_wins']}/{r['pairs']}",
        num(r["base_iqr"]), f"{r['failed_base']}/{r['failed_head']}") for r in rows]
    widths = [max(len(x[i]) for x in lines) for i in range(len(head))]
    return "\n".join("  ".join(c.ljust(n) for c, n in zip(x, widths)).rstrip() for x in lines)


def _git(*args: str, check: bool = True) -> None:
    subprocess.run(["git", "-C", str(ROOT), *args], check=check, capture_output=True, text=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", help="git ref of the base side")
    ap.add_argument("head", help="git ref of the head side")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]]
    tmp = Path(tempfile.mkdtemp(prefix="ab_bench-"))
    trees = {"base": tmp / "base", "head": tmp / "head"}
    runs = []
    try:
        for side, ref in (("base", args.base), ("head", args.head)):
            _git("worktree", "add", "--detach", str(trees[side]), ref)
        for w, seed, side in schedule(SEEDS, workloads):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"])]
            out = subprocess.run(cmd, cwd=trees[side], capture_output=True, text=True)
            res = parse_result(out.stdout)
            runs.append({"workload": w, "seed": seed, "side": side, "result": res})
            print(json.dumps(runs[-1]), flush=True)
    finally:
        for tree in trees.values():
            if tree.exists():
                _git("worktree", "remove", "--force", str(tree), check=False)
        _git("worktree", "prune", check=False)
        shutil.rmtree(tmp, ignore_errors=True)
    print(format_rows(summarize(runs, bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
