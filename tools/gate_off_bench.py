#!/usr/bin/env python
"""Distributed-path coverage bench for the gated driver-replay queries
(r13 verdict #7 / r14).

The cardinality gates (kcore/ktruss driver peels, pagerank driver
replay, BFS dict walk, embedding-LSH / k-center / cosine-grid vector
gates) mean sf0.1 bench runs no longer exercise the distributed
implementations of these operators — only pytest parity does. This
tool runs each gated query TWICE at a chosen SF in one session — gate
ON (default envs) and gate OFF (env forced 0, distributed plan) —
and prints one JSON line per query with both timings plus a row-count
equality check, so SCALE.md keeps a measured record of the
distributed paths.

Usage: python tools/gate_off_bench.py [sf_dir] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# query -> env vars that force its driver/broadcast shortcut off
GATES: dict[str, list[str]] = {
    "pagerank_event_transitions": ["SPARK_GRAFT_PAGERANK_DRIVER_MAX"],
    "kcore_parts": ["SPARK_GRAFT_KCORE_DRIVER_MAX_EDGES"],
    "ktruss_suppliers": ["SPARK_GRAFT_TRUSS_DRIVER_MAX"],
    "contamination_transitive": ["SPARK_GRAFT_BFS_DRIVER_MAX_EDGES"],
    "embedding_dup_pairs_lsh": ["SPARK_GRAFT_EMB_DRIVER_MAX_VECS"],
    "kcenter_coreset_greedy": ["SPARK_GRAFT_EMB_DRIVER_MAX_VECS"],
    "embedding_dup_pairs": ["SPARK_GRAFT_COSINE_ARROW_MAX_VECS"],
}


def main() -> int:
    ap = argparse.ArgumentParser(description="gate-on vs gate-off timings of the gated queries")
    ap.add_argument("sf_dir", nargs="?", help="fixture directory (default: sf0.01)")
    ap.add_argument("--reps", type=int, default=2, help="runs per mode; the minimum is reported")
    ns = ap.parse_args()
    reps = ns.reps
    args = [ns.sf_dir] if ns.sf_dir else []
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    from big_data_pr_spark.queries import REGISTRY
    from big_data_pr_spark.session import get_spark

    spark = get_spark("gate_off_bench")
    REGISTRY["q1_pricing"].fn(spark, sf_dir).count()  # JVM warm
    for name, envs in GATES.items():
        if name not in REGISTRY:
            continue
        row: dict = {"query": name, "sf_dir": sf_dir}
        for mode, val in (("gate_on", None), ("gate_off", "0")):
            for e in envs:
                if val is None:
                    os.environ.pop(e, None)
                else:
                    os.environ[e] = val
            runs, n_rows = [], None
            for _ in range(max(1, reps)):
                t0 = time.time()
                n_rows = REGISTRY[name].fn(spark, sf_dir).count()
                runs.append(time.time() - t0)
            row[f"{mode}_sec"] = round(min(runs), 3)
            row[f"{mode}_rows"] = n_rows
        for e in envs:
            os.environ.pop(e, None)
        row["rows_match"] = row["gate_on_rows"] == row["gate_off_rows"]
        print(json.dumps(row), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
