"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a source checkout, prints its named
figures and correctness checks, and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1` (which also
writes spans and a per-layer self-time table under `.perfbench_out/`).
See perfbench/README.md for workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import ROOT, Harness  # noqa: E402

WORKLOADS = {
    "cdc_ingest": "ingest",
    "table_serve": "serve",
    "analytics_mix": "mix",
}
E2E = ("throughput_per_s", "latency_s_p50", "latency_s_p90", "setup_s",
       "jvm_peak_rss_mb")
LAYERS = ("session.core_busy_ratio", "spark.jobs_per_op",
          "spark.tasks_per_op", "op.plan_s_p50", "op.exec_s_p50",
          "trace.overhead_pct")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if a.seed < 0:
        ap.error("--seed must be a non-negative integer")
    return a


def main(argv=None) -> int:
    a = _args(argv)
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("cdc_plg_spark.lakehouse")
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    wl = importlib.import_module(WORKLOADS[a.workload])
    h = Harness(a.workload, a.seed, a.seconds, bool(a.trace))
    t0 = time.perf_counter()
    try:
        out = wl.run(h)
        if h.trace:
            table = h.layer_table()
            path = h.write_trace(out, table)
    finally:
        h.close()
    wall = time.perf_counter() - t0

    for name, ok, detail in out.checks:
        print(f"check {'PASS' if ok else 'FAIL'}: {name} ({detail})")
    print(f"failed_ratio = {out.failed / max(1, out.attempted):.6g} "
          f"({out.failed}/{out.attempted})")
    for k, (v, unit) in {**out.named, **out.e2e, **out.layers}.items():
        print(f"{k} = {v:.6g} {unit}")
    if h.trace:
        for name, row in table["calls"].items():
            print(f"span {name}: n={row['count']} "
                  f"self_total={row['self_s_total']:.4f}s "
                  f"p50={row['self_s_p50']:.4f}s p90={row['self_s_p90']:.4f}s")
        for layer, s in sorted(table["layer_self_s"].items()):
            print(f"layer {layer}: self {s:.4f}s")
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    print(f"run wall {wall:.1f}s, window {out.window_s:.2f}s, ops {out.ops}")

    want, got = (LAYERS, out.layers) if h.trace else (E2E, out.e2e)
    missing = [k for k in want if k not in got or not math.isfinite(got[k][0])]
    correct = all(ok for _, ok, _ in out.checks) and not missing
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    metrics = {k: {"value": float(got[k][0]), "unit": got[k][1]}
               for k in want if k not in missing}
    print(json.dumps({"correct": correct, "attempted": max(1, out.attempted),
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
