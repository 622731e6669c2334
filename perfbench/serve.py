"""`table_serve`: closed-loop readers against a TxLog table that set-up
built through hot-key MERGEs with periodic OPTIMIZE (so it carries a
log checkpoint, small files and history).  Each client issues a seeded
mix of point reads, event-time range reads, time travel and change-feed
reads, each ending in a small action, and checks every answer against
the reference model of the table at that version.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd

import gen
from harness import CORES, Harness, Outcome, p50, p90

N_BASE = 100_000
N_FILES = 8
MERGES = 8
MERGE_EVENTS = 1_000
OPTIMIZE_AFTER = (3, 7)       # merge ordinals followed by an OPTIMIZE
SMALL_BYTES = 256 << 10
SETUP_REPEATS = 3
KINDS = ("point", "range", "travel", "changes")
KIND_P = (0.4, 0.3, 0.15, 0.15)
RANGE_SPAN_S = 2_000          # event-time width of a range read


def _inputs(h: Harness, inp: str):
    """Write the base rows and the compacted MERGE batches as parquet."""
    base_path = os.path.join(inp, "base.parquet")
    gen.write_parquet(gen.base_rows(h.seed, N_BASE), base_path)
    ev = gen.change_events(h.seed, N_BASE, MERGES * MERGE_EVENTS,
                           stream="serve")
    batches = []
    for i in range(MERGES):
        e = ev.iloc[i * MERGE_EVENTS:(i + 1) * MERGE_EVENTS]
        p = os.path.join(inp, f"m{i}.parquet")
        gen.write_parquet(gen.compact_latest(e), p, gen.CHANGE_SCHEMA)
        batches.append((p, e))
    return base_path, batches


def _build(h: Harness, dest: str, base_path: str, batches):
    """Create + MERGE history; returns the table and, per version, the
    reference state (OPTIMIZE versions repeat the previous state)."""
    from cdc_plg_spark.lakehouse import TxLogTable

    t = TxLogTable.create(h.spark, dest, h.spark.read.parquet(base_path),
                          "k", n_files=N_FILES)
    states = [gen.base_rows(h.seed, N_BASE)]
    for i, (path, events) in enumerate(batches, start=1):
        src = h.spark.read.parquet(path)
        t.merge(src, op_col="op", txn=("perfbench_serve", i),
                order_by=("seq",))
        states.append(gen.apply_changes(states[-1], events))
        if i in OPTIMIZE_AFTER:
            t.optimize(small_bytes=SMALL_BYTES)
            states.append(states[-1])
    return t, states


class Model:
    """Expected answers, precomputed per version from the reference."""

    def __init__(self, states: list[pd.DataFrame]):
        self.states = states
        self.head = states[-1].set_index("k")
        self.ts_us = [s["ts"].to_numpy().astype("int64") for s in states]

    def point(self, k: int):
        if k not in self.head.index:
            return None
        r = self.head.loc[k]
        return (int(k), int(r["seq"]), round(float(r["v"]), 2))

    def range(self, lo_us: int, hi_us: int):
        ts = self.ts_us[-1]
        sel = (ts >= lo_us) & (ts <= hi_us)
        return (int(sel.sum()), int(self.states[-1]["seq"].to_numpy()[sel]
                                    .sum()))

    def travel(self, v: int):
        s = self.states[v]
        return (len(s), int(s["seq"].sum()))

    def changes(self, v1: int, v2: int):
        a = self.states[v1][["k", "seq"]]
        b = self.states[v2][["k", "seq"]]
        m = a.merge(b, on="k", how="outer", suffixes=("_a", "_b"),
                    indicator=True)
        both = m[m["_merge"] == "both"]
        out = {"I": int((m["_merge"] == "right_only").sum()),
               "D": int((m["_merge"] == "left_only").sum()),
               "U": int((both["seq_a"] != both["seq_b"]).sum())}
        return {k: v for k, v in out.items() if v}


def _client(h: Harness, path: str, model: Model, cid: int, stop_at: float,
            rec: list, errors: list):
    from pyspark.sql import functions as F

    from cdc_plg_spark.lakehouse import TxLogTable

    tr = h.tracer
    t = TxLogTable(h.spark, path)
    h.trace_snapshots(t)
    rng = np.random.default_rng([h.seed, 7, cid])
    n_ver = len(model.states)
    k_max = int(model.head.index.max())
    ts = model.ts_us[-1]
    t_lo, t_hi = int(ts.min()), int(ts.max())
    i = 0
    while time.perf_counter() < stop_at:
        kind = KINDS[rng.choice(len(KINDS), p=KIND_P)]
        op = f"c{cid}-{i}"
        i += 1
        if kind == "point":
            hot = rng.random() < 0.7
            k = int(k_max - rng.exponential(N_BASE * 0.01) if hot
                    else rng.integers(0, k_max + 1))
            arg = (max(0, k),)
        elif kind == "range":
            lo = int(rng.integers(t_lo, t_hi))
            arg = (lo, lo + RANGE_SPAN_S * gen.SEQ_STEP_US)
        elif kind == "travel":
            arg = (int(rng.integers(0, n_ver)),)
        else:
            v1 = int(rng.integers(0, n_ver - 1))
            arg = (v1, int(rng.integers(v1 + 1, n_ver)))
        t0 = time.perf_counter()
        try:
            with tr.span(f"serve.{kind}", op=op):
                with tr.span("lakehouse.read_build"):
                    if kind == "point":
                        df = t.read(key_between=(arg[0], arg[0])).select(
                            "k", "seq", "v")
                    elif kind == "range":
                        lo, hi = (gen.utc_naive(np.datetime64(x, "us"))
                                  for x in arg)
                        df = t.read(where_between=("ts", lo, hi)).agg(
                            F.count(F.lit(1)), F.sum("seq"))
                    elif kind == "travel":
                        df = t.read(version=arg[0]).agg(
                            F.count(F.lit(1)), F.sum("seq"))
                    else:
                        df = t.table_changes(*arg).groupBy(
                            "change_type").count()
                with tr.span("lakehouse.read_exec"):
                    rows = df.collect()
            dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - counted as a failed read
            errors.append(f"{kind}{arg}: {type(e).__name__}: {e}")
            continue
        if kind == "point":
            got = (tuple((int(r[0]), int(r[1]), round(float(r[2]), 2))
                         for r in rows) or (None,))[0]
            want = model.point(arg[0])
        elif kind == "changes":
            got = {r[0]: int(r[1]) for r in rows}
            want = model.changes(*arg)
        else:
            got = (int(rows[0][0]), int(rows[0][1] or 0))
            want = (model.range(*arg) if kind == "range"
                    else model.travel(*arg))
        if got != want:
            errors.append(f"{kind}{arg}: got {got}, want {want}")
        rec.append((kind, dt))


def run(h: Harness) -> Outcome:
    from cdc_plg_spark.lakehouse import TxLogTable

    out = Outcome()
    jvm_s = h.start_spark()
    # set-up: input generation is repeated SETUP_REPEATS times (median
    # reported); the table and its MERGE history are built once
    builds = []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        base_path, batches = _inputs(h, h.path(f"input{r}"))
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    path = os.path.join(h.path("tables"), "t")
    t, states = _build(h, path, base_path, batches)
    model = Model(states)
    # warm-up reads (JIT, footers): checked like the timed ones
    warm: list = []
    errors: list[str] = []
    _client(h, path, model, CORES, time.perf_counter() + 1.0, warm, errors)
    history_s = time.perf_counter() - t0
    setup_s = jvm_s + p50(builds) + history_s

    recs: list[list] = [[] for _ in range(CORES)]
    h.window_start()
    w0 = time.perf_counter()
    stop_at = w0 + h.seconds
    threads = [threading.Thread(target=_client, name=f"serve-{c}",
                                args=(h, path, model, c, stop_at, recs[c],
                                      errors))
               for c in range(CORES)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    out.window_s = time.perf_counter() - w0
    allr = [r for rs in recs for r in rs]
    out.ops = len(allr)
    h.window_end(out)

    lat = [dt for _, dt in allr]
    out.attempted = (len(allr) + len(warm)
                     + sum(1 for e in errors if ": got " not in e))
    out.failed = len(errors)
    out.check("every read matches the reference model", not errors,
              "; ".join(errors[:3]) or f"{len(allr)} reads")
    out.e2e = {
        "throughput_per_s": (len(allr) / out.window_s, "1/s"),
        "latency_s_p50": (p50(lat), "s"),
        "latency_s_p90": (p90(lat), "s"),
        "setup_s": (setup_s, "s"),
    }
    out.named.update({
        "serve_reads_per_s": (len(allr) / out.window_s, "reads/s"),
        "serve_read_s_p50": (p50(lat), "s"),
        "serve_read_s_p90": (p90(lat), "s"),
        "setup.session_s": (jvm_s, "s"),
        "setup.inputs_s_p50": (p50(builds), "s"),
        "setup.table_s": (history_s, "s"),
    })
    for kind in KINDS:
        xs = [dt for k, dt in allr if k == kind]
        if xs:
            out.named[f"serve.{kind}_s_p50"] = (p50(xs), "s")
            out.named[f"serve.{kind}_reads"] = (len(xs), "count")
    if h.trace:
        snap = TxLogTable.snapshot(t)
        st = h.tracer.self_times()
        out.named.update({
            "lakehouse.live_files_end": (len(snap.files), "count"),
            "lakehouse.log_versions_end": (snap.version + 1, "count"),
            "lakehouse.snapshot_s_p50": (p50(st["lakehouse.snapshot"]), "s"),
            "lakehouse.read_build_s_p50": (
                p50(st["lakehouse.read_build"]), "s"),
            "lakehouse.read_exec_s_p50": (p50(st["lakehouse.read_exec"]),
                                          "s"),
        })
        out.layers["op.plan_s_p50"] = out.named["lakehouse.read_build_s_p50"]
        out.layers["op.exec_s_p50"] = out.named["lakehouse.read_exec_s_p50"]
    out.e2e["jvm_peak_rss_mb"] = (h.jvm_peak_rss_mb(), "MB")
    return out
