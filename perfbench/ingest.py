"""`cdc_ingest`: a keyed change stream landed as parquet files, read by a
Spark file-source stream whose foreachBatch compacts each micro-batch to
the latest row per key and MERGEs it into a range-clustered TxLog table
(one `(app, epoch)` transaction per epoch, OPTIMIZE on a fixed epoch
cadence) — the `stream_sink_lakehouse_merge` pattern.

Phase 1 (catch-up, closed loop): a pre-generated backlog drained at a
fixed max batch size; reports events/s.  Phase 2 (live, open loop):
files published on a fixed schedule at a rate well under phase-1
capacity; each event's lag runs from its file's due time to the return
of the MERGE that made it visible.
"""

from __future__ import annotations

import json
import os
import threading
import time

import gen
from harness import Harness, Outcome, p50, p90

N_BASE = 300_000          # table rows at start
N_FILES = 16              # range-clustered base files
BACKLOG_EVENTS = 2_000    # per backlog file
FILES_PER_TRIGGER = 3     # catch-up batch size (files)
LIVE_PERIOD_S = 0.25      # one live file per period
LIVE_EVENTS = 100         # per live file (400 events/s)
OPTIMIZE_EVERY = 4        # epochs
SMALL_BYTES = 256 << 10   # OPTIMIZE rewrites files under this size
SETUP_REPEATS = 3
APP = "perfbench_ingest"


def _plan(seed: int, seconds: int):
    """Warm-up, backlog and live files as (name, events) lists, in stream
    order, all from `seed`."""
    sizes = ([("w", BACKLOG_EVENTS)] * FILES_PER_TRIGGER
             + [("b", BACKLOG_EVENTS)] * max(FILES_PER_TRIGGER,
                                             round(0.65 * seconds))
             + [("l", LIVE_EVENTS)] * max(4, round(0.6 * seconds
                                                   / LIVE_PERIOD_S)))
    ev = gen.change_events(seed, N_BASE, sum(n for _, n in sizes))
    files: dict[str, list] = {"w": [], "b": [], "l": []}
    off = 0
    for kind, n in sizes:
        files[kind].append((f"{kind}{len(files[kind]):05d}.parquet",
                            ev.iloc[off:off + n]))
        off += n
    return files["w"], files["b"], files["l"], ev


def _epoch_files(ckpt: str, epoch: int) -> list[str]:
    """File names the file source planned for `epoch`, from its metadata
    log (`sources/0/<epoch>`, or the compacted `<epoch>.compact`)."""
    d = os.path.join(ckpt, "sources", "0")
    for name in (str(epoch), f"{epoch}.compact"):
        p = os.path.join(d, name)
        if os.path.exists(p):
            with open(p) as f:
                rows = [json.loads(x) for x in f.read().splitlines()[1:]
                        if x.strip()]
            return [os.path.basename(r["path"]) for r in rows
                    if r.get("batchId", epoch) == epoch]
    return []


class Sink:
    """The foreachBatch body plus the per-epoch record the metrics and
    the exactly-once check are computed from."""

    def __init__(self, h: Harness, table, ckpt: str, app: str = APP):
        self.h, self.t, self.ckpt, self.app = h, table, ckpt, app
        self.epochs: dict[int, dict] = {}
        self.committed: dict[str, float] = {}   # file name -> commit time
        self.conflicts = 0
        self.errors: list[str] = []
        self.cause = None   # span of the streaming query running us
        self.lock = threading.Lock()

    def __call__(self, batch_df, epoch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cdc_plg_spark.lakehouse import ConflictError

        tr, epoch = self.h.tracer, int(epoch_id)
        rec = {"start": time.perf_counter(), "merges": []}
        try:
            with tr.span("streaming.foreach_batch", op=f"e{epoch}",
                         cause=self.cause):
                with tr.span("operators.compact_build"):
                    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
                    latest = (batch_df
                              .withColumn("_rn", F.row_number().over(w))
                              .filter("_rn = 1").drop("_rn"))
                for attempt in range(3):
                    try:
                        t0 = time.perf_counter()
                        with tr.span("lakehouse.merge"):
                            r = self.t.merge(latest, op_col="op",
                                             txn=(self.app, epoch),
                                             order_by=("seq",))
                        break
                    except ConflictError:
                        self.conflicts += 1
                        if attempt == 2:
                            raise
                rec["merges"].append(r)
                rec["commit"] = time.perf_counter()
                rec["merge_s"] = rec["commit"] - t0
                if epoch % OPTIMIZE_EVERY == OPTIMIZE_EVERY - 1:
                    with tr.span("lakehouse.optimize"):
                        t0 = time.perf_counter()
                        self.t.optimize(small_bytes=SMALL_BYTES,
                                        txn=("perfbench_opt", epoch))
                        rec["optimize_s"] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - recorded, then re-raised
            self.errors.append(f"epoch {epoch}: {type(e).__name__}: {e}")
            raise
        rec["end"] = time.perf_counter()
        files = _epoch_files(self.ckpt, epoch)
        rec["files"] = files
        with self.lock:
            self.epochs[epoch] = rec
            for f in files:
                self.committed[f] = rec["commit"]


def _create_table(h: Harness, base_path: str, dest: str):
    from cdc_plg_spark.lakehouse import TxLogTable

    df = h.spark.read.parquet(base_path)
    with h.tracer.span("lakehouse.create"):
        return TxLogTable.create(h.spark, dest, df, "k", n_files=N_FILES)


def _catchup(h: Harness, stream_dir: str, ckpt: str, sink: Sink,
             backlog) -> float:
    from cdc_plg_spark.streaming.core import run_foreach_batch

    for i, (name, df) in enumerate(backlog):
        p = os.path.join(stream_dir, name)
        gen.write_parquet(df, p, gen.CHANGE_SCHEMA)
        os.utime(p, (1_000 + i, 1_000 + i))  # file source order = mtime
    stream = _stream(h, stream_dir)
    t0 = time.perf_counter()
    with h.tracer.span("streaming.run_foreach_batch") as sink.cause:
        run_foreach_batch(stream, sink, ckpt)
    return time.perf_counter() - t0


def _stream(h: Harness, stream_dir: str, max_files: int = FILES_PER_TRIGGER):
    # catch-up drains at a fixed batch size; the live phase takes every
    # file published since the last trigger
    r = h.spark.readStream.schema(gen.CHANGE_DDL)
    if max_files:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.parquet(stream_dir)


def run(h: Harness) -> Outcome:
    out = Outcome()
    jvm_s = h.start_spark()
    # set-up: input generation is repeated SETUP_REPEATS times (median
    # reported); the table is created once and warmed by merging the
    # stream's first events through a short stream of their own
    builds = []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        warm_files, back, live, events = _plan(h.seed, h.seconds)
        base_path = os.path.join(h.path(f"input{r}"), "base.parquet")
        gen.write_parquet(gen.base_rows(h.seed, N_BASE), base_path)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    t = _create_table(h, base_path, os.path.join(h.path("tables"), "t"))
    warm = Sink(h, t, h.path("warm_ckpt"), app="perfbench_warm")
    _catchup(h, h.path("warm_stream"), warm.ckpt, warm, warm_files)
    t.optimize(small_bytes=SMALL_BYTES)
    warm_s = time.perf_counter() - t0
    setup_s = jvm_s + p50(builds) + warm_s
    h.trace_snapshots(t)

    stream_dir = h.path("stream")
    ckpt = h.path("ckpt")
    sink = Sink(h, t, ckpt)
    h.window_start()
    w0 = time.perf_counter()
    catchup_s = _catchup(h, stream_dir, ckpt, sink, back)
    catchup_epochs = sorted(sink.epochs)

    # live phase: open loop, files due every LIVE_PERIOD_S
    due: dict[str, float] = {}
    late = []
    with h.tracer.span("streaming.live_query") as sink.cause:
        q = (_stream(h, stream_dir, 0).writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt).start())
        live0 = time.perf_counter() + 0.5
        for i, (name, df) in enumerate(live):
            d = live0 + i * LIVE_PERIOD_S
            due[name] = d
            time.sleep(max(0.0, d - time.perf_counter()))
            late.append(time.perf_counter() - d)
            with h.tracer.span("sources.file_write", op=name):
                gen.write_parquet(df, os.path.join(stream_dir, name),
                                  gen.CHANGE_SCHEMA)
        deadline = time.perf_counter() + 60
        while (len(set(due) & set(sink.committed)) < len(due)
               and q.exception() is None
               and time.perf_counter() < deadline):
            time.sleep(0.02)
        q.stop()
    out.window_s = time.perf_counter() - w0
    if q.exception() is not None:
        sink.errors.append(f"live query: {q.exception()}")
    ep = sink.epochs
    out.ops = len(ep)
    h.window_end(out)

    # ------------------------------------------------------- metrics
    out.attempted = len(ep) + len(sink.errors)
    out.failed = len(sink.errors)
    lags = []
    for name, df in live:
        if name in sink.committed:
            lags += [sink.committed[name] - due[name]] * len(df)
    n_back = sum(len(df) for _, df in back)
    out.e2e = {
        "throughput_per_s": (n_back / catchup_s, "1/s"),
        "latency_s_p50": (p50(lags) if lags else float("nan"), "s"),
        "latency_s_p90": (p90(lags) if lags else float("nan"), "s"),
        "setup_s": (setup_s, "s"),
    }
    out.named.update({
        "ingest_catchup_events_per_s": (n_back / catchup_s, "events/s"),
        "ingest_lag_s_p50": out.e2e["latency_s_p50"],
        "ingest_lag_s_p90": out.e2e["latency_s_p90"],
        "ingest_live_events_per_s": (LIVE_EVENTS / LIVE_PERIOD_S,
                                     "events/s"),
        "sources.generator_late_s_max": (max(late), "s"),
        "setup.session_s": (jvm_s, "s"),
        "setup.inputs_s_p50": (p50(builds), "s"),
        "setup.table_s": (warm_s, "s"),
    })

    # --------------------------------------------------- correctness
    expect = gen.state_digest(gen.apply_changes(
        gen.base_rows(h.seed, N_BASE),
        events))
    got = gen.spark_digest(t.read())
    out.check("final table equals reference model", got == expect,
              f"table {got} vs model {expect}")
    merges = [(e, r) for e, rec in ep.items() for r in rec["merges"]]
    versions = [r["version"] for _, r in merges]
    out.check("each epoch commits exactly once",
              all(not r.get("skipped") for _, r in merges)
              and len(merges) == len(ep)
              and versions == sorted(set(versions))
              and t.snapshot().txns.get(APP) == max(ep),
              f"{len(merges)} merges over {len(ep)} epochs")
    out.check("every live file committed", len(lags) == sum(
        len(df) for _, df in live), f"{len(lags)} live events visible")
    out.failed += sum(1 for _, ok, _ in out.checks if not ok)

    if h.trace:
        _layer_metrics(h, out, t, sink, catchup_epochs, back, live, due)
        st = h.tracer.self_times()
        out.layers["op.plan_s_p50"] = (p50(st["operators.compact_build"]),
                                       "s")
        out.layers["op.exec_s_p50"] = (p50(st["lakehouse.merge"]), "s")
        out.named["ingest_catchup_events_per_s_1core"] = (
            _single_core(h, base_path, back), "events/s")
    out.e2e["jvm_peak_rss_mb"] = (h.jvm_peak_rss_mb(), "MB")
    return out


def _layer_metrics(h, out, t, sink, catchup_epochs, back, live,
                   due) -> None:
    import pandas as pd

    from cdc_plg_spark.lakehouse import TxLogTable

    ep = sink.epochs
    names = {n: df for n, df in back + live}
    batch_events = [sum(len(names[f]) for f in ep[e]["files"])
                    for e in catchup_epochs]
    waits = [ep[e]["start"] - due[f] for e in ep for f in ep[e]["files"]
             if f in due]
    merge_s = [ep[e]["merge_s"] for e in ep]
    opt_s = [ep[e]["optimize_s"] for e in ep if "optimize_s" in ep[e]]
    pruned = sum(r["files_pruned"] for e in ep for r in ep[e]["merges"])
    scanned = sum(r["files_scanned"] for e in ep for r in ep[e]["merges"])
    rewritten = src_rows = 0
    for e in ep:
        for r in ep[e]["merges"]:
            v = r["version"]
            # unwrapped snapshot: post-window replays stay out of the spans
            a = TxLogTable.snapshot(t, v - 1).files
            b = TxLogTable.snapshot(t, v).files
            rewritten += sum(s["rows"] for p, s in b.items() if p not in a)
        src_rows += len(gen.compact_latest(
            pd.concat([names[f] for f in ep[e]["files"]])))
    # backlog: events published but not yet visible, at each publish
    # and commit instant of the live phase
    instants = sorted(list(due.values()) + [ep[e]["commit"] for e in ep])
    backlog = []
    for x in instants:
        pub = sum(len(names[n]) for n, d in due.items() if d <= x)
        vis = sum(len(names[n]) for n, c in sink.committed.items()
                  if n in due and c <= x)
        backlog.append(pub - vis)
    snap = TxLogTable.snapshot(t)
    out.named.update({
        "sources.backlog_events_max": (max(backlog), "events"),
        "sources.batch_events_p50": (p50(batch_events), "events"),
        "streaming.trigger_wait_s_p50": (p50(waits), "s"),
        "streaming.batch_s_p50": (p50([ep[e]["end"] - ep[e]["start"]
                                       for e in ep]), "s"),
        "streaming.epochs": (len(ep), "count"),
        "lakehouse.merge_s_p50": (p50(merge_s), "s"),
        "lakehouse.merge_s_p90": (p90(merge_s), "s"),
        "lakehouse.optimize_s_p50": (p50(opt_s) if opt_s else 0.0, "s"),
        "lakehouse.merge_prune_ratio": (pruned / max(1, pruned + scanned),
                                        "ratio"),
        "lakehouse.rows_rewritten_per_change": (
            rewritten / max(1, src_rows), "ratio"),
        "lakehouse.conflicts": (sink.conflicts, "count"),
        "lakehouse.live_files_end": (len(snap.files), "count"),
        "lakehouse.log_versions_end": (snap.version + 1, "count"),
    })


def _single_core(h: Harness, base_path: str, back) -> float:
    """Catch-up replay of the same backlog on local[1]: the
    stream-processing single-thread baseline (reported, not gated)."""
    h.stop_spark(keep_jvm=True)
    h.start_spark(cores=1)
    t = _create_table(h, base_path, os.path.join(h.path("tables"), "one"))
    sink = Sink(h, t, h.path("ckpt_1core"))
    s = _catchup(h, h.path("stream_1core"), sink.ckpt, sink, back)
    return sum(len(df) for _, df in back) / s
