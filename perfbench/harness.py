"""Run plumbing shared by the workloads: a hermetic scratch root, the
Spark session, tracing spans, Spark status sampling and the result line.

Nothing here imports the program at module load; `Harness.start_spark`
does, after the environment that Spark's Python workers inherit is set.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CORES = 4


def p50(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    xs = list(xs)
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


@dataclass
class SpanRec:
    sid: int
    parent: int | None
    name: str
    op: str | None
    t0: float
    t1: float = 0.0
    thread: int = 0


class _Span:
    __slots__ = ("tr", "rec", "cause")

    def __init__(self, tr: "Tracer", name: str, op, cause):
        self.tr = tr
        self.rec = SpanRec(0, None, name, None if op is None else str(op),
                           0.0)
        self.cause = cause

    def __enter__(self):
        tr, rec = self.tr, self.rec
        stack = tr._stack()
        with tr._lock:
            tr._next += 1
            rec.sid = tr._next
        parent = stack[-1] if stack else self.cause
        if parent is not None:
            rec.parent = parent.sid
            if rec.op is None:
                rec.op = parent.op
        rec.thread = threading.get_ident()
        stack.append(rec)
        rec.t0 = time.perf_counter()
        return rec

    def __exit__(self, *exc):
        rec = self.rec
        rec.t1 = time.perf_counter()
        self.tr._stack().pop()
        with self.tr._lock:
            self.tr.spans.append(rec)
        return False


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out when
    the run ends.  Disabled, `span()` returns a shared no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[SpanRec] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def span(self, name: str, op=None, cause: SpanRec | None = None):
        """A span; `cause` names the parent when the caller runs on
        another thread than the span that caused it (a streaming query's
        foreachBatch runs on a callback thread)."""
        return _Span(self, name, op, cause) if self.enabled else _NO_SPAN

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self times (duration minus the time its direct
        children cover; a parent's children never overlap each other)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.t1 - s.t0)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s.name, []).append(
                (s.t1 - s.t0) - child.get(s.sid, 0.0))
        return out

    @staticmethod
    def cost_per_span(n: int = 20000) -> float:
        t = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("x"):
                pass
        return (time.perf_counter() - t0) / n


class StageSampler(threading.Thread):
    """Samples running tasks across active stages every `period` s; the
    mean over the window divided by the core count is how busy the
    session kept its cores."""

    def __init__(self, sc, period: float = 0.1):
        super().__init__(daemon=True, name="stage-sampler")
        self.tracker = sc.statusTracker()
        self.period = period
        self.samples: list[int] = []
        self.busy_s = 0.0   # CPU time of this thread
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(self.period):
            t0 = time.thread_time()
            n = 0
            for sid in self.tracker.getActiveStageIds():
                info = self.tracker.getStageInfo(sid)
                if info is not None:
                    n += info.numActiveTasks
            self.samples.append(n)
            self.busy_s += time.thread_time() - t0

    def stop(self):
        self._halt.set()
        self.join(timeout=10)


@dataclass
class Outcome:
    """What a workload hands back: per-workload named figures (printed
    with their units), the generic end-to-end and per-layer metrics of
    the result line, and the operation/failure counts."""
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    window_s: float = 0.0
    ops: int = 0

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return bool(ok)


class Harness:
    """One benchmark run: owns the scratch root, the Spark session and
    the tracer, and removes all three on exit."""

    def __init__(self, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.scratch = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.spark = None
        self.sampler: StageSampler | None = None
        self._jobs_before = 0
        self._cpu0: list[int] = []
        # every later temp file of this process and of Spark's Python
        # workers lands under the scratch root
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.scratch, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # -------------------------------------------------------------- spark

    def start_spark(self, cores: int = CORES):
        """Start (or, after `stop_spark(keep_jvm=True)`, restart) the
        session on local[cores]; returns seconds taken."""
        from cdc_plg_spark.session import get_spark

        # heap and young generation fixed: G1 resizing them mid-run made
        # the peak RSS and the query rates vary between runs of one input
        jopts = " ".join([
            f"-Djava.io.tmpdir={self.path('jtmp')}",
            f"-Dderby.system.home={self.path('derby')}",
            "-XX:-UsePerfData", "-Xmn512m", "-Xms2g"])
        confs = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": jopts,
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.shuffle.partitions": str(cores),
            "spark.default.parallelism": str(cores),
            "spark.scheduler.mode": "FAIR",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.ui.enabled": "false",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{cores}]", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def stop_spark(self, keep_jvm: bool = False) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if keep_jvm:
            return
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; wait for it (and its
            # Python workers) before the scratch root is removed
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort, never leak it
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not reported")

    def trace_snapshots(self, table) -> None:
        """In traced runs, time every `snapshot()` of this TxLogTable,
        including the ones `merge()`/`read()` make internally, through an
        instance attribute that shadows the method; the program itself is
        not modified."""
        if not self.trace:
            return
        inner = table.snapshot

        def snapshot(version=None):
            with self.tracer.span("lakehouse.snapshot"):
                return inner(version)
        table.snapshot = snapshot

    # ----------------------------------------------------- traced window

    @staticmethod
    def _cpu_times() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def window_start(self) -> None:
        """Begin the measured window: note the host's CPU counters; in
        traced runs, also start sampling busy cores and remember where
        Spark's job ids stand."""
        self._cpu0 = self._cpu_times()
        if not self.trace:
            return
        self.tracer.spans.clear()   # set-up and warm-up spans
        sc = self.spark.sparkContext
        self._jobs_before = self._max_job_id(sc)
        self.sampler = StageSampler(sc)
        self.sampler.start()

    @staticmethod
    def _max_job_id(sc, after: int = -1) -> int:
        # job ids are sequential across all job groups (streaming
        # micro-batches run under their query's group), so probe upward
        tr = sc.statusTracker()
        last, j, misses = after, after, 0
        while misses < 64:
            j += 1
            if tr.getJobInfo(j) is None:
                misses += 1
            else:
                last, misses = j, 0
        return last

    def window_end(self, out: Outcome) -> None:
        """Close the window: report the share of CPU time the hypervisor
        gave to other guests (steal), which slows every figure without any
        change to the program; in traced runs, fill the generic per-layer
        metrics of the result line from spans and Spark's status store."""
        d = [b - a for a, b in zip(self._cpu0, self._cpu_times())]
        out.named["host.cpu_steal_pct"] = (
            100.0 * d[7] / max(1, sum(d[:8])) if len(d) > 7 else 0.0, "%")
        if not self.trace:
            return
        self.tracer.enabled = False   # post-window work is not traced
        self.sampler.stop()
        sc = self.spark.sparkContext
        tr = sc.statusTracker()
        jobs = range(self._jobs_before + 1,
                     self._max_job_id(sc, self._jobs_before) + 1)
        tasks = 0
        for j in jobs:
            info = tr.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tr.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        ops = max(1, out.ops)
        smp = self.sampler.samples or [0]
        cost = Tracer.cost_per_span()
        overhead = (len(self.tracer.spans) * cost + self.sampler.busy_s)
        out.layers.update({
            "session.core_busy_ratio": (
                statistics.fmean(smp) / CORES, "ratio"),
            "spark.jobs_per_op": (len(jobs) / ops, "count"),
            "spark.tasks_per_op": (tasks / ops, "count"),
            "trace.spans": (float(len(self.tracer.spans)), "count"),
            "trace.overhead_pct": (
                100.0 * overhead / max(out.window_s, 1e-9), "%"),
        })

    def write_trace(self, out: Outcome, table: dict) -> str:
        """Write spans and the per-layer table under .perfbench_out/."""
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(
            self.out_dir, f"{self.workload}-seed{self.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({
                "workload": self.workload, "seed": self.seed,
                "seconds": self.seconds,
                "layers": table,
                "named": {k: {"value": v, "unit": u}
                          for k, (v, u) in out.named.items()},
                "spans": [[s.sid, s.parent, s.name, s.op, s.t0, s.t1,
                           s.thread] for s in self.tracer.spans],
            }, f)
        return path

    def layer_table(self) -> dict:
        """Per span name (`layer.call`) and per layer: count and self
        time (total, p50, p90)."""
        by_name = self.tracer.self_times()
        table: dict[str, dict] = {}
        layers: dict[str, float] = {}
        for name, xs in sorted(by_name.items()):
            table[name] = {"count": len(xs), "self_s_total": sum(xs),
                           "self_s_p50": p50(xs), "self_s_p90": p90(xs)}
            layer = name.split(".", 1)[0]
            layers[layer] = layers.get(layer, 0.0) + sum(xs)
        return {"calls": table, "layer_self_s": layers}

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.scratch, ignore_errors=True)
            base = os.path.dirname(self.scratch)
            try:
                os.rmdir(base)
            except OSError:
                pass
