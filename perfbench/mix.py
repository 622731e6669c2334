"""`analytics_mix`: closed-loop batch analytics, then a near-dup phase.

For the first MIX_SHARE of the window, CORES clients each cycle through
the pinned headline query list from a seeded start offset, each query in
its own FAIR pool, into a `noop` sink, over a seeded star schema.  For
the rest, one client runs the LLM-pipeline near-dup rounds back to back:
`dedup_fuzzy_minhash_checked` (full-corpus MinHash + LSH pairs; the
small shared vocabulary puts a large share of the documents into one LSH
bucket, the skewed band-explode and heavy-hitter self-join shape) then
`dedup_incremental_vs_index` (an arriving batch screened against the
history index).  The phases do not overlap, so the near-dup job's bursts
do not set the headline queries' latency.

No lakehouse or streaming code runs, so this is the no-change control
for ingest and serve work.  Every query is checked once per run against
its DuckDB oracle, outside the timed window.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from harness import CORES, Harness, Outcome, p50

SCALE = 0.01          # ~60k lineitems, 10k events, 500 documents
SETUP_REPEATS = 3
MIX_SHARE = 0.75      # of the window; the near-dup phase takes the rest

# The headline registry ids: one per engine area (relational, windows,
# text/similarity, CDC decode).  Pinned here so the benchmark does not
# follow edits to any other harness.  `analytics_sessionize_batch` is left
# out: it disagrees with its DuckDB oracle on roughly one generated input
# in ten (Spark's `unix_timestamp` drops the fraction of a second that the
# oracle's `epoch()` keeps, so a gap just over 1800 s splits a session in
# one engine only), and a workload here must not fail on any seed.
QUERIES = (
    "flagship_cdc_compaction", "agg_hash_groupby", "agg_grouping_sets",
    "join_inner_hash", "join_sortmerge", "join_bucketed_colocated",
    "join_asof", "dedup_latest_per_key", "topk_per_group",
    "win_running_sum", "dedup_exact", "text_stats", "tfidf_keywords",
    "sim_topk_search", "fn_string", "decode_json_event",
    "decode_canal_json", "analytics_shipping_priority",
    "analytics_nation_volume", "analytics_volume_shipping",
    "analytics_returned_items", "ts_ewma", "join_asof_nearest",
)
FULL = "dedup_fuzzy_minhash_checked"
SCREEN = "dedup_incremental_vs_index"
LSH_SPAN = {FULL: "operators.dedup", SCREEN: "operators.dedup.screen"}


def _run_one(h: Harness, entries, sf_dir: str, qid: str, op: str,
             collect: bool = False):
    """Build the query's plan through the registry and execute it in the
    query's own FAIR pool; returns the rows as pandas if `collect`."""
    sc = h.spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", qid)
    name = LSH_SPAN.get(qid)
    try:
        with h.tracer.span(name or f"operators.{qid}", op=op):
            with h.tracer.span(f"{name}.build" if name
                               else "registry.plan_build"):
                df = entries[qid].fn(h.spark, sf_dir)
            with h.tracer.span(f"{name}.exec" if name
                               else "operators.exec"):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
                return None
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def _weighted_quantile(runs: dict[str, list[float]], q: float) -> float:
    """The q-quantile of all latencies in `runs` (query id -> latencies),
    each id's latencies together weighing 1 / len(runs)."""
    lat = np.concatenate(list(runs.values()))
    w = np.concatenate([np.full(len(xs), 1.0 / len(xs))
                        for xs in runs.values()])
    order = np.argsort(lat, kind="stable")
    cum = np.cumsum(w[order]) / len(runs)
    return float(lat[order][min(len(lat) - 1, np.searchsorted(cum, q))])


def run(h: Harness) -> Outcome:
    from cdc_plg_spark import registry
    from cdc_plg_spark.testing import assert_frames_match, duckdb_conn

    out = Outcome()
    jvm_s = h.start_spark()
    entries = registry.all_entries()
    builds = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        sf_dir = h.path(f"star{i}")
        gen.write_tables(gen.star_tables(h.seed, SCALE), sf_dir)
        builds.append(time.perf_counter() - t0)
    # warm-up: every query once, collected for the oracle check below
    t0 = time.perf_counter()
    with ThreadPoolExecutor(CORES) as ex:
        futs = {q: ex.submit(_run_one, h, entries, sf_dir, q, "warm", True)
                for q in (FULL, SCREEN, *QUERIES)}
        results = {}
        for q, f in futs.items():
            try:
                results[q] = f.result()
            except Exception as e:  # noqa: BLE001 - a failed query
                results[q] = e
    warm_s = time.perf_counter() - t0
    setup_s = jvm_s + p50(builds) + warm_s

    n_clients = CORES
    recs: list[list] = [[] for _ in range(n_clients)]
    ends = [0.0] * n_clients
    lsh: list[tuple[str, float]] = []
    errors: list[str] = []
    # evenly spaced offsets under a seeded rotation: every seed runs the
    # same set of queries in the window, only the order shifts
    rot = int(np.random.default_rng([h.seed, 11]).integers(0, len(QUERIES)))
    starts = [rot + c * len(QUERIES) // n_clients for c in range(n_clients)]

    def client(c: int, stop_at: float):
        i = int(starts[c])
        while time.perf_counter() < stop_at:
            q = QUERIES[i % len(QUERIES)]
            t0 = time.perf_counter()
            try:
                _run_one(h, entries, sf_dir, q, f"c{c}-{i}")
                recs[c].append((q, time.perf_counter() - t0))
            except Exception as e:  # noqa: BLE001 - counted as failed
                errors.append(f"{q}: {type(e).__name__}: {e}")
            i += 1
        ends[c] = time.perf_counter()

    def lsh_client(stop_at: float):
        i = 0
        while i == 0 or time.perf_counter() < stop_at:
            for q in (FULL, SCREEN):
                t0 = time.perf_counter()
                try:
                    _run_one(h, entries, sf_dir, q, f"lsh-{i}")
                    lsh.append((q, time.perf_counter() - t0))
                except Exception as e:  # noqa: BLE001 - counted as failed
                    errors.append(f"{q}: {type(e).__name__}: {e}")
            i += 1

    h.window_start()
    w0 = time.perf_counter()
    threads = [threading.Thread(target=client, name=f"mix-{c}",
                                args=(c, w0 + MIX_SHARE * h.seconds))
               for c in range(n_clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    window = max(ends) - w0
    lsh_client(w0 + h.seconds)
    out.window_s = time.perf_counter() - w0
    allr = [r for rs in recs for r in rs]
    out.ops = len(allr) + len(lsh)
    h.window_end(out)

    # correctness, outside the window: each warm-up result vs its oracle
    con = duckdb_conn(sf_dir)
    bad = []
    try:
        for q in (*QUERIES, FULL, SCREEN):
            res = results[q]
            try:
                if isinstance(res, Exception):
                    raise res
                assert_frames_match(res, con.execute(entries[q].oracle).df(),
                                    name=q)
            except Exception as e:  # noqa: BLE001 - reported per query
                bad.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
    finally:
        con.close()
    out.check("every query matches its DuckDB oracle", not bad,
              "; ".join(bad[:3]) or f"{len(QUERIES) + 2} queries")
    out.check("no query raised in the window", not errors,
              "; ".join(errors[:3]) or f"{out.ops} queries run")
    out.attempted = out.ops + len(errors) + len(QUERIES) + 2
    out.failed = len(errors) + len(bad)

    # each headline query weighs the same, however often it ran, so the
    # figures do not move with which queries happened to fill the window:
    # the rate is over per-query median latencies, and the percentiles
    # are over every query run, a run of id q weighing 1 / (runs of q)
    runs = {q: [dt for qq, dt in allr if qq == q] for q in QUERIES}
    runs = {q: xs for q, xs in runs.items() if xs}
    per_q = {q: p50(xs) for q, xs in runs.items()}
    nan = float("nan")
    rate = n_clients * len(per_q) / sum(per_q.values()) if per_q else nan
    q50 = _weighted_quantile(runs, 0.5) if runs else nan
    q90 = _weighted_quantile(runs, 0.9) if runs else nan
    full = [dt for q, dt in lsh if q == FULL]
    screen = [dt for q, dt in lsh if q == SCREEN]
    out.e2e = {
        "throughput_per_s": (rate, "1/s"),
        "latency_s_p50": (q50, "s"),
        "latency_s_p90": (q90, "s"),
        "setup_s": (setup_s, "s"),
    }
    out.named.update({
        "mix_queries_per_s": (rate, "queries/s"),
        "mix_query_s_p50": (q50, "s"),
        "mix_query_s_p90": (q90, "s"),
        "mix_completed_per_s": (len(allr) / window, "queries/s"),
        "mix_query_ids_run": (len(per_q), "count"),
        "neardup_s": (p50(full) if full else nan, "s"),
        "neardup_screen_s": (p50(screen) if screen else nan, "s"),
        "neardup_passes": (len(lsh), "count"),
        "neardup_pairs": (len(results[FULL]) if not isinstance(
            results[FULL], Exception) else -1, "count"),
        "setup.session_s": (jvm_s, "s"),
        "setup.inputs_s_p50": (p50(builds), "s"),
        "setup.warm_s": (warm_s, "s"),
    })
    if h.trace:
        st = h.tracer.self_times()
        for q, x in per_q.items():
            out.named[f"operators.{q}_s"] = (x, "s")
        out.named.update({
            "registry.plan_build_s_p50": (p50(st["registry.plan_build"]),
                                          "s"),
            "operators.exec_s_p50": (p50(st["operators.exec"]), "s"),
            "operators.jobs_per_query": out.layers["spark.jobs_per_op"],
            "operators.tasks_per_query": out.layers["spark.tasks_per_op"],
            "session.core_busy_ratio": out.layers["session.core_busy_ratio"],
            "operators.dedup.build_s": (p50(st["operators.dedup.build"]),
                                        "s"),
            "operators.dedup.exec_s": (p50(st["operators.dedup.exec"]), "s"),
            "operators.dedup.screen_exec_s": (
                p50(st["operators.dedup.screen.exec"]), "s"),
            "operators.dedup.pairs_out": out.named["neardup_pairs"],
        })
        out.layers["op.plan_s_p50"] = out.named["registry.plan_build_s_p50"]
        out.layers["op.exec_s_p50"] = out.named["operators.exec_s_p50"]
    out.e2e["jvm_peak_rss_mb"] = (h.jvm_peak_rss_mb(), "MB")
    return out
