"""Benchmark harness — BASELINE.md §"Benchmark protocol".

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and reports, as ONE
JSON line, two views of the same workload against DuckDB running the
identical oracle SQL on the same files:

- "queries": per-query sequential latency (median of N_RUNS,
  noop-materialized so driver transfer doesn't skew). At sf0.1 the
  fixtures are single-row-group parquet, so a lone Spark query is floor-
  bound by one-task scans + per-job overhead — per-query latency at this
  scale measures that floor, not dataflow cost.
- "value" (headline): workload wall-time — all queries submitted
  together, each engine using its best scheduling strategy (TPC-style
  throughput run). Spark overlaps jobs across idle cores; DuckDB is
  fastest sequential (each query already saturates the box — its
  concurrent wall is measured too and the better of the two is used).
  This is the comparison that tracks the 100 TB design point, where the
  engine always has concurrent stages to fill the cluster with.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# Headline set: one representative per engine area (batch relational,
# windows, LLM-pipeline). Streaming replays are excluded — their cost is
# dominated by per-query checkpoint setup, not dataflow (they're
# correctness-gated instead, tests/test_streaming.py).
BENCH_QUERIES = [
    "flagship_cdc_compaction",   # scan+filter+broadcast join+window+agg
    "agg_hash_groupby",          # TPC-H Q1-style partial+final hash agg
    "agg_grouping_sets",         # rollup shuffle
    "join_inner_hash",           # broadcast hash join
    "join_sortmerge",            # large-large shuffle join (forced SMJ
    #                              exhibit — deliberately the 100 TB
    #                              large-large shape, so it reads slow
    #                              next to DuckDB's in-memory hash join
    #                              at sf0.1; the bucketed twin below is
    #                              the honest zero-exchange number)
    "join_bucketed_colocated",   # same join, bucket-pruned layout
    "join_asof",                 # window-based as-of pattern
    "dedup_latest_per_key",      # CDC compaction window
    "topk_per_group",            # rank-k per group
    "win_running_sum",           # running frame
    "dedup_exact",               # hash dedup over documents
    "text_stats",                # explode+agg over documents
    "tfidf_keywords",            # multi-join text pipeline
    "sim_topk_search",           # brute-force cosine top-k
    "fn_string",                 # scalar function pipeline
    "decode_json_event",         # JSON envelope decode
    "decode_canal_json",         # CDC wire decode (construct+parse, r7)
    "analytics_shipping_priority",  # TPC-H Q3 shape
    "analytics_nation_volume",      # TPC-H Q5 shape
    "analytics_sessionize_batch",   # gaps-and-islands sessionization
    "analytics_volume_shipping",    # TPC-H Q7 shape (two-role dimension)
    "analytics_returned_items",     # TPC-H Q10 shape (top-k after 3 joins)
    "ts_ewma",                      # per-key JVM fold
    "join_asof_nearest",            # two-direction window carry
]

# Lakehouse write-path transactions, tracked in their OWN section (not
# the headline wall): each run eagerly builds a TxLog table and commits
# a real MERGE / MV refresh, so they measure format overhead vs raw
# parquet (the DuckDB twin computes the same RESULT from the raw files
# with zero format work) — a number to watch round-over-round, not a
# read-workload query.
LAKEHOUSE_QUERIES = [
    "lakehouse_merge_upsert",    # COW MERGE txn: build, merge, read back
    "lakehouse_incremental_mv",  # change-feed-maintained materialized view
]
N_LAKE_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_LAKE_RUNS", "3"))

# LSH near-dup section (VERDICT r7 #8): the full MinHash+LSH dataflow —
# shingle explode → band hash → bucket self-join with the salted
# heavy-hitter triangle — is the band-explode shuffle shape the headline
# suite lacks.  Tracked in its OWN section: at sf0.1 it runs ~20x the
# headline wall (the 2701-doc bucket is 54% of the corpus), so putting
# it in the wall would mask regressions in the other 24 queries; the
# headline suite stays frozen for round-over-round comparability.
# One warmed run per engine (the 30-60s scale makes medians of 5
# prohibitive and run-to-run variance is <5% at this duration).
LSH_QUERY = "dedup_fuzzy_minhash_checked"

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _median_time(fn, n=N_RUNS):
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    from cdc_plg_spark.session import get_spark

    # throughput run submits 22 jobs at once.  FAIR alone is not enough:
    # without a pool per submitter every job lands in the default pool,
    # whose internal mode is FIFO — so the workload runner below also
    # sets spark.scheduler.pool per thread (dynamically-created pools
    # fair-share against each other with weight 1, no allocation file
    # needed).
    confs = {"spark.scheduler.mode": "FAIR"}
    # scale-soak knob (scripts/scale_soak docs): the driver's sf0.1
    # files are single-row-group so the default 128m split is moot, but
    # the generated sfN fixtures carry many row groups and the scan
    # should fan out across them — a per-deployment conf in production
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if mpb:
        confs["spark.sql.files.maxPartitionBytes"] = mpb
    spark = get_spark("cdc-plg-spark-bench", master=f"local[{CPUS}]",
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_plg_spark import registry

    entries = registry.all_entries()
    names = [n for n in BENCH_QUERIES if n in entries]

    # warm the JVM + parquet footers once with the cheapest query
    entries[names[0]].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite").save()

    def run_spark(name):
        entries[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite").save()

    # plan-build timing is only meaningful for LAZILY-constructed
    # queries: an eager exhibit (lakehouse transactions, iterative CC
    # loops) executes inside fn(), so timing fn() would report full
    # execution as "build" AND re-run its side effects N_RUNS extra
    # times (ADVICE r11).  The headline list is all-lazy today; the tag
    # guard keeps the metric honest if an eager exhibit ever joins it.
    _EAGER_TAGS = {"lakehouse", "iterative"}

    per_query: dict[str, float] = {}
    plan_build: dict[str, float] = {}
    for name in names:
        per_query[name] = round(_median_time(lambda n=name: run_spark(n)), 4)
        # plan-build share, reported per query so a latency watch can
        # self-adjudicate driver-side py4j plan construction vs engine
        # execution (VERDICT r10 task 2: decode_canal_json's escalation
        # was plan-build + host noise, invisible in the combined number)
        if not (_EAGER_TAGS & set(entries[name].tags)):
            plan_build[name] = round(_median_time(
                lambda n=name: entries[n].fn(spark, SF_DIR)), 4)
        else:
            # explicit marker (ADVICE r12): a key silently disappearing
            # from the round-over-round JSON would be indistinguishable
            # from a recording bug for downstream diff tooling
            plan_build[name] = "skipped-eager"

    seq_total = round(sum(per_query.values()), 4)

    # throughput run: whole workload submitted concurrently.  Plans are
    # prepared once (build = Python-side py4j chatter, serialized by the
    # GIL — a single-driver artifact: real concurrent clients each build
    # their own plans, and DuckDB's equivalent cost, SQL parsing, is
    # ~1 ms).  The wall therefore measures ENGINE throughput: scheduling
    # + execution of 22 overlapping jobs on 32 cores.  Build time is
    # reported separately (spark_plan_build_sec) so the prepared-plan
    # headline can't be misread as end-to-end latency.
    t_build = time.perf_counter()
    prepared = {n: entries[n].fn(spark, SF_DIR) for n in names}
    plan_build_sec = round(time.perf_counter() - t_build, 4)

    def run_prepared(name):
        # one dynamically-created FAIR pool per query: pools fair-share
        # against each other, so no single job monopolizes the scheduler
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        try:
            prepared[name].write.format("noop").mode("overwrite").save()
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    def spark_workload():
        with ThreadPoolExecutor(16) as ex:
            list(ex.map(run_prepared, names))

    spark_wall = round(_median_time(spark_workload), 4)

    # DuckDB side: identical oracle SQL over the same parquet, same box.
    duck: dict[str, float] = {}
    duck_wall = None
    try:
        import duckdb

        def duck_views(con):
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")

        con = duckdb.connect()
        duck_views(con)
        con.execute(f"SET threads TO {int(CPUS)}")
        sqls = [entries[n].oracle for n in names if entries[n].oracle]
        for name in names:
            sql = entries[name].oracle
            if not sql:
                continue
            duck[name] = round(_median_time(
                lambda sql=sql: con.execute(sql).fetchall()), 4)

        # concurrent workload for symmetry; DuckDB usually wins sequential
        def duck_one(sql):
            c = duckdb.connect()
            duck_views(c)
            c.execute(sql).fetchall()

        def duck_workload():
            with ThreadPoolExecutor(8) as ex:
                list(ex.map(duck_one, sqls))

        duck_workload()
        duck_wall = round(_median_time(duck_workload), 4)
    except Exception:
        pass

    # lakehouse write-path section (separate from the headline wall)
    lake_names = [n for n in LAKEHOUSE_QUERIES if n in entries]
    lake: dict[str, float] = {}
    for name in lake_names:
        run_spark(name)                      # warm (first build pays JIT)
        lake[name] = round(_median_time(
            lambda n=name: run_spark(n), n=N_LAKE_RUNS), 4)
    lake_duck: dict[str, float] = {}
    try:
        import duckdb as _dk

        lcon = _dk.connect()
        duck_views(lcon)
        lcon.execute(f"SET threads TO {int(CPUS)}")
        for name in lake_names:
            sql = entries[name].oracle
            if sql:
                lake_duck[name] = round(_median_time(
                    lambda sql=sql: lcon.execute(sql).fetchall(),
                    n=N_LAKE_RUNS), 4)
    except Exception:
        pass

    # LSH band-explode section (separate from the headline wall)
    lsh: dict = {}
    if os.environ.get("SPARK_GRAFT_SKIP_LSH_SECTION"):
        # scale-soak escape hatch #2: at sf2+ the Spark side alone is
        # ~12 min warm+timed; the growth curve is pinned separately
        # (SCALE_LSH_POINTS.json via scripts/lsh_scale_point.py), so
        # a soak bench can skip the section outright
        lsh = {"skipped": "SPARK_GRAFT_SKIP_LSH_SECTION"}
    elif LSH_QUERY in entries:
        run_spark(LSH_QUERY)                 # warm
        lsh["spark_sec"] = round(_median_time(
            lambda: run_spark(LSH_QUERY), n=1), 4)
        if os.environ.get("SPARK_GRAFT_SKIP_LSH_DUCK"):
            # scale-soak escape hatch: the DuckDB LSH twin is ~6 min at
            # sf0.1 and scales linearly — ~1 h at sf1 buys nothing the
            # sf0.1 ratio didn't already establish
            lsh["duckdb_sec"] = None
        else:
            try:
                import duckdb as _dk2

                xcon = _dk2.connect()
                duck_views(xcon)
                xcon.execute(f"SET threads TO {int(CPUS)}")
                sql = entries[LSH_QUERY].oracle
                lsh["duckdb_sec"] = round(_median_time(
                    lambda: xcon.execute(sql).fetchall(), n=1), 4)
                lsh["ratio"] = round(lsh["spark_sec"] / lsh["duckdb_sec"],
                                     3)
            except Exception:
                pass
        # incremental-screen tracker (r12): the arriving-batch screen
        # vs the full-corpus pair run above — the number that justifies
        # the incremental architecture (O(batch + matched buckets) per
        # epoch vs O(corpus) re-pair).  Spark side only: its DuckDB
        # oracle re-pays the whole sig CTE, a cost the full-run ratio
        # already prices.  NOTE (ADVICE r12): the timed query still
        # computes ALL history signatures in-plan (the persisted-index
        # read half is modeled by a DataFrame, not a pre-materialized
        # table), so the gap vs the full run reflects the avoided pair
        # self-join only; the production probe-only cost is lower still.
        if "dedup_incremental_vs_index" in entries:
            run_spark("dedup_incremental_vs_index")      # warm
            lsh["incremental_screen_sec"] = round(_median_time(
                lambda: run_spark("dedup_incremental_vs_index"), n=1), 4)

    duck_seq_total = round(sum(duck.values()), 4) if duck else None
    duck_best = (min(x for x in (duck_seq_total, duck_wall) if x is not None)
                 if duck else None)
    # Durability of the ONE-LINE contract (VERDICT r13 #8): BENCH_r12's
    # line was tail-truncated on the driver side and blinded a whole
    # round's per-query PERF diff.  The big nested maps that aren't part
    # of the driver contract (per-query plan-build + DuckDB medians)
    # move to a SIDE FILE; the line keeps every contract field
    # ("metric"/"value"/"unit"/"queries"/"sf"), all summary numbers, and
    # a pointer.  Nothing is dropped from "queries" (additions-only).
    side_path = os.environ.get("SPARK_GRAFT_BENCH_SIDE",
                               "/tmp/bench_side.json")
    side = {
        "plan_build_per_query": plan_build,
        "duckdb": duck,
        "lakehouse_duckdb": lake_duck,
        "notes": {
            "lakehouse": ("write-path transactions (build+MERGE+read per "
                          "run) vs DuckDB computing the same result from "
                          "raw parquet with zero format work — format "
                          "overhead tracker, not part of the headline "
                          "wall"),
            "minhash_lsh": ("full MinHash+LSH near-dup dataflow "
                            "(band-explode shuffle + salted heavy-hitter "
                            "self-join) vs its DuckDB twin — own section "
                            "so the 30s-scale query can't mask "
                            "headline-wall regressions; one warmed run "
                            "per engine"),
        },
    }
    try:
        with open(side_path, "w") as f:
            json.dump(side, f)
    except OSError:
        side_path = None
    out = {
        "metric": ("headline workload wall-time (concurrent submission, "
                   "median of %d), vs DuckDB's best of sequential/"
                   "concurrent on identical SQL" % N_RUNS),
        "value": spark_wall,
        "unit": "sec",
        "queries": per_query,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "spark_sequential_total": seq_total,
        "spark_plan_build_sec": plan_build_sec,
        "side_file": side_path,
        "duckdb_sequential_total": duck_seq_total,
        "duckdb_concurrent_wall": duck_wall,
        "duckdb_best": duck_best,
        "ratio_vs_duckdb": (round(spark_wall / duck_best, 3)
                            if duck_best else None),
        "ratio_sequential": (round(seq_total / duck_seq_total, 3)
                             if duck_seq_total else None),
        "lakehouse": {
            "queries": lake,
            "ratio": (round(sum(lake.values())
                            / sum(lake_duck.values()), 3)
                      if lake and lake_duck and sum(lake_duck.values())
                      else None),
        },
        "minhash_lsh": {
            "query": LSH_QUERY,
            **lsh,
        },
        "cpus": int(CPUS),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
