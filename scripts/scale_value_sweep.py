"""Full-registry oracle sweep at a generated scale point (r11,
SURVEY round-12 candidate "extend the sf1 value sweep beyond the 24
headline queries"): run EVERY registry id against its DuckDB oracle
ON the scale fixtures, cheapest families first, under a wall-clock
budget, resumable across passes.

Why this exists: the per-round driver gate proves value parity at
sf0.01, and the scale soak (scripts/scale_soak.py) proves the 24
headline queries at sf1 — but an operator can be hash-green at
sf0.01 and still wrong at scale when a property the small fixtures
happen to satisfy breaks under replication.  This sweep found exactly
that class: agg_minmax_by's max_by/min_by arg selection was
nondeterministic under the price TIES that replicated fixtures (and
any real corpus) carry, which no sf0.01 run could expose (driver
fixtures are tie-free per group).  Fixed via an order-preserving
integer encode; pinned by tests/test_minmax_ties.py.

Skips (named, never silent):
- queries without an oracle: rows-only by §2 contract, nothing to
  value-compare;
- SKIP_BY_DESIGN: the all-pairs / O(n^2) exact verifier twins and the
  minutes-scale LSH dataflows — the former are quadratic by design
  (their whole point is being the exact baseline), the latter are
  measured separately in the soak bench's LSH section.

Protocol: same session confs as the soak bench (32 shuffle
partitions, 16m splits, 8g driver); check_query() is the driver's
own compare (row count + schema + order-insensitive value hash,
float cells bit-exact).  Row-preserving map queries at sf1 pull
millions of rows through toPandas on BOTH engines — ~0.5-1.5 min
each — hence the budget/resume machinery instead of one giant run.

Usage:
  python scripts/scale_value_sweep.py [--sf-dir .soak/sf1]
      [--budget-s 3600] [--out /tmp/scale_sweep.json] [--resume]
Resumable: with --resume, ids already pass in --out are not re-run;
FAIL/error ids ARE re-run (a fix should clear them).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SKIP_BY_DESIGN = {
    # all-pairs / O(n^2) verifier twins — exact baselines by design
    "sim_cosine_pairwise", "dedup_ngram_jaccard",
    # minutes-scale LSH dataflows measured in the soak bench's section
    "dedup_fuzzy_minhash", "dedup_fuzzy_minhash_checked",
    "dedup_embedding_cosine",
    # blocked all-pairs pair-gen (quadratic within (source,lang)
    # blocks, and blocks grow with SF): >12 min at sf1, killed —
    # same exact-baseline class as the pairwise twins above; its
    # cluster-assembly LOGIC is SF-independent and driver-proven
    "dedup_cluster_cc",
    # the scalable LSH-edged CC twin: its SPARK side is linear (LSH
    # candidates + min-label propagation; sf1 run timed in
    # BASELINE.md) but its ORACLE re-runs the whole DuckDB LSH twin,
    # which is the minutes-scale cost the LSH skips above exist for
    "dedup_cluster_cc_lsh",
}

# Layout-claim booleans pinned to the DRIVER fixtures' distribution,
# dropped from the compare at generated fixtures (values still
# compared in full).  Key-offset replication preserves each table's
# marginal distributions but (a) CORRELATES event_id/user_id at the
# copy-block level — so key-ranged and z-ordered files are tight in
# the secondary column too, range stats already prune hard, and
# "full scan before zorder" / "bloom beats range" legitimately flip
# to False because the engine skips MORE than the claim assumes —
# and (b) destroys the GLOBAL arrival-order<->ts correlation (each
# copy's event_id block re-spans the whole time range), so key-range
# files are no longer time-banded and "temporal skips half" /
# "dropped whole files" flip because every file straddles the time
# predicate.  Verified r11 at sf1: all four exhibits' VALUE columns
# (row counts, checksums, present-key values) hash-match the oracle
# — pruned reads lose nothing under the changed layout — and bloom's
# absent_reads_zero_files claim still holds.  The claims themselves
# keep gating every round at driver fixtures (sf0.01), where they
# are true by construction.
DISTRIBUTION_PINNED_CLAIMS = {
    "lakehouse_zorder_skipping": ("full_scan_before",
                                  "zorder_skips_half"),
    "lakehouse_temporal_skipping": ("temporal_skips_half",),
    "lakehouse_retention_delete": ("dropped_whole_files",),
    "lakehouse_bloom_point_read": ("bloom_beats_range",),
}

_FAMILY_ORDER = (
    "fn_", "agg_", "win_", "sort", "limit", "topk", "set_", "project",
    "filter", "mask", "case", "join_", "dedup_latest", "text_",
    "sample_", "doc", "scan_", "decode_", "analytics", "ts_", "sim_",
    "dedup_", "subq", "udf", "udtf", "udaf", "mm_", "vec_",
    "embedding", "tfidf", "pipeline", "source_", "sink_", "flagship",
    "maintenance", "cdc_", "scd2", "stream_", "lakehouse_")


def _family(name: str) -> int:
    for i, p in enumerate(_FAMILY_ORDER):
        if name.startswith(p):
            return i
    return len(_FAMILY_ORDER)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/.soak/sf1")
    ap.add_argument("--budget-s", type=float, default=3600.0)
    ap.add_argument("--out", default="/tmp/scale_sweep.json")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--only", default=None,
                    help="regex over ids — e.g. restrict an sf2+ pass "
                         "to aggregating families whose compare cost "
                         "doesn't scale with output rows")
    args = ap.parse_args()

    results: dict[str, str] = {}
    if args.resume and os.path.exists(args.out):
        results = json.load(open(args.out)).get("results", {})

    from cdc_plg_spark.session import get_spark
    spark = get_spark("scale-value-sweep", extra_confs={
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_plg_spark import registry
    from cdc_plg_spark.testing import (assert_frames_match, check_query,
                                       duckdb_conn)
    registry.load_all()

    def check_values_only(name: str, claims: tuple) -> str:
        q = registry.all_entries()[name]
        s = q.fn(spark, args.sf_dir).toPandas()
        con = duckdb_conn(args.sf_dir)
        try:
            o = con.execute(q.oracle).df()
        finally:
            con.close()
        s = s.drop(columns=[c for c in claims if c in s.columns])
        o = o.drop(columns=[c for c in claims if c in o.columns])
        assert_frames_match(s, o, name=name)
        return (f"pass ({len(s)} rows, values-only: layout claims "
                f"{list(claims)} distribution-pinned")

    import re
    entries = registry.all_entries()
    only = re.compile(args.only) if args.only else None
    todo = sorted(
        (n for n, q in entries.items()
         if q.oracle and n not in SKIP_BY_DESIGN
         and (only is None or only.search(n))
         and not results.get(n, "").startswith("pass")),
        key=lambda n: (_family(n), n))
    no_oracle = sorted(n for n, q in entries.items() if not q.oracle)
    # conf-order gotcha (verify skill): the no-engine-write convert
    # exhibit must run before engine-write exhibits in a session
    for first in ("lakehouse_convert_generated",):
        if first in todo:
            todo.remove(first)
            todo.insert(0, first)

    def flush() -> dict:
        summary = {
            "sf_dir": args.sf_dir,
            "checked": sum(1 for v in results.values()
                           if v.startswith("pass")),
            "rows_only_checked": sum(1 for v in results.values()
                                     if v.startswith("rows-only pass")),
            "failed": sorted(k for k, v in results.items()
                             if v.startswith("FAIL")),
            "errored": sorted(k for k, v in results.items()
                              if v.startswith("error")),
            "not_run": sorted(n for n in todo if n not in results),
            "skipped_by_design": sorted(SKIP_BY_DESIGN),
            "no_oracle_rows_only": no_oracle,
        }
        json.dump({"summary": summary, "results": results},
                  open(args.out, "w"), indent=1)
        return summary

    t0 = time.time()
    for n in todo:
        if time.time() - t0 > args.budget_s:
            break
        t1 = time.time()
        try:
            claims = DISTRIBUTION_PINNED_CLAIMS.get(n)
            if claims:
                results[n] = (check_values_only(n, claims)
                              + f", {time.time()-t1:.1f}s)")
            else:
                rows = check_query(spark, n, args.sf_dir)
                results[n] = f"pass ({rows} rows, {time.time()-t1:.1f}s)"
        except AssertionError as e:
            results[n] = f"FAIL: {str(e)[:200]}"
        except Exception as e:  # noqa: BLE001 — sweep must not die
            results[n] = f"error: {type(e).__name__}: {str(e)[:200]}"
        print(n, "->", results[n][:100], flush=True)
        flush()

    # rows-only tail (r12, VERDICT r11 task 4): ids with NO SQL oracle
    # — approx sketches (HLL/KLL hash-unstable by design), ANN paths
    # whose recall gates live in-plan, the checkpoint replay — get the
    # driver's weaker contract at scale too: the query must RUN on the
    # big fixtures and produce a sane row count; their accuracy gates
    # (sketch ≤5% vs exact, PQ recall ≥0.6) execute INSIDE fn(), so a
    # scale-broken approximation fails here, not silently.
    for n in no_oracle:
        if time.time() - t0 > args.budget_s:
            break
        if n in SKIP_BY_DESIGN or (only and not only.search(n)):
            continue
        if results.get(n, "").startswith("rows-only pass"):
            continue
        t1 = time.time()
        try:
            rows = len(entries[n].fn(spark, args.sf_dir).toPandas())
            results[n] = (f"rows-only pass ({rows} rows, no oracle by "
                          f"design, {time.time()-t1:.1f}s)")
        except Exception as e:  # noqa: BLE001 — sweep must not die
            results[n] = f"error: {type(e).__name__}: {str(e)[:200]}"
        print(n, "->", results[n][:100], flush=True)
        flush()
    print("SUMMARY " + json.dumps(flush()))


if __name__ == "__main__":
    main()
