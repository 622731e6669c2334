"""Scale-soak analysis (VERDICT r10 task 1): turn an sfN bench run over
the generated fixtures (scripts/gen_scale_fixtures.py) plus the driver's
sf0.1 BENCH record into a judged artifact — per-query scale ratios, a
plan-advisor lint of every headline query AT the soak scale, and a
named cause for anything super-linear.

Scale ratio = t(sfN) / t(sf0.1) against a 10x data multiplier.  At
sf0.1 most headline queries are floored by the ~0.2-0.4 s per-job
overhead (BASELINE.md), so ratios well BELOW 10 are expected (the floor
amortizes); a ratio well ABOVE the multiplier is the super-linear
signal the soak exists to catch.  The sfN run reports per-query
plan-build time so driver-side py4j construction (constant with SF)
can be discounted from the judgement.

Usage:
  python scripts/scale_soak.py [--soak /tmp/soak_sf1.json]
      [--ref BENCH_r10.json] [--sf-dir /root/repo/.soak/sf1]
      [--mult 10] [--no-lint]

Writes SCALE_SOAK_SF1.json and a SCALE_SOAK.md summary at the repo
root.  The advisor lint spins up its own local Spark session — run it
AFTER the bench so the two don't contend.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# queries whose sfN growth is super-linear BY DESIGN, with the cause
# pinned here so the report names it instead of flagging it.  Empty
# for the headline set on purpose: even sim_topk_search (brute-force
# exact k-NN) is LINEAR in SF because its query side is a fixed
# 10-vector broadcast — only the corpus scan grows.  (The genuinely
# O(SF^2) exhibits — sim_cosine_pairwise's all-pairs verifier — are
# not in the headline set.)  Anything this soak flags is therefore a
# real finding, not an expected shape.
_EXPECTED_SUPERLINEAR: dict[str, str] = {}


def lint_and_check(sf_dir: str, names: list[str], do_check: bool
                   ) -> tuple[dict[str, list[str]], dict[str, str]]:
    """Advisor-lint every query's plan AT the soak scale and (with
    do_check) hash-verify its values against the DuckDB oracle on the
    SAME sfN files — the driver's correctness gate runs only at
    sf0.01, so this is the value-parity-at-scale evidence.  The
    O(SF^2)-by-design exact baselines are lint-only (their oracle is
    the same quadratic join on the DuckDB side)."""
    from cdc_plg_spark import registry
    from cdc_plg_spark.plans.advisor import advise
    from cdc_plg_spark.session import get_spark
    from cdc_plg_spark.testing import check_query

    # match the soak bench's session: the default 1g driver OOMs the
    # bucketed saveAsTable sort at sf2 (12M rows) while the 8g bench
    # session writes it in 1.5 s — the lint must run the plans under
    # the same memory contract it is auditing
    spark = get_spark("scale-soak-lint", extra_confs={
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    entries = registry.all_entries()
    lints: dict[str, list[str]] = {}
    checks: dict[str, str] = {}
    for n in names:
        try:
            df = entries[n].fn(spark, sf_dir)
            fs = advise(df)
        except Exception as e:  # lint must report, not die
            lints[n] = [f"lint-error: {e.__class__.__name__}: {e}"]
            continue
        lints[n] = [f"{f.level}: {f.rule}: {f.detail}" for f in fs
                    if f.level == "critical"]
        if do_check and n not in _EXPECTED_SUPERLINEAR:
            try:
                rows = check_query(spark, n, sf_dir)
                checks[n] = f"pass ({rows} rows)"
            except AssertionError as e:
                checks[n] = f"FAIL: {str(e)[:300]}"
            except Exception as e:
                checks[n] = (f"error: {e.__class__.__name__}: "
                             f"{str(e)[:300]}")
    spark.stop()
    return lints, checks


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--soak", default="/tmp/soak_sf1.json")
    # ref = a bench.py output JSON at sf0.1 (run it fresh on the same
    # quiet host as the soak — the repo's BENCH_r{N}.json driver records
    # keep only an output tail, and a same-host pair is the honest base)
    ap.add_argument("--ref", default="/tmp/bench_sf01.json")
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".soak/sf1"))
    ap.add_argument("--mult", type=float, default=10.0)
    ap.add_argument("--no-lint", action="store_true")
    ap.add_argument("--no-check", action="store_true",
                    help="skip the sfN oracle value sweep")
    ap.add_argument("--out", default=os.path.join(
        REPO, "SCALE_SOAK_SF1.json"))
    a = ap.parse_args()

    soak = json.load(open(a.soak))
    ref = json.load(open(a.ref))
    build = soak.get("plan_build_per_query", {})

    rows = []
    for q, t1 in soak["queries"].items():
        t0 = ref["queries"].get(q)
        if t0 is None:
            continue
        b = build.get(q, 0.0)
        exec1 = max(t1 - b, 0.0)
        ratio = round(t1 / t0, 2) if t0 else None
        # judge super-linearity on ENGINE time (build is constant w/ SF)
        exec_ratio = round(exec1 / t0, 2) if t0 else None
        rows.append({"query": q, "sf0.1_sec": t0, "sfN_sec": t1,
                     "sfN_plan_build_sec": b, "sfN_exec_sec": round(exec1, 4),
                     "ratio": ratio, "exec_ratio": exec_ratio,
                     "superlinear": bool(exec_ratio and
                                         exec_ratio > a.mult * 1.25),
                     "expected_cause": _EXPECTED_SUPERLINEAR.get(q)})
    rows.sort(key=lambda r: -(r["exec_ratio"] or 0))

    lints: dict[str, list[str]] = {}
    checks: dict[str, str] = {}
    if not a.no_lint:
        lints, checks = lint_and_check(
            a.sf_dir, [r["query"] for r in rows], not a.no_check)
    criticals = {q: f for q, f in lints.items() if f}

    lsh0 = ref.get("minhash_lsh", {}).get("spark_sec")
    lsh1 = soak.get("minhash_lsh", {}).get("spark_sec")
    out = {
        "sf_dir": a.sf_dir,
        "data_multiplier": a.mult,
        "headline_wall_sfN_sec": soak.get("value"),
        "headline_wall_sf0.1_sec": ref.get("value"),
        "wall_ratio": (round(soak["value"] / ref["value"], 2)
                       if soak.get("value") and ref.get("value") else None),
        "minhash_lsh": {"sf0.1_sec": lsh0, "sfN_sec": lsh1,
                        "ratio": (round(lsh1 / lsh0, 2)
                                  if lsh0 and lsh1 else None)},
        "lakehouse": {
            "sfN": soak.get("lakehouse", {}).get("queries"),
            "sf0.1": ref.get("lakehouse", {}).get("queries")},
        "queries": rows,
        "advisor_criticals": criticals,
        "oracle_checks_at_sfN": checks,
        "oracle_failures_at_sfN": sorted(
            q for q, v in checks.items() if not v.startswith("pass")),
        "superlinear_unexplained": [
            r["query"] for r in rows
            if r["superlinear"] and not r["expected_cause"]],
    }
    dst = a.out
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("headline_wall_sfN_sec", "wall_ratio",
                       "superlinear_unexplained")},))
    print("wrote", dst)


if __name__ == "__main__":
    main()
