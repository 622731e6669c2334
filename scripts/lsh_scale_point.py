"""One LSH scale point: run the full MinHash/LSH dataflow
(dedup_fuzzy_minhash_checked — shingle explode → band hash → bucket
self-join with the salted heavy-hitter triangle) once warm and once
timed at a fixture dir, same protocol as the soak bench's LSH section
(noop sink, 16m splits, 8g driver, AQE+FAIR, fresh JVM per
invocation).  Both runs are recorded: warm-vs-timed spread is the
per-JVM JIT first-encounter cost, which at the 40 s+ scale of this
section is the main run-to-run variance term — the r11 sf2
measurement showed the sf0.1→sf1 "×12.4 super-linear residue"
narrative was largely this term plus host state, not an exponent
(see BASELINE.md "LSH growth exponent").

Usage: python scripts/lsh_scale_point.py [SF_DIR] [SHUFFLE_PARTITIONS]
Writes /tmp/lsh_point_<basename>_p<parts>.json and prints one JSON
line per run.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from cdc_plg_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.soak/sf1"
PARTS = sys.argv[2] if len(sys.argv) > 2 else "32"

spark = get_spark("lsh-scale-point", extra_confs={
    "spark.sql.shuffle.partitions": PARTS,
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.scheduler.mode": "FAIR",
    "spark.driver.memory": "8g"})
spark.sparkContext.setLogLevel("ERROR")

from cdc_plg_spark import registry  # noqa: E402

registry.load_all()
fn = registry.get("dedup_fuzzy_minhash_checked").fn


def run() -> float:
    t0 = time.perf_counter()
    fn(spark, SF).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 1)


warm = run()
print(json.dumps({"sf_dir": SF, "partitions": PARTS,
                  "warm_sec": warm}), flush=True)
timed = run()
out = {"sf_dir": SF, "partitions": PARTS, "warm_sec": warm,
       "timed_sec": timed}
print(json.dumps(out))
tag = os.path.basename(SF.rstrip("/"))
json.dump(out, open(f"/tmp/lsh_point_{tag}_p{PARTS}.json", "w"))
