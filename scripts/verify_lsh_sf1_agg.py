"""Scale-safe value verification of dedup_fuzzy_minhash_checked at
fixture dirs whose row volume exceeds the driver's toPandas budget
(VERDICT r13 task 4): instead of collecting the pair rows, compare
ENGINE-SIDE aggregates of the result relation — row count plus four
exact column/mix sums — between the Spark query and its DuckDB oracle.

The aggregates are computed with identical integer arithmetic on both
engines (the mix term stays < 2^63 before the mod, so Spark's int64 and
DuckDB's HUGEINT agree; the Spark SUMs are cast to decimal(38,0) so no
sum can wrap either):

    n        = COUNT(*)
    s_doc1   = SUM(doc1)
    s_doc2   = SUM(doc2)
    s_match  = SUM(n_match)
    s_mix    = SUM((doc1*131071 + doc2*31 + n_match) % 2147483648)

A pair-set difference that preserves all five is effectively impossible
(s_mix is a positional hash-sum); nothing is collected to the driver
but 10 integers, so spark.driver.maxResultSize never matters.

Usage: python scripts/verify_lsh_sf1_agg.py [SF_DIR]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.soak/sf1"
MOD = 2147483648  # 2^31

from pyspark.sql import functions as F  # noqa: E402

from cdc_plg_spark.session import get_spark, phys_mem_bytes  # noqa: E402

spark = get_spark("verify-lsh-sf1-agg", extra_confs={
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.driver.memory": "8g"})
spark.sparkContext.setLogLevel("ERROR")

from cdc_plg_spark import registry  # noqa: E402

entry = registry.all_entries()["dedup_fuzzy_minhash_checked"]

mix = F.pmod(F.col("doc1") * F.lit(131071) + F.col("doc2") * F.lit(31)
             + F.col("n_match"), F.lit(MOD))


def dec(c):
    return F.sum(c.cast("decimal(38,0)"))


t0 = time.perf_counter()
row = (entry.fn(spark, SF)
       .agg(F.count(F.lit(1)).alias("n"),
            dec(F.col("doc1")).alias("s1"),
            dec(F.col("doc2")).alias("s2"),
            dec(F.col("n_match")).alias("sm"),
            dec(mix).alias("sx"))
       .collect()[0])
spark_agg = {"n": int(row.n), "s_doc1": int(row.s1), "s_doc2": int(row.s2),
             "s_match": int(row.sm), "s_mix": int(row.sx)}
t_spark = round(time.perf_counter() - t0, 2)
print(json.dumps({"spark": spark_agg, "spark_sec": t_spark}), flush=True)

import duckdb  # noqa: E402

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
con.execute(f"SET threads TO {os.cpu_count()}")
# The sf1 oracle's working set passed 97 GB RSS unbounded on a 128 GB
# box: cap it at half of physical memory (60 GB at most) and give the
# in-memory connection a spill dir so the twin completes by spilling
# instead of racing the OOM killer.
limit_mb = min(60 * 1024, phys_mem_bytes() // 2**21)
con.execute(f"SET memory_limit='{limit_mb}MB'")
spill = tempfile.mkdtemp(prefix="duck_spill_")
try:
    con.execute(f"SET temp_directory='{spill}'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    t0 = time.perf_counter()
    dn, d1, d2, dm, dx = con.execute(
        f"""SELECT COUNT(*), SUM(doc1), SUM(doc2), SUM(n_match),
                   SUM((doc1*131071 + doc2*31 + n_match) % {MOD})
            FROM ({entry.oracle})""").fetchone()
finally:
    con.close()
    shutil.rmtree(spill, ignore_errors=True)
duck_agg = {"n": int(dn), "s_doc1": int(d1), "s_doc2": int(d2),
            "s_match": int(dm), "s_mix": int(dx)}
t_duck = round(time.perf_counter() - t0, 2)
ok = spark_agg == duck_agg
print(json.dumps({"duckdb": duck_agg, "duckdb_sec": t_duck,
                  "sf_dir": SF, "pass": ok}), flush=True)
sys.exit(0 if ok else 1)
