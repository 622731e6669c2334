"""Skew-mitigation proof: with one hot key owning ~90% of the fact
rows, the salted join must spread that key's rows over N reducer
partitions where the naive shuffle join concentrates them in one.
This is the measurable claim behind operators/joins.join_skew_salted.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import spark_partition_id


def _max_partition_fraction(df):
    counts = (df.groupBy(spark_partition_id().alias("p"))
              .count().collect())
    total = sum(r["count"] for r in counts)
    return max(r["count"] for r in counts) / total


def test_salting_spreads_hot_key(spark):
    n_salt = 8
    # fact: 90k rows on key 7 (hot), 10k spread over keys 0..99
    hot = spark.range(90_000).select(F.lit(7).alias("k"),
                                     F.col("id").alias("row_id"))
    cold = spark.range(10_000).select((F.col("id") % 100).alias("k"),
                                      (F.col("id") + 90_000).alias("row_id"))
    fact = hot.unionByName(cold)
    dim = spark.range(100).select(F.col("id").alias("k"),
                                  (F.col("id") * 10).alias("attr"))

    # AQE's skew handling is the built-in fix; disable it here to
    # isolate what explicit salting contributes.  Spreading the hot key
    # over n_salt salts needs enough reducers for the salts to land
    # apart, so pin 32 rather than inherit the box-sized session value.
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        naive = (fact.hint("shuffle_hash").join(dim, "k")
                 .select("k", "row_id", "attr"))
        naive_frac = _max_partition_fraction(naive)

        salted_fact = fact.withColumn("salt",
                                      (F.col("row_id") % n_salt))
        salted_dim = dim.withColumn("salt", F.explode(F.array(
            *[F.lit(i) for i in range(n_salt)])))
        salted = (salted_fact.hint("shuffle_hash")
                  .join(salted_dim, ["k", "salt"])
                  .select("k", "row_id", "attr"))
        salted_frac = _max_partition_fraction(salted)

        # same result set
        assert salted.count() == naive.count() == 100_000
        # hot key = 90% of rows -> naive worst partition holds >= ~90%;
        # salting divides it by n_salt
        assert naive_frac > 0.8, naive_frac
        assert salted_frac < naive_frac / 4, (naive_frac, salted_frac)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_lsh_bucket_skew_guard_bounds_tasks_and_preserves_pairs(spark):
    """90%-duplicate corpus (the boilerplate pathological case): one
    LSH bucket holds 270 of 300 docs in EVERY band.  The guarded
    candidate generation must (a) return exactly the same pair set as
    the unsalted self-join and (b) bound the per-join-task input —
    the unsalted join feeds all 270 bucket rows to one task; the
    salted triangle split caps each task's side at ~cap rows."""
    from cdc_plg_spark.operators.dedup import _lsh_pair_ids

    docs = spark.createDataFrame(
        [(i, "common boilerplate header text repeated everywhere")
         if i < 270 else (i, f"unique document number {i} with words {i*7}")
         for i in range(300)],
        "doc_id long, text string")
    # one band per doc whose hash is the text hash — every duplicate
    # lands in the same bucket (the worst case, isolated from minhash).
    # `bhs` is the per-doc band-hash array _lsh_pair_ids' first-shared-
    # band emission reads (here 1 band, so it reduces to the salt cut).
    bands = docs.select("doc_id",
                        F.array(F.xxhash64("text")).alias("bhs"),
                        F.lit(0).alias("band_idx"),
                        F.xxhash64("text").alias("band_hash"))

    cap = 32
    guarded = _lsh_pair_ids(bands, cap=cap)
    plain = _lsh_pair_ids(bands, cap=10**9)   # cap never hit = unsalted
    g = {(r["doc1"], r["doc2"]) for r in guarded.collect()}
    p = {(r["doc1"], r["doc2"]) for r in plain.collect()}
    assert g == p
    assert len(g) == 270 * 269 // 2          # all duplicate pairs kept

    # bound check on the actual join-task inputs: rows per
    # (band_idx, band_hash, _i, _j) key on each side of the join
    big = (bands.groupBy("band_idx", "band_hash")
           .agg(F.count(F.lit(1)).alias("_bsize"))
           .filter(F.col("_bsize") > cap))
    b2 = (bands.join(F.broadcast(big), ["band_idx", "band_hash"], "left")
          .withColumn("_G", F.coalesce(
              F.ceil(F.col("_bsize") / F.lit(cap)), F.lit(1)).cast("int"))
          .withColumn("_s", F.pmod(F.xxhash64("doc_id"),
                                   F.col("_G")).cast("int")))
    left_max = (b2.select("band_idx", "band_hash", F.col("_s").alias("_i"),
                          F.explode(F.sequence("_s", F.col("_G") - 1))
                           .alias("_j"))
                .groupBy("band_idx", "band_hash", "_i", "_j").count()
                .agg(F.max("count")).head()[0])
    right_max = (b2.select("band_idx", "band_hash",
                           F.explode(F.sequence(F.lit(0), "_s")).alias("_i"),
                           F.col("_s").alias("_j"))
                 .groupBy("band_idx", "band_hash", "_i", "_j").count()
                 .agg(F.max("count")).head()[0])
    # salt is a hash, so allow variance: each side well under the
    # unsalted 270 and within a small multiple of cap
    assert left_max <= 3 * cap, left_max
    assert right_max <= 3 * cap, right_max
