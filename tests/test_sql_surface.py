"""SQL entry point parity: `load_tables` registers every fixture as a
temp view, so the whole surface is reachable through `spark.sql(...)`
as well as the DataFrame API — same Catalyst plans, same results.

Also covers the RocksDB state-store provider (the 100 TB streaming
default): a stateful windowed aggregation must produce identical
results under RocksDB and the in-memory HDFS-backed provider.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_plg_spark.catalog import load_tables


def test_sql_equals_dataframe(spark, sf_dir):
    load_tables(spark, sf_dir)
    sql = spark.sql("""
        SELECT o.o_orderstatus, c.c_mktsegment, COUNT(*) AS n,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    """)
    o, c = spark.table("orders"), spark.table("customer")
    api = (o.join(c, o.o_custkey == c.c_custkey)
           .groupBy("o_orderstatus", "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("cents")))
    assert sorted(map(tuple, sql.collect())) == \
           sorted(map(tuple, api.collect()))


def test_rocksdb_state_store_same_results(spark, sf_dir):
    """The engine's RocksDB state store (a get_spark build default)
    gives the same windowed counts as Spark's built-in provider."""
    from cdc_plg_spark.streaming.core import read_events_stream, run_to_table

    def windowed_counts():
        ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
        agg = (ev.groupBy(F.window("ts", "30 minutes"), "event_type")
               .agg(F.count(F.lit(1)).alias("n")))
        out = run_to_table(agg, output_mode="complete")
        return sorted((r["window"].start, r["event_type"], r["n"])
                      for r in out.collect())

    key = "spark.sql.streaming.stateStore.providerClass"
    engine = spark.conf.get(key)
    assert engine.endswith("RocksDBStateStoreProvider")
    rocks = windowed_counts()
    try:
        spark.conf.unset(key)
        builtin = spark.conf.get(key)
        assert builtin.endswith("HDFSBackedStateStoreProvider")
        heap = windowed_counts()
    finally:
        spark.conf.set(key, engine)
    assert rocks == heap and len(rocks) > 0
