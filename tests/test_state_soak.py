"""Large-keyspace stateful-streaming soak (SURVEY.md §7 round-2 item).

The fixtures' ~dozens of user_ids never stress the state store; this
generates a few-hundred-thousand-key keyspace, streams it through a
stateful aggregation in several micro-batches, and asserts (a) the
result equals the batch aggregate, (b) the state store really is
RocksDB and holds every key — i.e. per-key state scaled past the
toy-keyspace path and lived off-heap, the 100 TB configuration
(session.BUILD_DEFAULTS sets the provider on every get_spark session).

~600k rows / 300k keys keeps the soak under a minute;
the design point it certifies is the provider + state-rows accounting,
which is what changes between heap and RocksDB — capacity beyond RAM
is RocksDB's documented contract, not testable in CI.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

N_KEYS = 300_000
ROWS_PER_KEY = 2
N_FILES = 4

ROCKSDB = "RocksDBStateStoreProvider"


def test_rocksdb_state_soak_large_keyspace(spark):
    assert ROCKSDB in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass")

    tdir = tempfile.mkdtemp(prefix="cdc_soak_")
    src = os.path.join(tdir, "src")
    ckpt = os.path.join(tdir, "ckpt")
    try:
        # synthetic keyed event stream: N_KEYS keys x ROWS_PER_KEY rows,
        # deterministic values, written as N_FILES files so availableNow
        # replays it across several micro-batches (state must persist
        # and merge between batches, not just within one).
        rows = (spark.range(N_KEYS * ROWS_PER_KEY)
                .select((F.col("id") % N_KEYS).alias("k"),
                        (F.col("id") * 7 % 1000).alias("v")))
        rows.repartition(N_FILES).write.parquet(src)

        stream = (spark.readStream.schema("k BIGINT, v BIGINT")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src))
        agg = stream.groupBy("k").agg(F.count("*").alias("n"),
                                      F.sum("v").alias("sv"))
        q = (agg.writeStream.format("noop")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

        progress = [p for p in q.recentProgress if p["stateOperators"]]
        assert progress, "no stateful progress recorded"
        last = progress[-1]["stateOperators"][0]
        assert last["numRowsTotal"] == N_KEYS, last
        # prove RocksDB served the state path, not the heap provider
        assert any(k.startswith("rocksdb") for k in last["customMetrics"]), last

        # batch equivalence on a sample of keys via a fresh run in
        # complete mode to a memory sink (update-mode noop discards rows)
        from cdc_plg_spark.streaming.core import run_to_table
        got = run_to_table(agg, output_mode="complete").filter(F.col("k") < 1000)
        want = (spark.read.parquet(src).filter(F.col("k") < 1000)
                .groupBy("k").agg(F.count("*").alias("n"),
                                  F.sum("v").alias("sv")))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        assert got.count() == 1000
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
