"""Partition-spec EVOLUTION tests (`repartition_layout`): one commit
rewrites the table into a new hive layout (or back to unpartitioned);
content is untouched, history below keeps the old layout, and every
reader — batch, CDF, streaming — derives a file's partition columns
from its own self-describing path, so reads that SPAN layouts (the
change feed across the evolution commit) stay exact.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_plg_spark.lakehouse import ConflictError, TxLogTable


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="txlog_repart_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def mk(spark, path, partition_by=None, n=90, **kw):
    df = spark.range(0, n).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("value"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string"))
         .alias("cat"),
        F.concat(F.lit("r"), (F.col("id") % 2).cast("string"))
         .alias("region"))
    return TxLogTable.create(spark, path, df, "user_id", n_files=3,
                             partition_by=partition_by, **kw)


def content(df):
    return {r["user_id"]: (r["value"], r["cat"], r["region"])
            for r in df.collect()}


def hive_keys(t):
    """Partition-dir keys of the LIVE manifest paths (old-layout dirs
    stay on disk as history until vacuum)."""
    return sorted({seg.split("=")[0]
                   for p in t.snapshot().files
                   for seg in p.split(os.sep) if "=" in seg})


def test_unpartitioned_to_partitioned(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"))
    before = content(t.read())
    m = t.repartition_layout(["cat"])
    assert not m["skipped"]
    assert content(t.read()) == before
    assert hive_keys(t) == ["cat"]
    assert t.fsck() == []
    # exact manifest pruning on the new partition column
    pruned = t.read(where_between=("cat", "c1", "c1"))
    assert {r["cat"] for r in pruned.collect()} == {"c1"}
    live = {p for p in t.snapshot().files}
    touched = {os.path.relpath(f.replace("file:", ""), t.path)
               for f in pruned.inputFiles()}
    assert len(touched) < len(live)
    # pure layout transaction: the change feed across it nets EMPTY
    assert t.table_changes(m["version"] - 1, m["version"]).count() == 0
    # history below the evolution keeps the old layout and stays exact
    assert content(t.read(version=0)) == before


def test_partitioned_to_other_column_and_back_to_flat(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"), partition_by=["cat"])
    before = content(t.read())
    t.repartition_layout(["region"])
    assert content(t.read()) == before
    assert hive_keys(t) == ["region"]
    assert t.fsck() == []
    assert content(t.read(version=0)) == before   # old layout readable
    m = t.repartition_layout(None)                # back to flat
    assert content(t.read()) == before
    assert hive_keys(t) == []
    assert t.snapshot().partition_by is None \
        or t.snapshot().partition_by == []
    assert t.fsck() == []
    # every historical version still replays exactly
    for v in range(m["version"] + 1):
        assert content(t.read(version=v)) == before


def test_merge_after_evolution_lands_in_new_layout(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"), partition_by=["cat"])
    t.repartition_layout(["region"])
    src = spark.createDataFrame(
        [(1, -1, "c9", "r1", "U"), (500, 0, "cX", "r0", "I")],
        "user_id long, value long, cat string, region string, "
        "op string")
    t.merge(src, op_col="op")
    got = content(t.read())
    assert got[1] == (-1, "c9", "r1") and got[500] == (0, "cX", "r0")
    assert t.fsck() == []                 # manifest<->path coherence
    assert hive_keys(t) == ["region"]


def test_change_feed_spans_layouts(spark, tdir):
    """A merge BEFORE and a merge AFTER the evolution must both feed
    CDF exactly, and the evolution commit itself nets empty — the
    removed files carry the old layout, the added the new, in ONE
    diff read."""
    t = mk(spark, os.path.join(tdir, "t"))
    src = spark.createDataFrame([(1, -1, "cZ", "r0", "U")],
                                "user_id long, value long, cat string, "
                                "region string, op string")
    t.merge(src, op_col="op")                      # v1 (flat layout)
    rv = t.repartition_layout(["cat"])             # v2 (evolution)
    src2 = spark.createDataFrame([(2, -2, "cY", "r1", "U"),
                                  (1, 0, "cZ", "r0", "D")],
                                 "user_id long, value long, cat string, "
                                 "region string, op string")
    t.merge(src2, op_col="op")                     # v3 (new layout)
    per = {v: {(r["change_type"], r["user_id"])
               for r in t.table_changes(v - 1, v).collect()}
           for v in range(1, 4)}
    assert per[1] == {("U", 1)}
    assert per[2] == set()                          # pure layout
    assert per[3] == {("U", 2), ("D", 1)}
    # the STREAMING reader crosses the same layout boundary
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    out = os.path.join(tdir, "out")
    q = (spark.readStream.format("txlog_changes")
         .option("path", t.path).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", os.path.join(tdir, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    got = {(r["commit_version"], r["change_type"], r["user_id"])
           for r in rows}
    assert got == {(1, "U", 1), (3, "U", 2), (3, "D", 1)}
    assert not any(r["commit_version"] == rv["version"] for r in rows)


def test_evolution_preserves_blooms_and_checks(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"), key_bloom_bits=10,
           checks={"value_nonneg": "value >= 0"})
    t.repartition_layout(["cat"])
    snap = t.snapshot()
    assert snap.bloom_bits == 10 and "value_nonneg" in snap.checks
    assert all("bloom" in s for s in snap.files.values())
    assert t.fsck(deep=True) == []
    from cdc_plg_spark.lakehouse import CheckViolation
    bad = spark.createDataFrame(
        [(1, -5, "c0", "r0", "U")],
        "user_id long, value long, cat string, region string, "
        "op string")
    with pytest.raises(CheckViolation):
        t.merge(bad, op_col="op")


def test_repartition_loses_race_to_concurrent_commit(spark, tdir):
    """A repartition that loses the version race must raise
    ConflictError, never publish a layout computed against a stale
    snapshot (its removes would resurrect the concurrent writer's
    deletions).  Simulated by pre-claiming the version slot."""
    t = mk(spark, os.path.join(tdir, "t"))
    snap = t.snapshot()
    victim = sorted(snap.files)[0]
    assert t._try_commit(snap.version + 1,
                         [{"commit": {"op": "DELETE"}},
                          {"remove": {"path": victim}}])
    with pytest.raises(ConflictError, match="repartition retries exhausted"):
        # evolution computed against the stale snapshot — the slot is
        # taken, the single-attempt contract (like OPTIMIZE) raises
        t_stale = TxLogTable(t.spark, t.path)
        t_stale_snap = snap          # the stale view
        import cdc_plg_spark.lakehouse as lh

        orig = lh.TxLogTable.snapshot
        try:
            lh.TxLogTable.snapshot = (
                lambda self, version=None, _s=t_stale_snap, _o=orig:
                _s if version is None else _o(self, version))
            t_stale.repartition_layout(["cat"])
        finally:
            lh.TxLogTable.snapshot = orig
    # a fresh attempt (current snapshot) succeeds
    m = t.repartition_layout(["cat"])
    assert not m["skipped"]
    assert t.fsck() == []
    # and the concurrent delete was never resurrected
    assert victim not in t.snapshot().files


def test_evolution_validation_and_idempotence(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"), partition_by=["cat"])
    with pytest.raises(ValueError, match="key column"):
        t.repartition_layout(["user_id"])
    with pytest.raises(ValueError, match="not in"):
        t.repartition_layout(["nope"])
    assert t.repartition_layout(["cat"])["skipped"]   # same layout
    v = t.snapshot().version
    m1 = t.repartition_layout(["region"], txn=("evo", 1))
    m2 = t.repartition_layout(["cat"], txn=("evo", 1))  # replayed epoch
    assert not m1["skipped"] and m2["skipped"]
    assert t.snapshot().version == v + 1
    assert hive_keys(t) == ["region"]
